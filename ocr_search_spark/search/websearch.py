"""websearch_to_tsquery semantics (reference: app/search.py:51-52).

The reference matches with ``search_vector @@ websearch_to_tsquery(:q)``,
whose grammar (PostgreSQL) is:

* unquoted words           → AND'ed terms,
* ``"quoted text"``        → phrase: tokens must appear *adjacent and in
                             order* (``<->`` chains),
* the word ``or``          → alternation between the adjacent AND-groups
                             (``|`` binds looser than ``&``),
* a leading ``-``          → negation of the next term or phrase.

Query text is tokenized with the same TOKEN_PATTERN as documents (the
tsvector/tsquery pair shares one text-search config), so punctuation in the
query can never produce an unmatchable token — fixing the whitespace-split
divergence flagged in round-1 review.

Plan shape: the compiled predicate is a boolean tree over two *materialized*
attributes — ``toks`` (token array) and a space-joined token string for
phrase adjacency — so it stays a plain Catalyst filter (pushes past
projections, no UDF, no extra shuffle). Phrase adjacency over the joined
string is exact because tokens cannot contain spaces.

Known plan property (measured, accepted): predicate pushdown substitutes the
``toks`` alias into each item's ``array_contains``, so the tokenize tree
appears once per query item in the pushed filter. Boolean short-circuiting
keeps the *evaluated* count near one per row (the first failed conjunct
stops the row). This direct form is the one-shot/batch-filter path and the
oracle of the interactive form, which resolves the same grammar from the
postings table without tokenizing the corpus at query time.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

from .analysis import TOKEN_PATTERN


@dataclass(frozen=True)
class Item:
    """One match item: a word sequence (len 1 = plain term), maybe negated."""

    words: tuple[str, ...]
    negated: bool = False


#: an OR-group is an AND of items; a query is an OR of groups
Group = tuple[Item, ...]


def _lex(q: str) -> list[tuple[str, bool, bool]]:
    """(chunk, quoted, negated) raw pieces, left to right."""
    out: list[tuple[str, bool, bool]] = []
    i, n = 0, len(q)
    while i < n:
        ch = q[i]
        if ch.isspace():
            i += 1
            continue
        negated = False
        if ch == "-":
            negated = True
            i += 1
            if i >= n:
                break
            ch = q[i]
        if ch == '"':
            j = q.find('"', i + 1)
            if j < 0:
                j = n
            out.append((q[i + 1 : j], True, negated))
            i = j + 1
        else:
            j = i
            while j < n and not q[j].isspace() and q[j] != '"':
                j += 1
            out.append((q[i:j], False, negated))
            i = j
    return out


def parse_websearch(q: str) -> list[Group]:
    """Parse into OR-groups of AND-items. Empty input → []."""
    groups: list[list[Item]] = [[]]
    for chunk, quoted, negated in _lex(q or ""):
        if not quoted and not negated and chunk.lower() == "or":
            if groups[-1]:  # 'or' with no left operand is noise, like PG
                groups.append([])
            continue
        words = tuple(w for w in re.split(TOKEN_PATTERN, chunk.lower()) if w)
        if not words:
            continue
        if quoted or len(words) == 1:
            groups[-1].append(Item(words, negated))
        else:
            # unquoted multi-token chunk ('spark,join') → independent terms
            groups[-1].extend(Item((w,), negated) for w in words)
    return [tuple(g) for g in groups if g]


def positive_terms(parsed: list[Group]) -> list[str]:
    """All non-negated words (ranking feed), first-seen order, deduped."""
    seen: dict[str, None] = {}
    for g in parsed:
        for item in g:
            if not item.negated:
                for w in item.words:
                    seen.setdefault(w)
    return list(seen)


def token_string_expr(toks: Column | str) -> Column:
    """' tok1 tok2 … ' string for phrase adjacency (materialize it once)."""
    t = F.col(toks) if isinstance(toks, str) else toks
    return F.concat(F.lit(" "), F.array_join(t, " "), F.lit(" "))


def _item_pred(item: Item, toks: Column, tokstr: Column) -> Column:
    if len(item.words) == 1:
        pred = F.array_contains(toks, item.words[0])
    else:
        pred = tokstr.contains(" " + " ".join(item.words) + " ")
    return ~pred if item.negated else pred


def websearch_predicate(
    toks: Column | str, tokstr: Column | str, parsed: list[Group]
) -> Column:
    """Compile parsed groups to a Catalyst boolean filter.

    ``toks``/``tokstr`` MUST be materialized attributes (see module note).
    An empty parse matches everything (PG: empty tsquery matches nothing,
    but the reference treats an empty query upstream — search.py:29-31).
    """
    t = F.col(toks) if isinstance(toks, str) else toks
    s = F.col(tokstr) if isinstance(tokstr, str) else tokstr
    group_preds = []
    for g in parsed:
        gp = None
        for item in g:
            p = _item_pred(item, t, s)
            gp = p if gp is None else (gp & p)
        group_preds.append(gp)
    if not group_preds:
        return F.lit(True)
    out = group_preds[0]
    for gp in group_preds[1:]:
        out = out | gp
    return out


def token_string_sql(toks_sql: str) -> str:
    """DuckDB twin of :func:`token_string_expr`.

    The ``coalesce`` matters: DuckDB's ``array_to_string([], ' ')`` is NULL
    where Spark's ``array_join`` is '' — without it a *negated* phrase
    diverges on zero-token documents (found by the property test)."""
    return f"(' ' || coalesce(array_to_string({toks_sql}, ' '), '') || ' ')"


def websearch_sql(parsed: list[Group], toks_sql: str, tokstr_sql: str) -> str:
    """The identical predicate as ANSI/DuckDB SQL text (oracle twin).

    ``toks_sql``/``tokstr_sql`` are SQL expressions or column names for the
    token list and the space-joined token string — build the latter with
    :func:`token_string_sql` so empty token lists behave like Spark's.
    """

    def item_sql(item: Item) -> str:
        if len(item.words) == 1:
            p = f"list_contains({toks_sql}, '{item.words[0]}')"
        else:
            phrase = " ".join(item.words)
            p = f"contains({tokstr_sql}, ' {phrase} ')"
        return f"(NOT {p})" if item.negated else p

    if not parsed:
        return "TRUE"
    groups = [" AND ".join(item_sql(it) for it in g) for g in parsed]
    return " OR ".join(f"({g})" for g in groups)

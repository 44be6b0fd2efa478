"""Column-expression building blocks for the search layer.

Everything here is built-in ``pyspark.sql.functions`` / higher-order array
functions — JVM-side, whole-stage-codegen-friendly; no Python UDFs.

Reference semantics being replicated:

* tokenization ≈ ``to_tsvector('simple', content)`` (alembic 0001_init.py:
  31-53): lowercase, split on non-word chars — the 'simple' config does no
  stemming, matching a plain regex split;
* FTS match ≈ ``search_vector @@ websearch_to_tsquery(:q)`` (search.py:51-52)
  under AND semantics: every query term must appear;
* rank ≈ ``ts_rank_cd`` (search.py:77) approximated as matched-terms /
  total-terms (a deterministic, engine-portable stand-in for cover density);
* sim ≈ pg_trgm ``similarity(content, :q)`` (search.py:78): Jaccard over
  3-gram sets;
* snippet ≈ ``ts_headline(... MaxFragments=3, MinWords=3 ...)``
  (search.py:76): one fragment, a window around the first term hit with
  ``<b>`` marks (the reference's up to three fragments are not reproduced).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

#: token delimiter — complement of [a-zа-яё0-9_] after lowercasing
TOKEN_PATTERN = "[^a-zа-яё0-9_]+"


def tokens_expr(col: Column | str) -> Column:
    """Lowercased word tokens of a text column (empty strings filtered)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), TOKEN_PATTERN), lambda t: t != "")


def trigrams_expr(col: Column | str) -> Column:
    """Distinct character 3-grams of the lowercased text."""
    c = F.col(col) if isinstance(col, str) else col
    lc = F.lower(c)
    # guard len < 3: sequence(1, len - 2) would be sequence(1, 0) — a
    # DESCENDING [1, 0] in Spark — and emit a bogus short gram that
    # trigram_sim_udf (range(len - 2) = []) does not
    return F.when(F.length(lc) < 3, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(lc) - 2),
                lambda i: F.substring(lc, i, 3),
            )
        )
    )


def _terms_lit(terms: list[str]) -> Column:
    return F.array(*[F.lit(t.lower()) for t in terms])


def fts_match(tokens: Column, terms: list[str]) -> Column:
    """AND-semantics full-text predicate: all ``terms`` appear as tokens."""
    return F.size(F.array_except(_terms_lit(terms), tokens)) == 0


def rank_expr(tokens: Column, terms: list[str]) -> Column:
    """Matched-terms / total-terms in [0, 1] (ts_rank_cd stand-in)."""
    n = len(terms) or 1
    return (
        F.size(F.array_intersect(F.array_distinct(tokens), _terms_lit(terms)))
        / F.lit(float(n))
    )


def trigram_sim_udf(query: str):
    """Arrow-batched pandas-UDF trigram similarity for DOCUMENT-LENGTH text.

    The pure-column form, :func:`trigram_sim_expr`, builds the gram array
    with an interpreted higher-order ``transform`` — fine for short
    strings, but ~15 µs per element means a 1k-char document costs ~15 ms
    per scoring expression (measured: an 11 s stall on a 312-doc result set). Python set
    operations over an Arrow batch are ~100× faster at this shape, and a
    vectorized pandas UDF is exactly the sanctioned escape hatch. Returns
    identical values (integer intersection/union then one double divide).
    """
    from pyspark.sql.functions import pandas_udf

    q = query.lower()
    q_grams = {q[i : i + 3] for i in range(max(0, len(q) - 2))}

    @pandas_udf("double")
    def sim(content: pd.Series) -> pd.Series:
        def one(t):
            if not t:
                return 0.0
            lc = t.lower()
            g = {lc[i : i + 3] for i in range(max(0, len(lc) - 2))}
            union = len(g | q_grams)
            return (len(g & q_grams) / union) if union else 0.0

        return content.map(one)

    return sim


def trigram_sim_expr(col: Column | str, query: str) -> Column:
    """pg_trgm-style similarity: Jaccard of 3-gram sets vs ``query``.

    Inline form — fine for short strings, and the oracle of
    :func:`trigram_sim_udf`, which scores document-length text on the
    search path (see its note on the interpreted transform).
    """
    grams = trigrams_expr(col)
    q = query.lower()
    q_grams = sorted({q[i : i + 3] for i in range(max(0, len(q) - 2))})
    q_lit = F.array(*[F.lit(g) for g in q_grams]) if q_grams else F.array().cast("array<string>")
    inter = F.size(F.array_intersect(grams, q_lit))
    union = F.size(F.array_union(grams, q_lit))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def snippet_expr(
    col: Column | str, term: str, width: int = 30, mark: bool = True
) -> Column:
    """Fragment of ``width`` chars around the first hit of ``term``.

    Emulates ``ts_headline`` (search.py:76) with a single fragment; the hit
    is wrapped in ``<b>`` marks when ``mark`` (the reference renders
    snippet_is_html=True items, search.py:94-98).
    """
    import re

    c = F.col(col) if isinstance(col, str) else col
    pos = F.locate(term.lower(), F.lower(c))  # 1-based; 0 = no hit
    start = F.greatest(pos - width, F.lit(1))
    frag = F.substring(c, start, F.lit(2 * width + len(term)))
    if mark:
        # re.escape: ``term`` may be a raw user query (negation-only queries
        # have no positive term to fall back on) — unescaped metacharacters
        # like '(' would crash regexp_replace at runtime
        frag = F.regexp_replace(frag, f"(?i)({re.escape(term)})", "<b>$1</b>")
    return F.when(pos > 0, frag).otherwise(F.lit(""))

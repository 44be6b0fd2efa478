"""The search entry point (reference: app/search.py:10-99, web path
app/web/routes.py:40-65) rebuilt over a Spark DataFrame.

Expected input: a *documents* DataFrame with columns
``doc_id`` (string), ``content`` (string) and optionally
``created_at`` (timestamp), ``email`` (string), ``path_origin`` (string).

Plan shape (scale notes):

* predicates (date range / ILIKE / FTS) are plain Catalyst filters —
  pushed down and partition-pruned on a real table scan;
* for interactive workloads the per-query tokenize is the wrong plan —
  :func:`build_postings` materializes the inverted postings table once at
  ingest (the Spark analogue of the tsvector trigger, alembic
  0001_init.py:36-53), and :func:`search_documents` given it resolves the
  match with :func:`match_postings` in one action. ``total`` is the size of
  the resolved id set, only ``doc_id IN ids`` rows are scored, and BM25's
  corpus statistics come from postings, not from re-tokenizing the corpus;
* ranking/ordering are scalar expressions + ``orderBy().limit(k)`` → Spark
  executes TakeOrderedAndProject, never a full sort; snippet and link are
  projected after it, so only the returned rows pay for them.

Without postings (``postings=None``) the match is a tokenize-and-filter
over the corpus text: the independent oracle for the postings path.

Reference bugs fixed (documented in SURVEY.md appendix): limit/offset are
actually applied (search.py:71-87 declared but ignored them) and the empty
query returns the intended "latest 10" (search.py:29-31 placeholder).
"""

from __future__ import annotations

import json
from collections import Counter
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from .analysis import (
    rank_expr,
    snippet_expr,
    tokens_expr,
    trigram_sim_udf,
)
from .websearch import (
    parse_websearch,
    positive_terms,
    token_string_expr,
    websearch_predicate,
)

#: defaults from search.py:41-42
DEFAULT_FROM = "2000-01-01 00:00:00"
DEFAULT_TO = "2100-01-01 00:00:00"

#: stand-in for the reference's ``settings.httpfs`` host (app/search.py:94)
DEFAULT_HTTPFS = "files.local"


#: the columns :func:`build_postings` writes, in order; a reader that
#: passes it to ``spark.read.schema`` skips parquet footer inference
POSTINGS_SCHEMA = "term string, doc_id string, tf long, positions array<int>"


def build_postings(docs: DataFrame, id_col: str = "doc_id", text_col: str = "content") -> DataFrame:
    """Inverted postings table (term, doc_id, tf, positions), laid out as
    :data:`POSTINGS_SCHEMA`.

    Materialized compute-once-on-write, like the reference's tsvector
    trigger; written bucketed/partitioned by term prefix in a real
    deployment so a term lookup prunes to one bucket.
    """
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens_expr(text_col)).alias("pos", "term"),
    )
    return tok.groupBy("term", "doc_id").agg(
        F.count("*").alias("tf"), F.collect_list("pos").alias("positions")
    )


class PostingsMatch(NamedTuple):
    """What :func:`match_postings` resolves: the matching doc ids (sorted),
    each query word's document frequency among the docs in scope, and the
    number of docs in scope when a scope was given."""

    ids: list[str]
    df: dict[str, int]
    n_scope: int | None


def _item_hits(positions: dict[str, list[int] | None], words: tuple[str, ...]) -> bool:
    """A term is present, or a phrase's words sit at adjacent positions."""
    if any(w not in positions for w in words):
        return False
    if len(words) == 1:
        return True
    first, *rest = (positions[w] for w in words)
    rest = [set(p) for p in rest]
    return any(all(p + i in s for i, s in enumerate(rest, start=1)) for p in first)


def match_postings(
    postings: DataFrame, parsed, scope: DataFrame | None = None
) -> PostingsMatch:
    """Resolve a parsed websearch query from the postings table in ONE
    action: a ``term IN (...)`` scan of the query words' postings rows,
    collected to the driver, where AND, OR, ``-`` and phrase adjacency are
    evaluated over each document's term positions. The corpus text is never
    re-tokenized, and no query word reaches SQL text.

    ``scope`` (a documents DataFrame with ``doc_id``) is required when the
    candidate documents are narrower than the postings' corpus (filters) or
    when a group has only negated items — such a group matches every scope
    document without a hit, including zero-token documents, which have no
    postings rows. Its ids ride in the same action as a union branch.
    """
    words = sorted({w for g in parsed for it in g for w in it.words})
    # positions are needed only for phrase words; a common term's position
    # lists would otherwise dominate what the action ships to the driver
    in_phrase = sorted({w for g in parsed for it in g if len(it.words) > 1 for w in it.words})
    rows = postings.filter(F.col("term").isin(words)).select(
        "doc_id",
        "term",
        F.when(F.col("term").isin(in_phrase), F.col("positions")).alias("positions"),
    )
    if scope is not None:
        rows = rows.unionByName(
            scope.select(
                "doc_id",
                F.lit(None).cast("string").alias("term"),
                F.lit(None).cast(postings.schema["positions"].dataType).alias(
                    "positions"
                ),
            )
        )
    hits: dict[str, dict[str, list[int] | None]] = {}
    in_scope: set[str] = set()
    for r in rows.collect():
        if r.term is None:
            in_scope.add(r.doc_id)
        else:
            hits.setdefault(r.doc_id, {})[r.term] = r.positions
    if scope is not None:
        hits = {d: h for d, h in hits.items() if d in in_scope}
    candidates = in_scope if scope is not None else hits
    ids = sorted(
        d
        for d in candidates
        if any(
            all(_item_hits(hits.get(d, {}), it.words) != it.negated for it in g)
            for g in parsed
        )
    )
    df = Counter(t for h in hits.values() for t in h)
    return PostingsMatch(ids, dict(df), len(in_scope) if scope is not None else None)


def _parse_filter_ts(value: str, name: str):
    """Driver-side timestamp validation: an unparseable bound must raise
    (the reference's parameter binding would), never cast to NULL and
    silently filter out every row."""
    from datetime import datetime

    try:
        return datetime.fromisoformat(value)
    except ValueError:
        raise ValueError(
            f"{name}={value!r} is not an ISO date/timestamp "
            "(YYYY-MM-DD[ HH:MM:SS])"
        ) from None


def _check_args(docs: DataFrame, rank_mode, limit, offset, ocr_user, ocr_from, ocr_to) -> None:
    """Driver-side argument checks, made before any Spark job: a filter the
    frame has no column for must raise, never be dropped and return every
    row (the store's ``content`` has neither ``email`` nor ``created_at``)."""
    if rank_mode not in RANK_MODES:
        raise ValueError(f"unknown rank_mode: {rank_mode!r}")
    for name, value in (("limit", limit), ("offset", offset)):
        if value < 0:
            raise ValueError(f"{name}={value!r} must not be negative")
    filters = (
        ("ocr_user", ocr_user, "email"),
        ("ocr_from", ocr_from, "created_at"),
        ("ocr_to", ocr_to, "created_at"),
    )
    for name, value, col in filters:
        if not value:
            continue
        if col == "created_at":
            _parse_filter_ts(value, name)  # a malformed bound is its own error
        if col not in docs.columns:
            raise ValueError(
                f"{name} filter cannot be applied: the documents frame has no "
                f"{col!r} column (columns: {', '.join(docs.columns)})"
            )


def _apply_common_filters(
    df: DataFrame, ocr_user, ocr_from, ocr_to
) -> tuple[DataFrame, bool]:
    """Date-range + ILIKE predicates (Q2/Q3 — search.py:53-55), and whether
    they can drop any row. :func:`_check_args` has already rejected a
    filter the frame has no column for."""
    narrowed = "created_at" in df.columns or bool(ocr_user)
    if "created_at" in df.columns:
        lo = _parse_filter_ts(ocr_from or DEFAULT_FROM, "ocr_from")
        hi = _parse_filter_ts(ocr_to or DEFAULT_TO, "ocr_to")
        df = df.filter(
            F.col("created_at").between(
                F.lit(lo).cast("timestamp"), F.lit(hi).cast("timestamp")
            )
        )
    if ocr_user:
        df = df.filter(F.col("email").ilike(f"%{ocr_user}%"))
    return df, narrowed


def _id_in(df: DataFrame, ids: list) -> Column:
    """``doc_id IN ids`` built from ONE literal: a JSON array that Catalyst
    folds to an array constant. ``Column.isin`` makes one JVM call per id,
    which cost more driver CPU than the rest of a broad query."""
    ids_type = ArrayType(df.schema["doc_id"].dataType)
    return F.array_contains(F.from_json(F.lit(json.dumps(ids)), ids_type), F.col("doc_id"))


def _items_projection(df: DataFrame, snippet_col, httpfs: str, ranked: bool):
    """Reference item contract (app/search.py:92-98): id/filename/link/
    snippet/snippet_is_html — ``doc_id`` is the id (our PK), ``link`` is the
    httpfs URL composed from path_origin with backslashes normalized, and
    ``snippet_is_html`` is constant True (the <b> marks). ``rank``/``sim``
    ride along when ``ranked``, for the API consumers that sort
    client-side."""
    cols = df.columns
    filename = F.col("filename") if "filename" in cols else F.col("doc_id")
    if "path_origin" in cols:
        link = F.concat(
            F.lit(f"http://{httpfs}/"),
            F.replace(F.col("path_origin"), F.lit("\\"), F.lit("/")),
        )
    else:
        link = F.concat(F.lit(f"http://{httpfs}/"), filename)
    out = [
        F.col("doc_id"),
        filename.alias("filename"),
        link.alias("link"),
        snippet_col.alias("snippet"),
        F.lit(True).alias("snippet_is_html"),
    ]
    if ranked:
        out += [F.col("rank"), F.col("sim")]
    return df.select(*out)


def _bm25_stats(
    match: PostingsMatch,
    terms: list[str],
    postings: DataFrame,
    scope: DataFrame,
    narrowed: bool,
    corpus_stats: tuple[int, int] | None,
) -> tuple[int, int, list[int]]:
    """BM25's (N, Σ document length, df per term) over the search scope,
    from postings: Σ document length is Σ tf. Costs no job when the scope
    is the whole corpus and ``corpus_stats`` is known."""
    if narrowed:
        n = match.n_scope
        sum_tf = postings.join(scope.select("doc_id"), "doc_id", "left_semi").agg(
            F.sum("tf")
        ).first()[0]
    elif corpus_stats is not None:
        n, sum_tf = corpus_stats
    else:
        n, sum_tf = scope.count(), postings.agg(F.sum("tf")).first()[0]
    return n, sum_tf or 0, [match.df.get(t, 0) for t in terms]


#: the FTS rank terms :func:`search_documents` accepts as ``rank_mode``
RANK_MODES = ("simple", "cd", "bm25")


def search_documents(
    docs: DataFrame,
    q: str | None,
    ocr_user: str | None = None,
    ocr_from: str | None = None,
    ocr_to: str | None = None,
    limit: int = 25,
    offset: int = 0,
    postings: DataFrame | None = None,
    rank_mode: str = "simple",
    httpfs: str = DEFAULT_HTTPFS,
    corpus_stats: tuple[int, int] | None = None,
) -> dict:
    """Full search flow; returns ``{"total": int, "items": DataFrame}``.

    Mirrors ``search_documents`` (search.py:10-99): empty query → total
    count + latest 10; otherwise match under full websearch_to_tsquery
    grammar (quoted phrases, OR groups, -exclusion — search.py:51-52), rank
    by ``GREATEST(rank, sim)`` desc (search.py:81), project the reference
    item contract (doc_id/filename/link/snippet/snippet_is_html + rank,
    sim — search.py:92-98), paginate. ``items`` is lazy: collecting it runs
    the scoring and top-k.

    ``rank_mode`` selects the FTS rank term: ``"simple"`` (matched/total,
    the engine-portable default), ``"cd"`` (cover-density proximity — the
    closest analogue of the reference's ts_rank_cd, search.py:77) or
    ``"bm25"`` (Okapi BM25; unbounded scale, so it dominates the trigram
    ``sim`` term in the GREATEST combination — use when term relevance
    should outrank fuzzy similarity).

    ``postings`` (the :func:`build_postings` table of ``docs``) switches
    the match to :func:`match_postings`. ``corpus_stats`` is ``(row count
    of docs, Σ tf of postings)`` when the caller already knows them (a
    store keeps them per snapshot); the empty query and BM25 then run no
    statistics job.

    An unknown ``rank_mode``, a negative ``limit`` or ``offset``, and a
    filter whose column ``docs`` lacks (``ocr_user`` needs ``email``,
    ``ocr_from``/``ocr_to`` need ``created_at``) raise ``ValueError``
    before any Spark job.
    """
    _check_args(docs, rank_mode, limit, offset, ocr_user, ocr_from, ocr_to)
    q = (q or "").strip()

    if not (q or ocr_user or ocr_from or ocr_to):
        total = corpus_stats[0] if corpus_stats else docs.count()
        order = [F.col("created_at").desc()] if "created_at" in docs.columns else []
        items = _items_projection(
            docs.orderBy(*order, F.col("doc_id")).limit(10),
            F.substring("content", 1, 800),
            httpfs,
            ranked=False,
        )
        return {"total": total, "items": items}

    parsed = parse_websearch(q)
    terms = positive_terms(parsed)
    filtered, narrowed = _apply_common_filters(docs, ocr_user, ocr_from, ocr_to)
    corpus_scope = filtered  # pre-FTS-match scope (bm25 IDF base)
    match = None

    if parsed and postings is not None:
        negation_only = any(all(it.negated for it in g) for g in parsed)
        match = match_postings(
            postings, parsed, filtered if narrowed or negation_only else None
        )
        total = len(match.ids)
        filtered = filtered.filter(_id_in(filtered, match.ids))
    else:
        if q and not parsed:
            # token-free query ('???', bare 'or'): websearch_to_tsquery
            # yields an EMPTY tsquery, and `@@ empty` matches no rows —
            # matching the whole corpus here would invert the reference
            filtered = filtered.filter(F.lit(False))
        elif parsed:
            # full websearch grammar: materialize toks + the adjacency
            # string in successive projections (plan-shape invariant), then
            # one Catalyst boolean filter
            filtered = (
                filtered.withColumn("__toks", tokens_expr("content"))
                .withColumn("__tokstr", token_string_expr("__toks"))
                .filter(websearch_predicate("__toks", "__tokstr", parsed))
                .drop("__toks", "__tokstr")
            )
        total = filtered.count()

    if rank_mode != "simple" and terms:
        from .ranking import bm25_scores, cover_density_rank

        if rank_mode == "cd":
            # per-OR-group proximity: cover_density_rank enforces AND over
            # its term list, so 'alpha or beta' must rank each group
            # separately (a doc matching only one branch is a legitimate
            # match) and take the best branch — ts_rank_cd semantics
            group_ranks = []
            for gi, group in enumerate(parsed):
                gterms = list(
                    dict.fromkeys(
                        w for it in group if not it.negated for w in it.words
                    )
                )
                if not gterms:
                    continue
                group_ranks.append(
                    cover_density_rank(
                        filtered, gterms, id_col="doc_id", text_col="content"
                    ).select("doc_id", F.col("rank_cd").alias(f"__r{gi}"))
                )
            ranks = group_ranks[0]
            for r in group_ranks[1:]:
                ranks = ranks.join(r, "doc_id", "full")
            rcols = [
                F.coalesce(F.col(c), F.lit(0.0))
                for c in ranks.columns
                if c != "doc_id"
            ]
            best = rcols[0] if len(rcols) == 1 else F.greatest(*rcols)
            ranks = ranks.select("doc_id", best.alias("__rank"))
        else:  # bm25
            stats = match and _bm25_stats(
                match, terms, postings, corpus_scope, narrowed, corpus_stats
            )
            ranks = bm25_scores(
                filtered, terms, id_col="doc_id", text_col="content",
                stats_over=corpus_scope, stats=stats,
            ).select("doc_id", F.col("bm25").alias("__rank"))
        base = filtered.join(ranks, "doc_id", "left")
        rank_col = F.coalesce(F.col("__rank"), F.lit(0.0))
    else:
        base = filtered
        rank_col = None  # from materialized toks below

    # materialize toks first — inline split() inside HOF lambdas would
    # re-evaluate per array element; and score trigram similarity with the
    # Arrow-batched UDF: document-length content makes the interpreted
    # gram-array transform ~100× slower (see trigram_sim_udf)
    base = base.withColumn("toks", tokens_expr("content"))
    if rank_col is None:
        rank_col = rank_expr(F.col("toks"), terms)
    carry = [c for c in ("doc_id", "content", "filename", "path_origin") if c in base.columns]
    scored = base.select(
        *carry,
        F.round(rank_col, 6).alias("rank"),
        F.round(trigram_sim_udf(q)(F.col("content")), 6).alias("sim"),
    )

    # Pagination via native LIMIT/OFFSET: Catalyst plans orderBy + offset +
    # limit as a single TakeOrderedAndProject(offset+limit) — top-(o+k)
    # partial per partition, never a global single-partition sort (the
    # round-1 Window.orderBy formulation moved every matched row through
    # one task; asserted gone in tests/test_plans.py).
    ordered = scored.orderBy(F.greatest("rank", "sim").desc(), F.col("doc_id"))
    if offset:
        ordered = ordered.offset(offset)

    # snippet and link are built after the top-k: only returned rows pay
    if terms:
        # highlight the first query term the document actually contains
        # (an OR match via a later branch must not get an empty snippet);
        # bounded chain — at most 4 locate/substr probes per row
        # (when, not nullif: nullif's shared-subexpression rewrite adds a
        # projection that stops Catalyst from planning TakeOrderedAndProject)
        frags = [snippet_expr("content", t) for t in terms[:4]]
        snip = F.coalesce(*[F.when(f != "", f) for f in frags], F.lit(""))
    else:
        # filter-only search: a leading fragment, no highlight — an empty
        # highlight term would <b></b>-garble every character boundary
        snip = F.substring("content", 1, 800)
    items = _items_projection(ordered.limit(limit), snip, httpfs, ranked=True)
    return {"total": total, "items": items}

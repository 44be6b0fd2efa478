"""Ranking operators: BM25 and cover-density proximity rank.

The reference ranks matches with Postgres ``ts_rank_cd(search_vector, tsq)``
(app/search.py:77) — a cover-density score — combined with trigram
similarity. ``search.analysis.rank_expr`` keeps the engine-portable
matched/total stand-in; this module adds the two industry-standard scorers a
production search/training-data pipeline needs, both as pure built-in
column plans (no Python UDFs, no per-row work):

* :func:`bm25_scores` — Okapi BM25. Per-term term frequencies are computed
  with higher-order functions over a *materialized* token array (one scan,
  zero shuffle); the corpus stats (N, avgdl, per-term document frequencies)
  reduce to a single row that is broadcast back with a literal cross join.
  At 100 TB this is one pass over the table plus a scalar aggregate — no
  explode, no wide shuffle.
* :func:`cover_density_rank` — a ts_rank_cd-style proximity score: the best
  (smallest) window of consecutive token positions that covers every query
  term, scored ``n_terms / cover_len`` (1.0 = all terms adjacent). Only
  matched positions are exploded (|terms| × hits rows, not |tokens|), then
  one shuffle by doc_id for the analytic windows.
* :func:`tfidf_related_topk` — "more like this": per-document top-k related
  documents by sparse tf-idf inner product over a df-pruned posting-list
  self-join, with the ranking path kept in exact BIGINT half-bit arithmetic
  (the ops.dsir lattice) so the top-k set is engine-reproducible.

Plan-shape note: every higher-order function
here operates on a token array materialized by a prior projection, never on
an inline ``split(lower(text))`` — interpreted HOF lambdas re-evaluate the
outer expression per element.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .analysis import tokens_expr


def _term_count(toks: Column, term: str) -> Column:
    """Occurrences of ``term`` in a materialized token-array column."""
    return F.size(F.filter(toks, lambda t: t == F.lit(term)))


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int | None = 6,
    stats_over: DataFrame | None = None,
    stats: tuple[int, int, list[int]] | None = None,
) -> DataFrame:
    """Okapi BM25 scores for ``terms`` over ``docs`` (matching docs only).

    idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))   (Robertson-Spärck Jones,
    the Lucene form — always positive), tf saturation with ``k1`` and length
    normalization ``b`` against the corpus mean token count.

    Returns (id_col, bm25) for documents containing at least one term,
    deterministic order left to the caller. ``round_to`` rounds the double
    so Spark and external oracles (DuckDB) hash bit-identically.

    ``stats_over``: corpus to derive N / df / avgdl from (defaults to
    ``docs``). Pass the PRE-match corpus when ``docs`` is an already
    FTS-matched subset: for an AND query every matched doc contains every
    term, so subset-df equals subset-N and the IDF collapses to ~0 —
    corpus-level stats keep term weighting meaningful.

    ``stats``: the same corpus statistics already known, as ``(N, Σ
    document length, [df per term])`` — e.g. read off a postings table.
    They enter the plan as literals (``stats_over`` is then ignored), so no
    statistics aggregate runs; the scores are bit-identical.
    """
    if not terms:
        raise ValueError("bm25_scores needs at least one term")
    # one projection materializes tokens; tf_i / dl computed from the
    # attribute (single scan, no shuffle)
    toked = docs.select(
        F.col(id_col),
        tokens_expr(text_col).alias("__toks"),
    )
    tf_cols = [
        _term_count(F.col("__toks"), t).alias(f"__tf{i}") for i, t in enumerate(terms)
    ]
    tfd = toked.select(id_col, F.size("__toks").alias("__dl"), *tf_cols)
    if stats is not None:
        n, sumdl, dfs = stats
        joined = tfd
        n_col = F.lit(n).cast("long")
        avgdl = F.lit(sumdl).cast("long").cast("double") / F.nullif(n_col, F.lit(0))
        df_cols = [F.lit(d).cast("long") for d in dfs]
    else:
        if stats_over is not None:
            stoked = stats_over.select(tokens_expr(text_col).alias("__toks"))
            stats_src = stoked.select(
                F.size("__toks").alias("__dl"),
                *[
                    _term_count(F.col("__toks"), t).alias(f"__tf{i}")
                    for i, t in enumerate(terms)
                ],
            )
        else:
            stats_src = tfd
        # corpus stats: one row (N, avgdl, df per term) — broadcast via
        # crossJoin. Exact integer sums (not avg): double partial-sum order
        # varies across engines/partitionings; int sum ÷ int count is one
        # deterministic IEEE op
        agg = stats_src.agg(
            F.count("*").alias("__n"),
            F.sum("__dl").alias("__sumdl"),
            *[
                F.sum((F.col(f"__tf{i}") > 0).cast("long")).alias(f"__df{i}")
                for i in range(len(terms))
            ],
        ).select(
            # nullif: an EMPTY stats corpus yields the agg row (n=0) and
            # this projection still evaluates — under ANSI the bare 0/0
            # throws even though no scored row survives downstream
            "*",
            (
                F.col("__sumdl").cast("double") / F.nullif(F.col("__n"), F.lit(0))
            ).alias("__avgdl"),
        )
        joined = tfd.crossJoin(F.broadcast(agg))
        n_col, avgdl = F.col("__n"), F.col("__avgdl")
        df_cols = [F.col(f"__df{i}") for i in range(len(terms))]
    parts = []
    for i in range(len(terms)):
        tf = F.col(f"__tf{i}").cast("double")
        df_t = df_cols[i].cast("double")
        idf = F.log(
            1.0 + (n_col - df_t + 0.5) / (df_t + 0.5)
        )
        # avgdl == 0 means every stats doc tokenized empty — any candidate
        # row then has dl = 0 too, where BM25's length norm degenerates to
        # the b-free form (ratio 0); guarding keeps ANSI from throwing on
        # 0/0 and is unreachable for any corpus with one token
        dl_ratio = F.when(avgdl > 0, F.col("__dl") / avgdl).otherwise(F.lit(0.0))
        denom = tf + k1 * (1.0 - b + b * dl_ratio)
        parts.append(idf * tf * (k1 + 1.0) / denom)
    score = parts[0]
    for p in parts[1:]:
        score = score + p
    if round_to is not None:
        score = F.round(score, round_to)
    any_match = F.greatest(*[F.col(f"__tf{i}") for i in range(len(terms))]) > 0 \
        if len(terms) > 1 else F.col("__tf0") > 0
    return joined.filter(any_match).select(F.col(id_col), score.alias("bm25"))


def cover_density_rank(
    docs: DataFrame,
    terms: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int | None = 6,
) -> DataFrame:
    """ts_rank_cd-style proximity rank: best cover of all query terms.

    For every token position p of a query term (ordered within a doc), the
    candidate cover ending at p spans from the *earliest* of the per-term
    latest-occurrences-≤-p to p; it is valid once every term has occurred.
    The rank is ``n_terms / min_cover_len`` — 1.0 when all terms are
    adjacent, → 0 as they spread apart; docs missing any term get no row
    (AND semantics, matching websearch_to_tsquery + ts_rank_cd's matched
    set, search.py:51-52,77).

    Plan: array-filter matched (position, term) structs → explode the tiny
    remainder → per-doc analytic windows (one shuffle by id) → min cover.
    """
    if not terms:
        raise ValueError("cover_density_rank needs at least one term")
    n_terms = len(set(terms))
    term_list = sorted(set(terms))
    toked = docs.select(F.col(id_col), tokens_expr(text_col).alias("__toks"))
    # keep only matched (position, term) pairs INSIDE the array, then explode
    # the tiny remainder — exploding all tokens first would amplify rows by
    # ~1/selectivity before the filter could run
    matched_arr = F.filter(
        F.transform(
            F.col("__toks"),
            lambda t, i: F.struct(i.alias("p"), t.alias("term")),
        ),
        lambda s: s["term"].isin(term_list),
    )
    pos = (
        toked.select(id_col, F.explode(matched_arr).alias("__s"))
        .select(
            id_col,
            F.col("__s.p").alias("__pos"),
            F.col("__s.term").alias("__term"),
        )
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("__pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # latest position of each term at-or-before the current row
    last_cols = [
        F.max(F.when(F.col("__term") == t, F.col("__pos"))).over(w).alias(f"__l{i}")
        for i, t in enumerate(sorted(set(terms)))
    ]
    covered = pos.select(id_col, "__pos", *last_cols)
    # a cover ending here is valid only once EVERY term has occurred — guard
    # explicitly: F.least skips nulls (unlike SQL-standard LEAST)
    all_seen = F.lit(True)
    for i in range(n_terms):
        all_seen = all_seen & F.col(f"__l{i}").isNotNull()
    if n_terms == 1:
        start = F.col("__l0")
    else:
        start = F.least(*[F.col(f"__l{i}") for i in range(n_terms)])
    cover_len = F.col("__pos") - start + 1
    best = (
        covered.filter(all_seen)
        .select(id_col, cover_len.alias("__cover"))
        .groupBy(id_col)
        .agg(F.min("__cover").alias("min_cover"))
    )
    rank = F.lit(float(n_terms)) / F.col("min_cover")
    if round_to is not None:
        rank = F.round(rank, round_to)
    return best.select(F.col(id_col), F.col("min_cover"), rank.alias("rank_cd"))


def tfidf_related_topk(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    max_df_frac: float = 0.25,
    round_to: int | None = 6,
) -> DataFrame:
    """Related-documents retrieval ("more like this"): for every document,
    the top-``k`` other documents by sparse tf-idf inner product over the
    shared token convention. Returns (a, b, dot, sim, rnk): ``dot`` is the
    EXACT integer inner product, ``rnk`` ranks by (dot DESC, b ASC), and
    ``sim`` is the cosine of the same vectors (round-``round_to`` double,
    reporting only — the RANKING path is pure BIGINT arithmetic, so the
    top-k set is bit-reproducible in any engine; a double-scored rank
    could flip near-ties in the last ulp).

    Weights live on the integer half-bit lattice (the ops.dsir / nb_train
    discipline): w(t, d) = (1 + hb(tf)) * (hb(N) - hb(df)) with
    hb(x) = floor(2*log2(x)) — sublinear tf scaling and RSJ-flavored idf,
    both measured in exact half-bits. Stop terms are pruned at
    ``max_df_frac`` (df > frac*N contributes near-zero idf but dominates
    posting-join fanout); norms — and therefore ``sim`` — are over the
    surviving (pruned) vector space.

    Scale shape: tokenize/explode → per-(doc, term) tf (one map-side
    combinable shuffle) → vocab-sized df table joined back on term (AQE
    broadcasts it when it fits) → the classic posting-list self-join on
    term with a < b (the fanout is sum(df²) over surviving terms — the
    quantity max_df_frac bounds; at 100 TB the DIMSUM refinement samples
    each posting list at O(sqrt) rate, same join shape) → one
    groupBy(a, b) partial-aggregated dot → symmetrize → norms join →
    per-a window top-k. No UDF, no driver state.
    """
    if not 0.0 < max_df_frac <= 1.0:
        raise ValueError(f"max_df_frac must be in (0, 1], got {max_df_frac}")
    from ..ops.dsir import _hb

    tf = (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(tokens_expr(F.col(text_col))).alias("term"),
        )
        .groupBy("id", "term")
        .agg(F.count("*").alias("__tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("__df"))
    n = docs.select(F.count("*").alias("__n"))
    w = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .filter(F.col("__df") <= F.floor(F.lit(float(max_df_frac)) * F.col("__n")))
        .select(
            "id",
            "term",
            (
                (F.lit(1) + _hb(F.col("__tf")))
                * (_hb(F.col("__n")) - _hb(F.col("__df")))
            ).alias("__w"),
        )
        .filter(F.col("__w") > 0)
        # materialize the pruned postings once (the ops.similarity semdedup
        # discipline): the self-join and the norms would otherwise each
        # re-derive the full tokenize/tf/df lineage
        .localCheckpoint()
    )
    norms = w.groupBy("id").agg(F.sum(F.col("__w") * F.col("__w")).alias("__n2"))
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(b, (F.col("a.term") == F.col("b.term")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("a"), F.col("b.id").alias("b"))
        .agg(F.sum(F.col("a.__w") * F.col("b.__w")).alias("dot"))
    )
    sym = dots.unionByName(
        dots.select(F.col("b").alias("a"), F.col("a").alias("b"), "dot")
    )
    na, nb = norms.alias("na"), norms.alias("nb")
    scored = (
        sym.join(na, F.col("a") == F.col("na.id"))
        .join(nb, F.col("b") == F.col("nb.id"))
        .select(
            "a",
            "b",
            "dot",
            (
                F.col("dot").cast("double")
                / F.sqrt(
                    F.col("na.__n2").cast("double") * F.col("nb.__n2").cast("double")
                )
            ).alias("__sim"),
        )
    )
    sim = F.col("__sim")
    if round_to is not None:
        sim = F.round(sim, round_to)
    win = Window.partitionBy("a").orderBy(F.col("dot").desc(), F.col("b"))
    return (
        scored.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= int(k))
        .select("a", "b", "dot", sim.alias("sim"), "rnk")
    )


def rrf_fuse(
    arms: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k0: int = 60,
    scale: int = 1_000_000_000,
    topk: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion of N ranked retrieval arms (Cormack et al.,
    SIGIR 2009) — the standard way modern search stacks combine a lexical
    arm (BM25, reference Q6 `app/search.py:77`) with a semantic arm
    (embedding cosine), generalizing the reference's
    ``GREATEST(rank, sim)`` two-signal sort (`app/search.py:81`, SURVEY
    Q8) to any number of incommensurable scorers without score
    calibration.

    Each arm is a DataFrame carrying ``(id_col, rank_col)`` with 1-based
    ranks. A document's fused score is::

        rrf = sum over arms of  scale DIV (k0 + rank)

    computed in exact BIGINT arithmetic (``scale=1e9`` keeps ~7
    significant digits past the k0 offset; Spark ``DIV`` ≡ DuckDB ``//``,
    the convention verified by the lattice ops), so the fused ordering is
    engine-reproducible — no float summation order to disagree on.
    ``k0=60`` is the published default.

    Returns ``(id_col, rrf, n_arms)`` with deterministic
    ``(rrf DESC, id)`` ordering, optionally truncated to ``topk``.

    Scale: arms arrive already truncated to their own top-N (cheap
    TakeOrderedAndProject on each arm), so the fusion input is
    O(arms × N) rows regardless of corpus size; the groupBy is a
    kilobyte-scale shuffle. The expensive work stays inside the arms,
    which each keep their own single-pass / broadcast plans.
    """
    if not arms:
        raise ValueError("rrf_fuse needs at least one arm")
    if k0 < 0 or scale <= 0:
        raise ValueError("k0 must be >= 0 and scale positive")
    contrib = F.expr(f"{int(scale)} div ({int(k0)} + cast(__rank as bigint))")
    parts = [
        a.select(F.col(id_col), F.col(rank_col).alias("__rank")) for a in arms
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = (
        u.select(id_col, contrib.alias("__c"))
        .groupBy(id_col)
        .agg(
            F.sum("__c").alias("rrf"),
            F.count("*").alias("n_arms"),
        )
        .orderBy(F.col("rrf").desc(), F.col(id_col))
    )
    if topk is not None:
        fused = fused.limit(int(topk))
    return fused


def prf_expansion_terms(
    docs: DataFrame,
    terms: list[str],
    fb_docs: int = 10,
    fb_terms: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (the RM3 family,
    Lavrenko & Croft relevance models): take the BM25 top ``fb_docs``
    for the original ``terms``, estimate which OTHER terms characterize
    that feedback set, and return the top ``fb_terms`` expansion
    candidates — the classic recall-recovery step in front of a second
    retrieval pass.

    Term weight is the relevance-model estimate
    ``p(w|R) ∝ Σ_d  p(w|d) · score(d)`` computed exactly::

        weight = Σ_d  (tf(w, d) * bm25_e6(d) * 1000) DIV dl(d)

    — per-document contributions in BIGINT (bm25 on the e6 lattice ×
    1000 before the integer division keeps 3 guard digits), summed
    exactly, so the selected expansion set is engine-reproducible.
    Original query terms are excluded. Ties break on the term string.

    Returns ``(term, weight)``, ``weight`` descending.

    Scale: a head operator — only the ``fb_docs`` feedback documents
    (found via the distributed BM25 arm + TakeOrderedAndProject) are
    re-tokenized, so the explode is O(fb_docs × doc_len) rows regardless
    of corpus size; the corpus-wide work is the same single BM25 pass a
    plain query costs.
    """
    if fb_docs < 1 or fb_terms < 1:
        raise ValueError("fb_docs and fb_terms must be >= 1")
    top = (
        bm25_scores(docs, terms, id_col=id_col, text_col=text_col)
        .orderBy(F.col("bm25").desc(), F.col(id_col))
        .limit(int(fb_docs))
        .select(
            id_col,
            F.round(F.col("bm25") * 1_000_000).cast("long").alias("__s_e6"),
        )
    )
    fb = docs.join(F.broadcast(top), id_col).select(
        id_col, "__s_e6", tokens_expr(text_col).alias("__toks")
    )
    tf = (
        fb.select(
            id_col,
            "__s_e6",
            F.size("__toks").alias("__dl"),
            F.explode("__toks").alias("term"),
        )
        .groupBy(id_col, "__s_e6", "__dl", "term")
        .agg(F.count("*").alias("__tf"))
    )
    return (
        tf.filter(~F.col("term").isin(list(terms)))
        .filter(F.col("__dl") > 0)
        .select(
            "term",
            F.expr("__tf * __s_e6 * 1000 div __dl").alias("__c"),
        )
        .groupBy("term")
        .agg(F.sum("__c").alias("weight"))
        .orderBy(F.col("weight").desc(), F.col("term"))
        .limit(int(fb_terms))
    )


def _ndcg_weights(k: int) -> list[int]:
    """Position-discount weights ``round(1e9 / log2(i + 1))`` for i=1..k,
    precomputed driver-side to BIGINT literals so DCG sums are exact
    integer arithmetic — no float summation order for engines to
    disagree on."""
    import math

    return [round(1_000_000_000 / math.log2(i + 1)) for i in range(1, k + 1)]


def ndcg_at_k(
    ranked: DataFrame,
    rels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
) -> DataFrame:
    """NDCG@k per query — the standard graded ranking-quality metric,
    the retrieval-side sibling of ``ann_recall``/``neardup_recall``.

    ``ranked`` carries ``(query_col, doc_col, rank_col)`` with 1-based
    ranks from the system under evaluation; ``rels`` carries
    ``(query_col, doc_col, rel_col)`` integer graded relevance (absent
    pairs count as 0). Linear gain::

        DCG  = Σ_{i<=k}  rel(doc at rank i) * W[i]
        IDCG = Σ_{i<=k}  rel(i-th best doc) * W[i]
        W[i] = round(1e9 / log2(i + 1))   (precomputed BIGINT literal)

    so both sums are exact BIGINT and ``ndcg_ppm = DCG * 1e6 DIV IDCG``
    is engine-reproducible. The ideal ordering ties on ``(rel DESC,
    doc)``. Queries with no relevant documents report ``ndcg_ppm = 0``.

    Returns ``(query_col, dcg, idcg, ndcg_ppm)``.

    Scale: the DCG side touches only the system's top-k rows per query;
    the IDCG side is one ``(rel DESC, doc)`` row_number window per query
    over the relevance table, truncated at k — both shuffle by query key
    only, no corpus-wide pass beyond what built the inputs.
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k!r}")
    w = _ndcg_weights(int(k))
    wexpr = F.element_at(
        F.array(*[F.lit(x) for x in w]), F.col(rank_col).cast("int")
    )
    dcg = (
        ranked.filter(F.col(rank_col) <= int(k))
        .join(rels, [query_col, doc_col], "left")
        .select(
            query_col,
            (F.coalesce(F.col(rel_col), F.lit(0)).cast("long") * wexpr).alias(
                "__g"
            ),
        )
        .groupBy(query_col)
        .agg(F.sum("__g").alias("dcg"))
    )
    iwin = Window.partitionBy(query_col).orderBy(
        F.col(rel_col).desc(), F.col(doc_col)
    )
    ideal = (
        rels.filter(F.col(rel_col) > 0)
        .withColumn("__r", F.row_number().over(iwin))
        .filter(F.col("__r") <= int(k))
        .select(
            query_col,
            (
                F.col(rel_col).cast("long")
                * F.element_at(F.array(*[F.lit(x) for x in w]), F.col("__r"))
            ).alias("__g"),
        )
        .groupBy(query_col)
        .agg(F.sum("__g").alias("idcg"))
    )
    return (
        dcg.join(ideal, query_col, "left")
        .select(
            query_col,
            "dcg",
            F.coalesce("idcg", F.lit(0)).alias("idcg"),
            F.when(
                F.col("idcg") > 0,
                F.expr("dcg * 1000000 div idcg"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("ndcg_ppm"),
        )
    )


def ql_scores(
    docs: DataFrame,
    terms: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    mu: float = 2000.0,
    round_to: int | None = 6,
    stats_over: DataFrame | None = None,
) -> DataFrame:
    """Dirichlet-smoothed query-likelihood scores (Zhai & Lafferty) —
    the language-model ranking next to :func:`bm25_scores`, sharing its
    plan shape: one materialized-token scan for per-doc tf/dl, a
    single-row corpus-stats aggregate (total tokens, per-term collection
    frequency) broadcast back with a literal cross join.

    ``score(d) = Σ_t  ln( (tf_t + μ·cf_t/|C|) / (dl + μ) )``

    Returns ``(id_col, ql)`` for documents containing at least one
    query term (the :func:`bm25_scores` matched-only contract —
    smoothing defines scores for all docs, but unmatched docs rank by
    length alone, which no search result page wants). ``round_to``
    rounds the double so external oracles hash bit-identically. A term
    with zero collection frequency contributes ``ln(μ·0 + tf)/(dl+μ)``
    only through its tf; if both are zero the term is skipped via a
    guard (ln(0) is -inf and under ANSI the cast would poison the row).

    Scale: identical to BM25 — one pass over the corpus plus a scalar
    aggregate; no explode, no wide shuffle; the filter and projection
    push into the scan.
    """
    if not terms:
        raise ValueError("ql_scores needs at least one term")
    toked = docs.select(F.col(id_col), tokens_expr(text_col).alias("__toks"))
    tf_cols = [
        _term_count(F.col("__toks"), t).alias(f"__tf{i}")
        for i, t in enumerate(terms)
    ]
    tfd = toked.select(id_col, F.size("__toks").alias("__dl"), *tf_cols)
    if stats_over is not None:
        stoked = stats_over.select(tokens_expr(text_col).alias("__toks"))
        stats_src = stoked.select(
            F.size("__toks").alias("__dl"),
            *[
                _term_count(F.col("__toks"), t).alias(f"__tf{i}")
                for i, t in enumerate(terms)
            ],
        )
    else:
        stats_src = tfd
    stats = stats_src.agg(
        F.sum("__dl").alias("__ctot"),
        *[
            F.sum(f"__tf{i}").alias(f"__cf{i}")
            for i in range(len(terms))
        ],
    )
    joined = tfd.crossJoin(F.broadcast(stats))
    mu_l = F.lit(float(mu))
    parts = []
    for i in range(len(terms)):
        tf = F.col(f"__tf{i}").cast("double")
        # collection probability; empty corpus (ctot null/0) -> 0.0
        pc = F.when(
            F.coalesce(F.col("__ctot"), F.lit(0)) > 0,
            F.col(f"__cf{i}").cast("double") / F.col("__ctot"),
        ).otherwise(F.lit(0.0))
        num = tf + mu_l * pc
        # guard ln(0): a term absent from doc AND collection contributes 0
        parts.append(
            F.when(
                num > 0,
                F.log(num / (F.col("__dl").cast("double") + mu_l)),
            ).otherwise(F.lit(0.0))
        )
    score = parts[0]
    for p in parts[1:]:
        score = score + p
    if round_to is not None:
        score = F.round(score, round_to)
    matched = None
    for i in range(len(terms)):
        c = F.col(f"__tf{i}") > 0
        matched = c if matched is None else (matched | c)
    return joined.filter(matched).select(F.col(id_col), score.alias("ql"))


def bm25_scores_terms_df(
    docs: DataFrame,
    terms_df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    term_col: str = "term",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 with the query terms as DATA (a broadcast term table)
    instead of compiled-in literals — the shape :func:`bm25_scores`
    cannot take when the term set is dynamic (PRF expansion output, a
    batch of thousands of queries, a mined keyword table). Same scoring
    math (Lucene-form IDF, k1/b saturation + length norm).

    Because terms are rows, the per-document score is a groupBy SUM over
    per-(doc, term) contributions — and a float sum's order varies with
    partitioning and engine. Each contribution is therefore rounded to
    the e6 lattice FIRST (``round(score_t * 1e6)`` BIGINT) and the sum
    is exact integer arithmetic: the output ``bm25_e6`` is
    engine-reproducible. (The static-terms form sums fixed columns in
    fixed order and can stay in doubles; this is the price of dynamic
    terms, and 1e-6 resolution is far below any ranking-relevant score
    gap.)

    Returns ``(id_col, bm25_e6, n_terms_hit)`` for documents matching at
    least one term.

    Scale: tokens explode once (|tokens| rows), the term table
    broadcasts, per-term df/corpus stats are one small aggregate; the
    only wide shuffle is the final groupBy(id) — same class as any
    postings build. No per-row Python anywhere.
    """
    toked = docs.select(F.col(id_col), tokens_expr(text_col).alias("__toks"))
    dl = toked.select(id_col, F.size("__toks").alias("__dl"))
    terms = terms_df.select(F.col(term_col).alias("__term")).distinct()
    hits = (
        toked.select(id_col, F.explode("__toks").alias("__term"))
        .join(F.broadcast(terms), "__term")
        .groupBy(id_col, "__term")
        .agg(F.count("*").alias("__tf"))
    )
    # corpus stats: N + avgdl (one row), df per term (|terms| rows)
    stats = dl.agg(
        F.count("*").alias("__n"), F.sum("__dl").alias("__sumdl")
    )
    dfreq = hits.groupBy("__term").agg(
        F.countDistinct(id_col).alias("__df")
    )
    scored = (
        hits.join(dl, id_col)
        .join(F.broadcast(dfreq), "__term")
        .crossJoin(F.broadcast(stats))
    )
    tf = F.col("__tf").cast("double")
    df_t = F.col("__df").cast("double")
    idf = F.log(1.0 + (F.col("__n") - df_t + 0.5) / (df_t + 0.5))
    avgdl = F.col("__sumdl").cast("double") / F.nullif(
        F.col("__n"), F.lit(0)
    )
    denom_norm = F.when(
        F.coalesce(avgdl, F.lit(0.0)) > 0,
        1.0 - b + b * F.col("__dl").cast("double") / avgdl,
    ).otherwise(F.lit(1.0 - b))
    score_t = idf * tf * (k1 + 1.0) / (tf + k1 * denom_norm)
    return (
        scored.select(
            id_col,
            F.round(score_t * 1_000_000).cast("long").alias("__c"),
        )
        .groupBy(id_col)
        .agg(
            F.sum("__c").alias("bm25_e6"),
            F.count("*").alias("n_terms_hit"),
        )
    )


def mrr_at_k(
    ranked: DataFrame,
    rels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
) -> DataFrame:
    """MRR@k per query — reciprocal rank of the FIRST relevant result,
    the companion scalar to :func:`ndcg_at_k` (same input contract:
    1-based system ranks, integer relevance, absent pairs = 0).

    Returns ``(query_col, first_rel_rank, rr_ppm)`` with
    ``rr_ppm = 1e6 DIV first_rel_rank`` (exact integer; 0 and a null
    ``first_rel_rank`` when no relevant doc appears in the top k).
    Same scale shape as NDCG: only top-k rows per query move.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k!r}")
    hits = (
        ranked.filter(F.col(rank_col) <= int(k))
        .join(rels.filter(F.col(rel_col) > 0), [query_col, doc_col])
        .groupBy(query_col)
        .agg(F.min(rank_col).cast("long").alias("first_rel_rank"))
    )
    all_q = ranked.select(query_col).distinct()
    return (
        all_q.join(hits, query_col, "left")
        .select(
            query_col,
            "first_rel_rank",
            F.coalesce(
                F.expr("1000000 div first_rel_rank"), F.lit(0)
            ).alias("rr_ppm"),
        )
    )

"""Deduplication operators: exact, MinHash+LSH, n-gram Jaccard, SimHash.

Scale design: the only quadratic operator (``jaccard_pairs_exact``) exists
for validation and oracle checks; the production path is
MinHash signatures → LSH band buckets → exact Jaccard only on candidate
pairs — shuffle cost O(n·bands), never O(n²).

Hashes are md5-based so every computation is reproducible in any engine
(the DuckDB oracles recompute them bit-identically).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..search.analysis import tokens_expr


def _token_shingles(toks: Column, n: Column, k: int) -> Column:
    """k-token shingle array via zip_with over shifted slices.

    PUSHDOWN-SAFE by construction: the lambdas see only the paired
    elements. The transform(sequence, element_at(toks, i+j)) formulation
    references the token array INSIDE the lambda — fine while ``toks`` is
    an attribute, but catastrophic when an optimizer rule
    (InferFiltersFromGenerate below an explode, or a conjunct-split gate
    predicate) substitutes the producer tree into the lambda: the
    tokenizer then re-evaluates per element, O(n²·tokenize) per row. A
    driver session does not carry this repo's excluded-rules config, so
    every driver-facing producer must be safe under default optimization
    (measured: winnow_partial_dups 270 s → ~2 s on a vanilla session).
    """

    def shifted(j: int) -> Column:
        return F.slice(toks, j + 1, n - k + 1)

    z = shifted(0)
    for j in range(1, k):
        z = F.zip_with(z, shifted(j), lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(n >= k, z).otherwise(F.array().cast("array<string>"))


def _shingles_of_tokens(toks, k: int = 3):
    """Distinct k-token shingles from a *materialized* tokens column.

    PLAN-SHAPE INVARIANT: ``toks`` must be an attribute (a column produced
    by an earlier projection), never an inline ``tokens_expr(...)`` tree —
    interpreted higher-order functions re-evaluate outer expressions once
    per array element, turning the shingle build O(n²·tokenize) (measured
    62× slower at 5k docs). ``toks`` is referenced k+2 times here, which
    also stops CollapseProject from inlining a producer projection.

    element_at lookups are O(k) per shingle; the short-text case is guarded
    (Spark's sequence(1, 0) would be a *descending* sequence).
    """
    n = F.size(toks)

    def shingle_at(i):
        return F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(k)])

    return F.when(n >= k, F.array_distinct(
        F.transform(F.sequence(F.lit(1), n - k + 1), shingle_at)
    )).otherwise(F.array().cast("array<string>"))


def _with_shingles(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, sh) with tokens materialized in their own projection first."""
    toked = df.select(F.col(id_col).alias("id"), tokens_expr(F.col(text_col)).alias("toks"))
    return toked.select("id", _shingles_of_tokens(F.col("toks"), k).alias("sh"))


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup via content-hash groupBy (map-side combinable).

    Returns (fingerprint, n_dups, keeper_id): keeper = min id; rows with
    n_dups > 1 are duplicate clusters.
    """
    return (
        df.select(
            F.md5(F.encode(F.col(text_col), "utf-8")).alias("fingerprint"),
            F.col(id_col).alias("id"),
        )
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_dups"), F.min("id").alias("keeper_id"))
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Snapshot diff between two corpus versions — the dataset-versioning
    primitive (what changed between crawl N and crawl N+1, or between
    two preprocessing runs): (id, status, old_md5, new_md5) with
    ``status ∈ {added, removed, changed, unchanged}`` by content
    fingerprint.

    One full-outer hash join on the id — md5 is computed map-side before
    the shuffle, so the join carries (id, 32-byte digest), never text.
    At 100 TB both sides shuffle once on the same key; store snapshots
    bucketed by id (``tables.write_bucketed_table``) and the join is
    exchange-free.
    """
    o = old.select(
        F.col(id_col).alias("id"),
        F.md5(F.encode(F.col(text_col), "utf-8")).alias("old_md5"),
    )
    n = new.select(
        F.col(id_col).alias("id"),
        F.md5(F.encode(F.col(text_col), "utf-8")).alias("new_md5"),
    )
    j = o.join(n, "id", "full_outer")
    status = (
        F.when(F.col("old_md5").isNull(), F.lit("added"))
        .when(F.col("new_md5").isNull(), F.lit("removed"))
        .when(F.col("old_md5") == F.col("new_md5"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select("id", status.alias("status"), "old_md5", "new_md5")


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash signature per document.

    Hash family i = md5(i || ':' || shingle); the signature component is the
    lexicographic min — equivalent to a random permutation min under md5's
    uniformity, and bit-reproducible across engines. Documents with no
    shingles get NULL components (filtered by LSH).
    """
    # Explode + partial-aggregate plan: the shingle expression is evaluated
    # exactly once per document (a projected column feeding explode_outer),
    # the n_hashes md5s are plain codegen'd expressions per shingle row, and
    # the groupBy ships only n_hashes 32-byte minima per doc through the
    # shuffle (map-side combine). A HOF formulation instead inlines the
    # O(n·k) shingle build into every signature column.
    flat = _with_shingles(df, id_col, text_col, shingle_k).select(
        "id", F.explode_outer("sh").alias("s")
    )
    aggs = [
        F.min(F.md5(F.encode(F.concat(F.lit(f"{i}:"), F.col("s")), "utf-8"))).alias(f"mh{i}")
        for i in range(n_hashes)
    ]
    return flat.groupBy("id").agg(*aggs)


def lsh_band_table(
    signatures: DataFrame,
    n_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """(band, bucket, id) LSH band table of a signature table — the
    durable index a continuously-ingesting pipeline persists (bucketed
    by ``bucket``) so each new batch joins against it exchange-free on
    the base side. One pass: each signature row explodes into its
    ``n_hashes / band_size`` band keys; no N-way self-union
    re-evaluating the signature plan per band. Docs with no shingles
    (null components) are excluded.
    """
    if n_hashes % band_size:
        # a trailing short band would reference mh columns that do not
        # exist (opaque AnalysisException at plan time) — reject up front
        raise ValueError(
            f"n_hashes ({n_hashes}) must be divisible by band_size ({band_size})"
        )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.encode(
                    F.concat_ws("|", *[F.col(f"mh{i}") for i in range(b, b + band_size)]),
                    "utf-8",
                )
            ).alias("bucket"),
        )
        for b in range(0, n_hashes, band_size)
    ]
    return (
        signatures.filter(F.col("mh0").isNotNull())
        .select(F.col("id"), F.explode(F.array(*band_structs)).alias("bb"))
        .select(F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"), "id")
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    n_hashes: int = 8,
    band_size: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs.

    Shuffle = one groupBy per run on (band_idx, band_key); self-join happens
    only within buckets. Returns distinct (a_id, b_id) with a_id < b_id.

    ``max_bucket_size`` is the mega-bucket skew guard: buckets larger than
    the cap (boilerplate-identical documents — B² pair blowup) are diverted
    out of the pairwise join; such documents are by definition
    near-identical and belong in the exact-dup path instead. The filter is
    one extra aggregate on the already-shuffled (band, bucket) key —
    broadcast back as a semi-join.
    """
    all_bands = lsh_band_table(signatures, n_hashes, band_size)
    if max_bucket_size is not None:
        # mega-buckets are rare by definition → broadcast the BAD set and
        # anti-join (the OK set would be nearly the whole table)
        bad = (
            all_bands.groupBy("band", "bucket")
            .agg(F.count("*").alias("sz"))
            .filter(F.col("sz") > max_bucket_size)
            .select("band", "bucket")
        )
        all_bands = all_bands.join(F.broadcast(bad), ["band", "bucket"], "left_anti")
    left = all_bands.alias("l")
    right = all_bands.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("a_id"), F.col("r.id").alias("b_id"))
        .distinct()
    )


def jaccard_pairs_exact(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle_k: int = 3,
) -> DataFrame:
    """All-pairs n-gram Jaccard ≥ threshold (quadratic — validation scale).

    Returns (a_id, b_id, inter, union) with integer set sizes so the
    similarity is exactly reproducible; production callers should feed
    :func:`lsh_candidate_pairs` output instead of a cross join.
    """
    sh = _with_shingles(df, id_col, text_col, shingle_k)
    a, b = sh.alias("a"), sh.alias("b")
    pairs = a.join(b, F.col("a.id") < F.col("b.id"))
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    return (
        pairs.select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            inter.alias("inter"),
            union.alias("union"),
        )
        .filter((F.col("union") > 0) & (F.col("inter") >= F.col("union") * threshold))
    )


def verified_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n_hashes: int = 8,
    band_size: int = 2,
    shingle_k: int = 3,
    max_bucket_size: int | None = None,
    verify_candidates_only: bool = False,
) -> DataFrame:
    """Verified near-duplicate pairs (a_id, b_id), a_id < b_id: MinHash
    signatures → LSH band candidates → exact Jaccard ≥ threshold on the
    candidates only. The shared front half of both keeper policies.
    ``max_bucket_size`` is the LSH mega-bucket skew guard (see
    :func:`lsh_candidate_pairs`) — set it at production scale.

    ``verify_candidates_only``: semi-join the corpus down to candidate
    doc ids before shingling for verification. At PRODUCTION scale this
    is the right shape — candidates are a tiny fraction of the corpus
    and the default re-shingles the full corpus twice (once per join
    side). At small scale the three extra exchanges (union + distinct +
    semi-join) cost more than the shingling they avoid (measured at the
    5k-doc bench: +40% wall), so the default stays corpus-wide; flip it
    on together with ``max_bucket_size`` when the corpus is large."""
    sig = minhash_signatures(df, id_col, text_col, n_hashes, shingle_k)
    cand = lsh_candidate_pairs(sig, n_hashes, band_size, max_bucket_size)

    src = df
    if verify_candidates_only:
        cand_ids = (
            cand.select(F.col("a_id").alias("id"))
            .unionByName(cand.select(F.col("b_id").alias("id")))
            .distinct()
        )
        src = df.join(
            cand_ids.withColumnRenamed("id", id_col), id_col, "left_semi"
        )
    sh = _with_shingles(src, id_col, text_col, shingle_k)
    pairs = cand.join(
        sh.select(F.col("id").alias("a_id"), F.col("sh").alias("sh_a")), "a_id"
    ).join(sh.select(F.col("id").alias("b_id"), F.col("sh").alias("sh_b")), "b_id")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return pairs.filter((union > 0) & (inter >= union * threshold)).select(
        "a_id", "b_id"
    )


def near_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n_hashes: int = 8,
    band_size: int = 2,
    shingle_k: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """End-to-end near-duplicate removal — the composition a pipeline user
    actually calls: MinHash signatures → LSH band candidates → exact Jaccard
    verification on candidates only → min-id keeper → anti-join survivors.

    Returns the surviving rows of ``df`` (all original columns). A row is
    dropped when it has a *verified* near-duplicate (Jaccard ≥ threshold)
    with a smaller id — the PAIRWISE form of min-id-keeper selection, which
    needs no connected-components iteration and is the standard scalable
    approximation. Semantics note: on shapes where two dissimilar documents
    are both similar to a third (a~c, b~c, a≁b), the pairwise rule keeps
    both a and b; :func:`near_dedup_cc` instead keeps exactly one canonical
    document per *connected cluster*.

    Scale shape: every stage is linear — the only joins are the
    within-bucket candidate join (O(n·bands) shuffle), two hash joins
    attaching shingle arrays to candidate pairs, and a broadcast-able
    anti-join of losers; there is no all-pairs product anywhere
    (asserted in tests/test_plans.py).
    """
    verified = verified_near_dup_pairs(
        df, id_col, text_col, threshold, n_hashes, band_size, shingle_k,
        max_bucket_size,
    )
    # a_id < b_id by construction: the b side always loses to a smaller id
    losers = verified.select(F.col("b_id").alias("__loser")).distinct()
    return df.join(
        losers, F.col(id_col) == F.col("__loser"), "left_anti"
    )


def sig_jaccard_est(n_hashes: int = 8, a_prefix: str = "a_mh", b_prefix: str = "b_mh") -> Column:
    """MinHash-estimated Jaccard between two joined signature rows: the
    fraction of agreeing components. This is the cross-generation
    similarity test of an incremental pipeline — the accepted-corpus
    store keeps only signatures (32 B × n_hashes per doc), never
    shingles, so similarity against it is estimated, with standard
    MinHash variance ~ 1/sqrt(n_hashes) (raise ``n_hashes`` to tighten).
    Null components count as disagreement (never as a spurious match)."""
    agree = sum(
        F.when(F.col(f"{a_prefix}{i}") == F.col(f"{b_prefix}{i}"), 1).otherwise(0)
        for i in range(n_hashes)
    )
    return agree / F.lit(float(n_hashes))


def incremental_near_dedup(
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    base_sigs: DataFrame,
    threshold: float = 0.5,
    n_hashes: int = 8,
    band_size: int = 2,
    shingle_k: int = 3,
    max_bucket_size: int | None = None,
    base_bands: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Near-dedup a NEW batch against an already-accepted corpus — the
    continuous-crawl ingestion step. The accepted corpus is represented
    only by its MinHash signature store ``base_sigs`` (id, mh0..mhN-1),
    the durable table a production pipeline maintains; its text is never
    re-read.

    Two stages, both linear:

    1. cross-generation: LSH-band the new batch's signatures and join
       them against the base band table on (band, bucket); candidates
       are tested with the signature-agreement estimate
       (:func:`sig_jaccard_est` ≥ ``threshold``) and matching new docs
       are dropped. Pass a persisted ``base_bands`` (bucketed by
       ``bucket``) to keep the base side exchange-free; otherwise it is
       derived from ``base_sigs`` here.
    2. within-batch: the remaining new docs near-dedup against EACH
       OTHER with the exact-verified pairwise path (:func:`near_dedup`
       — text is in hand for the batch, so no estimator is needed).

    Returns ``(survivors, survivor_sigs)``: the surviving new rows (all
    original columns) and their signature rows, which the caller appends
    to the store (``base_sigs ∪ survivor_sigs`` is the next round's
    base). Deterministic: same batch + same store → same survivors.

    Scale shape: the base store is touched ONLY through the band
    equi-join keyed on (band, bucket) and one hash join attaching
    candidate base signatures — no base-side text, no all-pairs, and
    with a bucketed band store no base-side shuffle at all.
    ``max_bucket_size`` diverts boilerplate mega-buckets exactly as in
    :func:`lsh_candidate_pairs` (applied to the combined bucket
    population, both generations).
    """
    new_sigs = minhash_signatures(new_df, id_col, text_col, n_hashes, shingle_k)
    new_bands = lsh_band_table(new_sigs, n_hashes, band_size)
    if base_bands is None:
        base_bands = lsh_band_table(base_sigs, n_hashes, band_size)

    if max_bucket_size is not None:
        both = new_bands.select("band", "bucket").unionByName(
            base_bands.select("band", "bucket")
        )
        bad = (
            both.groupBy("band", "bucket")
            .agg(F.count("*").alias("sz"))
            .filter(F.col("sz") > max_bucket_size)
            .select("band", "bucket")
        )
        new_bands = new_bands.join(F.broadcast(bad), ["band", "bucket"], "left_anti")
        base_bands = base_bands.join(F.broadcast(bad), ["band", "bucket"], "left_anti")

    cand = (
        new_bands.alias("n")
        .join(
            base_bands.alias("b"),
            (F.col("n.band") == F.col("b.band"))
            & (F.col("n.bucket") == F.col("b.bucket")),
        )
        .select(F.col("n.id").alias("new_id"), F.col("b.id").alias("base_id"))
        .distinct()
    )
    n_side = new_sigs.select(
        F.col("id").alias("new_id"),
        *[F.col(f"mh{i}").alias(f"a_mh{i}") for i in range(n_hashes)],
    )
    b_side = base_sigs.select(
        F.col("id").alias("base_id"),
        *[F.col(f"mh{i}").alias(f"b_mh{i}") for i in range(n_hashes)],
    )
    dup_vs_base = (
        cand.join(n_side, "new_id")
        .join(b_side, "base_id")
        .filter(sig_jaccard_est(n_hashes) >= threshold)
        .select(F.col("new_id").alias("__dup"))
        .distinct()
    )
    fresh = new_df.join(dup_vs_base, F.col(id_col) == F.col("__dup"), "left_anti")

    # within-batch near-dedup REUSES the batch's band table (a doc's
    # bands don't change when other docs are dropped, so candidate pairs
    # among fresh docs are identical to a from-scratch near_dedup on
    # fresh — just without re-minhashing the batch): self-join the
    # bands, drop pairs touching a store-dup, exact-verify, min-id keep
    l, r = new_bands.alias("l"), new_bands.alias("r")
    within = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("a_id"), F.col("r.id").alias("b_id"))
        .distinct()
        .join(dup_vs_base, F.col("a_id") == F.col("__dup"), "left_anti")
        .join(dup_vs_base, F.col("b_id") == F.col("__dup"), "left_anti")
    )
    sh = _with_shingles(fresh, id_col, text_col, shingle_k)
    pairs = within.join(
        sh.select(F.col("id").alias("a_id"), F.col("sh").alias("sh_a")), "a_id"
    ).join(sh.select(F.col("id").alias("b_id"), F.col("sh").alias("sh_b")), "b_id")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    losers = (
        pairs.filter((union > 0) & (inter >= union * threshold))
        .select(F.col("b_id").alias("__loser"))
        .distinct()
    )
    survivors = fresh.join(losers, F.col(id_col) == F.col("__loser"), "left_anti")
    survivor_sigs = new_sigs.join(
        survivors.select(F.col(id_col).alias("id")), "id", "left_semi"
    )
    return survivors, survivor_sigs


def decontaminate(
    df: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str = "text",
    shingle_k: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark decontamination: drop documents sharing ≥ ``min_shared``
    distinct ``shingle_k``-token shingles with ANY benchmark text — the
    standard training-corpus hygiene step (the Gopher / GPT-3 appendix
    n-gram-overlap rule) the reference has no analogue for.

    Scale shape: the benchmark set is small by definition (eval suites),
    so its distinct shingle set is broadcast; the corpus side is one
    shingle explode + broadcast hash join + partial-aggregated per-doc
    match count + broadcast anti-join of the contaminated ids. No shuffle
    of the corpus beyond the id-keyed aggregation, no benchmark-side
    shuffle at all. Returns the surviving rows of ``df``.

    DRIVER-SESSION-SAFE plan shape: shingles come from the zip_with-over-
    shifted-slices primitive (``_token_shingles``) and the
    explode is ``explode_outer`` — InferFiltersFromGenerate cannot push a
    predicate below an OUTER generate, so a vanilla session (no excluded
    rules) never inlines the tokenizer into a scan filter (the inner-
    explode + transform/element_at formulation measured 19 s vs <1 s on
    500 docs under default optimization).
    """
    def sh_rows(frame: DataFrame, txt: str, keep: list[str]) -> DataFrame:
        toked = frame.select(*keep, tokens_expr(F.col(txt)).alias("toks"))
        sh = toked.select(
            *keep,
            F.array_distinct(
                _token_shingles(F.col("toks"), F.size("toks"), shingle_k)
            ).alias("sh"),
        )
        return sh.select(*keep, F.explode_outer("sh").alias("s")).filter(
            F.col("s").isNotNull()
        )

    doc_sh = sh_rows(
        df.select(F.col(id_col).alias("id"), F.col(text_col)), text_col, ["id"]
    )
    bench_sh = sh_rows(bench, bench_text_col, []).distinct()
    contaminated = (
        doc_sh.join(F.broadcast(bench_sh), "s")
        .groupBy("id")
        .agg(F.count("*").alias("n_shared"))  # sh is distinct per doc
        .filter(F.col("n_shared") >= min_shared)
        .select(F.col("id").alias("__contam"))
    )
    return df.join(contaminated, F.col(id_col) == F.col("__contam"), "left_anti")


def _bloom_bit(i: int, s, m_bits: int):
    """Bit position of hash family ``i`` for shingle ``s`` on the shared
    md5 basis — ``conv(substring(md5('b{i}:'||s),1,8),16,10) % m_bits``,
    reproducible in DuckDB as ``('0x'||substring(md5(...),1,8))::BIGINT %
    m_bits`` (the engine-portable integer convention every hash op in
    this repo uses)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.encode(F.concat(F.lit(f"b{i}:"), s), "utf-8")), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % m_bits
    )


def bloom_bits(
    bench: DataFrame,
    text_col: str = "text",
    shingle_k: int = 8,
    m_bits: int = 1 << 20,
    k_hashes: int = 3,
) -> DataFrame:
    """The SET side of a Bloom membership filter over a benchmark /
    blocklist corpus: every distinct ``shingle_k``-token shingle maps to
    ``k_hashes`` bit positions in an ``m_bits`` space; returns the
    distinct set positions as one ``bit`` column — the relational form
    of the bit array (a position is set iff a row exists). This is the
    structure AI2's BFF and at-scale URL-seen / decontamination filters
    persist: O(set bits) storage independent of shingle text size, and
    the probe side never ships text, only 8-byte positions.
    """
    if shingle_k < 1 or k_hashes < 1 or m_bits < 2:
        raise ValueError("shingle_k, k_hashes >= 1 and m_bits >= 2 required")
    toked = bench.select(tokens_expr(F.col(text_col)).alias("toks"))
    sh = (
        toked.select(
            F.array_distinct(
                _token_shingles(F.col("toks"), F.size("toks"), shingle_k)
            ).alias("sh")
        )
        .select(F.explode_outer("sh").alias("s"))
        .filter(F.col("s").isNotNull())
        .distinct()
    )
    return (
        sh.select(
            F.explode(
                F.array(*[_bloom_bit(i, F.col("s"), m_bits) for i in range(k_hashes)])
            ).alias("bit")
        )
        .distinct()
    )


def bloom_probe(
    df: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str = "text",
    shingle_k: int = 8,
    m_bits: int = 1 << 20,
    k_hashes: int = 3,
) -> DataFrame:
    """Probe every document against the benchmark's Bloom filter: a
    shingle is a (possible) member iff ALL ``k_hashes`` of its bit
    positions are set. Returns one row per document —
    (id, n_ngrams, n_hit, contaminated) with ``n_ngrams`` the doc's
    distinct shingle count, ``n_hit`` how many of them the filter
    accepts, ``contaminated`` = n_hit > 0. False positives are part of
    the contract (that is the Bloom trade: rate ≈ (set_bits/m)^k) and
    are DETERMINISTIC here — both engines hash identically, so the
    flagged set is hash-exact, FPs included.

    Scale shape: the filter is broadcast (set positions of an eval
    suite / blocklist — small by definition); the probe is ``k_hashes``
    consecutive BROADCAST SEMI-joins on per-hash bit expressions, so a
    shingle leaves the candidate set at its first unset bit and the
    corpus never shuffles on shingle keys at all — the only wide
    exchange is the final id-keyed count aggregation (map-side
    combinable). Compare :func:`decontaminate`, which broadcasts the
    shingle TEXT set: the Bloom form ships 8-byte positions instead, a
    ~shingle_k·word-length compression of the broadcast, which is what
    makes membership state for billions of set elements shippable.
    """
    if shingle_k < 1 or k_hashes < 1 or m_bits < 2:
        raise ValueError("shingle_k, k_hashes >= 1 and m_bits >= 2 required")
    # materialize the bit set ONCE: each of the k semi-joins below would
    # otherwise re-derive the whole bench tokenize/shingle/hash lineage
    bits = bloom_bits(
        bench, bench_text_col, shingle_k, m_bits, k_hashes
    ).localCheckpoint()

    toked = df.select(F.col(id_col).alias("id"), tokens_expr(F.col(text_col)).alias("toks"))
    doc_sh = (
        toked.select(
            "id",
            F.array_distinct(
                _token_shingles(F.col("toks"), F.size("toks"), shingle_k)
            ).alias("sh"),
        )
        .select("id", F.explode_outer("sh").alias("s"))
        .filter(F.col("s").isNotNull())
        # two consumers (the n_ngrams agg and the semi-join probe chain):
        # without a barrier the corpus tokenize+shingle — the expensive
        # narrow stage — runs twice per query
        .localCheckpoint()
    )
    cand = doc_sh
    for i in range(k_hashes):
        cand = cand.join(
            F.broadcast(bits.withColumnRenamed("bit", f"__b{i}")),
            _bloom_bit(i, F.col("s"), m_bits) == F.col(f"__b{i}"),
            "left_semi",
        )
    n_ngrams = doc_sh.groupBy("id").agg(F.count("*").alias("n_ngrams"))
    n_hit = cand.groupBy("id").agg(F.count("*").alias("n_hit"))
    ids = df.select(F.col(id_col).alias("id"))
    return (
        ids.join(n_ngrams, "id", "left")
        .join(n_hit, "id", "left")
        .select(
            "id",
            F.coalesce("n_ngrams", F.lit(0)).alias("n_ngrams"),
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            (F.coalesce("n_hit", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def bloom_decontaminate(
    df: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str = "text",
    shingle_k: int = 8,
    m_bits: int = 1 << 20,
    k_hashes: int = 3,
) -> DataFrame:
    """BFF-style decontamination: drop every document whose
    :func:`bloom_probe` is contaminated (any shingle accepted by the
    benchmark's Bloom filter — exact matches always, plus the
    deterministic false positives the m/k sizing admits). Returns the
    surviving rows of ``df``. The exact-set twin is
    :func:`decontaminate`; this is the constant-memory arm you run when
    the reference set's shingle text no longer broadcasts."""
    flagged = (
        bloom_probe(
            df, bench, id_col, text_col, bench_text_col,
            shingle_k, m_bits, k_hashes,
        )
        .filter(F.col("contaminated"))
        .select(F.col("id").alias("__contam"))
    )
    return df.join(flagged, F.col(id_col) == F.col("__contam"), "left_anti")


def connected_components_labels(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over an undirected pair list via iterative
    min-label propagation — no GraphFrames dependency.

    Returns (id, label) for every node appearing in ``pairs``; ``label`` is
    the minimum id in the node's connected component. Each iteration is a
    neighbour-offer join + partial-aggregated min, followed by a POINTER-
    HALVING shortcut (label ← label(label), the pointer-jumping step of
    star-contraction CC algorithms): labels always point at other node ids,
    so following one extra hop per round makes label depth shrink
    geometrically — convergence in O(log diameter) rounds instead of
    O(diameter), which is what saves deep chain-shaped clusters (a
    100-node path converges in ~8 rounds, not 99). Near-dup clusters are
    shallow in practice, and ``max_iters`` caps pathological shapes.

    LINEAGE TRUNCATION: every iteration's labels are ``localCheckpoint``-ed.
    Each step references the previous labels plan twice (self ∪ offered),
    so without truncation the logical plan doubles per iteration — 2^iters
    analysis cost OOMs the driver around depth ~9 (caught by the
    chain-convergence test). Checkpointing also means the upstream pair
    computation runs once, not once per iteration. (On executor loss a
    localCheckpoint cannot be recomputed — the job restarts; for
    multi-hour cluster runs swap in reliable ``checkpoint()`` with a
    checkpoint dir.)

    JOB-COUNT SHAPE (this loop is per-job-overhead-bound at small edge
    counts — r6): round 1 is UNROLLED — initial labels are identities, so
    the neighbour-offer join collapses to a column swap of the edge list
    (no init-labels materialization, no join), and its convergence count
    is skipped because any edge (a < b) forces b's label to change, so
    round 1 can only converge when there are no edges at all — a case the
    next round's count detects for the same price. Rounds ≥ 2 carry the
    previous label through the min-aggregation as a tagged ``__own``
    column instead of joining the old labels back in, so each round is
    one offer join + one aggregation + one halving join. Net: 3 jobs for
    the shallow clusters that dominate near-dup graphs (round-1
    checkpoint, round-2 checkpoint, one count), down from 5.
    """
    if max_iters < 1:
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    # no .distinct() on edges: callers hand over already-distinct pairs
    # (verified_near_dup_pairs ends in a distinct candidate set), and the
    # groupBy-min below absorbs any stragglers — one less shuffle/job in a
    # loop where per-job overhead dominates at small edge counts
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .persist()
    )
    id_type = edges.schema["src"].dataType
    # round 1, unrolled: labels start as identities, so offers are just the
    # swapped edge list and prop = min(id, min neighbour id) per node; the
    # pointer-halving join then works exactly as in the general round.
    prop = (
        edges.select(F.col("src").alias("id"), F.col("src").alias("label"))
        .unionByName(
            edges.select(F.col("dst").alias("id"), F.col("src").alias("label"))
        )
        .groupBy("id")
        .agg(F.min("label").alias("label"))
    )
    labels = (
        prop.join(
            prop.select(F.col("id").alias("label"), F.col("label").alias("__l2")),
            "label",
        )
        .select("id", F.col("__l2").alias("label"))
        .localCheckpoint()
    )
    # the unrolled round 1 converges only when there are no edges (any edge
    # a < b moves b's label), so a one-round budget is exactly that check;
    # larger budgets detect convergence with the next round's count
    try:
        converged = max_iters == 1 and edges.isEmpty()
        for _ in range(1, max_iters):
            # each node offers its label to every neighbour; keep the min of
            # (own label, offered labels). The own label rides through the
            # aggregation as ``__own`` (offers carry NULL, min ignores it),
            # so no join against the previous labels is needed to compute
            # the convergence flag.
            offered = edges.join(
                labels.select(F.col("id").alias("src"), "label"), "src"
            ).select(
                F.col("dst").alias("id"),
                "label",
                F.lit(None).cast(id_type).alias("__own"),
            )
            prop = (
                labels.select("id", "label", F.col("label").alias("__own"))
                .unionByName(offered)
                .groupBy("id")
                .agg(F.min("label").alias("label"), F.min("__own").alias("__old"))
            )
            # pointer halving: every label is itself a node id present in
            # prop, so label(label) exists and is ≤ label — follow it. The
            # inner join is total by construction; the extra hop is one
            # keyed join per round and buys geometric depth reduction.
            # The convergence flag rides along in the SAME materialization,
            # so each round is ONE heavy job; the changed-count then only
            # scans the checkpointed partitions.
            staged = (
                prop.join(
                    prop.select(
                        F.col("id").alias("label"), F.col("label").alias("__l2")
                    ),
                    "label",
                )
                .select(
                    "id",
                    F.col("__l2").alias("label"),
                    (F.col("__l2") < F.col("__old")).alias("__changed"),
                )
                .localCheckpoint()
            )
            changed = staged.filter(F.col("__changed")).count()
            labels = staged.select("id", "label")
            if changed == 0:
                converged = True
                break
        if not converged:
            # silently returning partial labels would split clusters whose
            # diameter exceeds max_iters — fail loud instead: wrong-but-
            # plausible dedup output is worse than a restartable error
            raise RuntimeError(
                f"connected_components_labels did not converge within "
                f"{max_iters} iterations — a duplicate cluster has diameter "
                f"> {max_iters}; raise max_iters"
            )
        return labels
    finally:
        edges.unpersist()


def near_dedup_cc(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n_hashes: int = 8,
    band_size: int = 2,
    shingle_k: int = 3,
    max_iters: int = 20,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate removal with a CONNECTED-COMPONENTS keeper: the same
    LSH + exact-Jaccard verification as :func:`near_dedup`, then min-label
    propagation so every connected cluster of verified pairs keeps exactly
    one canonical document (the minimum id in the cluster).

    Differs from the pairwise keeper on transitive shapes: with verified
    pairs a~c and b~c (a≁b, ids a<b<c) the pairwise rule keeps {a, b} —
    each drop decision looks at one pair — while the cluster rule keeps
    only {a}, the canonical representative of the chain cluster. Use this
    when downstream consumers need one-per-cluster semantics (e.g. citation
    canonicalization); the extra cost is O(diameter) label-propagation
    passes over the verified-pair set, which is tiny relative to the corpus.
    """
    verified = verified_near_dup_pairs(
        df, id_col, text_col, threshold, n_hashes, band_size, shingle_k,
        max_bucket_size,
    ).persist()
    # labels come back localCheckpoint-ed (materialized, lineage-free), so
    # the verified-pair cache can be dropped here — the final anti-join
    # reads only the checkpointed labels, O(#duplicated docs) rows,
    # released on session GC
    labels = connected_components_labels(verified, max_iters=max_iters)
    verified.unpersist()
    losers = labels.filter(F.col("label") < F.col("id")).select(
        F.col("id").alias("__loser")
    )
    return df.join(losers, F.col(id_col) == F.col("__loser"), "left_anti")


def _simhash_of_hashes(hashed, n, bits: int = 32):
    """SimHash accumulator from a *materialized* token-hash array column."""

    def voter(bit_pos: int):
        # 2-arg aggregate merge lambda; bit_pos captured via closure factory
        return lambda acc, h: acc + F.when(
            F.shiftright(h, bit_pos).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    acc = None
    for b in range(bits):
        vote = F.aggregate(hashed, F.lit(0), voter(b))
        bit = F.when(vote > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0).cast("long"))
        acc = bit if acc is None else acc + bit
    return F.when(n > 0, acc).otherwise(F.lit(0).cast("long"))


def simhash_df(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """SimHash fingerprint per document: (id, simhash long).

    Token hash = first 8 hex chars of md5 (engine-portable); each bit
    position is voted +1/-1 by every distinct token; the sign vector forms
    the fingerprint.

    Staged projections keep every HOF lambda referencing attributes (see
    ``_shingles_of_tokens`` plan-shape invariant): tokens → token hashes →
    32 bit votes. Each stage's producer column is referenced ≥2 times so
    CollapseProject cannot inline it back into a lambda.
    """
    toked = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(tokens_expr(F.col(text_col))).alias("toks"),
    )
    hashed = toked.select(
        "id",
        F.size("toks").alias("n"),  # second toks reference: keeps projection
        F.transform(
            "toks",
            lambda t: F.conv(F.substring(F.md5(F.encode(t, "utf-8")), 1, 8), 16, 10).cast("long"),
        ).alias("hashed"),
    )
    return hashed.select(
        "id", _simhash_of_hashes(F.col("hashed"), F.col("n"), bits).alias("simhash")
    )


def simhash_expr(col, bits: int = 32):
    """Single-expression SimHash (small-data/test use only).

    Prefer :func:`simhash_df` in pipelines — this inline form re-evaluates
    the tokenizer per array element under interpreted HOF semantics.
    """
    toks = F.array_distinct(tokens_expr(col))
    hashed = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(F.encode(t, "utf-8")), 1, 8), 16, 10).cast("long"),
    )
    return _simhash_of_hashes(hashed, F.size(toks), bits)


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    n_bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-duplicate pairs via the pigeonhole band join — the
    classic web-dedup design (Manku/Jain/Sarma, WWW'07): split the
    ``bits``-bit fingerprint into ``n_bands`` equal bands; any pair
    within ``max_hamming`` differing bits has at most ``max_hamming``
    damaged bands, so with ``max_hamming < n_bands`` at least one band
    matches EXACTLY and the equi-join on (band, band_value) finds the
    pair with 100% RECALL — unlike MinHash-LSH this candidate rule is
    exact, not probabilistic. Candidates are then verified with the
    true Hamming distance (``bit_count(xor)``).

    Returns (a_id, b_id, hamming) with a_id < b_id and
    hamming <= max_hamming.

    Scale shape: fingerprints are one 8-byte long per doc; the band
    explode is exactly ``n_bands`` rows per doc; the join is a plain
    shuffle equi join keyed on (band, value) with 2^(bits/n_bands)
    buckets per band — size band width to the corpus so bucket
    populations stay bounded (8-bit bands are fine at oracle scale;
    64-bit fingerprints with 16-bit bands are the web-scale setting).
    Verification is one integer xor per candidate.
    """
    if bits % n_bands:
        raise ValueError(f"n_bands must divide bits ({bits} % {n_bands})")
    if not 0 <= max_hamming < n_bands:
        raise ValueError(
            "the pigeonhole guarantee needs max_hamming < n_bands "
            f"(got {max_hamming} >= {n_bands})"
        )
    w = bits // n_bands
    mask = (1 << w) - 1
    sigs = simhash_df(df, id_col, text_col, bits)
    bands = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", b * w)
                        .bitwiseAND(F.lit(mask))
                        .alias("v"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "simhash", F.col("bk.band").alias("band"), F.col("bk.v").alias("v"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        # verify BEFORE deduplicating: a pair matches in up to n_bands
        # bands (≤ n_bands duplicate rows), and the xor+bit_count verify
        # is one integer op per row, so filtering first shrinks the
        # dedup shuffle from the full candidate stream (quadratic in
        # bucket population) to just the matching pairs — identical
        # result, orders of magnitude fewer shuffled bytes at dense
        # bucket loads (guide §2.3; r6: the dropDuplicates previously
        # shuffled every candidate WITH both 8-byte fingerprints)
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["a_id", "b_id"])
    )
    return cand.select("a_id", "b_id", "hamming")


def simhash_near_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    n_bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dedup composition: pigeonhole band candidates →
    Hamming verify → pairwise min-id keeper → surviving rows of ``df``
    (the simhash twin of :func:`near_dedup`)."""
    pairs = simhash_near_dup_pairs(
        df, id_col, text_col, bits, n_bands, max_hamming
    )
    losers = pairs.select(F.col("b_id").alias("__loser")).distinct()
    return df.join(losers, F.col(id_col) == F.col("__loser"), "left_anti")


def jaccard_pairs_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle_k: int = 3,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard ≥ threshold via the inverted
    shingle index — the scale-correct form of
    :func:`jaccard_pairs_exact` (which cross-joins; validation only).

    The classic IR identity: two documents' shingle-set intersection is
    the number of posting lists they co-occur in, so a posting self-join
    ``(shingle → id)`` × ``(shingle → id)`` with a per-pair count gives
    ``inter`` exactly — only pairs sharing ≥1 shingle ever materialise,
    not the n² grid. ``union = |A| + |B| - inter`` from a broadcast-able
    per-doc size table. Same output columns as ``jaccard_pairs_exact``
    (a_id < b_id, inter, union) and provably the same rows: pairs with
    zero shared shingles can't pass any threshold > 0.

    Scale shape: shuffles are keyed by shingle (posting build) then by
    pair (the count groupBy) — corpus-sized but linear in postings, not
    quadratic in docs. Hot boilerplate shingles make skewed posting
    lists AND quadratic per-list pair blowup; ``threshold`` > 0 means a
    shingle shared by d docs contributes d(d-1)/2 rows, so at corpus
    scale run exact dedup + within-doc line dedup upstream first (they
    remove the mass duplication that makes lists hot) and let AQE split
    the skewed pair-count partitions. Requires ``threshold > 0`` —
    at 0 the exact semantics genuinely need the cross join.
    """
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    sh = _with_shingles(df, id_col, text_col, shingle_k)
    # carry |A| through the explode (one long per posting row) so union
    # needs no post-aggregation joins back to a per-doc size table —
    # the pair table shuffles exactly once (the groupBy)
    postings = sh.select(
        "id", F.size("sh").alias("n_sh"), F.explode("sh").alias("s")
    )
    a, b = postings.alias("pa"), postings.alias("pb")
    return (
        a.join(
            b,
            (F.col("pa.s") == F.col("pb.s"))
            & (F.col("pa.id") < F.col("pb.id")),
        )
        .groupBy(F.col("pa.id").alias("a_id"), F.col("pb.id").alias("b_id"))
        .agg(
            F.count("*").alias("inter"),
            F.first(F.col("pa.n_sh")).alias("__na"),
            F.first(F.col("pb.n_sh")).alias("__nb"),
        )
        .select(
            "a_id",
            "b_id",
            "inter",
            (F.col("__na") + F.col("__nb") - F.col("inter")).alias("union"),
        )
        .filter(F.col("inter") >= F.col("union") * threshold)
    )


def neardup_recall(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n_hashes: int = 8,
    band_size: int = 2,
    shingle_k: int = 3,
) -> DataFrame:
    """Measured recall of the MinHash-LSH near-dedup pipeline against
    exact ground truth — the "measure, don't guess" audit for the dedup
    family (the sibling of ``ann_recall`` for the text side).

    Ground truth is every pair with exact shingle-Jaccard ≥ threshold
    (:func:`jaccard_pairs_index`); the pipeline under test is
    :func:`verified_near_dup_pairs` with the same threshold, whose
    output is by construction a SUBSET of the truth (LSH proposes,
    exact Jaccard disposes — precision is always 1), so recall is one
    left-semi count, no pair diffing.

    Single-row output (n_true, n_found, recall_pct_x100): recall in
    basis points by integer division — deterministic, engine-exact.
    Run it on a deterministic sample slice per crawl batch to pick
    (n_hashes, band_size) empirically; the band-probability curve
    1-(1-s^r)^b tells you where recall SHOULD be, this measures it.
    """
    true_pairs = jaccard_pairs_index(
        df, id_col, text_col, threshold, shingle_k
    ).select("a_id", "b_id")
    found = verified_near_dup_pairs(
        df,
        id_col,
        text_col,
        threshold=threshold,
        n_hashes=n_hashes,
        band_size=band_size,
        shingle_k=shingle_k,
    )
    hit = true_pairs.join(found, ["a_id", "b_id"], "left_semi")
    n_true = true_pairs.agg(F.count("*").alias("n_true"))
    n_found = hit.agg(F.count("*").alias("n_found"))
    return n_true.crossJoin(n_found).select(
        "n_true",
        "n_found",
        F.expr(
            "CASE WHEN n_true = 0 THEN NULL "
            "ELSE (n_found * 10000) DIV n_true END"
        ).alias("recall_bp"),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold_bp: int = 8000,
    shingle_k: int = 3,
) -> DataFrame:
    """Directional shingle containment ≥ threshold: pairs where the
    SMALLER document's shingle set is mostly inside the larger one's —
    the subset/quotation duplication Jaccard structurally misses (a
    paragraph quoted inside a 100× longer page has Jaccard ≈ 0.01 but
    containment ≈ 1.0; the suffix-array dedup literature's motivating
    case, and what makes boilerplate wrappers around copied bodies
    survive Jaccard-threshold dedup).

    Same inverted-posting machinery as :func:`jaccard_pairs_index`
    (inter = co-occurrence count, sizes carried through the explode, the
    pair table shuffles once); the filter is
    ``inter * 10000 >= threshold_bp * least(|A|, |B|)`` — all-integer,
    engine-exact. Zero-shingle docs can't pair (no postings), matching
    the convention that empty docs are upstream exact-dedup's problem.

    Output: (a_id, b_id, inter, n_a, n_b, containment_bp) with
    containment_bp = basis-point containment of the smaller set.
    """
    if not 0 < threshold_bp <= 10000:
        raise ValueError(
            f"threshold_bp must be in (0, 10000], got {threshold_bp}"
        )
    sh = _with_shingles(df, id_col, text_col, shingle_k)
    postings = sh.select(
        "id", F.size("sh").alias("n_sh"), F.explode("sh").alias("s")
    )
    a, b = postings.alias("pa"), postings.alias("pb")
    return (
        a.join(
            b,
            (F.col("pa.s") == F.col("pb.s"))
            & (F.col("pa.id") < F.col("pb.id")),
        )
        .groupBy(F.col("pa.id").alias("a_id"), F.col("pb.id").alias("b_id"))
        .agg(
            F.count("*").alias("inter"),
            F.first(F.col("pa.n_sh")).alias("n_a"),
            F.first(F.col("pb.n_sh")).alias("n_b"),
        )
        .filter(
            F.col("inter") * 10000
            >= F.lit(int(threshold_bp)) * F.least("n_a", "n_b")
        )
        .select(
            "a_id",
            "b_id",
            "inter",
            "n_a",
            "n_b",
            F.expr("(inter * 10000) DIV least(n_a, n_b)").alias(
                "containment_bp"
            ),
        )
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 1,
    q: int = 2,
) -> DataFrame:
    """Character-level fuzzy duplicate pairs: all (a, b) with
    ``levenshtein(a, b) <= max_dist`` — the short-string sibling of
    :func:`jaccard_pairs_index` (titles, source names, author strings,
    filenames), where token shingles are useless and EDIT distance is
    the right metric.

    Candidate generation is the classic q-gram filter (Gravano et al.,
    VLDB 2001): k edits destroy at most ``k·q`` of a string's character
    q-grams, so two strings within distance k MUST share a q-gram
    whenever ``min_len >= q·(k+1)`` — the posting join on distinct
    q-grams is recall-complete above that length (shorter strings have
    so few grams the bound can't bite; callers matching very short keys
    should drop to q=1, where the bound is ``min_len >= k+1``). A length
    filter ``|len(a) - len(b)| <= k`` (a necessary condition — each edit
    changes length by at most 1) prunes candidates before the exact
    ``levenshtein`` verify. Identical strings under different ids emit
    distance 0.

    Returns ``(a_id, b_id, dist)`` with ``a_id < b_id``.

    Scale: the same single-shuffle inverted-posting machinery as every
    pair operator here — candidates are linear in posting-list mass,
    never the n² grid; the verify runs only on candidates and
    ``levenshtein`` is JVM codegen, not Python. Hot q-grams behave like
    hot shingles: cap or drop top-df grams the same way jaccard's
    posting join does at web scale.
    """
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist!r}")
    if q < 1:
        raise ValueError(f"q must be >= 1, got {q!r}")
    k = int(max_dist)
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(text_col).alias("__t"),
        F.length(text_col).alias("__len"),
    ).filter(F.col("__t").isNotNull())
    grams = base.select(
        "__id",
        "__t",
        "__len",
        # strings shorter than q have NO q-grams: sequence(1, 0) would
        # yield the DESCENDING [1, 0] and emit bogus sub-q grams (the
        # trigrams_of_lc guard, mirrored here; ADVICE r5). The DuckDB
        # oracle's range() emits none, so the guard keeps both engines
        # agreeing on sub-q inputs.
        F.explode(
            F.when(
                F.col("__len") >= q,
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.col("__len") - q + 1),
                        lambda i: F.col("__t").substr(i, F.lit(q)),
                    )
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("__g"),
    )
    a = grams.select(
        F.col("__id").alias("a_id"),
        F.col("__t").alias("__ta"),
        F.col("__len").alias("__la"),
        "__g",
    )
    b = grams.select(
        F.col("__id").alias("b_id"),
        F.col("__t").alias("__tb"),
        F.col("__len").alias("__lb"),
        "__g",
    )
    cand = (
        a.join(b, "__g")
        .filter(
            (F.col("a_id") < F.col("b_id"))
            & (F.abs(F.col("__la") - F.col("__lb")) <= k)
        )
        .select("a_id", "b_id", "__ta", "__tb")
        .distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein("__ta", "__tb"))
        .filter(F.col("dist") <= k)
        .select("a_id", "b_id", "dist")
    )

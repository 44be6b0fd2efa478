"""Similarity search over embedding columns (array<float>).

Two paths:

* :func:`cosine_topk` — brute-force exact top-k: broadcast the (small) query
  set against the corpus, dot products via higher-order functions (JVM-side,
  no Python), per-query top-k via window rank. At 100 TB this is the
  baseline / re-rank stage.
* :func:`hyperplane_lsh_buckets` — random-hyperplane LSH (sign sketch):
  deterministic pseudo-random planes derived from a seed, bucket =
  sign-bit string; candidate generation joins on bucket equality, so the
  shuffle is O(n) instead of O(n·q). The scale path for ANN; exactness is
  recovered by re-ranking candidates with :func:`cosine_topk` semantics.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def _nonzero(df: DataFrame, vec_col: str) -> DataFrame:
    """Rows whose embedding norm is nonzero. Cosine is UNDEFINED for the
    zero vector, and under Spark's default ANSI mode the division throws
    mid-job — so every cosine consumer in this module excludes zero-norm
    rows at entry (one cheap per-row fold; the convention sq_encode's
    norm_q > 0 filter and the matmul candidate arm's nan-clamp already
    follow). Real corpora DO contain zero embeddings (failed encoder
    batches padded with zeros)."""
    return df.filter(_norm(F.col(vec_col)) > 0)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for every query vector.

    ``queries`` is broadcast (must be driver-small); returns
    (query_id, neighbor_id, cos) with neighbor_id != query_id, k rows per
    query, deterministic tie-break on neighbor_id. Norms are materialized
    once per ROW (not per pair — the HOF fold is the expensive part) and
    zero-norm vectors are excluded on both sides (cosine undefined; under
    ANSI mode the division would throw).
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        _norm(F.col(vec_col)).alias("__cn"),
    ).filter(F.col("__cn") > 0)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        _norm(F.col(vec_col)).alias("__qn"),
    ).filter(F.col("__qn") > 0)
    joined = c.crossJoin(F.broadcast(q)).filter(F.col("neighbor_id") != F.col("query_id"))
    cos = _dot(F.col("cvec"), F.col("qvec")) / (F.col("__cn") * F.col("__qn"))
    scored = joined.select("query_id", "neighbor_id", F.round(cos, 6).alias("cos"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos", "rnk")
    )


def _nearest_cell(vec_col: str, centroids: list[tuple[int, list[float]]]):
    """Struct (cos, cid) of the nearest centroid for a vector column.

    Linear-size expression: one struct per centroid, array_max picks the
    best (struct ordering: cos first, centroid id as tiebreak). An
    iterative when-chain would nest the accumulated expression and double
    the tree per centroid — 2^k blowup that OOMs the analyzer at k=16."""
    cells = []
    for cid, vec in centroids:
        lit = F.array(*[F.lit(float(v)) for v in vec])
        cos = _dot(F.col(vec_col), lit) / (_norm(F.col(vec_col)) * _norm(lit))
        cells.append(F.struct(cos.alias("cos"), F.lit(cid).alias("cid")))
    return F.array_max(F.array(*cells))


#: above this cell count the literal-expression assignment switches to the
#: broadcast-join path: a k-wide literal projection is O(k·dim) PLAN SIZE
#: (analysis cost per query compilation), fine at coarse k≈16–64 but the
#: wrong shape at production cell counts (e.g. 65k cells for a 10^12-vector
#: IVF), where centroids must be data, not expression trees.
_LITERAL_CELL_LIMIT = 64


class _NonLiteral(Exception):
    """A driver value (non-finite float) a SQL literal cannot express."""


def _dlit(v: float) -> str:
    """Exact SQL double literal: ``repr`` is the shortest decimal that
    round-trips to the identical IEEE double under any correctly-rounded
    parser (Java's included), so the VALUES relation carries bit-equal
    floats to the createDataFrame path it replaces."""
    import math

    f = float(v)
    if not math.isfinite(f):
        raise _NonLiteral
    return f"CAST('{f!r}' AS DOUBLE)"


def _values_rel(spark, rows_sql: list[str], cols: str) -> DataFrame:
    return spark.sql(
        f"SELECT * FROM VALUES {', '.join(rows_sql)} AS t({cols})"
    )


def centroids_to_df(spark, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """Driver-side centroid list as a (cid, cvec) DataFrame for the
    broadcast-join assignment path — a JVM-local VALUES relation, so
    broadcasting it never runs a Python-RDD scan job (createDataFrame
    frames are RDD-backed); falls back for non-finite components."""
    try:
        rows = [
            f"({int(cid)}, array({', '.join(_dlit(v) for v in vec)}))"
            for cid, vec in centroids
        ]
        return _values_rel(spark, rows, "cid, cvec")
    except _NonLiteral:
        return spark.createDataFrame(
            [(int(cid), [float(v) for v in vec]) for cid, vec in centroids],
            "cid int, cvec array<double>",
        )


def _ivf_assign_join(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
    keep_vec: bool = False,
) -> DataFrame:
    """Broadcast-join nearest-centroid assignment (scale path).

    Corpus ⋈ broadcast(centroids) → per-pair cosine → lexicographic
    ``max(struct(cos, cid))`` per vector. The struct-max tie-break (best
    cos, then largest cid) is identical to the literal path's
    ``array_max(array(struct(cos, cid)))``, and the cosine fold order is
    the same ``_dot``/``_norm`` left fold, so the two paths are
    bit-identical. Map-side partial aggregation collapses the k candidate
    rows per vector before the shuffle, so the exchange carries one row
    per vector regardless of k.
    """
    cent = centroids_to_df(df.sparkSession, centroids)
    pairs = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("__v")
    ).crossJoin(F.broadcast(cent))
    cos = _dot(F.col("__v"), F.col("cvec")) / (
        _norm(F.col("__v")) * _norm(F.col("cvec"))
    )
    aggs = [F.max("c").alias("b")]
    if keep_vec:
        aggs.append(F.any_value("__v").alias("v"))  # constant within the group
    best = (
        pairs.select(
            "id",
            F.struct(cos.alias("cos"), F.col("cid").alias("cid")).alias("c"),
            "__v",
        )
        .groupBy("id")
        .agg(*aggs)
    )
    out = best.select(
        "id",
        F.col("b.cid").alias("centroid_id"),
        F.round(F.col("b.cos"), 6).alias("cos"),
        *(["v"] if keep_vec else []),
    )
    return out


def ivf_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest centroid.

    Returns (id, centroid_id, cos). Two bit-identical physical strategies:

    * ``literal`` — centroids broadcast as literal expression trees; one
      corpus scan, zero shuffle. Best for coarse k (≤ _LITERAL_CELL_LIMIT).
    * ``join`` — centroids as a broadcast DataFrame, struct-max argmax via
      partial aggregation; plan size independent of k. The production
      shape for large cell counts.

    ``auto`` picks by cell count. Zero-norm vectors are unassignable
    (cosine undefined) and are excluded.
    """
    df = _nonzero(df, vec_col)
    if method == "auto":
        method = "literal" if len(centroids) <= _LITERAL_CELL_LIMIT else "join"
    if method == "join":
        return _ivf_assign_join(df, centroids, id_col, vec_col)
    best = _nearest_cell(vec_col, centroids)
    return df.select(
        F.col(id_col).alias("id"),
        best["cid"].alias("centroid_id"),
        F.round(best["cos"], 6).alias("cos"),
    )


def ivf_refine(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
) -> list[tuple[int, list[float]]]:
    """Deterministic Lloyd refinement of the IVF coarse centroids.

    Each iteration is one corpus scan: nearest-cell assignment inline (no
    join back), then per-cell per-dimension means as ``dim`` map-side-
    combinable avg aggregates — the shuffle carries k×dim partial sums, the
    driver holds k×dim floats. Empty cells keep their previous centroid
    (standard Lloyd degeneracy handling). Assignment ties and iteration
    order are deterministic; the per-dim mean is floating-point (partial
    order), which only perturbs internal probe geometry — search results
    re-rank with exact cosine either way.
    """
    if not centroids:
        raise ValueError("need at least one centroid")
    df = _nonzero(df, vec_col)  # cosine assignment undefined at norm 0
    if method == "auto":
        method = "literal" if len(centroids) <= _LITERAL_CELL_LIMIT else "join"
    dim = len(centroids[0][1])
    for _ in range(iters):
        if method == "join":
            assigned = _ivf_assign_join(
                df, centroids, id_col, vec_col, keep_vec=True
            ).select(F.col("centroid_id").alias("cid"), "v")
        else:
            assigned = df.select(
                _nearest_cell(vec_col, centroids)["cid"].alias("cid"),
                F.col(vec_col).alias("v"),
            )
        aggs = [F.avg(F.element_at("v", i + 1)).alias(f"c{i}") for i in range(dim)]
        rows = assigned.groupBy("cid").agg(*aggs).collect()
        new = dict(centroids)
        for r in rows:
            new[r.cid] = [float(r[f"c{i}"]) for i in range(dim)]
        centroids = sorted(new.items())
    return centroids


def ivf_centroids_from_sample(
    df: DataFrame,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic coarse centroids: the k corpus vectors with the
    smallest ``md5(id)`` (a seeded uniform sample — no RNG state, no
    kmeans iterations; adequate as the IVF cell seeding, fully reproducible,
    and recomputable in any engine with md5 — the DuckDB oracle rebuilds the
    same centroid set in SQL). Returns driver-side [(centroid_id, vector)].
    """
    rows = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy(F.md5(F.encode(F.col("id").cast("string"), "utf-8")), F.col("id"))
        .limit(k)
        .collect()
    )
    return [(i, list(map(float, r.v))) for i, r in enumerate(rows)]


def _ivf_probes_join(
    q: DataFrame,
    centroids: list[tuple[int, list[float]]],
    n_probe: int,
) -> DataFrame:
    """Per-query probe cells via broadcast join + window rank — plan size
    independent of the cell count (twin of the literal probe expression;
    same (ccos desc, cid desc) tie-break as reverse(array_sort(structs)))."""
    cent = centroids_to_df(q.sparkSession, centroids)
    ccos = _dot(F.col("qvec"), F.col("cvec")) / (
        _norm(F.col("qvec")) * _norm(F.col("cvec"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("ccos").desc(), F.col("cid").desc()
    )
    return (
        q.crossJoin(F.broadcast(cent))
        .select("query_id", "qvec", F.col("cid").alias("cid"), ccos.alias("ccos"))
        .withColumn("__pr", F.row_number().over(w))
        .filter(F.col("__pr") <= n_probe)
        .select("query_id", "qvec", F.col("cid").alias("centroid_id"))
    )


def ivf_search(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
) -> DataFrame:
    """IVF probe search: queries visit only their ``n_probe`` nearest cells.

    Corpus side: one assignment pass (in production, a materialized
    partitioned table — the scan then prunes to probed cells). Query side:
    per-query probe list, joined on cell id, exact cosine re-rank, top-k.
    ``method`` threads through to :func:`ivf_assign` and the probe-list
    strategy (``literal`` expression trees vs ``join`` on a broadcast
    centroid DataFrame — bit-identical results; join is the large-k shape).
    Zero-norm vectors are excluded on both sides (cosine undefined).
    """
    corpus = _nonzero(corpus, vec_col)
    queries = _nonzero(queries, vec_col)
    if method == "auto":
        method = "literal" if len(centroids) <= _LITERAL_CELL_LIMIT else "join"
    assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    ).join(
        ivf_assign(corpus, centroids, id_col, vec_col, method=method)
        .withColumnRenamed("id", "neighbor_id")
        .select("neighbor_id", "centroid_id"),
        "neighbor_id",
    )

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    if method == "join":
        probes = _ivf_probes_join(q, centroids, n_probe)
    else:
        probe_rows = []
        for cid, vec in centroids:
            lit = F.array(*[F.lit(float(v)) for v in vec])
            cos = _dot(F.col("qvec"), lit) / (_norm(F.col("qvec")) * _norm(lit))
            # ccos first: default struct ordering sorts by it
            probe_rows.append(
                F.struct(cos.alias("ccos"), F.lit(cid).alias("centroid_id"))
            )
        probes = q.select(
            "query_id",
            "qvec",
            F.explode(
                F.slice(F.reverse(F.array_sort(F.array(*probe_rows))), 1, n_probe)
            ).alias("p"),
        ).select("query_id", "qvec", F.col("p.centroid_id").alias("centroid_id"))

    cand = assigned.join(F.broadcast(probes), "centroid_id").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    cos = _dot(F.col("cvec"), F.col("qvec")) / (_norm(F.col("cvec")) * _norm(F.col("qvec")))
    scored = cand.select("query_id", "neighbor_id", F.round(cos, 6).alias("cos"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos", "rnk")
    )


def _planes(dim: int, n_planes: int, seed: str = "ann-lsh") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (Box-Muller over SHA-1 bits)."""
    planes = []
    for p in range(n_planes):
        vec = []
        for d in range(0, dim, 2):
            h = hashlib.sha1(f"{seed}:{p}:{d}".encode()).digest()
            u1 = (int.from_bytes(h[:8], "big") + 1) / (2**64 + 2)
            u2 = int.from_bytes(h[8:16], "big") / 2**64
            r = math.sqrt(-2.0 * math.log(u1))
            vec.append(r * math.cos(2 * math.pi * u2))
            if d + 1 < dim:
                vec.append(r * math.sin(2 * math.pi * u2))
        planes.append(vec[:dim])
    return planes


def cosine_neardup_pairs_exact(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, exact all-pairs form.

    Quadratic — validation/oracle scale only; the production path is
    :func:`cosine_neardup_pairs_lsh`. Returns (a_id, b_id, cos) with
    a_id < b_id and cos ≥ threshold. Zero-norm rows excluded (cosine
    undefined).
    """
    df = _nonzero(df, vec_col)
    v = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    a, b = v.alias("a"), v.alias("b")
    pairs = a.join(b, F.col("a.id") < F.col("b.id"))
    cos = _dot(F.col("a.v"), F.col("b.v")) / (_norm(F.col("a.v")) * _norm(F.col("b.v")))
    return (
        pairs.select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            F.round(cos, 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def semantic_decontaminate(
    pool: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space benchmark decontamination: drop every pool vector
    whose cosine to ANY eval-set vector reaches ``threshold``.

    The semantic complement of :func:`ocr_search_spark.ops.dedup.decontaminate`
    (surface n-gram overlap): paraphrased or lightly-reworded test questions
    that share no 5-gram with the benchmark still land near it in embedding
    space (the Phi-style decontamination pass).

    Scale path: an eval set is tiny (10³–10⁵ rows) next to a 100 TB pool, so
    it is broadcast and the whole operator is ONE pass over the pool — a
    BroadcastNestedLoopJoin LEFT ANTI on the cosine predicate. The pool is
    never shuffled, there is no aggregation state, and cost is
    O(N_pool × K_eval) JVM-side arithmetic that scales linearly with
    executors. Cosine is rounded to 6 dp before the comparison (same
    convention as :func:`cosine_neardup_pairs_exact`) so the threshold
    decision is engine-exact.

    Returns the SURVIVING pool rows, ``id_col`` only. Zero-norm pool
    vectors SURVIVE (cosine undefined — they are near nothing; the
    guarded division yields null, which never satisfies the anti-join
    predicate, so the pool still scans exactly ONCE); zero-norm eval
    vectors are dropped from the broadcast side.
    """
    p = pool.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    e = _nonzero(eval_df, vec_col).select(F.col(vec_col).alias("ev"))
    denom = _norm(F.col("v")) * _norm(F.col("ev"))
    cos = F.when(denom > 0, _dot(F.col("v"), F.col("ev")) / denom)
    return (
        p.join(F.broadcast(e), F.round(cos, 6) >= threshold, "left_anti")
        .select(F.col("id").alias(id_col))
    )


def cosine_neardup_pairs_lsh(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_bands: int = 16,
    band_size: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "ann-lsh",
) -> DataFrame:
    """Embedding-cosine near-dup, banded-LSH scale path (OR amplification).

    ``n_bands × band_size`` hyperplane sign bits are computed in one
    projection; each band of ``band_size`` bits is a bucket key, candidates
    are pairs colliding in *any* band (exploded band rows → shuffle
    O(n_bands·n), join within buckets only), deduped, then exact cosine
    re-ranks. A pair at angle θ collides per band with p = (1 − θ/π)^band_size
    and overall with 1 − (1 − p)^n_bands. Precision is unaffected (same
    exact re-rank).

    SIZE ``band_size`` TO THE THRESHOLD: bucket count per band is
    2^band_size, so short bands at a low threshold degenerate toward the
    all-pairs join. The defaults (16×8) give ~99.99% recall at cos ≥ 0.95
    with 256 buckets/band — the production near-dup regime. A genuinely low
    threshold (e.g. 0.42 on this repo's random test embeddings) needs short
    bands (8×2, ≥98% recall) and pays quadratic-ish candidate cost — at that
    point prefer :func:`ivf_search`-style coarse clustering.
    """
    planes = _planes(dim, n_bands * band_size, seed)
    bits = []
    for plane in planes:
        plane_lit = F.array(*[F.lit(x) for x in plane])
        bits.append(
            F.when(_dot(F.col(vec_col), plane_lit) >= 0, F.lit("1")).otherwise(
                F.lit("0")
            )
        )
    band_keys = F.array(
        *[
            F.concat(F.lit(f"{b}:"), *bits[b * band_size : (b + 1) * band_size])
            for b in range(n_bands)
        ]
    )
    # wrong dim ⇒ null dot products ⇒ every band key identical ⇒ the
    # scale path silently becomes an all-pairs join; fail loud instead
    band_keys = F.when(F.size(F.col(vec_col)) == dim, band_keys).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"cosine_neardup_pairs_lsh: dim={dim} but vector has "),
                F.size(F.col(vec_col)).cast("string"),
                F.lit(" elements"),
            )
        )
    )
    keyed = _nonzero(df, vec_col).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.explode(band_keys).alias("band_key"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            F.col("a.v").alias("va"),
            F.col("b.v").alias("vb"),
        )
        .dropDuplicates(["a_id", "b_id"])
    )
    cos = _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
    return cand.select(
        "a_id", "b_id", F.round(cos, 6).alias("cos")
    ).filter(F.col("cos") >= threshold)


def cosine_near_dedup(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_bands: int = 16,
    band_size: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "ann-lsh",
) -> DataFrame:
    """End-to-end embedding-space near-duplicate removal: banded-LSH
    candidates → exact cosine verify (inside
    :func:`cosine_neardup_pairs_lsh`) → pairwise min-id keeper → surviving
    rows of ``df`` — the embedding twin of ``ops.dedup.near_dedup``.

    Same scale shape: exploded-band shuffle for candidates, keyed joins
    only, broadcastable loser anti-join; no all-pairs product.
    """
    pairs = cosine_neardup_pairs_lsh(
        df, dim, threshold, n_bands, band_size, id_col, vec_col, seed
    )
    losers = pairs.select(F.col("b_id").alias("__loser")).distinct()
    return df.join(losers, F.col(id_col) == F.col("__loser"), "left_anti")


def cosine_near_dedup_cc(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_bands: int = 16,
    band_size: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "ann-lsh",
    max_iters: int = 20,
) -> DataFrame:
    """Embedding near-dedup with a CONNECTED-COMPONENTS keeper — the
    embedding twin of ``ops.dedup.near_dedup_cc``: the same banded-LSH +
    exact-cosine verified pairs, then min-label propagation so every
    connected cluster keeps exactly its min-id canonical vector. Chains
    matter more in embedding space (semantic drift a≈b≈c with cos(a,c)
    below threshold), so cluster semantics are the safer default when
    downstream needs one-per-cluster."""
    from .dedup import connected_components_labels

    pairs = cosine_neardup_pairs_lsh(
        df, dim, threshold, n_bands, band_size, id_col, vec_col, seed
    ).select("a_id", "b_id").persist()
    labels = connected_components_labels(pairs, max_iters=max_iters)
    pairs.unpersist()
    losers = labels.filter(F.col("label") < F.col("id")).select(
        F.col("id").alias("__loser")
    )
    return df.join(losers, F.col(id_col) == F.col("__loser"), "left_anti")


def hyperplane_lsh_buckets(
    df: DataFrame,
    dim: int,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "ann-lsh",
) -> DataFrame:
    """Sign-sketch bucket per vector: ``bucket`` = n_planes sign bits.

    Vectors in the same bucket are ANN candidates; expected bucket
    population n/2^n_planes keeps the within-bucket join tractable.

    A wrong ``dim`` fails LOUD (raise_error per row), never silent: a
    mismatched zip_with pads with nulls, every sign bit would fall to
    '0', and all vectors would collapse into one bucket — turning the
    scale path into an O(n²) all-pairs join with meaningless candidates.
    """
    planes = _planes(dim, n_planes, seed)
    bits = []
    for p, plane in enumerate(planes):
        plane_lit = F.array(*[F.lit(v) for v in plane])
        bits.append(F.when(_dot(F.col(vec_col), plane_lit) >= 0, F.lit("1")).otherwise(F.lit("0")))
    bucket = F.when(
        F.size(F.col(vec_col)) == dim, F.concat(*bits)
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"hyperplane_lsh_buckets: dim={dim} but vector has "),
                F.size(F.col(vec_col)).cast("string"),
                F.lit(" elements"),
            )
        )
    )
    return df.select(F.col(id_col).alias("id"), bucket.alias("bucket"))


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the billion-vector compression half of IVF-PQ
# ---------------------------------------------------------------------------

def _l2sq(a, b):
    """Squared L2 between two array columns as the same sequential left
    fold as _dot/_norm — bit-identical to the DuckDB list_sum twin."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


#: lattice components must stay below 2^24 in magnitude so a squared
#: difference summed over up to ~4096 dimensions cannot overflow BIGINT:
#: (2·2^24)² · 4096 = 2^62 < 2^63. Past it Spark (non-ANSI) would WRAP
#: silently while DuckDB errors — the guard keeps both engines in the
#: same (exact) regime by raising instead.
_MAX_LATTICE = 1 << 24


def _lattice_quantize(df: DataFrame, id_col: str, vec_col: str, scale: int):
    """(id, qv) with qv = floor(x·scale), guarded onto the overflow-safe
    integer lattice (|q| < 2^24, see _MAX_LATTICE). Shared by the
    lattice trainers so the quantization contract — which every oracle
    and scalar test model re-derives — lives in exactly one place."""

    def q(x):
        v = F.floor(x.cast("double") * scale).cast("long")
        return F.when(F.abs(v) < F.lit(_MAX_LATTICE), v).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "lattice component out of range (|q| >= 2^24; "
                        "lower scale_bits or rescale inputs): "
                    ),
                    v.cast("string"),
                )
            )
        )

    return df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), q).alias("qv"),
    )


def _md5_seeds(q: DataFrame, k: int):
    """The k rows of (id, qv) with the smallest md5(id) — the shared
    deterministic seeding convention (ivf_centroids_from_sample /
    pq_codebooks_from_sample / both lattice trainers and their
    oracles)."""
    return (
        q.orderBy(
            F.md5(F.encode(F.col("id").cast("string"), "utf-8")), F.col("id")
        )
        .limit(int(k))
        .collect()
    )


def kmeans_train(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iters: int = 3,
    scale_bits: int = 20,
) -> DataFrame:
    """Distributed Lloyd's k-means on the INTEGER lattice — the proper
    coarse-quantizer trainer the IVF family seeds with
    :func:`ivf_centroids_from_sample` (which is sampling, not training).
    Returns k rows: (cluster_id, size, inertia, centroid) where
    ``centroid`` is the quantized array<long> (components =
    floor(x·2^scale_bits)) and ``inertia`` the EXACT integer sum of
    squared lattice distances under the final centroids.

    Why the lattice: a float k-means is not engine-reproducible — the
    per-cluster mean is an order-dependent float sum, so two runs (or
    two engines) diverge in the last ulp and then amplify through the
    next assignment. Quantizing inputs once (floor(x·2^20) — sub-1e-6
    resolution, far below any embedding's noise floor) makes every
    distance, argmin (ties → smaller cid), mean (exact floor division)
    and inertia pure BIGINT arithmetic: bit-identical in Spark, DuckDB,
    or a calculator. The ops.dsir half-bit discipline, applied to
    vector quantization.

    Scale shape: the canonical distributed k-means. Inputs are
    quantized once and localCheckpoint-ed; each iteration is ONE scan
    with a map-side literal argmin (k·dim expression, the
    _nearest_cell pattern — k ≤ 64 enforced, the broadcast-join
    assignment is the shape above that) followed by ONE map-side-
    combinable shuffle of (cid, dim) partial sums — k·dim rows reach
    the driver per round, never vectors. Driver state is k·dim
    integers, exactly what every k-means driver loop holds. Init is
    the k smallest-md5(id) vectors (the ivf_centroids_from_sample
    seeding — deterministic, no RNG). Empty clusters keep their
    previous centroid.

    Reference parity note: the reference's ANN index training is
    delegated to its vector-index library; this operator is the
    training-data-pipeline analogue (IVF/PQ coarse training at corpus
    scale), same family as ops/dsir.py — no direct reference twin.
    """
    if not 1 <= int(k) <= _LITERAL_CELL_LIMIT:
        raise ValueError(f"k must be in [1, {_LITERAL_CELL_LIMIT}], got {k}")
    if n_iters < 0:
        raise ValueError(f"n_iters must be >= 0, got {n_iters}")
    scale = 1 << int(scale_bits)
    q = _lattice_quantize(df, id_col, vec_col, scale).localCheckpoint()
    seeds = _md5_seeds(q, k)
    cents: dict[int, list[int]] = {
        i: [int(v) for v in r.qv] for i, r in enumerate(seeds)
    }

    def best_cell():
        # ONE parsed SQL expression, not k·dim Column objects: building
        # 8×64 F.lit().cast() columns costs ~2.5 s of py4j round trips
        # PER construction (×4 constructions ≈ 10 s/call measured at
        # sf0.1); a single F.expr string parses in milliseconds and
        # produces the identical plan
        cells = []
        for cid in sorted(cents):
            arr = ", ".join(f"{int(v)}L" for v in cents[cid])
            cells.append(
                "named_struct('d2', aggregate(zip_with(qv, array("
                + arr
                + "), (a, b) -> (a - b) * (a - b)), 0L, "
                f"(acc, v) -> acc + v), 'cid', {cid})"
            )
        return F.expr(f"array_min(array({', '.join(cells)}))")

    for _ in range(int(n_iters)):
        parts = (
            q.select(best_cell().getField("cid").alias("cid"), "qv")
            .select("cid", F.posexplode("qv").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.sum("val").alias("s"), F.count("*").alias("cnt"))
            .collect()
        )
        by_cid: dict[int, dict[int, tuple[int, int]]] = {}
        for r in parts:
            by_cid.setdefault(r.cid, {})[r.pos] = (int(r.s), int(r.cnt))
        for cid, dims in by_cid.items():
            # exact integer floor division == the oracle's floor(s/cnt)
            # double division for |s| < 2^53 (guarded by the lattice range)
            cents[cid] = [
                dims[p][0] // dims[p][1] for p in range(len(cents[cid]))
            ]
    final = q.select(best_cell().alias("b")).select(
        F.col("b.cid").alias("cluster_id"), F.col("b.d2").alias("d2")
    )
    stats = final.groupBy("cluster_id").agg(
        F.count("*").alias("size"), F.sum("d2").alias("inertia")
    )
    cent_df = _values_rel(
        df.sparkSession,
        [
            f"({cid}, "
            f"array({', '.join(f'{int(v)}L' for v in cents[cid])}))"
            for cid in sorted(cents)
        ],
        "cluster_id, centroid",
    )
    return cent_df.join(stats, "cluster_id", "left").select(
        "cluster_id",
        F.coalesce("size", F.lit(0)).alias("size"),
        F.coalesce("inertia", F.lit(0)).alias("inertia"),
        "centroid",
    )


def pq_codebooks_from_sample(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, int, list[float]]]:
    """Deterministic PQ codebooks: subquantizer ``s``'s codeword ``c`` is
    the ``s``-th subvector slice of the corpus vector with the c-th
    smallest ``md5(id)`` (the same seeded-sample trick as
    ivf_centroids_from_sample — no RNG, recomputable in any engine).
    Returns driver-side [(s, code, subvector)], m·k entries — tiny by
    construction (k ≤ 256 codewords in practice), the broadcast side of
    every PQ join."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    rows = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy(F.md5(F.encode(F.col("id").cast("string"), "utf-8")), F.col("id"))
        .limit(k)
        .collect()
    )
    out = []
    for s in range(m):
        for c, r in enumerate(rows):
            out.append((s, c, [float(x) for x in r.v[s * sub : (s + 1) * sub]]))
    return out


def pq_train(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale_bits: int = 20,
) -> DataFrame:
    """TRAIN the PQ codebooks (per-subspace Lloyd's k-means on the
    integer lattice) instead of sampling them — the upgrade over
    :func:`pq_codebooks_from_sample`, which seeds codewords from k
    corpus vectors without any refinement. Returns m·k rows:
    (s, code, size, inertia, centroid) where ``centroid`` is the
    quantized array<long> codeword (floor(x·2^scale_bits) components)
    and ``inertia`` the exact integer quantization error of subspace
    ``s`` under codeword ``code`` — summed over codes, the per-subspace
    distortion an ADC table inherits. Same lattice rationale as
    :func:`kmeans_train`: float per-cluster means are order-dependent
    sums, so float PQ training is not engine-reproducible; on the
    lattice the whole training run (and the oracle's hash of every
    codeword array) is exact BIGINT arithmetic.

    Init matches the from_sample convention: codeword ``c`` of
    subspace ``s`` is the s-th subvector slice of the vector with the
    c-th smallest md5(id). Empty codes keep their previous codeword.

    Scale shape: ALL m subspaces train in the same jobs — the corpus
    explodes once into (id, s, subvector) rows (localCheckpoint-ed);
    each iteration is one broadcast join against the m·k codebook with
    a map-side-combined min(struct(d2, code)) argmin per (id, s), then
    one map-side-combined (s, code, dim) partial-sum shuffle; m·k·dsub
    integers reach the driver per round (the codebook itself — exactly
    the driver state every PQ trainer holds). Never a per-subspace job
    fan-out, never vectors on the driver.
    """
    cents, assign, spark = _pq_train_lattice(
        df, m, k, dim, n_iters, id_col, vec_col, scale_bits
    )
    stats = (
        assign()
        .groupBy("s", F.col("b.code").alias("code"))
        .agg(F.count("*").alias("size"), F.sum("b.d2").alias("inertia"))
    )
    out_cents = _values_rel(
        spark,
        [
            f"({s}, {c}, "
            f"array({', '.join(f'{int(v)}L' for v in cents[(s, c)])}))"
            for (s, c) in sorted(cents)
        ],
        "s, code, centroid",
    )
    return out_cents.join(stats, ["s", "code"], "left").select(
        "s",
        "code",
        F.coalesce("size", F.lit(0)).alias("size"),
        F.coalesce("inertia", F.lit(0)).alias("inertia"),
        "centroid",
    )


def _pq_train_lattice(
    df: DataFrame,
    m: int,
    k: int,
    dim: int,
    n_iters: int,
    id_col: str,
    vec_col: str,
    scale_bits: int,
):
    """The Lloyd training loop behind :func:`pq_train`: returns the
    trained ``{(s, code): [lattice components]}`` dict (driver state —
    exactly the codebook every PQ trainer holds), plus the final
    ``assign()`` closure for callers that also need per-code stats.
    Split out so :func:`pq_train_codebooks` can read the codewords
    straight off the driver dict without paying the extra full
    assignment pass that only the (size, inertia) stats need (r6)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if n_iters < 0:
        raise ValueError(f"n_iters must be >= 0, got {n_iters}")
    dsub = dim // m
    scale = 1 << int(scale_bits)
    spark = df.sparkSession
    q = _lattice_quantize(df, id_col, vec_col, scale).localCheckpoint()
    # derived lazily from the checkpointed lattice table: re-slicing per
    # assignment is a narrow codegen'd projection, cheaper at every scale
    # than materializing (and storing) the m×-exploded subvector stream
    qsub = q.select(
        "id",
        F.posexplode(
            F.array(*[F.slice("qv", s * dsub + 1, dsub) for s in range(m)])
        ).alias("s", "sub"),
    )
    seeds = _md5_seeds(q, k)
    cents: dict[tuple[int, int], list[int]] = {
        (s, c): [int(v) for v in r.qv[s * dsub : (s + 1) * dsub]]
        for s in range(m)
        for c, r in enumerate(seeds)
    }

    def cent_df():
        # JVM-local VALUES relation: broadcasting the per-iteration
        # codebook never runs a Python-RDD scan (integer lattice — every
        # component is an exact BIGINT literal)
        rows = [
            f"({s}, {c}, array({', '.join(f'{int(v)}L' for v in cents[(s, c)])}))"
            for (s, c) in sorted(cents)
        ]
        return _values_rel(spark, rows, "s, code, cv")

    d2 = F.aggregate(
        F.zip_with(F.col("sub"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )

    def assign():
        # broadcast-join assignment (JVM-local VALUES codebook): measured
        # FASTER than inlining the m·k codewords as literal argmin
        # expressions (2.30 s vs 2.74 s at sf0.1 — the inline HOF folds
        # re-parse and re-evaluate per codeword), and plan size stays
        # independent of k, the production shape for big codebooks.
        return (
            qsub.join(F.broadcast(cent_df()), "s")
            .select(
                "id",
                "s",
                "sub",
                F.struct(d2.alias("d2"), F.col("code").alias("code")).alias(
                    "c"
                ),
            )
            .groupBy("id", "s")
            .agg(F.min("c").alias("b"), F.any_value("sub").alias("sub"))
        )

    for _ in range(int(n_iters)):
        parts = (
            assign()
            .select(
                "s",
                F.col("b.code").alias("code"),
                F.posexplode("sub").alias("pos", "val"),
            )
            .groupBy("s", "code", "pos")
            .agg(F.sum("val").alias("sm"), F.count("*").alias("cnt"))
            .collect()
        )
        sums: dict[tuple[int, int], dict[int, tuple[int, int]]] = {}
        for r in parts:
            sums.setdefault((r.s, r.code), {})[r.pos] = (int(r.sm), int(r.cnt))
        for key, dims in sums.items():
            cents[key] = [dims[p][0] // dims[p][1] for p in range(dsub)]
    return cents, assign, spark


def pq_train_codebooks(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale_bits: int = 20,
) -> list[tuple[int, int, list[float]]]:
    """Driver-side TRAINED codebooks in the
    :func:`pq_codebooks_from_sample` format [(s, code, subvector)] — a
    drop-in for :func:`pq_encode` / ADC / the ``ivf_pq_*`` serve path.
    Codewords come off :func:`pq_train`'s integer lattice and
    dequantize by an exact power-of-two division (v / 2^scale_bits is
    lossless in binary floating point), so the float codewords — and
    therefore every downstream ADC table — are bit-identical in any
    engine. This is the train→serve seam: train once at corpus scale,
    collect the m·k codebook, broadcast it into the serve joins."""
    scale = float(1 << scale_bits)
    # codewords come straight off the training loop's driver dict — the
    # (size, inertia) stats pass that pq_train's table output pays is a
    # full extra assignment job the serve seam never looks at (r6)
    cents, _, _ = _pq_train_lattice(
        df, m, k, dim, n_iters, id_col, vec_col, scale_bits
    )
    return [
        (int(s), int(c), [v / scale for v in cents[(s, c)]])
        for (s, c) in sorted(cents)
    ]


def _codebook_df(spark, codebooks):
    """(s, code, cvec) codebook table as a JVM-local VALUES relation
    (broadcast side of every PQ join — no Python-RDD scan)."""
    try:
        rows = [
            f"({int(s)}, {int(c)}, array({', '.join(_dlit(x) for x in v)}))"
            for s, c, v in codebooks
        ]
        return _values_rel(spark, rows, "s, code, cvec")
    except _NonLiteral:
        return spark.createDataFrame(
            [(s, c, v) for s, c, v in codebooks],
            "s int, code int, cvec array<double>",
        )


def pq_encode(
    df: DataFrame,
    codebooks: list[tuple[int, int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector to its per-subquantizer nearest codeword:
    (id, s, code). At k=256 this is an 8-bit code per subvector — for a
    64-dim float corpus a 32× compression; the full-precision vectors
    are never read again on the query path.

    Shape: m× explode of the corpus (slices), broadcast join with the
    m·k codebook, ``min(struct(dist, code))`` argmin per (id, s) — ties
    on bit-identical distances break to the smaller code on both engines.
    One shuffle (the argmin agg), plan independent of k.
    """
    spark = df.sparkSession
    m = max(s for s, _, _ in codebooks) + 1
    sub = len(codebooks[0][2])
    slices = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("s"),
                    F.slice(F.col(vec_col), s * sub + 1, sub).alias("sv"),
                )
                for s in range(m)
            ])
        ).alias("e"),
    ).select("id", F.col("e.s").alias("s"), F.col("e.sv").alias("sv"))
    cb = F.broadcast(_codebook_df(spark, codebooks))
    d = _l2sq(F.col("sv"), F.col("cvec"))
    return (
        slices.join(cb, "s")
        .select("id", "s", F.struct(d.alias("d"), F.col("code").alias("code")).alias("dc"))
        .groupBy("id", "s")
        .agg(F.min("dc").alias("best"))
        .select("id", "s", F.col("best.code").alias("code"))
    )


def _adc_lut(q: DataFrame, codebooks: list[tuple[int, int, list[float]]]) -> DataFrame:
    """Per-query ADC lookup table (query_id, s, code, d_micro): squared
    distance from each query subvector to each codeword, rounded to
    integer micro-units (×10^6) so downstream sums are order-independent.
    Shared by pq_adc_topk and ivf_pq_topk — the fixed-point discipline
    must stay identical in both or the composed path desynchronizes from
    its oracle. ``q`` must carry (query_id, qvec)."""
    sub = len(codebooks[0][2])
    cb = F.broadcast(_codebook_df(q.sparkSession, codebooks))
    return q.crossJoin(cb).select(
        "query_id",
        "s",
        "code",
        F.round(
            _l2sq(F.slice(F.col("qvec"), F.col("s") * sub + 1, sub), F.col("cvec"))
            * F.lit(1_000_000.0)
        )
        .cast("long")
        .alias("d_micro"),
    )


def pq_adc_topk(
    codes: DataFrame,
    codebooks: list[tuple[int, int, list[float]]],
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query, build
    the m·k lookup table of squared distances query-subvector →
    codeword, join it against the code table on (s, code), and sum per
    neighbor.

    Determinism at scale: per-cell distances are bit-identical folds,
    then FIXED-POINT accumulated — each cell is rounded to integer
    micro-units (×10^6) before the per-neighbor sum, so the aggregate is
    an order-independent integer sum (float summation order across m
    partial aggregates is the one nondeterminism a distributed sum
    cannot avoid; integers make it exact). Returns
    (query_id, neighbor_id, adist_micro, rnk), rnk ≤ k, ties on
    adist_micro break to the smaller neighbor id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    lut = _adc_lut(q, codebooks)
    scored = (
        codes.withColumnRenamed("id", "neighbor_id")
        .join(lut, ["s", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d_micro").alias("adist_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist_micro").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= int(k))
    )


def ivf_pq_index(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[tuple[int, int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The build-once IVF-PQ index table: PQ codes joined with the coarse
    cell assignment — ``(neighbor_id, centroid_id, s, code)``. This is
    the ``codes ⋈ assigned`` table that production materializes
    partitioned by ``centroid_id`` so probe joins prune partitions; the
    full-precision vectors are read exactly once, here, and never again
    on the query path."""
    codes = pq_encode(corpus, codebooks, id_col=id_col, vec_col=vec_col)
    assigned = (
        ivf_assign(corpus, centroids, id_col, vec_col, method="join")
        .select(F.col("id").alias("neighbor_id"), "centroid_id")
    )
    return codes.withColumnRenamed("id", "neighbor_id").join(
        assigned, "neighbor_id"
    )


def ivf_pq_search(
    index: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[tuple[int, int, list[float]]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-query IVF-PQ probe search over a pre-built ``ivf_pq_index``
    table: probe the ``n_probe`` nearest cells, join the index on
    ``centroid_id`` (partition pruning on the materialized table), score
    candidates via the broadcast ADC lookup join, integer-sum, top-k.
    The amortized per-query cost — what a serving deployment pays after
    the one-time index build."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    probes = _ivf_probes_join(q, centroids, n_probe).select(
        "query_id", "centroid_id"
    )
    lut = _adc_lut(q, codebooks)
    scored = (
        probes.join(index, "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(lut, ["query_id", "s", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d_micro").alias("adist_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist_micro").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= int(k))
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[tuple[int, int, list[float]]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The full production ANN architecture: IVF coarse cells prune the
    candidate set (each query visits ``n_probe`` cells), PQ codes score
    the survivors via the ADC lookup join — full-precision vectors are
    touched only at index-build time, never per query.

    Composition of ``ivf_pq_index`` (build once) and ``ivf_pq_search``
    (per query); the fixed-point integer accumulation keeps results
    deterministic. bench.py times the two phases separately — this
    end-to-end form is the oracle surface."""
    index = ivf_pq_index(corpus, centroids, codebooks, id_col, vec_col)
    return ivf_pq_search(
        index, queries, centroids, codebooks,
        k=k, n_probe=n_probe, id_col=id_col, vec_col=vec_col,
    )


def _recall_vs_exact(
    approx: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The shared recall@k contract: |approx ∩ exact brute-force top-k|
    per query as (query_id, n_hits, recall_ppm) with floored integer
    ppm — one implementation for every ANN eval (ann_recall,
    ivf_pq_recall) so the recall semantics cannot drift between them."""
    exact = cosine_topk(corpus, queries, k=k, id_col=id_col, vec_col=vec_col)
    hits = (
        approx.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"),
              ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    qids = queries.select(F.col(id_col).alias("query_id"))
    n = F.coalesce("n_hits", F.lit(0))
    return qids.join(hits, "query_id", "left").select(
        "query_id",
        n.alias("n_hits"),
        F.floor(n * 1_000_000 / F.lit(int(k))).cast("long").alias("recall_ppm"),
    )


def ivf_pq_recall(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[tuple[int, int, list[float]]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the FULL compressed serve path (IVF cell pruning +
    PQ-ADC candidate scoring) against exact brute force — the eval that
    closes the PQ family: :func:`ann_recall` measures what probe pruning
    alone loses, this measures pruning AND quantization together — the
    number an (n_probe, m, k_codes) index configuration is actually
    accepted or rejected on before serving. Same contract as
    ``ann_recall``: one row per query, (query_id, n_hits, recall_ppm),
    floored integer ppm — engine-exact, no float division in the output.

    Cost: the exact arm is the brute-force twin over the query SAMPLE
    (how recall is audited in production — hundreds of queries measured,
    millions served); the approximate arm is the production
    :func:`ivf_pq_topk` build + serve.
    """
    approx = ivf_pq_topk(
        corpus, queries, centroids, codebooks,
        k=k, n_probe=n_probe, id_col=id_col, vec_col=vec_col,
    )
    return _recall_vs_exact(approx, corpus, queries, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# SemDeDup — cluster-then-dedup semantic deduplication
# ---------------------------------------------------------------------------


def semdedup_pairs(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
) -> DataFrame:
    """Within-cluster near-duplicate pairs, the SemDeDup candidate rule
    (Abbas et al. 2023, arXiv:2303.09540): assign every vector to its
    nearest k-means centroid, then compute exact pairwise cosine ONLY
    inside each cluster. Returns (a_id, b_id, cos, centroid_id,
    a_ccos, b_ccos) with a_id < b_id and cos >= threshold, where
    ``*_ccos`` is each member's (rounded) cosine to the shared centroid —
    the paper's keeper criterion.

    Scale shape: this is the whole point of SemDeDup versus all-pairs —
    the self-join is equi on ``centroid_id``, so the pair count is
    sum(c_i^2) over cluster sizes instead of n^2. With k grown
    proportionally to n (k ≈ n/20k in the paper, 50k clusters for 1B
    docs) the expected cluster size — and so the per-cluster quadratic
    cost — stays CONSTANT as the corpus grows; the cluster equi-join
    shuffles each vector once. No broadcast of the corpus, no cartesian
    node (plan-asserted in tests). Vectors are L2-NORMALIZED once per
    row before the self-join, so the per-pair verify is a bare dot fold
    — 3× less per-pair arithmetic than dot/(|a|·|b|), and the pair side
    of the shuffle carries unit vectors it would carry anyway.
    """
    v = _semdedup_member_table(df, centroids, id_col, vec_col, method)
    a, b = v.alias("a"), v.alias("b")
    pairs = a.join(
        b,
        (F.col("a.centroid_id") == F.col("b.centroid_id"))
        & (F.col("a.id") < F.col("b.id")),
    )
    cos = _dot(F.col("a.vn"), F.col("b.vn"))
    return pairs.select(
        F.col("a.id").alias("a_id"),
        F.col("b.id").alias("b_id"),
        F.round(cos, 6).alias("cos"),
        F.col("a.centroid_id").alias("centroid_id"),
        F.col("a.ccos").alias("a_ccos"),
        F.col("b.ccos").alias("b_ccos"),
    ).filter(F.col("cos") >= threshold)


def _semdedup_member_table(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
    method: str,
) -> DataFrame:
    """Checkpointed (id, vn, centroid_id, ccos) member table behind the
    SemDeDup family: nearest-cell assignment + L2 normalization,
    materialized ONCE before the within-cell self-join — both join sides
    would otherwise re-run (and re-codegen) the assignment+normalization
    subtree; with literal centroid expressions that is the dominant
    compile cost of the whole operator."""
    asg = ivf_assign(df, centroids, id_col, vec_col, method=method).select(
        F.col("id"),
        "centroid_id",
        F.col("cos").alias("ccos"),  # already rounded to 6 by ivf_assign
    )
    return (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("__n", _norm(F.col("v")))
        # zero-norm rows are already absent from asg (ivf_assign drops
        # them), but the normalization division below runs in a
        # projection BEFORE the join would prune — filter first or ANSI
        # sessions throw on the division
        .filter(F.col("__n") > 0)
        .select(
            "id",
            F.transform("v", lambda e: e.cast("double") / F.col("__n")).alias(
                "vn"
            ),
        )
        .join(asg, "id")
        .localCheckpoint()
    )


def semdedup(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iters: int = 20,
    method: str = "auto",
) -> DataFrame:
    """SemDeDup semantic deduplication: k-means clusters → within-cluster
    cosine pairs → connected components → keep, per duplicate group, the
    member with the LOWEST cosine to its cluster centroid (the paper's
    "keep the outlier" rule — the example farthest from the centroid
    carries the most marginal information), ties broken by min id.
    Returns the surviving rows of ``df``.

    Differs from :func:`cosine_near_dedup_cc` in both candidate rule
    (k-means cells instead of hyperplane LSH bands — candidates cannot
    cross cluster boundaries, which is the recall/cost trade SemDeDup
    makes) and keeper rule (centroid-distance argmin instead of min id).

    Components are computed over within-cluster pairs; a component is
    therefore always inside one cluster, so the keeper rule's
    cosine-to-centroid comparison is against a single shared centroid.
    Deterministic: centroid seeding is md5-ordered (ivf_centroids_from
    _sample), assignment tie-breaks lexicographically, ccos is rounded to
    6 decimals before the argmin so the DuckDB oracle reproduces the
    selection bit-exactly.
    """
    from .dedup import connected_components_labels

    # inline pairs over the shared member table: the checkpointed
    # (id, ccos) side serves BOTH the self-join and the keeper rule, so
    # the old pairs-union → groupBy(any_value) re-derivation of member
    # ccos (one extra aggregation job) disappears (r6)
    v = _semdedup_member_table(df, centroids, id_col, vec_col, method)
    a, b = v.alias("a"), v.alias("b")
    cos = _dot(F.col("a.vn"), F.col("b.vn"))
    pairs = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            F.round(cos, 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )
    labels = connected_components_labels(
        pairs.select("a_id", "b_id"), max_iters=max_iters
    )
    # ccos per member straight off the checkpointed member table (inner
    # join restricts to labeled members; ccos is functionally determined
    # by the id)
    keepers = (
        labels.join(v.select("id", "ccos"), "id")
        .groupBy("label")
        .agg(F.min(F.struct(F.col("ccos"), F.col("id"))).alias("k"))
        .select(F.col("k.id").alias("__keeper"))
    )
    members = labels.select("id")
    losers = members.join(
        keepers, members["id"] == keepers["__keeper"], "left_anti"
    ).select(F.col("id").alias("__loser"))
    return df.join(losers, F.col(id_col) == F.col("__loser"), "left_anti")


def ann_recall(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
) -> DataFrame:
    """Recall@k of IVF probe search measured against exact brute force —
    the standing quality diagnostic every ANN deployment needs before
    trusting an index configuration (n_probe / cell-count trade). Returns
    one row per query: (query_id, n_hits, recall_ppm) where ``n_hits`` is
    |IVF top-k ∩ exact top-k| and ``recall_ppm`` the integer
    parts-per-million recall (floored — engine-exact, no float division
    in the output).

    Cost: the exact arm is the brute-force validation twin (broadcast
    queries × corpus — fine for a query SAMPLE, which is how recall is
    audited in production: measure on hundreds of queries, serve millions
    with the index). The approximate arm is the production ivf_search.
    """
    approx = ivf_search(
        corpus, queries, centroids, k=k, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col, method=method,
    )
    return _recall_vs_exact(approx, corpus, queries, k, id_col, vec_col)


def _margin_candidates_matmul(
    src: DataFrame,
    tgt_rows,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Brute-force (src_id, tgt_id, cos_e6) candidate block via one BLAS
    matmul per Arrow batch: the tgt side (already collected, must be
    broadcast-small) ships to every executor as a float64 matrix and each
    src batch scores against ALL of it in a single ``smat @ tmat.T``.
    ~10x the crossJoin+HOF arm at 10^6 pairs (Catalyst higher-order
    functions are evaluated interpreted, outside whole-stage codegen, and
    zip_with allocates a dim-length array per pair).

    Lattice parity: float32→float64 widening is exact and the e6 rounding
    (round to 6 decimals, then to the integer grid) absorbs the
    summation-order difference between the sequential aggregate() fold
    and blocked dgemm — asserted bitwise-equal against the HOF arm over
    every pair at sf0.001 (test_ops) and verified at sf0.1 (1M pairs,
    0 diffs). np.round is half-to-EVEN while Spark's round() is
    BigDecimal(shortest-repr) HALF_UP, so the rare cosines within 1e-3 of
    a half-boundary on the e6 grid are redone with the exact Decimal
    path (same arithmetic as Java's Math/BigDecimal chain). Non-finite
    cosines (zero-norm vectors) are clamped the way a Java double→long
    cast behaves (inf→Long.MAX, nan→0).
    """
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    spark = src.sparkSession
    src_id_type = src.schema[id_col].dataType
    tgt_id_type = src_id_type
    out_schema = StructType(
        [
            StructField("src_id", src_id_type),
            StructField("tgt_id", tgt_id_type),
            StructField("cos_e6", LongType()),
        ]
    )
    tids = [r[0] for r in tgt_rows]
    tmat = np.array([r[1] for r in tgt_rows], dtype=np.float64)
    tnorm = np.sqrt((tmat * tmat).sum(axis=1))
    bc = spark.sparkContext.broadcast((tids, tmat, tnorm))

    def block(batches):
        import numpy as np
        import pandas as pd

        tids, tmat, tnorm = bc.value
        tid_arr = np.asarray(tids)
        n_t = len(tids)
        for pdf in batches:
            if pdf.empty:
                continue
            smat = np.array(pdf["__vec"].tolist(), dtype=np.float64)
            snorm = np.sqrt((smat * smat).sum(axis=1))
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (smat @ tmat.T) / np.outer(snorm, tnorm)
                scaled = np.round(cos, 6) * 1e6
            ce6 = np.where(
                np.isnan(scaled),
                0,
                np.clip(scaled, -(2**63) + 1024, 2**63 - 1025),
            )
            ce6 = np.rint(ce6).astype(np.int64)
            # half-boundary correction: redo the (rare) cosines whose
            # e6-scaled value sits within 1e-3 of a .5 tie, where numpy's
            # half-even disagrees with Spark/Java HALF_UP-on-shortest-repr
            with np.errstate(invalid="ignore"):
                frac = np.abs(np.mod(cos * 1e6, 1.0) - 0.5)
            sus = np.isfinite(cos) & (frac < 1e-3)
            if sus.any():
                from decimal import ROUND_HALF_UP, Decimal

                flat = ce6.ravel()
                for idx in np.flatnonzero(sus.ravel()):
                    c = float(cos.ravel()[idx])
                    q = float(
                        Decimal(repr(c)).quantize(
                            Decimal("0.000001"), rounding=ROUND_HALF_UP
                        )
                    )
                    flat[idx] = int(
                        Decimal(repr(q * 1e6)).quantize(
                            Decimal("1"), rounding=ROUND_HALF_UP
                        )
                    )
                ce6 = flat.reshape(ce6.shape)
            n_s = len(smat)
            yield pd.DataFrame(
                {
                    "src_id": np.repeat(pdf["__id"].to_numpy(), n_t),
                    "tgt_id": np.tile(tid_arr, n_s),
                    "cos_e6": ce6.ravel(),
                }
            )

    s = src.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec"))
    return s.mapInPandas(block, out_schema)


def margin_candidates(
    src: DataFrame,
    tgt: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_rows_max: int = 200_000,
) -> DataFrame:
    """Brute-force candidate arm: every (src_id, tgt_id) pair scored on
    the e6 cosine lattice. Picks the BLAS-block kernel when the tgt side
    fits a broadcast (one limit(n+1) collect decides), else the
    crossJoin + higher-order-function arm — both produce the identical
    lattice. At billion-vector scale neither runs: candidates come from
    ivf_search (shared-coarse-cell pruning) and feed
    :func:`margin_from_candidates` unchanged. Zero-norm vectors are
    excluded on both sides (cosine undefined) — uniformly across arms,
    so the arms stay bit-identical on any input.
    """
    src = _nonzero(src, vec_col)
    tgt = _nonzero(tgt, vec_col)
    tgt_rows = (
        tgt.select(F.col(id_col), F.col(vec_col))
        .limit(broadcast_rows_max + 1)
        .collect()
    )
    if len(tgt_rows) <= broadcast_rows_max:
        return _margin_candidates_matmul(src, tgt_rows, id_col, vec_col)
    # fallback: JVM-side cross join; norms once per VECTOR (|src| + |tgt|
    # sqrts), not per pair — the HOF norm fold is the expensive part
    s = src.select(
        F.col(id_col).alias("src_id"),
        F.col(vec_col).alias("svec"),
        _norm(F.col(vec_col)).alias("__sn"),
    )
    t = tgt.select(
        F.col(id_col).alias("tgt_id"),
        F.col(vec_col).alias("tvec"),
        _norm(F.col(vec_col)).alias("__tn"),
    )
    cos = _dot(F.col("svec"), F.col("tvec")) / (F.col("__sn") * F.col("__tn"))
    return s.crossJoin(t).select(
        "src_id",
        "tgt_id",
        F.round(F.round(cos, 6) * 1_000_000.0).cast("long").alias("cos_e6"),
    )


def margin_from_candidates(
    cand: DataFrame,
    k: int = 4,
    threshold_e6: int = 1_050_000,
) -> DataFrame:
    """The margin formula over a materialized (src_id, tgt_id, cos_e6)
    candidate table — the arm-independent half of :func:`margin_mine`
    (brute-force OR ivf_search candidates, unchanged). ``cand`` should
    already be materialized (localCheckpoint/table): three consumers
    (both kNN windows and the scored join) would otherwise each recompute
    the candidate generation.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    cross = cand
    ws = Window.partitionBy("src_id").orderBy(
        F.col("cos_e6").desc(), F.col("tgt_id")
    )
    wt = Window.partitionBy("tgt_id").orderBy(
        F.col("cos_e6").desc(), F.col("src_id")
    )
    src_nn = (
        cross.withColumn("__rn", F.row_number().over(ws))
        .filter(F.col("__rn") <= k)
        .groupBy("src_id")
        .agg(F.sum("cos_e6").alias("sum_x"), F.count("*").alias("kx"))
    )
    tgt_nn = (
        cross.withColumn("__rn", F.row_number().over(wt))
        .filter(F.col("__rn") <= k)
        .groupBy("tgt_id")
        .agg(F.sum("cos_e6").alias("sum_y"), F.count("*").alias("ky"))
    )
    scored = (
        cross.join(src_nn, "src_id")
        .join(tgt_nn, "tgt_id")
        .filter(F.col("sum_x") * F.col("ky") + F.col("sum_y") * F.col("kx") > 0)
        .select(
            "src_id",
            "tgt_id",
            "cos_e6",
            F.expr(
                "(2 * cos_e6 * kx * ky * 1000000) DIV (sum_x * ky + sum_y * kx)"
            ).alias("margin_e6"),
        )
    )
    wbest = Window.partitionBy("src_id").orderBy(
        F.col("margin_e6").desc(), F.col("tgt_id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(wbest))
        .filter((F.col("__rn") == 1) & (F.col("margin_e6") >= threshold_e6))
        .select("src_id", "tgt_id", "cos_e6", "margin_e6")
    )


def margin_mine(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    threshold_e6: int = 1_050_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Ratio-margin pair mining (Artetxe & Schwenk 2019, the CCMatrix /
    LASER bitext-mining criterion): score every (src, tgt) embedding
    pair by its cosine DIVIDED by the mean cosine of each side's k
    nearest neighbors in the other side, and keep, per src vector, the
    single best tgt whose margin clears the threshold. Raw cosine
    over-mines hub vectors (generic sentences near everything); the
    margin denominator is exactly the hubness correction the published
    mining pipelines use to build parallel corpora from web crawls.

    Output: (src_id, tgt_id, cos_e6, margin_e6), one row per mined src,
    cosine and margin as exact e6-scaled integers. margin =
    cos / ((avg_src_knn + avg_tgt_knn) / 2) is computed without float
    division as ``(2 * cos_e6 * kx * ky * 1e6) DIV (sum_x * ky +
    sum_y * kx)`` — BIGINT-exact (|num| < 2^50 for k <= 64), ties on
    tgt_id, pairs with non-positive denominators unmineable (a vector
    whose whole neighborhood is anti-correlated has no meaningful
    hubness baseline). Mutual argmax ("intersection" in the paper) is
    :func:`margin_mine_mutual`.

    Scale shape (100 TB): composition of :func:`margin_candidates` (the
    brute-force arm — BLAS block kernel when one side broadcasts, else
    crossJoin) and :func:`margin_from_candidates` (two
    map-side-combinable top-k windows, two vocab^1-sized sum joins, one
    per-src argmax). At billion-vector scale the published pipelines
    restrict candidates to shared IVF cells (faiss), which is this
    engine's ivf_search — margin_from_candidates consumes
    (src_id, tgt_id, cos_e6) tuples from EITHER arm unchanged. Reference
    repo has no analogue (search service, app/search.py); this belongs
    to the training-data mining family.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    cand = margin_candidates(src, tgt, id_col, vec_col).localCheckpoint()
    return margin_from_candidates(cand, k, threshold_e6)


def margin_mine_mutual(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    threshold_e6: int = 1_050_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The paper's "intersection" mining strategy: keep a pair only when
    each side is the other's best margin match — forward argmax ∩
    backward argmax, both above threshold. Mutual agreement is the
    highest-precision mode in Artetxe & Schwenk's comparison and the one
    CCMatrix ships; the forward-only :func:`margin_mine` is its recall
    ceiling. Same output contract (src_id, tgt_id, cos_e6, margin_e6),
    margins from the forward direction (the backward margin differs only
    through its kNN denominator; the cosine is symmetric).

    Cost: ONE candidate materialization (the cosine lattice is symmetric,
    so the backward pass reads the forward table transposed — the old
    two-pass form recomputed the whole cross product) plus two
    margin_from_candidates window/join chains and one pair-keyed join.
    The backward margin still conditions its kNN sums on the other side,
    matching the published two-direction formulation.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    cand = margin_candidates(src, tgt, id_col, vec_col).localCheckpoint()
    fwd = margin_from_candidates(cand, k, threshold_e6)
    bwd = margin_from_candidates(
        cand.select(
            F.col("tgt_id").alias("src_id"),
            F.col("src_id").alias("tgt_id"),
            "cos_e6",
        ),
        k,
        threshold_e6,
    ).select(F.col("tgt_id").alias("src_id"), F.col("src_id").alias("tgt_id"))
    return fwd.join(bwd, ["src_id", "tgt_id"])


def sq_encode(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar int8 quantization (the faiss SQ8 shape): each vector is
    encoded as ``codes[i] = round(v[i] / scale * 127)`` with
    ``scale = max(|v|)`` per vector — 4-8x smaller than float32 and the
    standard first compression step of an embedding serving stack
    (before PQ, after nothing). Returns (id, codes array<int>,
    norm_q bigint, scale_e6 bigint): ``norm_q`` = Σ codes² is
    precomputed because quantized cosine is SCALE-INVARIANT
    (dot(qa,qb)/√(na·nb) — the per-vector scales cancel), so serving
    never needs the float scale at all; ``scale_e6`` ships only for
    dequantization (v̂ = q·scale/127). All-zero vectors encode to
    all-zero codes (norm_q = 0; excluded from cosine serving).

    Engine parity: max/divide/multiply/round are IEEE-deterministic
    doubles, codes and norms are exact integers — the DuckDB twin
    reproduces the encoding bit-for-bit. The scale binds to a
    materialized column before the per-element transform (the repo's
    HOF plan-shape invariant: interpreted lambdas re-evaluate outer
    expression trees per element).
    """
    scaled = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))).alias(
            "__scale"
        ),
    )
    codes = F.when(
        F.col("__scale") == 0.0,
        F.transform(F.col("v"), lambda x: F.lit(0)),
    ).otherwise(
        F.transform(
            F.col("v"),
            lambda x: F.round(x.cast("double") / F.col("__scale") * 127).cast("int"),
        )
    )
    enc = scaled.select("id", codes.alias("codes"), F.col("__scale").alias("__scale"))
    return enc.select(
        "id",
        "codes",
        F.aggregate(
            "codes", F.lit(0).cast("long"), lambda acc, c: acc + c.cast("long") * c.cast("long")
        ).alias("norm_q"),
        F.round(F.col("__scale") * 1_000_000.0).cast("long").alias("scale_e6"),
    )


def sq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k over int8-quantized vectors: integer dot of the
    code arrays, cosine reconstructed as round(dot/√(na·nb), 6) — the
    compressed serving arm whose quality :func:`sq_recall` certifies
    against exact float cosine. Returns (query_id, neighbor_id, cos_q,
    rnk ≤ k), zero-norm vectors excluded on both sides (cosine
    undefined), ties on neighbor_id.

    Scale shape: identical to :func:`cosine_topk` (broadcast query codes
    × corpus scan, per-query TakeOrdered) but the corpus side reads
    ~4x fewer bytes and the per-pair arithmetic is integer
    multiply-accumulate — at 100 TB the codes table IS the serving
    table; floats stay in cold storage for re-rank only.
    """
    c = sq_encode(corpus, id_col, vec_col).filter(F.col("norm_q") > 0).select(
        F.col("id").alias("neighbor_id"),
        F.col("codes").alias("cc"),
        F.col("norm_q").alias("cn"),
    )
    q = sq_encode(queries, id_col, vec_col).filter(F.col("norm_q") > 0).select(
        F.col("id").alias("query_id"),
        F.col("codes").alias("qc"),
        F.col("norm_q").alias("qn"),
    )
    joined = c.crossJoin(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    dot = F.aggregate(
        F.zip_with("cc", "qc", lambda a, b: a.cast("long") * b.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    cos_q = F.round(
        dot.cast("double")
        / (F.sqrt(F.col("cn").cast("double")) * F.sqrt(F.col("qn").cast("double"))),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_q").desc(), F.col("neighbor_id")
    )
    return (
        joined.select("query_id", "neighbor_id", cos_q.alias("cos_q"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def sq_recall(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the int8 serving arm against exact float cosine —
    what 8-bit compression costs on THIS corpus (same contract as
    ann_recall / ivf_pq_recall: one row per query, (query_id, n_hits,
    recall_ppm), floored integer ppm)."""
    approx = sq_topk(corpus, queries, k, id_col, vec_col)
    return _recall_vs_exact(approx, corpus, queries, k, id_col, vec_col)


def mmr_select(
    cands: DataFrame,
    k: int = 10,
    lambda_bp: int = 7000,
    id_col: str = "vec_id",
    rel_col: str = "rel_e6",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998): greedily select ``k`` results from a candidate pool,
    each step picking the candidate maximizing::

        lambda_bp * relevance  -  (10000 - lambda_bp) * max_sim_to_selected

    — relevance traded against redundancy, the standard diversified-head
    reranker that follows a retrieval arm (``cosine_topk`` / ``rrf_fuse``).

    ``cands`` carries ``(id_col, rel_col, vec_col)`` where ``rel_col`` is
    an e6-lattice BIGINT relevance (e.g. ``round(cos * 1e6)``). Pairwise
    similarities are computed ONCE on the same e6 lattice
    (``round(round(cos, 6) * 1e6)``), and every per-step score is exact
    BIGINT arithmetic with a ``(score DESC, id)`` tie-break, so the
    selected set and order are engine-reproducible. Zero-norm vectors are
    excluded at entry (cosine undefined — the module convention).

    Returns ``(id_col, rel_col, pick_order)`` with ``pick_order`` 1-based;
    fewer than ``k`` rows when the pool is smaller than ``k``.

    Scale: MMR is a HEAD operator — the pool arrives pre-truncated to the
    arm's top-N (TakeOrderedAndProject upstream), so the pairwise-sim
    crossJoin is N² over a few dozen rows, computed in ONE distributed
    job on the e6 lattice. The greedy k-step selection then runs on the
    collected (id, rel, sim) integers in the driver — ≤N² BIGINTs, the
    same head-sized state every reranker holds, replacing the former
    k-job unrolled loop (one join+checkpoint barrier per pick) with
    exact integer comparisons that cost no cluster round-trips. All
    heavy lifting (scoring the corpus, truncating to the pool) stays in
    the distributed arms upstream.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k!r}")
    if not 0 <= int(lambda_bp) <= 10000:
        raise ValueError(
            f"lambda_bp must be in [0, 10000] basis points, got {lambda_bp!r}"
        )
    lam = int(lambda_bp)
    spark = cands.sparkSession
    pool = (
        _nonzero(cands, vec_col)
        .select(
            F.col(id_col),
            F.col(rel_col).cast("long").alias(rel_col),
            F.col(vec_col).alias("__v"),
            _norm(F.col(vec_col)).alias("__n"),
        )
        .localCheckpoint()
    )
    b = pool.select(
        F.col(id_col).alias("__b"),
        F.col("__v").alias("__bv"),
        F.col("__n").alias("__bn"),
    )
    cos = _dot(F.col("__v"), F.col("__bv")) / (F.col("__n") * F.col("__bn"))
    # ONE job: every pairwise sim on the e6 lattice (Spark arithmetic, so
    # the lattice values are bit-identical to the former per-step plans),
    # plus each row's relevance riding along
    sim_rows = (
        pool.crossJoin(F.broadcast(b))
        .filter(F.col(id_col) != F.col("__b"))
        .select(
            F.col(id_col).alias("__a"),
            "__b",
            F.round(F.round(cos, 6) * 1_000_000)
            .cast("long")
            .alias("__sim_e6"),
        )
        .collect()
    )
    rel_rows = pool.select(id_col, rel_col).collect()
    rel = {r[0]: int(r[1]) for r in rel_rows}
    sim: dict = {}
    for r in sim_rows:
        sim[(r[0], r[1])] = int(r[2])
    picks: list = []
    if rel:
        # step 1: max relevance, ties min id — the orderBy(rel desc, id)
        first = min(rel, key=lambda i: (-rel[i], i))
        picks.append(first)
        selected = {first}
        while len(picks) < int(k) and len(selected) < len(rel):
            # lam·rel − (10000−lam)·max_sim_to_selected, exact BIGINT;
            # ties min id (the orderBy(score desc, id) contract)
            best_id, best_key = None, None
            for i in rel:
                if i in selected:
                    continue
                ms = max(sim[(i, j)] for j in selected)
                score = lam * rel[i] - (10000 - lam) * ms
                key = (-score, i)
                if best_key is None or key < best_key:
                    best_id, best_key = i, key
            picks.append(best_id)
            selected.add(best_id)
    id_type = pool.schema[id_col].dataType.simpleString()
    out_rows = [(i, rel[i], order) for order, i in enumerate(picks, start=1)]
    if not out_rows:
        return spark.createDataFrame(
            [],
            f"`{id_col}` {id_type}, `{rel_col}` bigint, pick_order int",
        )
    if id_type in ("string", "int", "bigint"):
        # literal local relation — no Python-RDD scan downstream
        def _lit(v, t):
            if t == "string":
                return "'" + str(v).replace("\\", "\\\\").replace("'", "''") + "'"
            return f"{int(v)}L" if t == "bigint" else str(int(v))

        vals = ", ".join(
            f"({_lit(i, id_type)}, {int(r)}L, {int(o)})" for i, r, o in out_rows
        )
        return spark.sql(
            f"SELECT * FROM VALUES {vals} AS t(`{id_col}`, `{rel_col}`, "
            "pick_order)"
        )
    return spark.createDataFrame(
        out_rows, f"`{id_col}` {id_type}, `{rel_col}` bigint, pick_order int"
    )

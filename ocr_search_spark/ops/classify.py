"""Linear text-classifier scoring at corpus scale (fastText-shaped).

The model-based quality filters of modern training pipelines (e.g. a
fastText/logistic classifier over hashed bag-of-ngrams) reduce, at
serving time, to: hash each token/bigram into a bucket, look the bucket's
weight up, sum, threshold. This module implements exactly that serving
path Spark-first:

* features are md5-hashed buckets — pure codegen'd expressions, engine-
  reproducible (the same trick as ``ops.sampling.hash_bucket``);
* the model is DATA: an O(n_buckets) (bucket, weight_fp) DataFrame that
  broadcast-joins onto the exploded feature stream — swapping models
  never changes the plan;
* weights are FIXED-POINT integers (``FP_ONE`` units) and the per-doc
  reduction is an integer sum — associative and order-independent, so a
  distributed aggregation is bit-identical to any serial oracle (the
  ``pq_adc_topk`` discipline). The float sigmoid is a presentation-layer
  convenience, never part of the decision columns.

:func:`nb_train` closes the loop: a multinomial Naive Bayes trainer over
the SAME hashed feature map, emitting a (bucket, weight_fp) table that
:func:`linear_scores` consumes directly — the seed-labelled quality /
language classifier step of CCNet-style pipelines, trained in one
aggregation pass. Any externally-trained (bucket, weight) table still
plugs in unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..search.analysis import tokens_expr

#: fixed-point scale: 1.0 == 1_000_000 units
FP_ONE = 1_000_000

#: FP units per HALF-BIT of log-likelihood: round(FP_ONE * ln(2) / 2).
#: nb_train measures log probabilities on the integer half-bit lattice
#: (the ops.dsir discipline — floor(2*log2(x)) is exact BIGINT math in
#: any engine); one fixed integer constant converts the lattice to the
#: natural-log fixed point linear_scores/sigmoid_score expect.
NB_HB_FP = 346_574


def token_bucket_expr(tok: Column, n_buckets: int) -> Column:
    """Feature bucket in [0, n_buckets) of a token/ngram string —
    md5-based, identical in any engine."""
    h = F.md5(F.encode(tok, "utf-8"))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % n_buckets


def hashed_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 1 << 18,
    bigrams: bool = True,
) -> DataFrame:
    """(id, bucket, cnt): hashed bag-of-features per document — unigram
    tokens plus (optionally) ``a_b`` word bigrams, the fastText feature
    map. One tokenize + explode + map-side-combinable count; the feature
    stream never leaves its scan partition until the per-(id, bucket)
    aggregation."""
    toks = tokens_expr(F.col(text_col))
    feats = toks
    if bigrams:
        grams = F.zip_with(
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.concat(a, F.lit("_"), b),
        )
        feats = F.concat(toks, grams)
    return (
        df.select(F.col(id_col).alias("id"), F.explode_outer(feats).alias("__f"))
        .filter(F.col("__f").isNotNull())
        .select("id", token_bucket_expr(F.col("__f"), n_buckets).alias("bucket"))
        .groupBy("id", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def nb_train(
    df: DataFrame,
    label_col: str,
    pos_value: str,
    text_col: str = "text",
    n_buckets: int = 1 << 18,
    bigrams: bool = True,
) -> DataFrame:
    """Train a binary multinomial Naive Bayes classifier over hashed
    bag-of-features: (bucket, weight_fp), ready for :func:`linear_scores`.

    The trainable half of the fastText-style quality/language filter:
    rows where ``label_col == pos_value`` are the positive class (e.g. a
    seed corpus of known-good text), everything else is negative. Each
    bucket's weight is the add-one-smoothed log-likelihood ratio

        ``w(b) = [log(c_pos(b)+1) - log(T_pos+B)]
               - [log(c_neg(b)+1) - log(T_neg+B)]``

    computed on the integer half-bit lattice (``floor(2*log2(x))`` via
    ``length(bin(x*x))-1`` — exact BIGINT arithmetic, engine-identical;
    the ops.dsir discipline) and scaled to fixed point by the single
    integer constant :data:`NB_HB_FP`, so training is bit-reproducible
    and the DuckDB oracle matches hash-exactly. Buckets unseen in
    training are absent from the table and serve as EXACTLY 0 through
    linear_scores' left join — the standard neutral-unseen-feature
    serving convention (the smoothed model's tiny nonzero prior for an
    unseen bucket is deliberately dropped; emitting all ``n_buckets``
    rows to keep it would bloat the broadcast for ranking-irrelevant
    mass). The class prior ``log P(pos)/P(neg)`` is likewise omitted —
    it is a per-document constant, invisible to ranking and absorbed by
    any threshold calibration; pass one via linear_scores' ``bias_fp``
    if calibrated probabilities matter.

    Scale shape: one explode + map-side-combinable groupBy(label,
    bucket) (shuffle volume ≤ 2·n_buckets rows, NOT the token stream),
    a bucket-keyed pivot of at most 2·n_buckets rows, totals as
    broadcast single-row crossJoins — never ``.collect()``. Labels must
    be non-null. Counts must stay below 2^31 (the half-bit guard raises
    rather than overflowing — shard the fit per partition group at true
    100 TB scale, as in ops.dsir)."""
    from .dsir import _hb

    counts = hashed_features(df, label_col, text_col, n_buckets, bigrams)
    per_bucket = counts.groupBy("bucket").agg(
        F.sum(
            F.when(F.col("id") == pos_value, F.col("cnt")).otherwise(F.lit(0))
        ).alias("cp"),
        F.sum(
            F.when(F.col("id") != pos_value, F.col("cnt")).otherwise(F.lit(0))
        ).alias("cn"),
    )
    totals = per_bucket.agg(
        F.coalesce(F.sum("cp"), F.lit(0)).alias("tp"),
        F.coalesce(F.sum("cn"), F.lit(0)).alias("tn"),
    )
    b = F.lit(int(n_buckets))
    return per_bucket.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.lit(NB_HB_FP)
            * (
                (_hb(F.col("cp") + 1) - _hb(F.col("tp") + b))
                - (_hb(F.col("cn") + 1) - _hb(F.col("tn") + b))
            )
        ).alias("weight_fp"),
    )


def linear_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: DataFrame,
    n_buckets: int = 1 << 18,
    bias_fp: int = 0,
    bigrams: bool = True,
) -> DataFrame:
    """(id, logit_fp): fixed-point logit of a linear classifier over
    hashed features. ``weights`` is (bucket long, weight_fp long) —
    broadcast onto the feature stream (models are MBs even at 2^20
    buckets). Buckets absent from ``weights`` contribute 0. Documents
    with no features score exactly ``bias_fp``. CONTRACT: ``weights``
    must be unique per bucket — a duplicate bucket row would silently
    multiply matching features through the join (train-side exports
    are unique by construction; dedupe defensively if unsure).

    Integer end-to-end: logit_fp = bias_fp + Σ cnt·weight_fp — the
    distributed sum is order-independent, so thresholding decisions are
    reproducible bit-for-bit anywhere."""
    feats = hashed_features(df, id_col, text_col, n_buckets, bigrams)
    scored = (
        feats.join(F.broadcast(weights), "bucket", "left")
        .groupBy("id")
        .agg(
            (
                F.coalesce(
                    F.sum(F.col("cnt") * F.coalesce(F.col("weight_fp"), F.lit(0))),
                    F.lit(0),
                )
                + F.lit(int(bias_fp))
            ).alias("logit_fp")
        )
    )
    # featureless docs drop out of the explode->agg; restore them at bias
    all_ids = df.select(F.col(id_col).alias("id"))
    return all_ids.join(scored, "id", "left").select(
        "id", F.coalesce(F.col("logit_fp"), F.lit(int(bias_fp))).alias("logit_fp")
    )


def sigmoid_score(logit_fp: Column | str) -> Column:
    """Float sigmoid of a fixed-point logit — presentation only (never a
    decision column: libm ``exp`` differs in the last ulp across
    engines)."""
    c = F.col(logit_fp) if isinstance(logit_fp, str) else logit_fp
    x = c.cast("double") / F.lit(float(FP_ONE))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-x))


def classifier_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: DataFrame,
    threshold_fp: int,
    n_buckets: int = 1 << 18,
    bias_fp: int = 0,
    bigrams: bool = True,
) -> DataFrame:
    """Keep rows whose classifier logit is ≥ ``threshold_fp`` — the
    model-based quality gate, as a semi-join against the integer-exact
    score table (all original columns preserved)."""
    keep = (
        linear_scores(
            df, id_col, text_col, weights, n_buckets, bias_fp, bigrams
        )
        .filter(F.col("logit_fp") >= int(threshold_fp))
        .select("id")
    )
    return df.join(
        keep.withColumnRenamed("id", id_col), id_col, "left_semi"
    )


def perceptron_train(
    df: DataFrame,
    label_col: str,
    pos_value: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1 << 18,
    bigrams: bool = True,
    n_iters: int = 3,
) -> DataFrame:
    """Batch perceptron over the SAME hashed feature map nb_train uses —
    the discriminative twin of the generative Naive Bayes trainer
    (Rosenblatt's rule in its batch form: each round adds Σ y·x over the
    currently-misclassified documents to the weight vector). Integer
    end-to-end: features are counts, labels y ∈ {−1, +1}
    (``label_col == pos_value`` is +1), weights accumulate exact BIGINT
    sums — no learning-rate float, no sigmoid, so training is
    bit-reproducible in any engine and the DuckDB oracle unrolls the
    same ``n_iters`` rounds hash-exactly. A constant bias feature rides
    bucket −1 (outside the hash range) so the decision boundary need
    not pass through the origin.

    Returns the AVERAGED model (Collins 2002, up to the positive scale
    factor n_iters — the round-summed weights Σ_r w_r, whose sign and
    ranking decisions equal the average's): full-batch unit-step updates
    oscillate on correlated text features (measured: the raw final-round
    w thrashes between all-positive and all-negative on the seed-label
    task; the averaged model ranks BETTER than the nb_train baseline on
    the same corpus), and summing instead of dividing keeps the model on
    the exact integer lattice. (bucket, weight) rows, zero-weight
    buckets dropped — absent buckets serve as exactly 0 through
    :func:`linear_scores`' left join, the module's standard convention.

    Scale shape: the feature stream materializes ONCE
    (localCheckpoint) and each round costs ONE job — the per-round
    update Σ y·x over the currently-misclassified documents, computed
    and localCheckpoint-ed with the doc-keyed scoring aggregation and
    the misclassified semi-join fused into the same job (broadcast
    model join + two map-side-combinable keyed aggregations). The
    current model w_r = Σ_{j≤r} delta_j and the averaged model
    acc = Σ_r w_r = Σ_j (n_iters − j + 1)·delta_j are pure integer
    sums over the checkpointed deltas, so neither needs its own
    materialization pass: w rebuilds lazily inside each round's
    broadcast (vocab-sized union + one combinable aggregation) and acc
    is assembled once at the end. State is never driver-collected;
    rounds early-stop when no document is misclassified (an empty
    delta), crediting the converged w for the remaining rounds —
    identical to the fixed-round unrolled oracle.
    """
    feats, acc = _perceptron_train_feats(
        df, label_col, pos_value, id_col, text_col, n_buckets, bigrams, n_iters
    )
    return acc


def _sum_deltas(
    spark, deltas: list[tuple[int, DataFrame]]
) -> DataFrame:
    """Σ factor·delta over vocab-sized (bucket, weight) frames — one
    map-side-combinable aggregation, no join chain."""
    if not deltas:
        return spark.createDataFrame([], "bucket long, weight long")
    scaled = [
        d.select("bucket", (F.lit(int(f)) * F.col("weight")).alias("weight"))
        for f, d in deltas
    ]
    out = scaled[0]
    for s in scaled[1:]:
        out = out.unionByName(s)
    return out.groupBy("bucket").agg(F.sum("weight").alias("weight"))


def _perceptron_train_feats(
    df: DataFrame,
    label_col: str,
    pos_value: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1 << 18,
    bigrams: bool = True,
    n_iters: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """:func:`perceptron_train`'s loop, additionally returning the
    materialized feature stream (id, bucket, cnt, y) so train-then-serve
    compositions (:func:`perceptron_select`) score without re-tokenizing
    the corpus."""
    if n_iters < 1:
        raise ValueError("n_iters must be >= 1")
    spark = df.sparkSession
    labels = df.select(
        F.col(id_col).alias("id"),
        F.when(F.col(label_col) == pos_value, F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("y"),
    )
    feats = (
        hashed_features(df, id_col, text_col, n_buckets, bigrams)
        .unionByName(
            df.select(
                F.col(id_col).alias("id"),
                F.lit(-1).cast("long").alias("bucket"),
                F.lit(1).cast("long").alias("cnt"),
            )
        )
        .join(labels, "id")
        .localCheckpoint()
    )
    deltas: list[tuple[int, DataFrame]] = []
    for r in range(1, n_iters + 1):
        w = _sum_deltas(spark, [(1, d) for _, d in deltas])
        scores = (
            feats.join(F.broadcast(w), "bucket", "left")
            .groupBy("id", "y")
            .agg(
                F.sum(F.col("cnt") * F.coalesce(F.col("weight"), F.lit(0))).alias(
                    "score"
                )
            )
        )
        mis = scores.filter(F.col("y") * F.col("score") <= 0).select("id")
        # ONE job per round: the scoring aggregation, the misclassified
        # semi-join and the bucket-keyed update all materialize together
        delta = (
            feats.join(mis, "id", "left_semi")
            .groupBy("bucket")
            .agg(F.sum(F.col("y") * F.col("cnt")).alias("weight"))
            .localCheckpoint()
        )
        if delta.isEmpty():
            # converged: w separates; every remaining round would add
            # the same w — already credited by the (n_iters − j + 1)
            # factors below
            break
        deltas.append((n_iters - r + 1, delta))
    acc = _sum_deltas(spark, deltas).filter(F.col("weight") != 0)
    return feats, acc


def perceptron_scores(
    df: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1 << 18,
    bigrams: bool = True,
) -> DataFrame:
    """(id, score): integer score of every document under a trained
    perceptron table — the same hashed feature stream + bias bucket −1
    the trainer saw, one broadcast join + one map-side-combinable sum.
    Featureless documents score exactly the bias weight."""
    feats = hashed_features(df, id_col, text_col, n_buckets, bigrams).unionByName(
        df.select(
            F.col(id_col).alias("id"),
            F.lit(-1).cast("long").alias("bucket"),
            F.lit(1).cast("long").alias("cnt"),
        )
    )
    return (
        feats.join(F.broadcast(weights), "bucket", "left")
        .groupBy("id")
        .agg(
            F.sum(F.col("cnt") * F.coalesce(F.col("weight"), F.lit(0))).alias("score")
        )
    )


def perceptron_select(
    df: DataFrame,
    label_col: str,
    pos_value: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1 << 18,
    bigrams: bool = True,
    n_iters: int = 3,
    k: int = 100,
) -> DataFrame:
    """Train :func:`perceptron_train` and return the ``k``
    highest-scoring documents under the averaged model — (id, score,
    rnk), score desc / id asc: data selection by rank, not by a sign
    threshold the averaged scale would have to be calibrated for. Serve
    held-out corpora by passing the trained table to
    :func:`perceptron_scores` directly.

    Scoring reuses the trainer's materialized feature stream (same
    (id, bucket, cnt) rows plus the bias bucket −1 the trainer saw),
    so train-then-serve costs ONE corpus tokenize pass, not two."""
    from pyspark.sql.window import Window

    feats, w = _perceptron_train_feats(
        df, label_col, pos_value, id_col, text_col, n_buckets, bigrams, n_iters
    )
    scored = (
        feats.join(F.broadcast(w), "bucket", "left")
        .groupBy("id")
        .agg(
            F.sum(
                F.col("cnt") * F.coalesce(F.col("weight"), F.lit(0))
            ).alias("score")
        )
    )
    order = [F.col("score").desc(), F.col("id").asc()]
    return (
        scored.orderBy(*order)
        .limit(k)
        # row-bound: `top` is the already-truncated top-n slice (<= n rows)
        .withColumn("rnk", F.row_number().over(Window.orderBy(*order)))
    )

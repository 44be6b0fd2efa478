"""CCNet-style n-gram language-model quality scoring.

CCNet (Wenzek et al., "CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data") ranks every web document by the
perplexity of a language model trained on a trusted reference corpus,
then splits each language into head / middle / tail perplexity buckets;
the head bucket is what ships into training mixes. The reference repo
has no analogue (it is a search service); this is a first-class
training-pipeline addition in the spirit of the dedup/quality family.

Integer-exact by construction, so the DuckDB oracle matches hash-exactly:

* probabilities are never materialised as floats. Each scored n-gram
  contributes ``floor(log2((c_prefix + V) // (c_gram + 1)))`` bits —
  add-one-smoothed inverse probability, floored to whole bits via the
  binary-string-length identity ``floor(log2(x)) = length(bin(x)) - 1``,
  which Spark's ``bin()`` and DuckDB's ``bin()`` compute identically on
  BIGINT. The per-document total is a sum of small integers, so the
  distributed aggregation is order-independent and engine-exact (the
  same fixed-point discipline as the PQ ADC scorer in
  ``ops/similarity.py``).
* bits-per-kilotoken (the perplexity rank statistic; 1000×bits/n-grams,
  integer division) keeps three digits of resolution without floats.
* head/middle/tail assignment is ``ntile(3)`` per language over
  (bits_per_kilotoken, doc_id) — deterministic, and Spark/DuckDB agree
  on ntile's earlier-buckets-get-extras convention (verified).

Scale shape (the 100-TB story):

* LM build: one explode + two map-side-combinable groupBys (gram counts,
  prefix counts) + an equi join on the prefix — shuffle volume is the
  distinct-gram table, not the token stream.
* Scoring: the LM stays DISTRIBUTED — scored n-grams posting-join the
  gram and prefix tables on their keys (two shuffles keyed by gram). No
  broadcast of the model, so a billion-gram LM works; for Zipf-skewed
  hot grams AQE skew-join splitting applies (the session enables AQE).
  The vocabulary size is the only driver-visible scalar and is attached
  via a broadcast single-row crossJoin (the ``search/ranking.py``
  pattern), never ``.collect()`` into the plan.
* No UDFs anywhere — every expression is whole-stage-codegen'd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ocr_search_spark.search.analysis import tokens_expr


def _bigram_stream(df: DataFrame, keep_cols: list, text_col: str) -> DataFrame:
    """(…keep_cols, w1, w2) adjacent-token-pair rows — posexplode of the
    token array + element_at for the successor. Same pairs as exploding a
    ``zip_with`` of the array and its shift, measured ~3× faster: that
    form copies two sliced arrays and builds a struct per pair through
    interpreted lambdas, while this streams the token array once through
    a codegen'd generate."""
    return (
        df.select(*keep_cols, tokens_expr(text_col).alias("__t"))
        .select(*keep_cols, "__t", F.posexplode("__t").alias("__p", "w1"))
        .filter(F.col("__p") < F.size("__t") - 1)
        .select(
            *keep_cols,
            "w1",
            F.element_at("__t", F.col("__p") + 2).alias("w2"),
        )
    )


def ngram_lm(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Train a bigram count LM over a corpus slice.

    Returns (w1, w2, c_gram, c_prefix): bigram count and its prefix
    (unigram) count — the integer sufficient statistics of
    P(w2|w1) = c_gram / c_prefix. Both aggregations are map-side
    combinable; the prefix join is an equi join between two
    distinct-gram-sized tables.
    """
    c_gram = (
        _bigram_stream(df, [], text_col)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_gram"))
    )
    # prefix totals derive from the gram table (Σ_w2 c_gram — identical
    # integers), saving the second corpus explode
    c_prefix = c_gram.groupBy("w1").agg(F.sum("c_gram").alias("c_prefix"))
    return c_gram.join(c_prefix, "w1")


def lm_vocab_size(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Single-row (v) DataFrame: distinct token count of the LM corpus
    (the add-one smoothing denominator)."""
    return (
        df.select(F.explode(tokens_expr(text_col)).alias("t"))
        .agg(F.count_distinct("t").alias("v"))
    )


def lm_score(
    df: DataFrame,
    lm: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score every document against a bigram LM: total surprise in whole
    bits plus the bits-per-kilotoken rank statistic.

    Per scored bigram: ``floor(log2((c_prefix + V) // (c_gram + 1)))``
    — add-one-smoothed inverse conditional probability floored to whole
    bits. Unseen prefixes contribute ``floor(log2(V))`` (c_prefix and
    c_gram both 0), so out-of-domain text pays the full vocabulary
    penalty per token, which is exactly the ordering ccnet's perplexity
    gate needs. Documents with fewer than two tokens score NULL
    bits_per_kilotoken (nothing to condition on).

    Output: (id_col, n_grams, bits_total, bits_per_kilotoken).
    """
    prefixes = lm.select("w1", "c_prefix").distinct()
    grams = _bigram_stream(df, [F.col(id_col)], text_col)
    scored = (
        grams.join(lm.select("w1", "w2", "c_gram"), ["w1", "w2"], "left")
        .join(prefixes, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            id_col,
            (
                F.length(
                    F.bin(
                        F.expr(
                            "(coalesce(c_prefix, 0L) + v) DIV (coalesce(c_gram, 0L) + 1L)"
                        )
                    )
                )
                - 1
            ).alias("bits"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").alias("n_grams"), F.sum("bits").alias("bits_total")
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("bits_total", F.lit(0)).alias("bits_total"),
            F.expr(
                "CASE WHEN coalesce(n_grams, 0) = 0 THEN NULL "
                "ELSE (bits_total * 1000) DIV n_grams END"
            ).alias("bits_per_kilotoken"),
        )
    )


def ccnet_buckets(
    scored: DataFrame,
    lang: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet head/middle/tail: per-language perplexity terciles.

    ``lang`` maps id_col → lang. Only scoreable documents (n_grams > 0)
    are bucketed — a document with no bigrams has no perplexity, exactly
    as ccnet drops unscorable pages. ntile(3) over
    (bits_per_kilotoken, doc_id) is deterministic and its uneven-split
    convention matches DuckDB's. One shuffle on lang; at corpus scale
    the per-language sort is the cost, which is the same cost ccnet's
    percentile cutoffs pay.

    Output: (id_col, lang, bits_per_kilotoken, bucket) with bucket in
    head|middle|tail.
    """
    w = Window.partitionBy("lang").orderBy("bits_per_kilotoken", id_col)
    return (
        scored.filter(F.col("n_grams") > 0)
        .join(lang, id_col)
        .select(id_col, "lang", "bits_per_kilotoken")
        .withColumn(
            "bucket",
            F.element_at(
                F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
                F.ntile(3).over(w),
            ),
        )
    )


def kn_lm(df: DataFrame, text_col: str = "text") -> dict[str, DataFrame]:
    """Interpolated Kneser-Ney bigram sufficient statistics (the KenLM
    smoothing family ccnet's real filter uses, upgrading ``ngram_lm``'s
    add-one model).

    KN replaces raw continuation frequency with *type* counts: how many
    distinct contexts a word completes (``n1c``), how many distinct words
    a context precedes (``n1p``), plus the usual gram/prefix counts.
    Returns four DataFrames keyed for distributed scoring joins:

    * ``gram``    (w1, w2, c_gram)        — bigram token counts
    * ``prefix``  (w1, c_prefix, n1p)     — context totals + fan-out types
    * ``cont``    (w2, n1c)               — continuation fan-in types
    * ``scalars`` (b, v)                  — distinct bigram types B and
      distinct unigram types V (single row, broadcast at score time)

    All four are map-side-combinable aggregations over the exploded
    bigram stream; ``prefix`` and ``cont`` derive from ``gram`` (one
    corpus explode feeds everything). Shuffle volume is the distinct-gram
    table, never the token stream.
    """
    gram = (
        _bigram_stream(df, [], text_col)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_gram"))
    )
    prefix = gram.groupBy("w1").agg(
        F.sum("c_gram").alias("c_prefix"), F.count("*").alias("n1p")
    )
    cont = gram.groupBy("w2").agg(F.count("*").alias("n1c"))
    b = gram.agg(F.count("*").alias("b"))
    v = (
        df.select(F.explode(tokens_expr(text_col)).alias("t"))
        .agg(F.count_distinct("t").alias("v"))
    )
    scalars = b.crossJoin(v)
    return {"gram": gram, "prefix": prefix, "cont": cont, "scalars": scalars}


def kn_score(
    df: DataFrame,
    model: dict[str, DataFrame],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score documents against an interpolated Kneser-Ney bigram LM,
    integer-exact so the DuckDB oracle matches hash-exactly.

    With absolute discount D = 3/4 (Chen & Goodman's canonical value,
    kept rational so everything stays on the integer lattice after
    multiplying through by ``4 * c_prefix * (B + V)``):

        P(w2|w1) = max(c - 3/4, 0)/cp  +  (3/4)(n1p/cp) * (n1c + 1)/(B + V)

    The continuation distribution is add-one smoothed over B + V (so it
    sums to < 1 and unseen words stay scoreable); an unseen *context*
    backs off entirely to the smoothed continuation probability. Per
    scored bigram the surprise is ``floor(log2(den // num))`` whole bits
    via the bin-length identity — the same discipline as ``lm_score``,
    and P <= 1 guarantees ``den // num >= 1``.

    Integer envelope: ``den = 4 * c_prefix * (B + V)`` must stay under
    2^63. A one-row runtime guard (max prefix count from the model's own
    stats) raises loudly at ~2^60 instead of silently wrapping — at that
    point shard the reference LM (score per shard, sum bits), the
    standard KenLM-at-scale move.

    Scale shape: the LM stays DISTRIBUTED — three equi joins keyed by
    (w1,w2), w1, w2 against the model tables; only the two-scalar row
    broadcasts. Zipf-hot grams are AQE skew-join territory (session
    enables AQE). No UDFs; everything whole-stage-codegen'd.

    Output: (id_col, n_grams, bits_total, bits_per_kilotoken) — same
    shape as ``lm_score`` so ``ccnet_buckets`` composes unchanged.
    """
    guard = model["scalars"].crossJoin(
        model["prefix"].agg(F.max("c_prefix").alias("max_cp"))
    )
    scalars = guard.select(
        F.when(
            (F.length(F.bin(F.col("max_cp"))) + 2)
            + F.length(F.bin(F.col("b") + F.col("v")))
            > 63,
            F.raise_error(
                F.lit(
                    "kn_score: 4*c_prefix*(B+V) would exceed 2^63 — "
                    "shard the reference LM"
                )
            ).cast("long"),
        )
        .otherwise(F.col("b") + F.col("v"))
        .alias("bv")
    )
    grams = _bigram_stream(df, [F.col(id_col)], text_col)
    num = F.expr(
        "CASE WHEN c_prefix IS NULL THEN coalesce(n1c, 0L) + 1L "
        "ELSE (CASE WHEN c_gram IS NULL THEN 0L ELSE 4L * c_gram - 3L END)"
        "     * bv + 3L * n1p * (coalesce(n1c, 0L) + 1L) END"
    )
    den = F.expr(
        "CASE WHEN c_prefix IS NULL THEN bv ELSE 4L * c_prefix * bv END"
    )
    scored = (
        grams.join(model["gram"], ["w1", "w2"], "left")
        .join(model["prefix"], "w1", "left")
        .join(model["cont"], "w2", "left")
        .crossJoin(F.broadcast(scalars))
        .withColumn("__num", num)
        .withColumn("__den", den)
        .select(
            id_col,
            (F.length(F.bin(F.expr("__den DIV __num"))) - 1).alias("bits"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").alias("n_grams"), F.sum("bits").alias("bits_total")
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("bits_total", F.lit(0)).alias("bits_total"),
            F.expr(
                "CASE WHEN coalesce(n_grams, 0) = 0 THEN NULL "
                "ELSE (bits_total * 1000) DIV n_grams END"
            ).alias("bits_per_kilotoken"),
        )
    )

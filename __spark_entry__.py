"""DuckDB twin of ``ocr_search_spark.ops.dedup.near_dedup_cc``, plus the
three driver-facing queries whose plan shapes ``tests/test_plans.py`` pins.

``_near_dedup_cc_oracle_sql(threshold)`` returns DuckDB SQL that computes the
near-duplicate survivors of a ``documents(doc_id, text)`` view with the same
md5 hashes, shingles, LSH bands and Jaccard check as the Spark operator, so
the two engines return the same survivor set. ``perfbench`` checks its dedup
tour against it and ``tests/test_dedup_parity.py`` runs the same comparison
in the test suite.

``q_token_quality``, ``q_winnow_fingerprints`` and ``q_revenue_by_nation``
each take ``(spark, sf_dir)`` and return a DataFrame over the parquet tables
in ``sf_dir``.

The file keeps its historical name because ``perfbench/workloads.py`` imports
the twin as ``__spark_entry__``; renaming it means changing the benchmark in
the same change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the sandbox parquet is a single row group (one split); repartition so
    # the plan exercises all cores — at production scale the scan itself
    # yields many splits and this exchange is unnecessary
    return spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )


#: the English stopword signature the quality signals count
_EN_STOP_WORDS = ("the", "a", "of", "and", "to", "in", "is")


def q_token_quality(spark, sf_dir):
    """Token counting + quality-scoring signals as integer counts."""
    from ocr_search_spark.search.analysis import with_search_columns

    d = with_search_columns(_docs(spark, sf_dir), "text")
    en_stop = F.array(*[F.lit(w) for w in _EN_STOP_WORDS])
    return d.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.length(F.regexp_replace("text", "[^.,;:!?]", "")).alias("n_punct"),
        F.size(F.filter("toks", lambda t: F.array_contains(en_stop, t))).alias("n_stopwords"),
        F.aggregate("toks", F.lit(0), lambda acc, t: acc + F.length(t)).alias("token_chars"),
    )


def q_winnow_fingerprints(spark, sf_dir):
    """MOSS-style winnowing fingerprints (rolling hash + window minima),
    one sorted-CSV row per doc for exact cross-engine checking.

    Deliberately NOT exploded: a Generate over this computed array triggers
    InferFiltersFromGenerate + predicate pushdown, which inlines the whole
    staged fingerprint tree into a scan-level filter (measured 41 tokenizer
    copies re-evaluated per array element — a 50-min plan for a 1 s job).
    Our own sessions exclude that rule (session.py), but this query must
    stay sane on ANY session, so it avoids the Generate entirely."""
    from ocr_search_spark.ops.text_analysis import winnow_fingerprints

    w = winnow_fingerprints(_docs(spark, sf_dir), "doc_id", "text")
    return w.select(
        F.col("id").alias("doc_id"),
        F.array_join(F.array_sort("fingerprints"), ",").alias("fps_csv"),
    )


def q_revenue_by_nation(spark, sf_dir):
    """Classic relational path: fact⋈fact shuffle join + broadcast dims +
    grouped aggregate (TPC-H Q5 shape). Revenue is summed in integer
    ten-thousandths (prices/discounts have ≤4 decimals, so the rounded
    product is integer-valued — exact and engine-identical; double sums
    would differ by partial-aggregation order)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    rev_e4 = F.round(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 10000
    ).cast("long")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(rev_e4).alias("revenue_e4"), F.count("*").alias("n_items"))
    )


#: the ``search.analysis.tokens_expr`` tokenizer as DuckDB SQL over ``text``
_TOK = "list_filter(regexp_split_to_array(lower(text), '[^a-zа-яё0-9_]+'), x -> x <> '')"


def _near_dedup_cc_oracle_sql(threshold: float = 0.3) -> str:
    """Recursive-CTE twin of ops.dedup.near_dedup_cc: MinHash signatures,
    LSH band candidates and Jaccard-verified pairs, then transitive closure
    (DuckDB WITH RECURSIVE over the symmetric edge list) → min reachable id
    per node → drop every node whose component has a smaller id."""
    sigs = ", ".join(
        f"list_min(list_transform(shingles, s -> md5('{i}:' || s))) AS mh{i}"
        for i in range(8)
    )
    bands = " UNION ALL ".join(
        f"SELECT id, {b} AS band, md5(mh{b} || '|' || mh{b + 1}) AS bucket "
        f"FROM sig WHERE mh{b} IS NOT NULL"
        for b in range(0, 8, 2)
    )
    return f"""
        WITH RECURSIVE sh AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   range(1, greatest(len({_TOK}) - 1, 1)),
                   i -> array_to_string(list_slice({_TOK}, i, i + 2), ' ')
                 )) AS shingles
          FROM documents
        ), sig AS (
          SELECT doc_id AS id, {sigs} FROM sh
        ), bands AS (
          {bands}
        ), cand AS (
          SELECT DISTINCT a.id AS a_id, b.id AS b_id
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
        ), ver AS (
          SELECT c.a_id, c.b_id
          FROM cand c
          JOIN sh sa ON sa.doc_id = c.a_id
          JOIN sh sb ON sb.doc_id = c.b_id
          WHERE len(list_distinct(list_concat(sa.shingles, sb.shingles))) > 0
            AND len(list_intersect(sa.shingles, sb.shingles))
                >= len(list_distinct(list_concat(sa.shingles, sb.shingles))) * {threshold}
        ), edges AS (
          SELECT a_id AS s, b_id AS d FROM ver
          UNION
          SELECT b_id AS s, a_id AS d FROM ver
        ), reach AS (
          SELECT s AS id, d AS r FROM edges
          UNION
          SELECT e.s AS id, rc.r AS r FROM edges e JOIN reach rc ON rc.id = e.d
        ), lbl AS (
          SELECT id, least(id, min(r)) AS label FROM reach GROUP BY id
        )
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (SELECT id FROM lbl WHERE label < id)
    """

"""Table writes: directory-addressed parquet, plus catalog-bucketed tables.

Every table of the pipeline is a parquet directory; an append adds files
under it, an overwrite replaces it. Nothing here publishes: a table becomes
visible to readers only when the store's pointer names it (see
``pipeline/checkpoint.py``). Readers use ``spark.read.parquet`` directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: tuple[str, ...] | None = None,
) -> None:
    """Write ``df`` as parquet under ``path``; ``partition_by`` lays rows
    out under ``col=value/`` directories."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a catalog table hash-bucketed on ``bucket_col``.

    Bucketing is the co-located-join strategy for the hot keys of this
    engine (doc_id joins everywhere: postings → documents, dedup
    candidates → docs, spans → metadata). Two tables bucketed on the
    same key with the same bucket count join WITHOUT any Exchange — at
    10^12 rows that deletes the dominant shuffle from every doc_id join
    at the price of one bucketed write. ``sort_col`` additionally sorts
    within buckets so sort-merge joins skip the per-task sort.

    Uses the session catalog (``bucketBy``/``saveAsTable`` — Spark's
    Hive-style bucketing, readable only via ``spark.table``).

    Plan invariant (asserted in tests/test_plans.py): joining two tables
    bucketed (same col, same n) shows a SortMergeJoin/ShuffledHashJoin
    with NO Exchange on either side.
    """
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.format("parquet").saveAsTable(name)


def read_bucketed_table(spark: SparkSession, name: str) -> DataFrame:
    """Catalog read that preserves the bucketing metadata (a plain
    ``spark.read.parquet`` of the same files would lose it and
    re-shuffle on join)."""
    return spark.table(name)

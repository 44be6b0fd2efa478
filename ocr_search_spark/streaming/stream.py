"""Streaming ingestion: continuous extraction + windowed aggregations.

The reference's ingestion is a task queue, not a stream (Dramatiq "upload"
actor, app/broker/workers.py:21-22; its closest streaming artifact is the
Redis progress blob, app/broker/config.py:37-53). The Spark-native
equivalent of "documents keep arriving, extract them as they land" is a
file-source ``readStream`` over the interleaved documents table feeding the
same vectorized extraction kernel via ``foreachBatch`` — one code path for
batch and streaming, with exactly-once sink semantics from the streaming
checkpoint (which subsumes the batch pointer's role for this mode).

``windowed_event_counts`` is the standard late-data-tolerant windowed
aggregation (watermark + tumbling window) over an event stream — the shape
any 100 TB ingest pipeline needs for per-window lineage metrics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..corpus import SPANS_IN_SCHEMA
from ..pipeline.extract import extract_documents


def stream_extract(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    num_partitions: int | None = None,
    available_now: bool = True,
):
    """Continuously extract documents landing under ``input_path``.

    Returns the started StreamingQuery. ``available_now=True`` drains what
    exists and stops (test/batch-catchup mode); False runs continuously.
    """
    stream = (
        spark.readStream.schema(SPANS_IN_SCHEMA)
        .option("maxFilesPerTrigger", "64")
        .parquet(input_path)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_batch_idempotent(batch_df, batch_id, output_path, num_partitions)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_batch_idempotent(
    batch_df: DataFrame,
    batch_id: int,
    output_path: str,
    num_partitions: int | None = None,
) -> None:
    """Extract one micro-batch and land it under a DETERMINISTIC per-batch
    directory ``output_path/b=<batch_id>`` with overwrite semantics.

    foreachBatch is at-least-once: a crash between the sink write and the
    streaming-checkpoint commit replays the same (batch_id, data) on
    restart. A plain append would duplicate every replayed span; keying the
    write by batch_id makes the replay overwrite its own previous attempt —
    the streaming twin of the batch stage-then-publish idempotence
    (attempt dirs ``spans/g=<g>/r=<run_id>``, pipeline/checkpoint.py).
    Readers scan ``output_path`` and see ``b`` as a partition column.

    STAGE-THEN-RENAME, not in-place overwrite: mode('overwrite') first
    clears the target and then writes task by task, so a concurrent
    reader (or a crash mid-replay) would observe an empty/partial batch
    directory for the whole write duration. Staging to a temp sibling
    and renaming shrinks the non-atomic window to a directory swap
    (atomic on POSIX/HDFS renames; on object stores readers should list
    batches via a manifest instead).
    """
    import os
    import shutil
    import uuid as _uuid

    target = f"{output_path}/b={int(batch_id)}"
    stage = f"{output_path}/.stage-b={int(batch_id)}-{_uuid.uuid4().hex[:8]}"
    extract_documents(batch_df, num_partitions).write.mode("overwrite").parquet(
        stage
    )
    shutil.rmtree(target, ignore_errors=True)
    os.rename(stage, target)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Watermarked tumbling-window counts over a (streaming) events frame."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(key_col))
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "cnt",
        )
    )

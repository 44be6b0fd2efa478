"""Watermarked windowed aggregation over an event stream.

``windowed_event_counts`` is the standard late-data-tolerant windowed
aggregation (watermark + tumbling window) over an event stream — the shape
an ingest pipeline needs for per-window lineage metrics. It runs unchanged
on a batch frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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

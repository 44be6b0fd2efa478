"""Table writes: directory-addressed parquet.

Every table of the pipeline is a parquet directory; an append adds files
under it, an overwrite replaces it. Nothing here publishes: a table becomes
visible to readers only when the store's pointer names it (see
``pipeline/checkpoint.py``). Readers use ``spark.read.parquet`` directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


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

"""Spark-side extraction pipeline: salting, vectorized dispatch, lineage."""

from .extract import (
    SPANS_OUT_SCHEMA,
    add_partition_salt,
    extract_documents,
    explode_spans,
    ordered_text_agg,
)
from .checkpoint import (
    committed_spans,
    committed_spans_latest,
    run_extraction,
    read_audit,
    read_pointer,
)

__all__ = [
    "SPANS_OUT_SCHEMA",
    "add_partition_salt",
    "committed_spans",
    "committed_spans_latest",
    "extract_documents",
    "explode_spans",
    "ordered_text_agg",
    "run_extraction",
    "read_audit",
    "read_pointer",
]

"""Distributed extraction: salt → shuffle → vectorized dispatch (mapInArrow).

The Spark rebuild of the reference's worker loop (reference:
app/broker/workers.py:58-114 processed one file at a time in one process;
here each Arrow batch of whole documents is extracted vectorized, and
parallelism comes from partitions instead of Dramatiq processes/threads —
run.bat:31-33).

Scale design (100 TB / 10^12-doc framing):

* **Skew defense** — giant PDFs (the 1% long tail with up to 256 page spans)
  are spread by a shuffle that hashes ``doc_id`` into P partitions; the
  hash is uniform by construction so no partition carries more than ~1/P
  of documents, and P is decoupled from input file layout. The salt
  ``pmod(xxhash64(doc_id), P)`` labels each document's audit partition.
* **One shuffle total** — the only exchange is a REBALANCE on doc_id; the
  extraction itself is a narrow ``mapInArrow`` and the output write is
  pipelined into the same stage. AQE sizes that stage from the shuffle
  bytes: a small batch runs in one task (each Python task pays a fixed
  worker set-up of about 0.2 s CPU, far more than a small batch's kernel
  time), a large one keeps at least cores-many, and an oversized partition
  is split.
* **Arrow-native kernel** — the nested ``array<struct>`` spans column is
  flattened zero-copy with pyarrow (``ListArray.flatten``); only the three
  small string child arrays cross into pandas for the vectorized kernels.
  (A ``mapInPandas`` formulation converts every span to a Python dict —
  measured 5-10× slower end-to-end at sf0.1.)
* **No driver round-trips** — nothing is collected; lineage/audit metrics are
  aggregated distributed (see checkpoint.py).
* **Arrow batch bounds** — per-batch memory is bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` (set in session helpers);
  the analogue of the reference's raster-size clamps (pdf_fast.py:37-40).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.dispatch import extract_texts

#: output of the extraction kernel; ``spans`` matches FIXTURES.md §3
#: documents_extracted, plus lineage helper columns.
SPANS_OUT_SCHEMA = (
    "doc_id string, part_id int, n_spans int, n_failures int, "
    "spans array<struct<kind:string,text:string,media_ref:string,order:int>>"
)

_OUT_SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("order", pa.int32()),
    ]
)


def add_partition_salt(df: DataFrame, num_partitions: int) -> DataFrame:
    """Deterministic salt column + rebalance shuffle (SURVEY.md §4 skew
    defense).

    ``part_id = pmod(xxhash64(doc_id), num_partitions)`` labels each
    document's audit partition. The shuffle itself hashes ``doc_id`` into
    ``num_partitions`` initial partitions: hashing the P salt values again
    into P partitions would collide keys and leave some partitions empty.
    AQE then sizes the stage by shuffle bytes. It coalesces adjacent
    partitions up to ``spark.sql.adaptive.coalescePartitions.minPartitionSize``
    (1 MB by default) or, for a larger shuffle, to about the default
    parallelism, so a batch of a few hundred documents runs in one task;
    and it splits a partition above
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes``, so a partition
    that drew several giants is spread over tasks. Each
    task writes one file of the batch's attempt directory."""
    return df.withColumn(
        "part_id",
        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(num_partitions)).cast("int"),
    ).hint("rebalance", num_partitions, "doc_id")


def _extract_arrow_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    """Extract one Arrow batch of whole documents, Arrow-native."""
    cols = {name: batch.column(i) for i, name in enumerate(batch.schema.names)}
    spans = cols["spans"]
    if spans.null_count:
        spans = pc.fill_null(spans, [])

    flat = spans.flatten()  # StructArray, respects list offsets (zero-copy)
    lens = pc.list_value_length(spans).to_numpy(zero_copy_only=False)
    lens = np.nan_to_num(lens, nan=0).astype("int64")
    offsets = np.zeros(len(lens) + 1, dtype="int64")
    np.cumsum(lens, out=offsets[1:])

    kind = flat.field("kind")
    text = flat.field("text")
    media = flat.field("media_ref")
    off = flat.field("offset").to_numpy(zero_copy_only=False)

    # Per-document ordering by input offset. The corpus emits dense sorted
    # offsets, so the common case is a no-op checked in O(n); shuffled input
    # still yields offset-sorted sequences (the span-order invariant).
    parent = np.repeat(np.arange(len(lens), dtype="int64"), lens)
    order_in_doc = np.arange(len(off), dtype="int64") - offsets[parent]
    if not np.array_equal(off, order_in_doc):
        perm = np.lexsort((off, parent))
        take = pa.array(perm)
        kind, text, media = kind.take(take), text.take(take), media.take(take)

    kind_pd = kind.to_pandas()
    extracted, failed = extract_texts(kind_pd, text.to_pandas(), media.to_pandas())
    failed_np = failed.to_numpy(dtype="int64")

    # falsy kind (null or "") normalizes to 'uns', matching the scalar path
    # (bytes_xtractor.py:70 — unknown dispatch falls through to 'uns')
    kind_out = pc.if_else(
        pc.or_kleene(pc.is_null(kind), pc.equal(kind, "")), pa.scalar("uns"), kind
    )
    out_struct = pa.StructArray.from_arrays(
        [
            kind_out,
            pa.array(extracted.tolist(), type=pa.string()),
            pc.fill_null(media, ""),
            pa.array(order_in_doc.astype("int32")),
        ],
        fields=list(_OUT_SPAN_TYPE),
    )
    out_spans = pa.LargeListArray.from_arrays(
        pa.array(offsets, type=pa.int64()), out_struct
    ).cast(pa.list_(_OUT_SPAN_TYPE))

    n_failures = np.zeros(len(lens), dtype="int64")
    if len(failed_np):
        np.add.at(n_failures, parent, failed_np)

    return pa.RecordBatch.from_arrays(
        [
            cols["doc_id"],
            cols["part_id"],
            pa.array(lens.astype("int32")),
            pa.array(n_failures.astype("int32")),
            out_spans,
        ],
        names=["doc_id", "part_id", "n_spans", "n_failures", "spans"],
    )


def _kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        if batch.num_rows:
            yield _extract_arrow_batch(batch)


def extract_documents(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Full extraction plan over an interleaved documents DataFrame.

    ``df`` must have columns (doc_id, spans) per BASELINE.json input_hint.
    Returns (doc_id, part_id, n_spans, n_failures, spans) with extracted +
    normalized span sequences. ``num_partitions`` (default 2× the default
    parallelism) is the salt modulus and the shuffle's initial partition
    count, not the task count: AQE coalesces or splits those partitions by
    size (see :func:`add_partition_salt`).
    """
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    salted = add_partition_salt(df, num_partitions)
    return salted.mapInArrow(_kernel, schema=SPANS_OUT_SCHEMA)


def ordered_text_agg(text_col: str = "text", order_col: str = "order", sep: str = "\n"):
    """Document-order text concatenation aggregate for grouped span rows.

    ``collect_list`` order after a groupBy is non-contractual in Spark —
    it only looks stable when each doc's spans arrive in one partition
    row. Sorting the (order, text) structs first makes the concatenation
    deterministic under any physical row order (multi-append outputs,
    speculative retries)."""
    return F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col(order_col).alias("o"), F.col(text_col).alias("t"))
                )
            ),
            lambda s: s["t"],
        ),
        sep,
    )


def explode_spans(extracted: DataFrame) -> DataFrame:
    """Flat view (doc_id, kind, text, media_ref, order) of extracted spans.

    A narrow generate — no shuffle.
    """
    return extracted.select(
        "doc_id", F.explode("spans").alias("span")
    ).select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.order").alias("order"),
    )

"""Resumable extraction runs: staged span attempts, one publication record
and a per-partition audit.

Replaces the reference's Redis job-state blob (reference:
app/broker/config.py:37-53 — ``{status, total, done, progress, ...}`` with a
12 h TTL) and its retry path (app/web/admin_jobs.py:48-69) with batch-native
lineage:

* the commit unit is the batch: one ``run_extraction`` call over one
  ``run_group`` stages its whole output under one attempt directory
  ``spans/r=<run_id>`` that no reader looks at until it is published;
* the store's one publication record is the file ``<root>/CURRENT``
  (:func:`read_pointer`). It names the live attempt of every run_group
  with its publication order, and the published snapshot of the derived
  tables (see ``store.py``). :func:`publish` is its only writer: it
  changes a copy of the record, writes it to a temporary file, fsyncs it
  and ``os.replace``-s it over ``CURRENT`` — one atomic swap, so a reader
  sees the record before or after a publish, never a mix. A crash before
  the swap leaves the staged attempt as an orphan that no reader sees, and
  a resume re-extracts the batch into a new attempt directory, so the
  published view never loses or double-counts a row;
* an **audit** row per salt partition (run_id, partition_id, docs, spans,
  failures, wall_ms, committed_at — FIXTURES.md §5) records attempt-level
  lineage: every attempt is logged, the pointer says which one is live;
* a restarted run with a ``run_group`` that ``CURRENT`` already names
  returns at once without reading its source — a killed job never
  reprocesses a committed batch;
* a batch holds each ``doc_id`` at most once: one that repeats an id is
  rejected before its publish, so the latest view never has to choose
  between two rows of one batch.

A run_group's ``CURRENT`` entry is written once, by its publish, and never
changed; an attempt directory is never rewritten.

Like an Iceberg append, a batch is one snapshot of the span table: a crash
loses at most the batch in flight, while the batch itself still fans out
across all executors.
"""

from __future__ import annotations

import copy
import json
import os
import re
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from .extract import SPANS_OUT_SCHEMA, extract_documents
from ..localrel import string_int_df
from ..tables import write_table

POINTER = "CURRENT"


class IncompatibleCheckpointError(RuntimeError):
    """The out_dir holds a checkpoint written by an older layout version."""


#: run_group charset: the id becomes a Hive partition VALUE (r=<run_id>)
#: and Spark percent-escapes special chars in partition values while our
#: path builders do not — a ':' or '%' in the group name would desynchronize
#: the staged directory from what the readers expect, and the vacuum would
#: then DELETE it as an orphan. Reject instead of corrupting.
_RUN_GROUP_RE = re.compile(r"^[A-Za-z0-9._-]+$")


def _validate_run_group(run_group: str) -> None:
    if not _RUN_GROUP_RE.match(run_group):
        raise ValueError(
            f"run_group {run_group!r} must match [A-Za-z0-9._-]+ — it is "
            "embedded in Hive partition paths, and characters Spark "
            "percent-escapes (':', '%', '/', '=', …) would desynchronize "
            "the staged files from the reader/vacuum paths"
        )


def _audit_path(out_dir: str) -> str:
    return f"{out_dir}/_audit"


def output_path(out_dir: str) -> str:
    return f"{out_dir}/spans"


def attempt_path(out_dir: str, run_id: str) -> str:
    return f"{output_path(out_dir)}/r={run_id}"


def read_pointer(root: str) -> dict:
    """The store's publication record, read as a plain file (no Spark job).

    ``{"order": n, "snapshot": id | None, "snapshot_stats": {"docs": N,
    "sum_tf": S} | None, "spans": {run_group: {"run_id": r, "order": o}}}``
    where ``order`` counts publishes and each live attempt holds the order
    of the publish that made it live.
    ``snapshot_stats`` holds the published snapshot's document count and
    Σ tf, observed while its tables were written (see ``store.py``). Before
    the first publish no snapshot and no attempt is live."""
    if os.path.isdir(os.path.join(root, "_ledger")):
        # spans used to be published by rows of a parquet ledger table;
        # resuming over one would re-extract everything next to the old
        # attempts and leave them unreachable
        raise IncompatibleCheckpointError(
            f"{root}/_ledger was written by an older checkpoint format "
            f"(a parquet publication ledger); this version publishes through "
            f"{root}/{POINTER} only. Re-extract into a fresh out_dir."
        )
    pointer = {"order": 0, "snapshot": None, "snapshot_stats": None, "spans": {}}
    try:
        with open(os.path.join(root, POINTER)) as f:
            pointer.update(json.load(f))
    except FileNotFoundError:
        pass
    if any("live" in spec for spec in pointer["spans"].values()):
        # spans used to be published per commit group of a run_group, one
        # attempt directory per group; this version reads one attempt per
        # run_group and would not find those directories
        raise IncompatibleCheckpointError(
            f"{root}/{POINTER} was written by an older checkpoint format "
            "(span attempts published per commit group); this version "
            "publishes one attempt per run_group. Re-extract into a fresh out_dir."
        )
    return pointer


def publish(root: str, change: Callable[[dict], None]) -> dict:
    """The one atomic publish of a store: read-modify-write of ``CURRENT``.

    ``change(pointer)`` edits a copy of the current record in place; its
    ``order`` has already been advanced, so whatever it makes live takes
    that order. The copy is written to a temporary file, fsynced and
    ``os.replace``-d over ``CURRENT``. One writer per store at a time.
    Returns the record it replaced."""
    old = read_pointer(root)
    new = copy.deepcopy(old)
    new["order"] += 1
    change(new)
    tmp = os.path.join(root, f".{POINTER}.{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump(new, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(root, POINTER))
    return old


def read_audit(spark: SparkSession, out_dir: str) -> DataFrame | None:
    try:
        return spark.read.parquet(_audit_path(out_dir))
    except AnalysisException:
        # missing-path == "no run yet"; anything else (permission,
        # corruption, transient IO) must surface
        return None


def committed_spans(spark: SparkSession, out_dir: str, run_group: str) -> DataFrame:
    """The published rows of one run_group: exactly its live attempt
    directory, one row per document of the batch. Orphan attempts from
    crashed or rejected runs are invisible here; an unpublished run_group
    reads as an empty frame. :func:`committed_spans_latest` is the view
    across run_groups."""
    live = read_pointer(out_dir)["spans"].get(run_group)
    if live is None:
        return spark.createDataFrame([], SPANS_OUT_SCHEMA)
    # explicit schema: skips footer inference
    return spark.read.schema(SPANS_OUT_SCHEMA).parquet(attempt_path(out_dir, live["run_id"]))


def committed_spans_latest(spark: SparkSession, out_dir: str) -> DataFrame:
    """The published view across every run_group, ONE row per document.

    Where two run_groups both extracted a document, the attempt published
    last wins; a batch holds each doc_id once, so the winner is unique.
    This is the view derived-table rebuilds want (see
    ``DocumentStore.ingest``). Cost: one extra shuffle (partial-aggregated
    ``max_by`` per doc_id) over the published rows — a rebuild-time path,
    not a per-query path."""
    live = [(a["run_id"], a["order"]) for a in read_pointer(out_dir)["spans"].values()]
    if not live:
        return spark.createDataFrame([], SPANS_OUT_SCHEMA)
    # ONE scan node regardless of attempt count: read every live attempt
    # path in a single multi-path parquet read with basePath so the r
    # partition column surfaces, then attach the publication order by
    # broadcast-joining the (r, order) table. (One DataFrame per attempt
    # reduced with unionByName would be an O(attempts)-leg plan,
    # driver-slow to analyze at thousands of batches.)
    allp = (
        spark.read.schema(SPANS_OUT_SCHEMA + ", r string")
        .option("basePath", output_path(out_dir))
        .parquet(*[attempt_path(out_dir, r) for r, _ in live])
    )
    pub = string_int_df(spark, sorted(live), "r, __pub")
    allp = allp.join(F.broadcast(pub), "r").drop("r")
    payload = [c for c in allp.columns if c not in ("doc_id", "__pub")]
    return (
        allp.groupBy("doc_id")
        .agg(F.max_by(F.struct(*payload), F.col("__pub")).alias("__row"))
        .select("doc_id", "__row.*")
    )


def vacuum_uncommitted(
    spark: SparkSession, out_dir: str, min_age_s: float = 3600.0
) -> list[str]:
    """Delete staged attempt directories that no publish ever made live:
    leftovers of a crash before the publish, or of a batch rejected for
    repeating a doc_id. Driver-side filesystem walk; returns the removed
    paths.

    ``min_age_s`` (default 1 h) protects attempts staged by a STILL-RUNNING
    extraction: staging completes before the pointer swap, so a
    concurrently-running vacuum would otherwise see the not-yet-published
    attempt as an orphan and delete data the run is about to commit. Only
    attempts whose directory mtime is older than the guard are touched;
    pass ``min_age_s=0`` only when no extraction can be in flight."""
    import shutil

    root = output_path(out_dir)
    if not os.path.isdir(root):
        return []
    live = {a["run_id"] for a in read_pointer(out_dir)["spans"].values()}
    now = time.time()
    removed = []
    for rdir in sorted(os.listdir(root)):
        if not rdir.startswith("r=") or rdir.split("=", 1)[1] in live:
            continue
        path = os.path.join(root, rdir)
        try:
            if now - os.path.getmtime(path) < min_age_s:
                continue  # possibly staged by a run in flight
        except OSError:
            continue
        shutil.rmtree(path, ignore_errors=True)
        removed.append(path)
    return removed


def run_extraction(
    spark: SparkSession,
    input_df: DataFrame,
    out_dir: str,
    run_group: str,
    num_partitions: int | None = None,
) -> dict:
    """Run (or resume) an extraction of the batch ``input_df`` into
    ``out_dir`` as ``run_group``.

    Returns summary stats. Idempotent per (run_group, out_dir): a run_group
    ``CURRENT`` already names returns at once (``skipped``) and never reads
    its source; any other run extracts the whole batch. Read results back
    with :func:`committed_spans`, never by globbing the staging directory.

    One job stages the batch under ``spans/r=<run_id>``; the audit rows are
    appended from the staged files; then one :func:`publish` swap makes the
    attempt live. A crash before the swap leaves it as an invisible orphan
    for a resume to replace. A batch that repeats a doc_id raises
    ``ValueError`` before the swap: ``CURRENT`` is unchanged and the staged
    attempt is an orphan, so the same run_group can be ingested again once
    the batch holds each id once.

    ``num_partitions`` is the salt modulus of :func:`extract_documents`
    (one audit row per salt value; default 2× the default parallelism),
    not the task count: AQE sizes the extraction stage from its shuffle
    bytes, so a small batch stages one file.
    """
    _validate_run_group(run_group)
    prior = read_pointer(out_dir)["spans"].get(run_group)
    if prior is not None:
        return {
            "run_id": prior["run_id"],
            "run_group": run_group,
            "skipped": True,
            "output": output_path(out_dir),
        }

    run_id = f"{run_group}-{uuid.uuid4().hex[:8]}"
    path = attempt_path(out_dir, run_id)
    t0 = time.monotonic()
    write_table(extract_documents(input_df, num_partitions), path)
    wall_ms = int((time.monotonic() - t0) * 1000)

    # attempt-level lineage from the staged files themselves (verifies
    # the write; no persist of the full extraction output needed). A
    # doc_id has one part_id, so one exchange on part_id serves both the
    # per-document count that finds repeated ids and the per-partition
    # rows. The observation sits after both aggregations, so they stay
    # one generated stage
    repeated = Observation()
    audit = (
        spark.read.schema(SPANS_OUT_SCHEMA)
        .parquet(path)
        .repartition("part_id")
        .groupBy("part_id", "doc_id")
        .agg(
            F.count("*").alias("rows"),
            F.sum("n_spans").alias("n_spans"),
            F.sum("n_failures").alias("n_failures"),
        )
        .groupBy("part_id")
        .agg(
            F.sum("rows").alias("docs"),
            F.sum("n_spans").cast("long").alias("spans"),
            F.sum("n_failures").cast("long").alias("failures"),
            F.count_if(F.col("rows") > 1).alias("repeated"),
        )
        .observe(repeated, F.sum("repeated").alias("ids"))
        .select(
            F.lit(run_id).alias("run_id"),
            F.col("part_id").alias("partition_id"),
            "docs",
            "spans",
            "failures",
            F.lit(wall_ms).alias("wall_ms"),
            F.current_timestamp().alias("committed_at"),
        )
    )
    write_table(audit.coalesce(1), _audit_path(out_dir), mode="append")
    n_repeated = repeated.get["ids"]
    if n_repeated:
        raise ValueError(
            f"run_group {run_group!r}: the batch repeats {n_repeated} doc_id(s); "
            "a batch must hold each doc_id once. Nothing was published."
        )

    def make_live(p: dict) -> None:
        p["spans"][run_group] = {"run_id": run_id, "order": p["order"]}

    publish(out_dir, make_live)
    return {
        "run_id": run_id,
        "run_group": run_group,
        "skipped": False,
        "output": output_path(out_dir),
    }

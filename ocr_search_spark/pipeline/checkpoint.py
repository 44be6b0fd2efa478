"""Resumable extraction runs: staged span attempts, one publication record
and a per-partition audit.

Replaces the reference's Redis job-state blob (reference:
app/broker/config.py:37-53 — ``{status, total, done, progress, ...}`` with a
12 h TTL) and its retry path (app/web/admin_jobs.py:48-69) with batch-native
lineage:

* the input is split into ``num_groups`` deterministic *commit groups*:
  ``group_id = pmod(xxhash64(doc_id), num_groups)`` — a pure function of
  (doc_id, num_groups) ONLY, so membership is identical across runs
  regardless of cluster parallelism; ``num_groups`` is recorded per
  run_group and a resume with a different value fails fast instead of
  silently re-partitioning the commit space;
* each group's output is **staged** under a group-keyed attempt directory
  ``spans/g=<group>/r=<run_id>`` that no reader looks at until it is
  published;
* the store's one publication record is the file ``<root>/CURRENT``
  (:func:`read_pointer`). It names the live attempt of every
  (run_group, group_id) with its publication order, the ``num_groups`` of
  every run_group, and the published snapshot of the derived tables (see
  ``store.py``). :func:`publish` is its only writer: it changes a copy of
  the record, writes it to a temporary file, fsyncs it and ``os.replace``-s
  it over ``CURRENT`` — one atomic swap, so a reader sees the record before
  or after a publish, never a mix. A crash before the swap leaves the
  staged attempts as orphans that no reader sees, and a resume re-extracts
  them into a new attempt directory, so the published view never loses or
  double-counts a row;
* an **audit** row per salt partition (run_id, partition_id, docs, spans,
  failures, wall_ms, committed_at — FIXTURES.md §5) records attempt-level
  lineage: every attempt is logged, the pointer says which one is live;
* a restarted run with the same ``run_group`` skips published groups and
  processes only the remainder — a killed job never reprocesses committed
  groups.

On a real cluster the same design holds: the commit group is the unit of
re-work, sized so a restart loses at most 1/num_groups of progress, while
each group still fans out across all executors.
"""

from __future__ import annotations

import copy
import json
import os
import re
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from .extract import SPANS_OUT_SCHEMA, extract_documents
from ..localrel import string_int_df
from ..tables import write_table

POINTER = "CURRENT"


class SimulatedFailure(RuntimeError):
    """Raised by tests to kill a run between group commits."""


class IncompatibleCheckpointError(RuntimeError):
    """The out_dir holds a checkpoint written by an older layout version."""


#: run_group charset: the id becomes a Hive partition VALUE (r=<run_id>)
#: and Spark percent-escapes special chars on write while our path
#: builders do not — a ':' or '%' in the group name would stage data
#: under an escaped directory the readers never look at and the vacuum
#: would then DELETE as an orphan. Reject instead of corrupting.
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


def group_attempt_path(out_dir: str, group_id: int, run_id: str) -> str:
    return f"{output_path(out_dir)}/g={group_id}/r={run_id}"


def read_pointer(root: str) -> dict:
    """The store's publication record, read as a plain file (no Spark job).

    ``{"order": n, "snapshot": id | None, "spans": {run_group:
    {"num_groups": k, "live": {"<group_id>": {"run_id": r, "order": o}}}}}``
    where ``order`` counts publishes and each live attempt keeps the order
    its rows were first published at (a compaction rewrite inherits it).
    Before the first publish no snapshot and no attempt is live."""
    if os.path.isdir(os.path.join(root, "_ledger")):
        # spans used to be published by rows of a parquet ledger table;
        # resuming over one would re-extract everything next to the old
        # attempts and leave them unreachable
        raise IncompatibleCheckpointError(
            f"{root}/_ledger was written by an older checkpoint format "
            f"(a parquet publication ledger); this version publishes through "
            f"{root}/{POINTER} only. Re-extract into a fresh out_dir."
        )
    pointer = {"order": 0, "snapshot": None, "spans": {}}
    try:
        with open(os.path.join(root, POINTER)) as f:
            pointer.update(json.load(f))
    except FileNotFoundError:
        pass
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


def _make_live(pointer: dict, run_group: str, num_groups: int, groups, run_id: str) -> None:
    spec = pointer["spans"].setdefault(run_group, {"num_groups": num_groups, "live": {}})
    for g in groups:
        spec["live"][str(g)] = {"run_id": run_id, "order": pointer["order"]}


def _live_attempts(pointer: dict, run_group: str | None = None) -> list[tuple]:
    """(group_id, run_id, order) of every live attempt, of one run_group or
    of all. num_groups-sized per run_group — driver-small by construction."""
    return [
        (int(g), a["run_id"], a["order"])
        for rg, spec in pointer["spans"].items()
        if run_group in (None, rg)
        for g, a in spec["live"].items()
    ]


def read_audit(spark: SparkSession, out_dir: str) -> DataFrame | None:
    try:
        return spark.read.parquet(_audit_path(out_dir))
    except AnalysisException:
        # missing-path == "no run yet"; anything else (permission,
        # corruption, transient IO) must surface
        return None


def committed_spans(
    spark: SparkSession, out_dir: str, run_group: str | None = None
) -> DataFrame:
    """The published output view: exactly the live attempt directories.

    Orphan attempts from crashed runs (staged but never published) and
    attempts a later publish superseded (e.g. by
    :func:`compact_group_outputs`) are invisible here.

    SCOPING: with ``run_group=None`` the view CONCATENATES every
    run_group's published attempts — two run_groups that both extracted an
    overlapping document each contribute their rows. Use
    :func:`committed_spans_latest` when one row per document (latest
    publication wins) is the contract, e.g. for rebuilding derived tables."""
    live = _live_attempts(read_pointer(out_dir), run_group)
    if not live:
        return spark.createDataFrame([], SPANS_OUT_SCHEMA)
    paths = [group_attempt_path(out_dir, g, r) for g, r, _ in live]
    # explicit schema: skips footer inference and keeps an all-empty-group
    # read (zero staged files) well-defined
    return spark.read.schema(SPANS_OUT_SCHEMA).parquet(*paths)


def committed_spans_latest(spark: SparkSession, out_dir: str) -> DataFrame:
    """Cross-run_group published view resolved to ONE row per document.

    :func:`committed_spans` with ``run_group=None`` concatenates all
    run_groups, so a document two run_groups both extracted appears twice.
    Here the attempt published last wins per document — the view
    derived-table rebuilds want (see ``DocumentStore.ingest``). Cost: one
    extra shuffle (partial-aggregated ``max_by`` per doc_id) over the
    published rows — a rebuild-time path, not a per-query path."""
    live = _live_attempts(read_pointer(out_dir))
    if not live:
        return spark.createDataFrame([], SPANS_OUT_SCHEMA)
    # ONE scan node regardless of attempt count: read every live attempt
    # path in a single multi-path parquet read with basePath so the g/r
    # partition columns surface, then attach the publication order by
    # broadcast-joining the ("g/r", order) table. The key is the attempt,
    # not the run_id: compaction keeps each group's order, so one compact
    # run_id spans groups published at different orders. (One DataFrame
    # per attempt reduced with unionByName would be an O(attempts)-leg
    # plan, driver-slow to analyze at thousands of groups.)
    paths = [group_attempt_path(out_dir, g, r) for g, r, _ in live]
    allp = (
        spark.read.schema(SPANS_OUT_SCHEMA + ", g int, r string")
        .option("basePath", output_path(out_dir))
        .parquet(*paths)
    )
    pub = string_int_df(spark, sorted((f"{g}/{r}", o) for g, r, o in live), "__gr, __pub")
    allp = (
        allp.withColumn("__gr", F.concat_ws("/", F.col("g").cast("string"), "r"))
        .join(F.broadcast(pub), "__gr")
        .drop("g", "r", "__gr")
    )
    payload = [c for c in allp.columns if c not in ("doc_id", "__pub")]
    return (
        allp.groupBy("doc_id")
        .agg(F.max_by(F.struct(*payload), F.col("__pub")).alias("__row"))
        .select("doc_id", "__row.*")
    )


def compact_group_outputs(
    spark: SparkSession,
    out_dir: str,
    run_group: str,
    target_partitions: int = 1,
) -> dict:
    """Small-files hygiene: rewrite each published group into a compacted
    attempt directory and republish it.

    Every group append fans out over all executors, so a long-running table
    accumulates P files per group per run — the classic small-files problem
    at 10^12 rows. Compaction reuses the same stage-then-publish protocol as
    extraction: readers never see a half-written rewrite, and a crash
    mid-compaction leaves the previous publication live. The rewrite holds
    the same rows, so each group keeps the publication order it had:
    compacting an older run_group never makes its rows win over a newer
    run_group's in :func:`committed_spans_latest`."""
    live = _live_attempts(read_pointer(out_dir), run_group)
    if not live:
        return {"run_group": run_group, "groups_compacted": 0, "run_id": None}
    _validate_run_group(run_group)
    compact_id = f"{run_group}-compact-{uuid.uuid4().hex[:8]}"
    groups = [g for g, _, _ in live]

    # Stage: ONE job rewrites every live group. Multi-path read with
    # basePath surfaces the g partition column; repartitioning on (g [,
    # salt]) gives each group target_partitions output files; the same
    # partitionBy(g, r) append used by run_extraction lands each group
    # under spans/g=<g>/r=<compact_id>.
    paths = [group_attempt_path(out_dir, g, r) for g, r, _ in live]
    src = (
        spark.read.schema(SPANS_OUT_SCHEMA + ", g int, r string")
        .option("basePath", output_path(out_dir))
        .parquet(*paths)
        .drop("r")
    )
    if target_partitions > 1:
        salt = F.pmod(F.xxhash64("doc_id"), F.lit(target_partitions))
        src = src.repartition(len(live) * target_partitions, "g", salt)
    else:
        src = src.repartition(len(live), "g")
    write_table(
        src.withColumn("r", F.lit(compact_id)),
        output_path(out_dir),
        mode="append",
        partition_by=("g", "r"),
    )
    for g in groups:
        _ensure_local_dir(group_attempt_path(out_dir, g, compact_id))

    # Publish: one pointer swap makes every rewritten group live at the
    # order it already had. A crash before it leaves the previous
    # publications live (the staged rewrite is an invisible orphan — same
    # contract as extraction).
    def swap_in(p: dict) -> None:
        live_now = p["spans"][run_group]["live"]
        for g in groups:
            live_now[str(g)]["run_id"] = compact_id

    publish(out_dir, swap_in)
    return {
        "run_group": run_group,
        "groups_compacted": len(live),
        "run_id": compact_id,
    }


def vacuum_uncommitted(
    spark: SparkSession, out_dir: str, min_age_s: float = 3600.0
) -> list[str]:
    """Delete staged attempt directories that no publish ever made live
    (crash leftovers) or that a later publish superseded. Driver-side
    filesystem walk; returns the removed paths.

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
    live = {(g, r) for g, r, _ in _live_attempts(read_pointer(out_dir))}
    now = time.time()
    removed = []
    for gdir in sorted(os.listdir(root)):
        if not gdir.startswith("g="):
            continue
        g = int(gdir.split("=", 1)[1])
        for rdir in sorted(os.listdir(os.path.join(root, gdir))):
            if not rdir.startswith("r="):
                continue
            rid = rdir.split("=", 1)[1]
            path = os.path.join(root, gdir, rdir)
            if (g, rid) not in live:
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
    num_groups: int = 4,
    fail_after_group: int | None = None,
    fail_before_publish: int | None = None,
) -> dict:
    """Run (or resume) an extraction over ``input_df`` into ``out_dir``.

    Returns summary stats. Idempotent per (run_group, out_dir): published
    commit-groups are skipped on resume; read results back with
    :func:`committed_spans`, never by globbing the staging directory.

    SINGLE-PASS STAGING: one source scan extracts every pending group and a
    ``partitionBy(g, r)`` write lands each group under its own attempt
    directory ``spans/g=<g>/r=<run_id>`` in the same job, so the source is
    read once however many groups are pending. ONE PUBLISH: after staging
    and the audit append, a single :func:`publish` swap makes every pending
    group live; a crash before it leaves them all as invisible orphans for
    a resume to re-extract.

    Test hooks: ``fail_before_publish=k`` publishes only the pending groups
    below ``k``; ``fail_after_group=k`` publishes the pending groups up to
    the first one at or above ``k``. Either publishes that prefix in the
    same single swap, then raises :class:`SimulatedFailure`; when no
    pending group reaches ``k`` the run completes normally.
    """
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism * 2
    _validate_run_group(run_group)
    run_id = f"{run_group}-{uuid.uuid4().hex[:8]}"
    prior = read_pointer(out_dir)["spans"].get(run_group)
    if prior is not None and prior["num_groups"] != num_groups:
        raise ValueError(
            f"resume with num_groups={num_groups} but {run_group!r} was "
            f"committed with num_groups={prior['num_groups']}; "
            "group membership would change — refusing to resume"
        )
    committed = {int(g) for g in prior["live"]} if prior else set()
    pending = [g for g in range(num_groups) if g not in committed]

    # group assignment is a pure function of (doc_id, num_groups) — identical
    # across runs and cluster sizes (never derived from partition counts)
    group_col = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(num_groups)).cast("int")

    if pending:
        t0 = time.monotonic()
        # ONE scan for all pending groups (a resume prunes the committed
        # ones; on a group-bucketed landing table this predicate
        # partition-prunes instead of filtering)
        src = (
            input_df.filter(~group_col.isin(sorted(committed)))
            if committed
            else input_df
        )
        staged = extract_documents(src, num_partitions).withColumns(
            {"g": group_col, "r": F.lit(run_id)}
        )
        write_table(
            staged, output_path(out_dir), mode="append", partition_by=("g", "r")
        )
        wall_ms = int((time.monotonic() - t0) * 1000)

        attempt_paths = [group_attempt_path(out_dir, g, run_id) for g in pending]
        for p in attempt_paths:
            # a pending group with zero input rows stages no files, but its
            # published path must exist for readers
            _ensure_local_dir(p)

        # attempt-level lineage from the staged files themselves (verifies
        # the write; no persist of the full extraction output needed)
        audit = (
            spark.read.schema(SPANS_OUT_SCHEMA)
            .parquet(*attempt_paths)
            .groupBy("part_id")
            .agg(
                F.count("*").alias("docs"),
                F.sum("n_spans").cast("long").alias("spans"),
                F.sum("n_failures").cast("long").alias("failures"),
            )
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

    published, crash = [], None
    for g in pending:
        if fail_before_publish is not None and g >= fail_before_publish:
            crash = f"simulated kill before publishing group {g}"
            break
        published.append(g)
        if fail_after_group is not None and g >= fail_after_group:
            crash = f"simulated kill after group {g}"
            break
    if published:
        publish(out_dir, lambda p: _make_live(p, run_group, num_groups, published, run_id))
    if crash:
        raise SimulatedFailure(crash)

    return {
        "run_id": run_id,
        "run_group": run_group,
        "groups_total": num_groups,
        "groups_skipped": len(committed),
        "groups_processed": len(published),
        "output": output_path(out_dir),
    }


def _ensure_local_dir(path: str) -> None:
    p = path.removeprefix("file:")
    if "://" not in p:
        os.makedirs(p, exist_ok=True)

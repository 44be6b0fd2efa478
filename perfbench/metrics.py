"""Metric definitions: names, units and the end-to-end metric each
per-layer metric should move. ``BENCHMARK.json`` lists the same names;
``smoke.py`` checks that the two agree.

Every run reports every metric of its kind: an untraced run all of
``END_TO_END``, a traced run all of ``PER_LAYER``. The per-layer metrics
come from a tour of every layer over the workload's own inputs (see
``workloads.tour``), so each of them is measured on each workload.
"""

from __future__ import annotations

import statistics

WORKLOADS = ("ingest", "search")

#: end-to-end metric -> unit
END_TO_END = {
    "setup_s": "s",
    "op_cpu_ms": "ms",
}

KERNEL_KINDS = ("txt", "docx", "pdf", "html", "image", "rtf", "xls", "email", "msg", "uns")
QUERY_CLASSES = ("rare", "common", "phrase", "or_not", "ranked", "browse")

_ING = "op_cpu_ms on ingest (no change on search)"
_SEARCH = "op_cpu_ms on search (no change on ingest)"
_DEDUP = "dedup.job.s in the tour (no change on ingest or search)"

#: per-layer metric -> (unit, span name whose self time the report shows,
#: end-to-end metric it should move, and on which workload)
PER_LAYER: dict[str, tuple[str, str | None, str]] = {
    "session.start_s": ("s", None, "none: session start precedes the set-ups setup_s times"),
    "corpus.build_s": ("s", None, "none: input generation precedes the set-ups setup_s times"),
}
for _k in KERNEL_KINDS:
    PER_LAYER[f"kernels.{_k}.spans_per_s"] = ("spans/s", None, _ING)
PER_LAYER.update(
    {
        "kernels.normalize.spans_per_s": ("spans/s", None, _ING),
        "kernels.busy_s": ("s", None, _ING),
        "pipeline.extract.s": ("s", "probe.pipeline.extract", _ING),
        "pipeline.extract.cpu_s": ("s", "probe.pipeline.extract", _ING),
        "pipeline.extract.shuffle_write_bytes": ("bytes", "probe.pipeline.extract", _ING),
        "pipeline.extract.task_max_over_median": ("ratio", "probe.pipeline.extract", _ING),
        "pipeline.checkpoint.s": ("s", "pipeline.checkpoint.run_extraction", _ING),
        "pipeline.checkpoint.update_s": ("s", "pipeline.checkpoint.run_extraction", _ING),
        "pipeline.checkpoint.jobs": ("count", "pipeline.checkpoint.run_extraction", _ING),
        "pipeline.checkpoint.files_written": ("count", None, _ING),
        "pipeline.checkpoint.update_files_written": ("count", None, _ING),
        "pipeline.checkpoint.latest_s": ("s", "probe.pipeline.checkpoint.latest", _ING),
        "store.ingest.s": ("s", "store.ingest", _ING),
        "store.ingest.update_s": ("s", "store.ingest", _ING),
        "store.content.s": ("s", "tables.write_table", _ING),
        "store.postings.s": ("s", "tables.write_table", _ING),
        "store.rebuilt_per_ingested": ("ratio", None, _ING),
        "store.postings_rows": ("count", None, "op_cpu_ms on ingest and search"),
        "store.postings_bytes": ("bytes", None, "op_cpu_ms on ingest and search"),
    }
)
for _c in QUERY_CLASSES:
    PER_LAYER[f"search.{_c}.count_ms"] = ("ms", "store.search", _SEARCH)
    PER_LAYER[f"search.{_c}.topk_ms"] = ("ms", "search.engine.items", _SEARCH)
PER_LAYER.update(
    {
        "search.jobs_per_query": ("count", "store.search", _SEARCH),
        "search.scored_per_returned": ("ratio", None, _SEARCH),
        "dedup.job.s": ("s", "ops.dedup.near_dedup_cc", "none: dedup runs only in the traced tour"),
        "dedup.minhash.s": ("s", "probe.dedup.minhash", _DEDUP),
        "dedup.candidates.s": ("s", "probe.dedup.candidates", _DEDUP),
        "dedup.candidates": ("count", None, _DEDUP),
        "dedup.verify.s": ("s", "probe.dedup.verify", _DEDUP),
        "dedup.verified": ("count", None, _DEDUP),
        "dedup.verify_yield": ("ratio", None, _DEDUP),
        "dedup.cc.s": ("s", "probe.dedup.cc", _DEDUP),
        "dedup.cc.jobs": ("count", "probe.dedup.cc", _DEDUP),
        "dedup.shuffle_write_bytes": ("bytes", "ops.dedup.near_dedup_cc", _DEDUP),
        "trace.overhead": ("ratio", None, "share of the traced pass spent opening and closing spans"),
        "trace.coverage": ("ratio", None, "share of the traced timed pass inside program-layer spans"),
    }
)


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


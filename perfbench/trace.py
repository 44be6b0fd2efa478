"""Tracing and process measurement for the benchmark.

Three measurement sources, all outside the program under test:

* :class:`ProcTree` reads ``/proc`` for the benchmark's process tree
  (driver Python, the Spark JVM and its Python workers): summed RSS and
  summed CPU seconds, including reaped children.
* :class:`Tracer` records spans around calls into ``ocr_search_spark``
  from wrappers the benchmark installs (:meth:`Tracer.install`). Each span
  also becomes the Spark job group while it is open, so jobs and task
  counters in the Spark event log can be attributed to the innermost span.
* :func:`read_event_log` turns a Spark event log into per-job-group job
  counts and task counters.

Untraced runs construct no :class:`Tracer`, install no wrappers and leave
the event log off.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


class ProcTree:
    """Summed RSS and CPU time of ``root_pid`` and all its descendants."""

    def __init__(self, root_pid: int | None = None) -> None:
        self.root = root_pid or os.getpid()

    @staticmethod
    def _stat(pid: int) -> list[str] | None:
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                raw = f.read().decode()
        except OSError:
            return None
        # the command name may contain spaces; fields resume after ')'
        return raw[raw.rfind(")") + 2 :].split()

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            st = self._stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def rss_bytes(self) -> int:
        total = 0
        for pid in self.pids():
            st = self._stat(pid)
            if st is not None:
                total += int(st[21]) * _PAGE
        return total

    def cpu_s(self) -> float:
        """utime+stime of every live process in the tree plus the reaped
        children each one has accounted (cutime+cstime)."""
        ticks = 0
        for pid in self.pids():
            st = self._stat(pid)
            if st is not None:
                ticks += int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
        return ticks / _CLK_TCK


class PeakRss:
    """Background sampler of the process tree's summed RSS."""

    def __init__(self, tree: ProcTree, interval_s: float = 1.0) -> None:
        self.tree = tree
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.tree.rss_bytes())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, self.tree.rss_bytes())


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    cpu_start: float = 0.0
    cpu_end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder that also drives the Spark job group."""

    def __init__(self, spark, tree: ProcTree) -> None:
        self.sc = spark.sparkContext
        self.tree = tree
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self.enabled = False
        #: wall seconds spent opening and closing spans: the tracing overhead
        self.cost_s = 0.0

    # ---- spans -------------------------------------------------------
    def span(self, name: str, op: int | None = None, **attrs):
        return _SpanCtx(self, name, op, attrs)

    def _open(self, name: str, op: int | None, attrs: dict) -> Span | None:
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=len(self.spans),
            name=name,
            parent=parent.id if parent else None,
            op=op if op is not None else (parent.op if parent else None),
            start=time.perf_counter(),
            cpu_start=self.tree.cpu_s(),
            attrs=dict(attrs),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setLocalProperty("spark.jobGroup.id", f"span-{sp.id}")
        sp.start = time.perf_counter()
        self.cost_s += sp.start - t0
        return sp

    def _close(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.end = time.perf_counter()
        sp.cpu_end = self.tree.cpu_s()
        self._stack.pop()
        parent = self._stack[-1] if self._stack else None
        self.sc.setLocalProperty(
            "spark.jobGroup.id", f"span-{parent.id}" if parent else None
        )
        self.cost_s += time.perf_counter() - sp.end

    # ---- wrappers ----------------------------------------------------
    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper."""
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        traced.__wrapped__ = original
        setattr(owner, attr, traced)
        self._patched.append((owner, attr, original))

    def install(self) -> None:
        """Wrap the public functions on the ingest, search and dedup paths,
        at the names their callers look them up by."""
        from ocr_search_spark import store
        from ocr_search_spark.ops import dedup
        from ocr_search_spark.pipeline import checkpoint

        self.wrap(store.DocumentStore, "ingest", "store.ingest")
        self.wrap(store.DocumentStore, "search", "store.search")
        self.wrap(store, "run_extraction", "pipeline.checkpoint.run_extraction")
        self.wrap(store, "committed_spans_latest", "pipeline.checkpoint.committed_spans_latest")
        self.wrap(store, "write_table", "tables.write_table")
        self.wrap(store, "build_postings", "search.engine.build_postings")
        self.wrap(store, "search_documents", "search.engine.search_documents")
        self.wrap(checkpoint, "extract_documents", "pipeline.extract.extract_documents")
        for fn in (
            "minhash_signatures",
            "lsh_candidate_pairs",
            "verified_near_dup_pairs",
            "connected_components_labels",
            "near_dedup_cc",
        ):
            self.wrap(dedup, fn, f"ops.dedup.{fn}")
        self.enabled = True

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()
        self.enabled = False

    # ---- analysis ----------------------------------------------------
    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                out.setdefault(sp.parent, []).append(sp)
        return out

    def self_time(self, sp: Span, children: dict[int, list[Span]]) -> float:
        """Duration minus the union of the intervals its children cover."""
        return sp.duration - _union_length(
            [(c.start, c.end) for c in children.get(sp.id, ())], sp.start, sp.end
        )

    def subtree(self, sp: Span, children: dict[int, list[Span]]) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(children.get(s.id, ()))
        return out

    def dump(self, path: str, extra: dict) -> None:
        kids = self.children()
        rows = [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "op": s.op,
                "start": s.start,
                "end": s.end,
                "self_s": self.self_time(s, kids),
                "cpu_s": s.cpu_end - s.cpu_start,
                **s.attrs,
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows, **extra}, f, indent=1, default=str)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op: int | None, attrs: dict) -> None:
        self.tracer, self.name, self.op, self.attrs = tracer, name, op, attrs
        self.span: Span | None = None

    def __enter__(self) -> Span | None:
        self.span = self.tracer._open(self.name, self.op, self.attrs)
        return self.span

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.span)


def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def coverage(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Share of the wall interval [lo, hi] that the given spans cover."""
    return _union_length(spans, lo, hi) / (hi - lo) if hi > lo else 0.0


@dataclass
class GroupCounters:
    jobs: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_times_by_stage: dict = field(default_factory=dict)


def read_event_log(path: str) -> dict[str, GroupCounters]:
    """Job count and task counters per Spark job group from an event log."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupCounters] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                out.setdefault(group, GroupCounters()).jobs += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"), "")
                c = out.setdefault(group, GroupCounters())
                m = ev.get("Task Metrics") or {}
                c.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                c.gc_s += m.get("JVM GC Time", 0) / 1e3
                c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                c.task_times_by_stage.setdefault(ev["Stage ID"], []).append(
                    m.get("Executor Run Time", 0) / 1e3
                )
    return out


def sum_counters(groups: dict[str, GroupCounters], span_ids) -> GroupCounters:
    total = GroupCounters()
    for sid in span_ids:
        c = groups.get(f"span-{sid}")
        if c is None:
            continue
        total.jobs += c.jobs
        total.cpu_s += c.cpu_s
        total.gc_s += c.gc_s
        total.shuffle_write_bytes += c.shuffle_write_bytes
        total.spill_bytes += c.spill_bytes
        for st, times in c.task_times_by_stage.items():
            total.task_times_by_stage.setdefault(st, []).extend(times)
    return total

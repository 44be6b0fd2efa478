"""The two workloads (set-up, timed closed loop, correctness checks) and the
tour of every layer that a traced run adds.

Each workload runs one closed-loop client: the next operation starts when
the previous one has returned. An untraced run times one pass of
``--seconds``. A traced run times an untraced pass and then a traced pass
of ``--seconds / 2`` each over the same operations, so the tracing
overhead is measured inside one process, and then tours every layer over
the workload's own inputs (:func:`tour`).
"""

from __future__ import annotations

import glob
import itertools
import os
import random
import re
import sys
import time
import traceback
from dataclasses import dataclass, field

import pandas as pd

from ocr_search_spark.ops import dedup
from ocr_search_spark.pipeline import checkpoint
from ocr_search_spark.store import DocumentStore

from . import inputs
from .metrics import KERNEL_KINDS, QUERY_CLASSES, median
from .trace import PeakRss, ProcTree, Tracer, coverage, read_event_log, sum_counters

#: set-ups per run; ``setup_s`` is their median, so the first set-up in the
#: process, which also pays JVM and Python-worker warm-up, does not set it
SETUP_REPS = 3
#: documents per workload at ``--scale 1``
INGEST_DOCS = 1000
STORE_DOCS = 600
WARM_DOCS = 200


@dataclass
class Run:
    spark: object
    cores: int
    work: str
    seed: int
    scale: float
    seconds: float
    tree: ProcTree
    t_start: float
    tracer: Tracer | None = None
    attempted: int = 0
    failed: int = 0
    setup_s: float = 0.0
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    report: dict = field(default_factory=dict)
    _ops: int = 0

    def mark(self, phase: str) -> None:
        """Record the time since process start at the end of a phase."""
        self.report.setdefault("marks_s", {})[phase] = round(
            time.perf_counter() - self.t_start, 3
        )

    def n(self, base: int, floor: int = 20) -> int:
        return max(floor, int(base * self.scale))

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def read(self, path: str):
        return self.spark.read.parquet(path)

    def attempt(self, fn):
        """One operation: counted, and a raise counts as a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None

    def setup(self, step):
        """Run the workload's set-up ``step`` ``SETUP_REPS`` times; the
        median of their process-tree CPU seconds is ``setup_s``. Returns the
        last step's result."""
        times, cpu = [], []
        for _ in range(SETUP_REPS):
            t0, c0 = time.perf_counter(), self.tree.cpu_s()
            out = step()
            times.append(time.perf_counter() - t0)
            cpu.append(self.tree.cpu_s() - c0)
        self.setup_s = median(cpu)
        self.report["setups_wall_s"] = [round(t, 3) for t in times]
        self.report["setups_cpu_s"] = [round(t, 2) for t in cpu]
        self.mark("setup")
        return out

    def op_span(self, name: str, traced: bool):
        self._ops += 1
        if traced and self.tracer is not None:
            return self.tracer.span(name, op=self._ops)
        return _NoSpan()

    def timed(self, body) -> tuple[list, list]:
        """Closed loop of steps ``body(i, traced)`` for ``seconds`` (two
        halves in a traced run), at least one step. Returns the untraced and
        the traced steps' results, each with its ``wall_s`` and the process
        tree's ``cpu_s``."""
        passes = [False] if self.tracer is None else [False, True]
        budget = self.seconds / len(passes)
        out: dict[bool, list] = {False: [], True: []}
        with PeakRss(self.tree) as rss:
            for traced in passes:
                if traced:
                    self.tracer.install()
                    cost0 = self.tracer.cost_s
                t0 = time.perf_counter()
                i = 0
                # start another operation only if it is expected to end
                # within the budget, so the operation count stays the same
                # from run to run
                while i < 1 or (time.perf_counter() - t0) * (i + 1) / i <= budget:
                    w0, c0 = time.perf_counter(), self.tree.cpu_s()
                    step = body(i, traced)
                    step["wall_s"] = time.perf_counter() - w0
                    step["cpu_s"] = self.tree.cpu_s() - c0
                    out[traced].append(step)
                    i += 1
                if traced:
                    self.report["traced_window"] = (t0, time.perf_counter())
                    self.report["trace_cost_s"] = self.tracer.cost_s - cost0
                    self.tracer.uninstall()
        self.report["peak_rss_mb"] = rss.peak / 2**20
        self.mark("timed")
        return out[False], out[True]

    def finish_timed(self, untraced: list, traced: list, ops_per_step: int) -> None:
        """``op_cpu_ms`` (and the wall ``op_ms`` for the report) from the
        untraced steps and, in a traced run, the tracing overhead and
        coverage of the timed passes."""
        self.e2e["op_cpu_ms"] = median(r["cpu_s"] for r in untraced) / ops_per_step * 1e3
        self.report["op_ms"] = median(r["wall_s"] for r in untraced) / ops_per_step * 1e3
        self.report["steps"] = [
            {"wall_s": round(r["wall_s"], 3), "cpu_s": round(r["cpu_s"], 2)} for r in untraced
        ]
        if self.tracer is None:
            return
        # the two passes send the same operations from the start, so their
        # common prefix compares like with like; the traced pass runs second
        # and so warmer, which is why the overhead metric is the time spent
        # opening and closing spans instead
        k = min(len(untraced), len(traced))
        u = sum(r["wall_s"] for r in untraced[:k])
        t = sum(r["wall_s"] for r in traced[:k])
        self.report["traced_over_untraced"] = t / u if u else 0.0
        lo, hi = self.report.pop("traced_window")
        self.layer["trace.overhead"] = self.report.pop("trace_cost_s") / (hi - lo)
        spans = [(s.start, s.end) for s in self.tracer.spans if not s.name.startswith("op.")]
        self.layer["trace.coverage"] = coverage(spans, lo, hi)


class _NoSpan:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return None


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _inputs(run: Run, n: int) -> tuple[list[dict], list[dict], list[dict]]:
    """The seed's bulk documents and update batch, written as the tables
    ``in/bulk`` and ``in/update``. Returns ``(bulk, update, reused)``."""
    t0 = time.perf_counter()
    base = inputs.base_texts(run.seed, 2000)
    bulk = inputs.documents(run.seed, 0, n, base)
    update, reused = inputs.update_batch(run.seed, bulk, base)
    inputs.write_docs(bulk, run.path("in", "bulk"), run.cores)
    inputs.write_docs(update, run.path("in", "update"), run.cores)
    run.layer["corpus.build_s"] = time.perf_counter() - t0
    run.report["sizes"] = {
        "bulk_docs": len(bulk),
        "bulk_spans": sum(len(d["spans"]) for d in bulk),
        "update_docs": len(update),
    }
    run.mark("inputs")
    return bulk, update, reused


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


def ingest(run: Run) -> None:
    bulk, update, reused = _inputs(run, run.n(INGEST_DOCS))
    base = inputs.base_texts(run.seed, 2000)
    warm = inputs.documents(run.seed, inputs.WINDOW // 4, run.n(WARM_DOCS), base)
    inputs.write_docs(warm, run.path("in", "warm"), run.cores)
    names = itertools.count()

    def setup() -> DocumentStore:
        """A bulk ingest of the warm-up documents into an empty store."""
        store = DocumentStore(run.spark, run.path("stores", f"setup{next(names)}"))
        store.ingest(run.read(run.path("in", "warm")), run_group="bulk")
        return store

    run.setup(setup)

    def cycle(i: int, traced: bool) -> dict:
        """One operation: a bulk ingest into an empty store, then the
        update batch into the same store."""
        store = DocumentStore(run.spark, run.path("stores", f"{'t' if traced else 'u'}{i}"))
        out = {"store": store, "ok": False}
        with run.op_span("op.ingest", traced):
            walls = []
            for phase in ("bulk", "update"):
                p0 = time.perf_counter()
                with run.tracer.span(f"phase.{phase}") if traced else _NoSpan():
                    ok = run.attempt(
                        lambda: store.ingest(run.read(run.path("in", phase)), run_group=phase)
                    )
                if ok is None:
                    return out
                walls.append(time.perf_counter() - p0)
            out["bulk_s"], out["update_s"] = walls
            out["ok"] = True
        return out

    untraced, traced = run.timed(cycle)

    expected, want = _expected_spans(run, bulk, update, reused)
    for c in untraced + traced:
        if c["ok"] and not _ingest_store_ok(run, c["store"], expected, want):
            run.failed += 2
    run.mark("checked")
    run.finish_timed(untraced, traced, 1)
    ok = [c for c in untraced if c["ok"]]
    # wall-time throughputs, for the report on standard error
    sizes = run.report["sizes"]
    run.report["throughput"] = {
        "ingest_docs_per_s": median(sizes["bulk_docs"] / c["bulk_s"] for c in ok),
        "ingest_spans_per_s": median(sizes["bulk_spans"] / c["bulk_s"] for c in ok),
        "update_docs_per_s": median(sizes["update_docs"] / c["update_s"] for c in ok),
    }
    if run.tracer is not None:
        tour(run, bulk, update, traced[-1]["store"])


def _expected_spans(run: Run, bulk, update, reused) -> tuple[dict, dict]:
    """Every document's latest input spans, and the reference extraction of
    a seeded sample of 300 of them, 100 of which the update re-ingested."""
    from ocr_search_spark.kernels.reference_impl import extract_document_spans

    expected = {d["doc_id"]: d["spans"] for d in bulk}
    expected.update({d["doc_id"]: d["spans"] for d in update})
    rng = random.Random(f"check:{run.seed}")
    sample = rng.sample([d["doc_id"] for d in reused], min(100, len(reused)))
    sample += rng.sample(sorted(expected), min(200, len(expected)))
    return expected, {d: extract_document_spans(expected[d]) for d in set(sample)}


def _ingest_store_ok(run: Run, store: DocumentStore, expected: dict, want: dict) -> bool:
    """The store holds each document once, and the sampled documents carry
    exactly the reference extraction of their latest input spans."""
    content = run.read(store.content_path)
    if content.count() != len(expected) or content.select("doc_id").distinct().count() != len(
        expected
    ):
        print(f"ingest check: content rows differ in {store.root}", file=sys.stderr)
        return False
    from ocr_search_spark.localrel import strings_df

    ids = strings_df(run.spark, sorted(want), "doc_id")
    got = {
        r.doc_id: [s.asDict() for s in r.spans]
        for r in checkpoint.committed_spans_latest(run.spark, store.root)
        .join(ids, "doc_id", "left_semi")
        .select("doc_id", "spans")
        .collect()
    }
    bad = [d for d, spans in want.items() if got.get(d) != spans]
    if bad:
        print(f"ingest check: {len(bad)} sampled docs differ, e.g. {bad[0]}", file=sys.stderr)
    return not bad


# ---------------------------------------------------------------------------
# search
# ---------------------------------------------------------------------------

#: query rounds drawn per run: one for the set-up query, the rest for the
#: timed loop
ROUNDS = 5


def _query_rounds(run: Run, store: DocumentStore) -> list[list[dict]]:
    """``ROUNDS`` rounds of one query per class, drawn with the seed from
    the store's own postings vocabulary by document frequency."""
    from pyspark.sql import functions as F

    from ocr_search_spark.localrel import strings_df

    rng = random.Random(f"queries:{run.seed}")
    postings = run.read(store.postings_path)
    dfs = {
        r.term: r.df
        for r in postings.groupBy("term").agg(F.count("*").alias("df")).collect()
    }
    n_docs = run.read(store.content_path).count()
    by_df = sorted(dfs, key=lambda t: (-dfs[t], t))
    common = by_df[:12]

    def band(lo: float, hi: float) -> list[str]:
        """Terms whose document frequency is within [lo, hi] of the store;
        the bands keep each class's hit count similar from seed to seed."""
        out = [t for t in by_df if lo * n_docs <= dfs[t] <= hi * n_docs]
        return out or by_df[12:40]

    mid = band(0.02, 0.06)
    upper = band(0.10, 0.25)
    rare_cut = max(2, n_docs // 200)

    doc_ids = sorted(r.doc_id for r in postings.select("doc_id").distinct().collect())
    picked = rng.sample(doc_ids, min(40, len(doc_ids)))
    toks: dict[str, dict[int, str]] = {d: {} for d in picked}
    for r in (
        postings.join(strings_df(run.spark, picked, "doc_id"), "doc_id", "left_semi")
        .select("doc_id", "term", "positions")
        .collect()
    ):
        for p in r.positions:
            toks[r.doc_id][p] = r.term
    seqs = [[t[p] for p in sorted(t)] for t in toks.values() if len(t) >= 4]

    def draw(cls: str, round_no: int) -> dict:
        q: dict = {"cls": cls, "q": "", "kw": {}}
        if cls == "rare":
            seq = rng.choice(seqs)
            terms = sorted(set(seq), key=lambda t: (dfs.get(t, 0), t))
            rare = [t for t in terms if dfs.get(t, 0) <= rare_cut] or terms
            q["q"] = " ".join(rng.sample(rare[:6], min(2, len(rare[:6]))))
        elif cls == "common":
            q["q"] = " ".join(rng.sample(common, 2))
        elif cls == "phrase":
            # anchored on a token of the mid band or rarer, so the phrase
            # matches a few docs rather than most of the store
            seq = rng.choice(seqs)
            k = rng.choice((2, 3))
            starts = [
                p for p in range(len(seq) - k + 1)
                if min(dfs.get(t, 0) for t in seq[p : p + k]) <= 0.06 * n_docs
            ] or list(range(len(seq) - k + 1))
            p = rng.choice(starts)
            q["q"] = '"' + " ".join(seq[p : p + k]) + '"'
        elif cls == "or_not":
            a, b = rng.sample(mid, 2)
            q["q"] = f"{a} or {b} -{rng.choice(upper)}"
        elif cls == "ranked":
            q["q"] = f"{rng.choice(mid)} {rng.choice(common)}"
            q["kw"] = {"rank_mode": "cd" if round_no % 2 == 0 else "bm25"}
        return q

    return [[draw(cls, r) for cls in QUERY_CLASSES] for r in range(ROUNDS)]


def search(run: Run) -> None:
    bulk, update, _ = _inputs(run, run.n(STORE_DOCS))
    # the store is pre-built once: building it is an ingest, which the
    # ingest workload times
    root = run.path("stores", "search")
    DocumentStore(run.spark, root).ingest(run.read(run.path("in", "bulk")), run_group="bulk")
    run.mark("store")
    rounds = _query_rounds(run, DocumentStore(run.spark, root))
    setup_query, timed_rounds = rounds[0][0], rounds[1:]

    def setup() -> DocumentStore:
        """Open the pre-built store and answer its first query."""
        store = DocumentStore(run.spark, root)
        store.search(setup_query["q"], **setup_query["kw"])["items"].collect()
        return store

    store = run.setup(setup)

    def ask(q: dict, traced: bool) -> dict:
        t0 = time.perf_counter()
        res = store.search(q["q"], **q["kw"])
        with run.tracer.span("search.engine.items") if traced else _NoSpan():
            items = res["items"].collect()
        wall = time.perf_counter() - t0
        return {"total": res["total"], "ids": [r.doc_id for r in items], "wall_s": wall}

    def one_round(i: int, traced: bool) -> dict:
        """One operation per query; the loop runs whole rounds, so every
        run sends each class the same number of times."""
        k = i % len(timed_rounds)
        sent = []
        for c, q in enumerate(timed_rounds[k]):
            with run.op_span(f"op.search.{q['cls']}", traced) as sp:
                got = run.attempt(lambda: ask(q, traced))
                if sp is not None and got is not None:
                    sp.attrs.update(total=got["total"], returned=len(got["ids"]))
            sent.append(((k, c), got))
        return {"sent": sent}

    untraced, traced = run.timed(one_round)

    # correctness: each query's total and top-k ids equal the non-postings
    # path, which tokenises the stored content instead of reading postings
    from ocr_search_spark.search.engine import search_documents

    content = run.read(store.content_path)
    sent = [x for r in untraced + traced for x in r["sent"]]
    oracle = {}
    for k, c in sorted({key for key, _ in sent}):
        q = timed_rounds[k][c]
        res = search_documents(content, q["q"], postings=None, **q["kw"])
        oracle[k, c] = (res["total"], [r.doc_id for r in res["items"].collect()])
    for key, got in sent:
        if got is not None and (got["total"], got["ids"]) != oracle[key]:
            run.failed += 1
            print(f"search check: {timed_rounds[key[0]][key[1]]} differs", file=sys.stderr)
    run.mark("checked")

    run.finish_timed(untraced, traced, len(QUERY_CLASSES))
    lat: dict[str, list[float]] = {cls: [] for cls in QUERY_CLASSES}
    for r in untraced:
        for (k, c), got in r["sent"]:
            if got is not None:
                lat[QUERY_CLASSES[c]].append(round(got["wall_s"] * 1e3, 1))
    run.report["latency_ms"] = lat
    run.report["queries"] = [
        {**timed_rounds[k][c], "total": oracle[k, c][0]} for k, c in sorted(oracle)
    ]
    if run.tracer is not None:
        tour(run, bulk, update, None)


WORKLOADS = {"ingest": ingest, "search": search}


# ---------------------------------------------------------------------------
# the tour of every layer (traced runs)
# ---------------------------------------------------------------------------

_DEDUP_ARGS = dict(threshold=0.3, n_hashes=8, band_size=2)


def tour(run: Run, bulk: list[dict], update: list[dict], store: DocumentStore | None) -> None:
    """Measure every layer over the workload's own inputs, tracing on: the
    kernels in-process, ``extract_documents``, ``committed_spans_latest``,
    and ``near_dedup_cc`` and its stages over the store's content with
    planted near-duplicates. The ingest and the queries of the traced pass
    serve as their layers' samples; a workload without them (``store`` is
    None, or no query was traced) gets a bulk and an update ingest into a
    fresh store, or one query of each class against the store."""
    _kernel_probe(run, bulk)
    tr = run.tracer
    tr.install()
    try:
        with tr.span("probe.pipeline.extract") as sp:
            from ocr_search_spark.pipeline.extract import extract_documents

            _noop(extract_documents(run.read(run.path("in", "bulk"))))
        run.report["spans"] = {"extract": sp.id}
        if store is None:
            store = DocumentStore(run.spark, run.path("stores", "tour"))
            for phase in ("bulk", "update"):
                with tr.span(f"phase.{phase}"):
                    store.ingest(run.read(run.path("in", phase)), run_group=phase)
        with tr.span("probe.pipeline.checkpoint.latest"):
            _noop(checkpoint.committed_spans_latest(run.spark, store.root))
        if not any(s.name.startswith("op.search.") for s in tr.spans):
            for q in _query_rounds(run, store)[0]:
                with tr.span(f"op.search.{q['cls']}") as sp:
                    res = store.search(q["q"], **q["kw"])
                    with tr.span("search.engine.items"):
                        sp.attrs.update(total=res["total"], returned=len(res["items"].collect()))
        _dedup_tour(run, store, bulk + update)
    finally:
        tr.uninstall()
    run.mark("tour")
    # every non-empty query scores all its matches
    queries = [
        s for s in tr.spans
        if s.name.startswith("op.search.") and s.name != "op.search.browse"
    ]
    returned = sum(s.attrs.get("returned", 0) for s in queries)
    run.layer["search.scored_per_returned"] = (
        sum(s.attrs.get("total", 0) for s in queries) / returned if returned else 0.0
    )

    kids = tr.children()

    def within(parent: str, name: str) -> list:
        return [
            c
            for p in tr.spans
            if p.name == parent
            for c in tr.subtree(p, kids)
            if c.name == name
        ]

    def first(parent: str, name: str, k: int = 0) -> float:
        found = within(parent, name)
        return found[k].duration if len(found) > k else 0.0

    run.layer.update(
        {
            "store.ingest.s": first("phase.bulk", "store.ingest"),
            "store.ingest.update_s": first("phase.update", "store.ingest"),
            "pipeline.checkpoint.s": first("phase.bulk", "pipeline.checkpoint.run_extraction"),
            "pipeline.checkpoint.update_s": first(
                "phase.update", "pipeline.checkpoint.run_extraction"
            ),
            "pipeline.checkpoint.latest_s": first(
                "probe.pipeline.checkpoint.latest", "probe.pipeline.checkpoint.latest"
            ),
            "store.content.s": first("phase.update", "tables.write_table", 0),
            "store.postings.s": first("phase.update", "tables.write_table", 1),
            "store.rebuilt_per_ingested": run.read(store.content_path).count() / len(update),
            "store.postings_rows": float(run.read(store.postings_path).count()),
            "store.postings_bytes": float(
                sum(os.path.getsize(p) for p in glob.glob(f"{store.postings_path}/*.parquet"))
            ),
            "pipeline.checkpoint.files_written": float(_staged_files(store.root, "bulk")),
            "pipeline.checkpoint.update_files_written": float(
                _staged_files(store.root, "update")
            ),
        }
    )
    for cls in QUERY_CLASSES:
        run.layer[f"search.{cls}.count_ms"] = first(f"op.search.{cls}", "store.search") * 1e3
        run.layer[f"search.{cls}.topk_ms"] = first(f"op.search.{cls}", "search.engine.items") * 1e3
    for stage in ("job", "minhash", "candidates", "verify", "cc"):
        run.layer[f"dedup.{stage}.s"] = first(f"probe.dedup.{stage}", f"probe.dedup.{stage}")


def _staged_files(root: str, run_group: str) -> int:
    return len(glob.glob(f"{checkpoint.output_path(root)}/g=*/r={run_group}-*/*.parquet"))


def _dedup_tour(run: Run, store: DocumentStore, docs: list[dict]) -> None:
    """``near_dedup_cc`` over the store's content plus planted
    near-duplicates, checked against the DuckDB twin, then each public
    stage materialised on its own."""
    tr = run.tracer
    # the giant-PDF tail stays out: the DuckDB twin re-tokenises a document
    # once per shingle, so its cost grows with length squared
    giants = {d["doc_id"] for d in docs if inputs.is_giant(d)}
    content = run.read(store.content_path).select("doc_id", "content").toPandas()
    rows = sorted(
        (r.doc_id, r.content) for r in content.itertuples() if r.doc_id not in giants
    )
    rows = inputs.plant_near_duplicates(run.seed, rows, pair_share=0.25, cluster_share=0.01)
    path = run.path("in", "dedup")
    os.makedirs(path)
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        f"{path}/part-00000.parquet", index=False
    )
    frame = run.read(path)

    def job() -> set[str]:
        with tr.span("probe.dedup.job"):
            survivors = dedup.near_dedup_cc(frame, "doc_id", "text", **_DEDUP_ARGS)
            return {r.doc_id for r in survivors.select("doc_id").collect()}

    got = run.attempt(job)
    if got is not None and got != _dedup_oracle(path):
        run.failed += 1
        print("dedup check: survivors differ from the DuckDB twin", file=sys.stderr)

    # a persisted stage is reused by the next one through Spark's cache, so
    # each span holds only its own stage's work
    cached = []
    try:
        with tr.span("probe.dedup.minhash"):
            sig = dedup.minhash_signatures(frame, "doc_id", "text", 8, 3).persist()
            cached.append(sig)
            sig.count()
        with tr.span("probe.dedup.candidates"):
            cand = dedup.lsh_candidate_pairs(sig, 8, 2).persist()
            cached.append(cand)
            n_cand = cand.count()
        with tr.span("probe.dedup.verify"):
            ver = dedup.verified_near_dup_pairs(frame, "doc_id", "text", **_DEDUP_ARGS).persist()
            cached.append(ver)
            n_ver = ver.count()
        with tr.span("probe.dedup.cc"):
            dedup.connected_components_labels(ver).count()
    finally:
        for df in cached:
            df.unpersist()
    run.layer.update(
        {
            "dedup.candidates": float(n_cand),
            "dedup.verified": float(n_ver),
            "dedup.verify_yield": n_ver / n_cand if n_cand else 0.0,
        }
    )
    run.report["sizes"]["dedup_rows"] = len(rows)


def _dedup_oracle(path: str) -> set[str]:
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')")
        sql = entry._near_dedup_cc_oracle_sql(_DEDUP_ARGS["threshold"])
        # DuckDB inlines a CTE at every reference; materialising the
        # non-recursive ones evaluates each once and changes no result
        sql = re.sub(r"\b(sh|sig|bands|cand|ver|edges) AS \(", r"\1 AS MATERIALIZED (", sql)
        return {r[0] for r in con.execute(sql).fetchall()}
    finally:
        con.close()


def _kernel_probe(run: Run, bulk: list[dict]) -> None:
    """Single-core, in-process kernel rates over the bulk spans."""
    from ocr_search_spark.kernels import dispatch

    flat = pd.DataFrame(
        [(s["kind"], s["text"], s["media_ref"]) for d in bulk for s in d["spans"]],
        columns=["kind", "text", "media_ref"],
    )
    raw_parts = []
    real_normalize = dispatch.normalize_series
    dispatch.normalize_series = lambda s: s
    try:
        for kind in KERNEL_KINDS:
            part = flat[flat["kind"] == kind]
            times = []
            for _ in range(3):
                t0 = time.perf_counter()
                raw, _failed = dispatch.extract_texts(part["kind"], part["text"], part["media_ref"])
                times.append(time.perf_counter() - t0)
            raw_parts.append(raw)
            t = median(times)
            run.layer[f"kernels.{kind}.spans_per_s"] = len(part) / t if len(part) and t else 0.0
    finally:
        dispatch.normalize_series = real_normalize
    raw_all = pd.concat(raw_parts)
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        dispatch.normalize_series(raw_all)
        times.append(time.perf_counter() - t0)
    run.layer["kernels.normalize.spans_per_s"] = len(raw_all) / median(times)
    batch = 2048
    c0 = time.process_time()
    for k in range(0, len(flat), batch):
        part = flat.iloc[k : k + batch]
        dispatch.extract_texts(part["kind"], part["text"], part["media_ref"])
    run.layer["kernels.busy_s"] = time.process_time() - c0


# ---------------------------------------------------------------------------
# counters from the event log (read after the session has stopped)
# ---------------------------------------------------------------------------


def event_log_metrics(run: Run, event_log: str) -> None:
    groups = read_event_log(event_log)
    tr = run.tracer
    kids = tr.children()

    def counters(spans):
        return sum_counters(groups, [x.id for s in spans for x in tr.subtree(s, kids)])

    def named(name: str) -> list:
        return [s for s in tr.spans if s.name == name]

    bulk = named("phase.bulk")[:1]
    run.layer["pipeline.checkpoint.jobs"] = float(
        counters(
            [c for s in bulk for c in tr.subtree(s, kids)
             if c.name == "pipeline.checkpoint.run_extraction"]
        ).jobs
    )
    ext = tr.spans[run.report.pop("spans")["extract"]]
    c = counters([ext])
    run.layer["pipeline.extract.s"] = ext.duration
    run.layer["pipeline.extract.cpu_s"] = ext.cpu_end - ext.cpu_start
    run.layer["pipeline.extract.shuffle_write_bytes"] = float(c.shuffle_write_bytes)
    # skew of the kernel stage: the last stage holds the mapInArrow tasks
    if c.task_times_by_stage:
        times = c.task_times_by_stage[max(c.task_times_by_stage)]
        med = median(times)
        run.layer["pipeline.extract.task_max_over_median"] = max(times) / med if med else 0.0
    queries = [s for cls in QUERY_CLASSES for s in named(f"op.search.{cls}")]
    run.layer["search.jobs_per_query"] = (
        counters(queries).jobs / len(queries) if queries else 0.0
    )
    run.layer["dedup.shuffle_write_bytes"] = float(
        counters(named("probe.dedup.job")).shuffle_write_bytes
    )
    run.layer["dedup.cc.jobs"] = float(counters(named("probe.dedup.cc")).jobs)

    # per span name: self time and the Spark counters of its own jobs
    per_name: dict[str, dict] = {}
    for s in tr.spans:
        c = sum_counters(groups, [s.id])
        row = per_name.setdefault(
            s.name,
            {"n": 0, "wall_s": [], "self_s": [], "jobs": 0, "task_cpu_s": 0.0,
             "gc_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0},
        )
        row["n"] += 1
        row["wall_s"].append(s.duration)
        row["self_s"].append(tr.self_time(s, kids))
        row["jobs"] += c.jobs
        row["task_cpu_s"] += c.cpu_s
        row["gc_s"] += c.gc_s
        row["shuffle_write_bytes"] += c.shuffle_write_bytes
        row["spill_bytes"] += c.spill_bytes
    for row in per_name.values():
        row["wall_s"] = median(row["wall_s"])
        row["self_s"] = median(row["self_s"])
    run.report["spans_by_name"] = per_name
    run.report["unattributed_jobs"] = groups[""].jobs if "" in groups else 0

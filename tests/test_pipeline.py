"""End-to-end Spark pipeline tests: span-sequence equality vs the scalar
golden-truth implementation (the BASELINE.json invariant), plus skew,
lineage, and checkpoint-resume behavior."""

from __future__ import annotations

import glob

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ocr_search_spark.corpus import (
    SPANS_IN_SCHEMA,
    build_document,
    build_local,
    corpus_df,
)
from ocr_search_spark.kernels.reference_impl import extract_document_spans
from ocr_search_spark.pipeline.checkpoint import committed_spans, read_audit, run_extraction
from ocr_search_spark.pipeline.extract import explode_spans, extract_documents

from conftest import SF_DIR

N_DOCS = 400


def _golden(docs):
    """doc_id -> golden span tuple sequence (kind, text, media_ref, order)."""
    return {
        d["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["order"])
            for s in extract_document_spans(d["spans"])
        ]
        for d in docs
    }


def _collected(extracted_df):
    rows = extracted_df.select("doc_id", "spans").collect()
    return {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.order) for s in r.spans]
        for r in rows
    }


@pytest.fixture(scope="module")
def docs(base_texts):
    return build_local(base_texts, N_DOCS)


@pytest.fixture(scope="module")
def input_df(spark, docs):
    pdf = pd.DataFrame({"doc_id": [d["doc_id"] for d in docs],
                        "spans": [d["spans"] for d in docs]})
    return spark.createDataFrame(pdf, schema=SPANS_IN_SCHEMA)


class TestSpanEquality:
    def test_spark_output_equals_golden(self, spark, docs, input_df):
        got = _collected(extract_documents(input_df, num_partitions=16))
        want = _golden(docs)
        assert set(got) == set(want)
        mismatches = [d for d in want if got[d] != want[d]]
        assert mismatches == [], f"span mismatch for {mismatches[:3]}"

    def test_distributed_corpus_matches_local(self, spark, docs):
        df = corpus_df(spark, SF_DIR, n_docs=N_DOCS, partitions=8)
        rows = df.orderBy("doc_id").collect()
        assert len(rows) == N_DOCS
        for r, d in zip(rows, docs):
            assert r.doc_id == d["doc_id"]
            got = [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
            want = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]]
            assert got == want

    def test_offset_order_preserved_after_shuffle(self, spark, base_texts):
        # feed spans in reverse offset order; output must be offset-sorted
        doc = build_document(7, base_texts)
        rev = {"doc_id": doc["doc_id"], "spans": list(reversed(doc["spans"]))}
        pdf = pd.DataFrame({"doc_id": [rev["doc_id"]], "spans": [rev["spans"]]})
        df = spark.createDataFrame(pdf, schema=SPANS_IN_SCHEMA)
        got = _collected(extract_documents(df, num_partitions=4))
        want = _golden([doc])
        assert got == want


class TestLineage:
    def test_skew_tail_exists_and_is_spread(self, docs):
        # corpus recipe guarantees a giant-PDF tail at this scale
        sizes = [len(d["spans"]) for d in docs]
        assert max(sizes) >= 64, "expected 1% giant-PDF documents"

    def test_flat_view_counts(self, spark, docs, input_df):
        extracted = extract_documents(input_df, num_partitions=16)
        flat = explode_spans(extracted)
        assert flat.count() == sum(len(d["spans"]) for d in docs)
        assert flat.columns == ["doc_id", "kind", "text", "media_ref", "order"]

    def test_failure_metric_counts_uns(self, spark, docs, input_df):
        extracted = extract_documents(input_df, num_partitions=16)
        total_failures = extracted.agg(F.sum("n_failures")).collect()[0][0]
        want = sum(
            1 for d in docs for s in d["spans"] if s["kind"] == "uns"
        )
        assert total_failures == want


def _crash_publish(root, change):
    raise RuntimeError("killed between staging and publish")


class TestResume:
    def test_kill_and_resume_equals_single_run(
        self, spark, docs, input_df, tmp_path, monkeypatch
    ):
        from ocr_search_spark.pipeline import checkpoint as cp

        golden = _golden(docs)

        # uninterrupted run
        full_dir = str(tmp_path / "full")
        run_extraction(spark, input_df, full_dir, "rgA", num_partitions=8)
        full = _collected(committed_spans(spark, full_dir, "rgA"))
        assert full == golden

        # killed after staging, before its publish, then resumed
        part_dir = str(tmp_path / "resumed")
        monkeypatch.setattr(cp, "publish", _crash_publish)
        with pytest.raises(RuntimeError, match="killed"):
            run_extraction(spark, input_df, part_dir, "rgB", num_partitions=8)
        monkeypatch.undo()
        assert committed_spans(spark, part_dir, "rgB").count() == 0

        stats = run_extraction(spark, input_df, part_dir, "rgB", num_partitions=8)
        assert not stats["skipped"]
        resumed = _collected(committed_spans(spark, part_dir, "rgB"))
        assert resumed == full  # no loss, no double-processing
        # once published, the run_group is never extracted again
        again = run_extraction(spark, input_df, part_dir, "rgB", num_partitions=8)
        assert again["skipped"] and again["run_id"] == stats["run_id"]

    def test_crash_between_stage_and_publish_never_double_writes(
        self, spark, docs, input_df, tmp_path, monkeypatch
    ):
        """The spans write and the CURRENT publish are separate commits; a
        crash between them must not surface the orphan attempt (the round-1
        design re-appended the whole group on resume)."""
        from ocr_search_spark.pipeline import checkpoint as cp

        golden = _golden(docs)
        out = str(tmp_path / "staged")
        monkeypatch.setattr(cp, "publish", _crash_publish)
        with pytest.raises(RuntimeError, match="killed"):
            run_extraction(spark, input_df, out, "rgS", num_partitions=8)
        monkeypatch.undo()
        # the batch is staged but orphaned: no view sees it
        assert len(glob.glob(f"{out}/spans/r=*/*.parquet")) >= 1
        assert committed_spans(spark, out, "rgS").count() == 0
        assert cp.committed_spans_latest(spark, out).count() == 0

        run_extraction(spark, input_df, out, "rgS", num_partitions=8)
        assert len(glob.glob(f"{out}/spans/r=*")) == 2  # orphan + live attempt
        seen = committed_spans(spark, out, "rgS")
        assert seen.select("doc_id").distinct().count() == seen.count() == len(docs)
        resumed = _collected(seen)
        assert resumed == golden  # orphan attempt invisible, no duplicates

    def test_vacuum_removes_orphans_keeps_live(
        self, spark, docs, input_df, tmp_path, monkeypatch
    ):
        from ocr_search_spark.pipeline import checkpoint as cp

        out = str(tmp_path / "vac")
        monkeypatch.setattr(cp, "publish", _crash_publish)
        for _ in range(2):  # two crashed attempts, each left as an orphan
            with pytest.raises(RuntimeError, match="killed"):
                run_extraction(spark, input_df, out, "rgV", num_partitions=8)
        monkeypatch.undo()
        stats = run_extraction(spark, input_df, out, "rgV", num_partitions=8)
        golden = _golden(docs)
        removed = cp.vacuum_uncommitted(spark, out, min_age_s=0)
        # removed: the two orphan attempts
        assert len(removed) == 2
        assert glob.glob(f"{out}/spans/r=*") == [f"{out}/spans/r={stats['run_id']}"]
        assert _collected(committed_spans(spark, out, "rgV")) == golden

    def test_latest_view_runs_the_same_jobs_at_2_and_12_run_groups(
        self, spark, docs, input_df, tmp_path
    ):
        """committed_spans_latest runs a number of Spark jobs that does not
        grow with the live run_groups (the round-3 formulation was an
        O(attempts)-leg union plan)."""
        from ocr_search_spark.pipeline.checkpoint import committed_spans_latest

        out = str(tmp_path / "many")
        sc = spark.sparkContext
        ids = [d["doc_id"] for d in docs]

        def extract_slices(lo, hi):
            for k in range(lo, hi):
                part = input_df.filter(F.col("doc_id").isin(ids[k::12]))
                run_extraction(spark, part, out, f"rg{k}", num_partitions=8)

        def jobs(tag):
            sc.setJobGroup(f"latest{tag}", "latest-view job-count probe")
            n_rows = committed_spans_latest(spark, out).count()
            sc.setJobGroup("probe-done", "")
            return n_rows, len(sc.statusTracker().getJobIdsForGroup(f"latest{tag}"))

        extract_slices(0, 2)
        rows2, jobs2 = jobs(2)
        extract_slices(2, 12)
        rows12, jobs12 = jobs(12)
        assert rows2 == len(ids[0::12]) + len(ids[1::12])
        assert rows12 == N_DOCS
        assert jobs12 == jobs2, f"latest-view jobs: {jobs2} at 2, {jobs12} at 12"
        assert _collected(committed_spans_latest(spark, out)) == _golden(docs)

    def test_single_pass_stages_all_pending_groups(
        self, spark, docs, input_df, tmp_path, monkeypatch
    ):
        """One source scan per run: extract_documents is invoked exactly once
        per batch (the round-2 per-group filter loop called it once per
        commit group — a read amplification of the group count)."""
        from ocr_search_spark.pipeline import checkpoint as cp

        calls = []
        real = cp.extract_documents
        monkeypatch.setattr(
            cp, "extract_documents", lambda df, n: calls.append(1) or real(df, n)
        )
        out = str(tmp_path / "onepass")
        run_extraction(spark, input_df, out, "rg1", num_partitions=8)
        assert len(calls) == 1
        assert _collected(committed_spans(spark, out, "rg1")) == _golden(docs)
        # a committed run_group's resume never touches the source at all
        run_extraction(spark, input_df, out, "rg1", num_partitions=8)
        assert len(calls) == 1

    def test_committed_spans_latest_resolves_cross_run_group_overlap(
        self, spark, docs, input_df, tmp_path
    ):
        from ocr_search_spark.pipeline.checkpoint import committed_spans_latest

        out = str(tmp_path / "latest")
        run_extraction(spark, input_df, out, "rgOld", num_partitions=8)
        # second run_group re-extracts 30 docs with truncated span lists
        redo = [{"doc_id": d["doc_id"], "spans": d["spans"][:1]} for d in docs[:30]]
        pdf = pd.DataFrame(
            {"doc_id": [d["doc_id"] for d in redo], "spans": [d["spans"] for d in redo]}
        )
        redo_df = spark.createDataFrame(pdf, schema=SPANS_IN_SCHEMA)
        run_extraction(spark, redo_df, out, "rgNew", num_partitions=8)

        # the latest view resolves to one row per doc, newest publication
        latest = _collected(committed_spans_latest(spark, out))
        assert len(latest) == len(docs)
        want = _golden(docs)
        want_redo = _golden(redo)
        for d in docs[:30]:
            assert latest[d["doc_id"]] == want_redo[d["doc_id"]]
        for d in docs[30:]:
            assert latest[d["doc_id"]] == want[d["doc_id"]]

    def test_old_format_ledger_fails_with_explicit_error(
        self, spark, input_df, tmp_path
    ):
        """A ledger written before the attempt-dir layout (no num_groups
        column) must fail fast with guidance, not an opaque missing-column
        AnalysisException deep in a resume."""
        from ocr_search_spark.pipeline.checkpoint import (
            IncompatibleCheckpointError,
            read_pointer,
        )

        out = str(tmp_path / "oldfmt")
        old = spark.createDataFrame(
            [("rgZ", 0, "rgZ-abc")],
            "run_group string, group_id int, run_id string",
        ).withColumn("committed_at", F.current_timestamp())
        old.write.parquet(f"{out}/_ledger")
        with pytest.raises(IncompatibleCheckpointError, match="older checkpoint"):
            read_pointer(out)
        with pytest.raises(IncompatibleCheckpointError):
            run_extraction(spark, input_df, out, "rgZ", num_partitions=4)

    def test_per_group_current_fails_with_explicit_error(
        self, spark, input_df, tmp_path
    ):
        """A CURRENT that publishes span attempts per commit group (the
        layout before the batch became the commit unit) must fail fast with
        guidance wherever it is read, not with a bare KeyError."""
        import json
        import os

        from ocr_search_spark.pipeline.checkpoint import (
            IncompatibleCheckpointError,
            read_pointer,
        )
        from ocr_search_spark.store import DocumentStore

        out = str(tmp_path / "pergroup")
        os.makedirs(out)
        with open(f"{out}/CURRENT", "w") as f:
            json.dump(
                {
                    "order": 2,
                    "snapshot": "s1",
                    "snapshot_stats": {"docs": 1, "sum_tf": 1},
                    "spans": {"rgP": {"num_groups": 1,
                                      "live": {"0": {"run_id": "rgP-1", "order": 1}}}},
                },
                f,
            )
        with pytest.raises(IncompatibleCheckpointError, match="commit group"):
            read_pointer(out)
        with pytest.raises(IncompatibleCheckpointError, match="Re-extract"):
            run_extraction(spark, input_df, out, "rgQ", num_partitions=4)
        with pytest.raises(IncompatibleCheckpointError):
            DocumentStore(spark, out).search("spark")

    def test_audit_rows(self, spark, input_df, docs, tmp_path):
        out = str(tmp_path / "audit_run")
        run_extraction(spark, input_df, out, "rgC", num_partitions=8)
        audit = read_audit(spark, out)
        pdf = audit.toPandas()
        assert set(pdf.columns) == {
            "run_id", "partition_id", "docs", "spans", "failures",
            "wall_ms", "committed_at",
        }
        assert pdf["docs"].sum() == len(docs)
        assert pdf["spans"].sum() == sum(len(d["spans"]) for d in docs)


class TestOnePublishProtocol:
    """``checkpoint.publish`` is the package's only publish protocol: no
    other code moves a staged file or directory into place."""

    MOVES = {("os", "rename"), ("os", "replace"), ("shutil", "move")}

    def _moves(self, path):
        """(enclosing function, 'module.name') for every rename/replace/move
        the file calls or imports, resolving ``import os as x`` aliases."""
        import ast

        tree = ast.parse(path.read_text(), str(path))
        aliases = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    aliases[a.asname or a.name] = a.name
        found = []

        def visit(node, func):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                func = node.name
            if isinstance(node, ast.ImportFrom):
                for a in node.names:
                    if (node.module, a.name) in self.MOVES:
                        found.append((func, f"{node.module}.{a.name}"))
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and (aliases.get(node.value.id), node.attr) in self.MOVES
            ):
                found.append((func, f"{aliases[node.value.id]}.{node.attr}"))
            for child in ast.iter_child_nodes(node):
                visit(child, func)

        visit(tree, None)
        return found

    def test_only_checkpoint_publish_moves_files(self):
        from pathlib import Path

        import ocr_search_spark

        pkg = Path(ocr_search_spark.__file__).parent
        found = {
            (str(p.relative_to(pkg)), func, name)
            for p in sorted(pkg.rglob("*.py"))
            for func, name in self._moves(p)
        }
        assert found == {("pipeline/checkpoint.py", "publish", "os.replace")}

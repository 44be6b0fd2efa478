"""End-to-end Spark pipeline tests: span-sequence equality vs the scalar
golden-truth implementation (the BASELINE.json invariant), plus skew,
lineage, and checkpoint-resume behavior."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ocr_search_spark.corpus import (
    SPANS_IN_SCHEMA,
    build_document,
    build_local,
    corpus_df,
)
from ocr_search_spark.kernels import extract_document_spans
from ocr_search_spark.pipeline import (
    explode_spans,
    extract_documents,
    run_extraction,
)
from ocr_search_spark.pipeline.checkpoint import (
    SimulatedFailure,
    committed_spans,
    read_audit,
)

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


class TestResume:
    def test_kill_and_resume_equals_single_run(self, spark, docs, input_df, tmp_path):
        golden = _golden(docs)

        # uninterrupted run
        full_dir = str(tmp_path / "full")
        run_extraction(spark, input_df, full_dir, "rgA", num_partitions=8, num_groups=4)
        full = _collected(committed_spans(spark, full_dir, "rgA"))
        assert full == golden

        # killed after the second group, then resumed
        part_dir = str(tmp_path / "resumed")
        with pytest.raises(SimulatedFailure):
            run_extraction(
                spark, input_df, part_dir, "rgB",
                num_partitions=8, num_groups=4, fail_after_group=1,
            )
        partial = committed_spans(spark, part_dir, "rgB").count()
        assert 0 < partial < len(docs)

        stats = run_extraction(
            spark, input_df, part_dir, "rgB", num_partitions=8, num_groups=4
        )
        assert stats["groups_skipped"] == 2  # committed groups not reprocessed
        resumed = _collected(committed_spans(spark, part_dir, "rgB"))
        assert resumed == golden  # no loss, no double-processing

    def test_crash_between_stage_and_publish_never_double_writes(
        self, spark, docs, input_df, tmp_path
    ):
        """The spans write and the CURRENT publish are separate commits; a
        crash between them must not surface the orphan attempt (the round-1
        design re-appended the whole group on resume)."""
        golden = _golden(docs)
        out = str(tmp_path / "staged")
        with pytest.raises(SimulatedFailure):
            run_extraction(
                spark, input_df, out, "rgS",
                num_partitions=8, num_groups=4, fail_before_publish=2,
            )
        # groups 0-1 published, group 2 staged but orphaned
        seen = committed_spans(spark, out, "rgS")
        assert seen.select("doc_id").distinct().count() == seen.count()

        stats = run_extraction(spark, input_df, out, "rgS",
                               num_partitions=8, num_groups=4)
        assert stats["groups_skipped"] == 2
        resumed = _collected(committed_spans(spark, out, "rgS"))
        assert resumed == golden  # orphan attempt invisible, no duplicates

    def test_resume_with_changed_num_groups_fails_fast(
        self, spark, input_df, tmp_path
    ):
        """Group membership is a function of num_groups — resuming with a
        different value would silently lose/duplicate docs, so it must
        refuse (membership is never derived from cluster parallelism)."""
        out = str(tmp_path / "ng")
        with pytest.raises(SimulatedFailure):
            run_extraction(spark, input_df, out, "rgN",
                           num_partitions=8, num_groups=4, fail_after_group=0)
        with pytest.raises(ValueError, match="num_groups"):
            run_extraction(spark, input_df, out, "rgN",
                           num_partitions=8, num_groups=8)
        # different parallelism, same num_groups: resumes cleanly
        stats = run_extraction(spark, input_df, out, "rgN",
                               num_partitions=3, num_groups=4)
        assert stats["groups_skipped"] == 1

    def test_compaction_preserves_rows_and_republishes(
        self, spark, docs, input_df, tmp_path
    ):
        """compact_group_outputs rewrites each group into one file and
        republishes it with one CURRENT swap; the committed view is
        unchanged, old attempts become invisible history."""
        import glob

        from ocr_search_spark.pipeline.checkpoint import compact_group_outputs

        out = str(tmp_path / "compact")
        run_extraction(spark, input_df, out, "rgK", num_partitions=8, num_groups=2)
        before = _collected(committed_spans(spark, out, "rgK"))

        stats = compact_group_outputs(spark, out, "rgK")
        assert stats["groups_compacted"] == 2
        after = _collected(committed_spans(spark, out, "rgK"))
        assert after == before == _golden(docs)
        # each live attempt dir holds exactly one data file
        live_dirs = glob.glob(f"{out}/spans/g=*/r={stats['run_id']}")
        assert len(live_dirs) == 2
        for d in live_dirs:
            assert len(glob.glob(f"{d}/part-*")) == 1

    def test_vacuum_removes_orphans_keeps_live(self, spark, docs, input_df, tmp_path):
        import glob

        from ocr_search_spark.pipeline.checkpoint import (
            compact_group_outputs,
            vacuum_uncommitted,
        )

        out = str(tmp_path / "vac")
        with pytest.raises(SimulatedFailure):
            run_extraction(spark, input_df, out, "rgV",
                           num_partitions=8, num_groups=2, fail_before_publish=1)
        run_extraction(spark, input_df, out, "rgV", num_partitions=8, num_groups=2)
        compact_group_outputs(spark, out, "rgV")  # supersedes originals
        golden = _golden(docs)
        removed = vacuum_uncommitted(spark, out, min_age_s=0)
        # removed: the orphan attempt + the superseded pre-compaction dirs
        assert len(removed) == 3
        assert len(glob.glob(f"{out}/spans/g=*/r=*")) == 2  # live attempts only
        assert _collected(committed_spans(spark, out, "rgV")) == golden

    def test_maintenance_paths_bounded_jobs_at_200_groups(
        self, spark, docs, input_df, tmp_path
    ):
        """compact_group_outputs and committed_spans_latest must run a
        GROUP-COUNT-INDEPENDENT number of Spark jobs (the round-3
        formulations were O(groups): a per-group job + 1-row publication
        append loop, and an O(attempts)-leg union plan)."""
        from ocr_search_spark.pipeline import committed_spans_latest
        from ocr_search_spark.pipeline.checkpoint import compact_group_outputs

        out = str(tmp_path / "many")
        sc = spark.sparkContext
        sc.setJobGroup("extract200", "extraction job-count probe")
        run_extraction(spark, input_df, out, "rgM", num_partitions=8, num_groups=200)

        sc.setJobGroup("compact200", "compaction job-count probe")
        stats = compact_group_outputs(spark, out, "rgM")
        sc.setJobGroup("latest200", "latest-view job-count probe")
        n_rows = committed_spans_latest(spark, out).count()
        sc.setJobGroup("probe-done", "")
        assert stats["groups_compacted"] == 200
        assert n_rows == N_DOCS
        tracker = sc.statusTracker()
        n_extract = len(tracker.getJobIdsForGroup("extract200"))
        n_compact = len(tracker.getJobIdsForGroup("compact200"))
        n_latest = len(tracker.getJobIdsForGroup("latest200"))
        # small constants (parallel file listing +
        # stage/publish or scan) — NOT proportional to the 200 groups
        assert n_extract <= 8, f"extraction ran {n_extract} jobs for 200 groups"
        assert n_compact <= 8, f"compaction ran {n_compact} jobs for 200 groups"
        assert n_latest <= 8, f"latest view ran {n_latest} jobs for 200 groups"
        # committed view unchanged by compaction
        assert _collected(committed_spans(spark, out, "rgM")) == _golden(docs)

    def test_single_pass_stages_all_pending_groups(
        self, spark, docs, input_df, tmp_path, monkeypatch
    ):
        """One source scan per run: extract_documents is invoked exactly once
        however many commit groups are pending (the round-2 per-group filter
        loop called it num_groups times — num_groups× read amplification)."""
        from ocr_search_spark.pipeline import checkpoint as cp

        calls = []
        real = cp.extract_documents
        monkeypatch.setattr(
            cp, "extract_documents", lambda df, n: calls.append(1) or real(df, n)
        )
        out = str(tmp_path / "onepass")
        run_extraction(spark, input_df, out, "rg1", num_partitions=8, num_groups=4)
        assert len(calls) == 1
        assert _collected(committed_spans(spark, out, "rg1")) == _golden(docs)
        # a fully-committed resume never touches the source at all
        run_extraction(spark, input_df, out, "rg1", num_partitions=8, num_groups=4)
        assert len(calls) == 1

    def test_committed_spans_latest_resolves_cross_run_group_overlap(
        self, spark, docs, input_df, tmp_path
    ):
        from ocr_search_spark.pipeline import committed_spans_latest

        out = str(tmp_path / "latest")
        run_extraction(spark, input_df, out, "rgOld", num_partitions=8, num_groups=2)
        # second run_group re-extracts 30 docs with truncated span lists
        redo = [{"doc_id": d["doc_id"], "spans": d["spans"][:1]} for d in docs[:30]]
        pdf = pd.DataFrame(
            {"doc_id": [d["doc_id"] for d in redo], "spans": [d["spans"] for d in redo]}
        )
        redo_df = spark.createDataFrame(pdf, schema=SPANS_IN_SCHEMA)
        run_extraction(spark, redo_df, out, "rgNew", num_partitions=8, num_groups=2)

        # plain concatenated view duplicates the overlap …
        assert committed_spans(spark, out).count() == len(docs) + 30
        # … the latest view resolves to one row per doc, newest publication
        latest = _collected(committed_spans_latest(spark, out))
        assert len(latest) == len(docs)
        want = _golden(docs)
        want_redo = _golden(redo)
        for d in docs[:30]:
            assert latest[d["doc_id"]] == want_redo[d["doc_id"]]
        for d in docs[30:]:
            assert latest[d["doc_id"]] == want[d["doc_id"]]

    def _rewritten(self, spark, docs):
        """The same doc_ids as ``docs`` with one new text span each."""
        redo = [
            {
                "doc_id": d["doc_id"],
                "spans": [{"kind": "txt", "text": f"rewritten {d['doc_id']}",
                           "media_ref": None, "offset": 0}],
            }
            for d in docs
        ]
        pdf = pd.DataFrame(
            {"doc_id": [d["doc_id"] for d in redo], "spans": [d["spans"] for d in redo]}
        )
        return redo, spark.createDataFrame(pdf, schema=SPANS_IN_SCHEMA)

    def test_compacting_older_run_group_keeps_newer_rows_latest(
        self, spark, docs, input_df, tmp_path
    ):
        """Compaction republishes a run_group without changing which rows are
        newest: after compacting the older run_group, the latest view still
        returns the newer run_group's rows for the documents both extracted."""
        from ocr_search_spark.pipeline import committed_spans_latest
        from ocr_search_spark.pipeline.checkpoint import compact_group_outputs

        out = str(tmp_path / "compact_order")
        run_extraction(spark, input_df, out, "rgA", num_partitions=8, num_groups=2)
        redo, redo_df = self._rewritten(spark, docs[:30])
        run_extraction(spark, redo_df, out, "rgB", num_partitions=8, num_groups=2)
        before = _collected(committed_spans_latest(spark, out))

        assert compact_group_outputs(spark, out, "rgA")["groups_compacted"] == 2
        after = _collected(committed_spans_latest(spark, out))
        want_redo = _golden(redo)
        want = _golden(docs)
        assert after == before
        assert len(after) == len(docs)
        for d in docs[:30]:
            assert after[d["doc_id"]] == want_redo[d["doc_id"]] != want[d["doc_id"]]
        for d in docs[30:]:
            assert after[d["doc_id"]] == want[d["doc_id"]]

    def test_compaction_keeps_per_group_order_across_interleaved_publishes(
        self, spark, docs, input_df, tmp_path
    ):
        """run_group A publishes group 0, then B publishes, then A's resume
        publishes group 1: one compact run_id of A then spans two orders, one
        older and one newer than B. The latest view is unchanged by the
        compaction, group by group."""
        from ocr_search_spark.pipeline import committed_spans_latest
        from ocr_search_spark.pipeline.checkpoint import compact_group_outputs

        out = str(tmp_path / "compact_interleaved")
        with pytest.raises(SimulatedFailure):
            run_extraction(spark, input_df, out, "rgA", num_partitions=8,
                           num_groups=2, fail_after_group=0)
        _, redo_df = self._rewritten(spark, docs[:30])
        run_extraction(spark, redo_df, out, "rgB", num_partitions=8, num_groups=2)
        run_extraction(spark, input_df, out, "rgA", num_partitions=8, num_groups=2)
        before = _collected(committed_spans_latest(spark, out))
        winners = {before[d["doc_id"]] == _golden(docs[:30])[d["doc_id"]] for d in docs[:30]}
        assert winners == {True, False}  # A wins one group's overlap, B the other's

        compact_group_outputs(spark, out, "rgA")
        assert _collected(committed_spans_latest(spark, out)) == before

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

    def test_audit_rows(self, spark, input_df, docs, tmp_path):
        out = str(tmp_path / "audit_run")
        run_extraction(spark, input_df, out, "rgC", num_partitions=8, num_groups=2)
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

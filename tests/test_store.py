"""End-to-end DocumentStore lifecycle: ingest → derived tables → search."""

from __future__ import annotations

from contextlib import contextmanager

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ocr_search_spark.corpus import SPANS_IN_SCHEMA, build_local
from ocr_search_spark.kernels.reference_impl import extract_document_spans
from ocr_search_spark.store import DocumentStore


@pytest.fixture(scope="module")
def store(spark, base_texts, tmp_path_factory):
    docs = build_local(base_texts, 150)
    pdf = pd.DataFrame(
        {"doc_id": [d["doc_id"] for d in docs], "spans": [d["spans"] for d in docs]}
    )
    df = spark.createDataFrame(pdf, schema=SPANS_IN_SCHEMA)
    s = DocumentStore(spark, str(tmp_path_factory.mktemp("store")))
    s.ingest(df)
    return s, docs


class TestLifecycle:
    def test_content_table_matches_golden(self, spark, store):
        s, docs = store
        content = {
            r.doc_id: r.content
            for r in spark.read.parquet(s.content_path).collect()
        }
        assert len(content) == len(docs)
        d0 = docs[0]
        golden = "\n".join(
            sp["text"] for sp in extract_document_spans(d0["spans"])
        )
        assert content[d0["doc_id"]] == golden

    def test_search_round_trip(self, spark, store):
        s, docs = store
        # pick a term guaranteed to exist: from the extracted content
        some = spark.read.parquet(s.content_path).first().content
        term = next(w for w in some.split() if w.isalpha() and len(w) > 3)
        res = s.search(term, limit=5)
        assert res["total"] >= 1
        items = res["items"].collect()
        assert 1 <= len(items) <= 5
        assert all(r.rank > 0 or r.sim >= 0 for r in items)

    def test_search_empty_query_latest(self, store):
        s, docs = store
        res = s.search("")
        assert res["total"] == len(docs)
        assert len(res["items"].collect()) == 10

    def test_content_table_carries_filename_and_meta(self, spark, store):
        """S10 + Q11 feed: ingest attaches filename/path_origin and the
        exiftool-analogue meta map, queryable via element_at."""
        from pyspark.sql import functions as F

        s, docs = store
        content = spark.read.parquet(s.content_path)
        assert {"filename", "path_origin", "meta"} <= set(content.columns)
        row = content.orderBy("doc_id").first()
        assert row.filename.startswith(row.doc_id + ".")
        assert row.path_origin == "store\\" + row.filename
        assert row.meta["FileSize"] == str(len(row.content))
        n_pdf = content.filter(
            F.element_at("meta", "FileType") == F.upper(
                F.regexp_extract("filename", r"\.([a-z]+)$", 1)
            )
        ).count()
        assert n_pdf == content.count()  # meta ext consistent with filename

    def test_second_ingest_under_new_run_group_keeps_both_batches(
        self, spark, base_texts, tmp_path_factory
    ):
        """Regression (round-2 advice): ingest rebuilt content/postings from
        only the current run_group, silently dropping earlier batches. Both
        batches must stay searchable; an overlapping doc resolves to the
        latest publication."""
        docs = build_local(base_texts, 40)
        mk = lambda ds: spark.createDataFrame(  # noqa: E731
            pd.DataFrame(
                {"doc_id": [d["doc_id"] for d in ds], "spans": [d["spans"] for d in ds]}
            ),
            schema=SPANS_IN_SCHEMA,
        )
        s = DocumentStore(spark, str(tmp_path_factory.mktemp("store2")))
        s.ingest(mk(docs[:25]), run_group="batch1")
        # batch2 overlaps doc[20:25] but with truncated span lists
        overlap = [
            {"doc_id": d["doc_id"], "spans": d["spans"][:1]} for d in docs[20:25]
        ]
        s.ingest(mk(docs[25:] + overlap), run_group="batch2")
        content = {
            r.doc_id: r.content for r in spark.read.parquet(s.content_path).collect()
        }
        assert len(content) == len(docs)  # both batches present, no dups
        d = docs[21]
        latest = "\n".join(
            sp["text"] for sp in extract_document_spans(d["spans"][:1])
        )
        assert content[d["doc_id"]] == latest  # overlap: latest ingest wins
        d_first = docs[0]
        golden = "\n".join(
            sp["text"] for sp in extract_document_spans(d_first["spans"])
        )
        assert content[d_first["doc_id"]] == golden  # batch1 docs untouched

    def test_search_items_link_from_path_origin(self, spark, store):
        s, docs = store
        some = spark.read.parquet(s.content_path).first().content
        term = next(w for w in some.split() if w.isalpha() and len(w) > 3)
        items = s.search(term, limit=3)["items"].collect()
        for r in items:
            assert r.link == "http://files.local/store/" + r.filename
            assert r.snippet_is_html is True

    def test_trigram_sim_udf_matches_expr(self, spark, store):
        """The search path scores ``sim`` with ``trigram_sim_udf``; the
        column form ``trigram_sim_expr`` is its independent oracle."""
        from ocr_search_spark.search.analysis import trigram_sim_expr, trigram_sim_udf

        s, docs = store
        content = spark.read.parquet(s.content_path)
        text = content.orderBy("doc_id").first().content
        words = [w for w in text.split() if w.isalpha() and len(w) > 3]
        for q in (words[0], " ".join(words[:3]), "zz", "no such words"):
            rows = content.select(
                "doc_id",
                trigram_sim_udf(q)(F.col("content")).alias("udf"),
                trigram_sim_expr("content", q).alias("expr"),
            ).collect()
            assert len(rows) == len(docs)
            assert [r.doc_id for r in rows if r.udf != r.expr] == [], q
            assert q == "zz" or any(r.udf > 0 for r in rows), q

    def test_content_is_one_projection_of_the_span_array(
        self, spark, base_texts, tmp_path, monkeypatch
    ):
        """content joins each document's span array in array order, so its
        plan has no Generate (explode) and no ObjectHashAggregate
        (collect_list regrouping)."""
        import ocr_search_spark.store as store_mod

        plans = {}
        real = store_mod.write_table

        def spy(df, path, **kw):
            plans[path.rsplit("/", 1)[-1]] = df._jdf.queryExecution().executedPlan().toString()
            return real(df, path, **kw)

        monkeypatch.setattr(store_mod, "write_table", spy)
        s = DocumentStore(spark, str(tmp_path / "plan"))
        s.ingest(_spans_df(spark, build_local(base_texts, 12)))
        plan = plans["content"]
        assert "Generate" not in plan, plan
        assert "ObjectHashAggregate" not in plan, plan
        assert spark.read.parquet(s.content_path).count() == 12


def test_store_import_loads_only_the_metadata_ops_module():
    """Importing the store loads the ``ops`` package and ``ops.metadata``
    only, never the off-path operator modules."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    code = (
        "import json, sys, ocr_search_spark.store; print(json.dumps(sorted("
        "m for m in sys.modules if m.startswith('ocr_search_spark.ops'))))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        check=True,
        cwd=Path(__file__).resolve().parents[1],
    )
    assert json.loads(out.stdout.splitlines()[-1]) == [
        "ocr_search_spark.ops",
        "ocr_search_spark.ops.metadata",
    ]


def _spans_df(spark, docs):
    return spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [d["doc_id"] for d in docs], "spans": [d["spans"] for d in docs]}
        ),
        schema=SPANS_IN_SCHEMA,
    )


def _top_term(spark, s):
    """The store's most frequent term (ties broken by name)."""
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(s.postings_path)
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), "term")
        .first()
        .term
    )


class TestSnapshotPublish:
    """ingest writes content + postings into a fresh snapshot and publishes
    it with one pointer swap; readers see one whole snapshot."""

    @pytest.fixture(scope="class")
    def batches(self, base_texts):
        docs = build_local(base_texts, 40)
        return docs[:25], docs[25:]

    def test_crash_before_publish_keeps_previous_snapshot(
        self, spark, batches, tmp_path_factory, monkeypatch
    ):
        import os

        import ocr_search_spark.store as store_mod

        first, second = batches
        s = DocumentStore(spark, str(tmp_path_factory.mktemp("crash")))
        s.ingest(_spans_df(spark, first), run_group="b1")
        published = s.content_path
        term = _top_term(spark, s)
        before = s.search(term, limit=100)["total"]

        def crash(root, snapshot, stats):
            raise RuntimeError("crash between snapshot write and publish")

        monkeypatch.setattr(store_mod, "publish_snapshot", crash)
        with pytest.raises(RuntimeError, match="crash between"):
            s.ingest(_spans_df(spark, second), run_group="b2")
        # the previous snapshot stays live and searchable
        assert s.content_path == published
        assert spark.read.parquet(s.content_path).count() == len(first)
        assert s.search(term, limit=100)["total"] == before
        assert DocumentStore(spark, s.root).search(term, limit=100)["total"] == before

        # the next ingest publishes a complete snapshot and drops the orphan
        monkeypatch.undo()
        s.ingest(_spans_df(spark, second), run_group="b2")
        assert s.content_path != published
        assert spark.read.parquet(s.content_path).count() == len(first) + len(second)
        snaps = os.listdir(os.path.join(s.root, "snapshots"))
        assert len(snaps) == 2  # the new one and the one it replaced
        assert os.path.dirname(published).rsplit("/", 1)[-1] in snaps

    def test_crash_after_span_publish_keeps_previous_snapshot(
        self, spark, batches, tmp_path_factory, monkeypatch
    ):
        """A crash after the extraction published its spans but before the
        snapshot swap: the span view already holds the batch, search still
        answers from the previous snapshot, and re-running the same
        run_group extracts nothing and publishes the whole store."""
        import ocr_search_spark.store as store_mod
        from ocr_search_spark.pipeline import checkpoint

        first, second = batches
        s = DocumentStore(spark, str(tmp_path_factory.mktemp("spans-live")))
        s.ingest(_spans_df(spark, first), run_group="b1")
        published = s.content_path
        term = _top_term(spark, s)
        before = s.search(term, limit=100)["total"]

        def crash(root, snapshot, stats):
            raise RuntimeError("crash between span publish and snapshot publish")

        monkeypatch.setattr(store_mod, "publish_snapshot", crash)
        with pytest.raises(RuntimeError, match="crash between"):
            s.ingest(_spans_df(spark, second), run_group="b2")
        monkeypatch.undo()
        latest = checkpoint.committed_spans_latest(spark, s.root).select("doc_id")
        assert {r.doc_id for r in latest.collect()} == {
            d["doc_id"] for d in first + second
        }
        assert s.content_path == published
        assert s.search("")["total"] == len(first)
        assert s.search(term, limit=100)["total"] == before
        assert DocumentStore(spark, s.root).search("")["total"] == len(first)

        calls = []
        real = checkpoint.extract_documents
        monkeypatch.setattr(
            checkpoint, "extract_documents", lambda df, n: calls.append(1) or real(df, n)
        )
        stats = s.ingest(_spans_df(spark, second), run_group="b2")
        assert stats["skipped"]
        assert calls == []
        assert s.content_path != published
        content = {
            r.doc_id: r.content for r in spark.read.parquet(s.content_path).collect()
        }
        assert content == {
            d["doc_id"]: "\n".join(sp["text"] for sp in extract_document_spans(d["spans"]))
            for d in first + second
        }

    def test_other_instance_sees_published_snapshot(
        self, spark, batches, tmp_path_factory
    ):
        from ocr_search_spark.search.engine import search_documents

        first, second = batches
        root = str(tmp_path_factory.mktemp("two"))
        a, b = DocumentStore(spark, root), DocumentStore(spark, root)
        b.ingest(_spans_df(spark, first), run_group="b1")
        assert a.search("")["total"] == len(first)
        term = _top_term(spark, a)
        a.search(term)["items"].collect()  # A's snapshot is now resident
        b.ingest(_spans_df(spark, second), run_group="b2")
        got = a.search(term, limit=100)
        want = search_documents(spark.read.parquet(b.content_path), term, limit=100)
        assert a.search("")["total"] == len(first) + len(second)
        assert got["total"] == want["total"]
        assert [r.doc_id for r in got["items"].collect()] == [
            r.doc_id for r in want["items"].collect()
        ]

    def test_search_during_publish_sees_one_snapshot(
        self, spark, batches, tmp_path_factory
    ):
        """Reader threads sharing one store instance search while an ingest
        publishes; each search observes the old or the new store, never a
        mix. A mix would pair one snapshot's postings with the other's
        content, so ``total`` (from postings) would disagree with the rows
        found in content."""
        import sys
        import threading

        first, second = batches
        root = str(tmp_path_factory.mktemp("race"))
        writer = DocumentStore(spark, root)
        writer.ingest(_spans_df(spark, first), run_group="b1")
        term = _top_term(spark, writer)
        reader = DocumentStore(spark, root)
        seen, errors = [], []
        done = threading.Event()

        def search_loop():
            try:
                while not done.is_set():
                    res = reader.search(term, limit=100)
                    seen.append((res["total"], len(res["items"].collect())))
            except Exception as e:  # surfaced below
                errors.append(e)

        threads = [threading.Thread(target=search_loop) for _ in range(6)]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            for t in threads:
                t.start()
            writer.ingest(_spans_df(spark, second), run_group="b2")
            n = len(seen)
            while len(seen) < n + 12 and not errors:
                done.wait(0.05)  # searches that started after the publish
        finally:
            done.set()
            for t in threads:
                t.join(timeout=120)
            sys.setswitchinterval(interval)
        assert not any(t.is_alive() for t in threads)
        assert not errors, errors
        new_total = DocumentStore(spark, root).search(term, limit=100)["total"]
        assert seen and all(total == n_items for total, n_items in seen)
        totals = {total for total, _ in seen}
        assert new_total in totals and totals <= {seen[0][0], new_total}


class TestSearchJobs:
    """Regression guard on Spark jobs per query against a resident
    snapshot: the match is one action and the scoring plus top-k another;
    bm25 adds a join and cd its proximity windows."""

    def test_jobs_per_query_class(self, spark, store):
        from pyspark.sql import functions as F

        s, _ = store
        post = spark.read.parquet(s.postings_path)
        by_df = sorted(
            (-r.df, r.term)
            for r in post.groupBy("term").agg(F.count("*").alias("df")).collect()
        )
        terms = [t for _, t in by_df]
        dfs = {t: -d for d, t in by_df}
        common, rare = terms[:3], [t for t in terms if dfs[t] == 1][:2]
        mid = [t for t in terms if 5 <= dfs[t] <= 15][:2] or terms[3:5]
        cases = {
            "rare": (" ".join(rare), {}),
            "common": (" ".join(common[:2]), {}),
            "phrase": ('"' + " ".join(common[:2]) + '"', {}),
            "or_not": (f"{mid[0]} or {mid[1]} -{common[2]}", {}),
            "bm25": (f"{mid[0]} {common[0]}", {"rank_mode": "bm25"}),
            "cd": (f"{mid[0]} {common[0]}", {"rank_mode": "cd"}),
            "empty": ("", {}),
        }
        sc = spark.sparkContext
        s.search(common[0])["items"].collect()  # load the resident snapshot
        try:
            for cls, (q, kw) in cases.items():
                group = f"test-search-jobs-{cls}"
                sc.setLocalProperty("spark.jobGroup.id", group)
                res = s.search(q, **kw)
                res["items"].collect()
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc._jsc.sc().listenerBus().waitUntilEmpty()
                jobs = len(sc.statusTracker().getJobIdsForGroup(group))
                assert 1 <= jobs <= (6 if cls == "cd" else 4), (cls, q, jobs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)


class TestIngestJobs:
    """Regression guard on Spark jobs per ingest. The span attempts and the
    snapshot are both published by swapping ``CURRENT``, a plain file, so
    neither publishing nor resolving the live spans runs a job."""

    def test_jobs_per_bulk_and_update_ingest(self, spark, base_texts, tmp_path):
        import glob

        docs = build_local(base_texts, 60)
        s = DocumentStore(spark, str(tmp_path / "jobs"))
        sc = spark.sparkContext
        jobs = {}
        try:
            for phase, batch in (("bulk", docs[:48]), ("update", docs[36:])):
                group = f"test-ingest-jobs-{phase}"
                sc.setLocalProperty("spark.jobGroup.id", group)
                s.ingest(_spans_df(spark, batch), run_group=phase)
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc._jsc.sc().listenerBus().waitUntilEmpty()
                jobs[phase] = len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # a publish through a parquet ledger table ran 13 and 15; reading
        # content back with an inferred schema ran 10 and 10
        assert 1 <= jobs["bulk"] <= 9, jobs
        assert 1 <= jobs["update"] <= 9, jobs
        assert s.search("")["total"] == len(docs)
        assert glob.glob(f"{s.root}/**/_ledger*", recursive=True) == []


@contextmanager
def _jobs_in_group(spark, group):
    """Runs the block in job group ``group``; on exit the yielded list holds
    the number of Spark jobs the block ran."""
    sc = spark.sparkContext
    counted = []
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        yield counted
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        counted.append(len(sc.statusTracker().getJobIdsForGroup(group)))


class TestSnapshotStats:
    """An ingest observes the snapshot's document count and Σ tf while it
    writes the tables and publishes both in ``CURRENT``, so opening the
    store runs no Spark job."""

    @pytest.fixture(scope="class")
    def updated(self, spark, base_texts, tmp_path_factory):
        """A bulk batch, then an update batch that supersedes some of its
        documents with shorter span lists and adds new ones."""
        docs = build_local(base_texts, 50)
        s = DocumentStore(spark, str(tmp_path_factory.mktemp("stats")))
        bulk = s.ingest(_spans_df(spark, docs[:40]), run_group="bulk")
        superseded = [{"doc_id": d["doc_id"], "spans": d["spans"][:1]} for d in docs[30:40]]
        update = s.ingest(_spans_df(spark, superseded + docs[40:]), run_group="update")
        return s, bulk, update

    def test_open_runs_no_job(self, spark, updated):
        s, _, _ = updated
        fresh = DocumentStore(spark, s.root)
        with _jobs_in_group(spark, "test-store-open") as opened:
            fresh._resolve()
        with _jobs_in_group(spark, "test-store-open-total") as counted:
            total = fresh.search("")["total"]
        assert (opened, counted) == ([0], [0])
        assert total == 50

    def test_stats_equal_recounted_tables(self, spark, updated):
        """The pointer's (N, Σ tf) and the rows per table that ``ingest``
        reports equal the written tables, recounted."""
        from ocr_search_spark.pipeline.checkpoint import read_pointer

        s, bulk, update = updated
        content = spark.read.parquet(s.content_path)
        postings = spark.read.parquet(s.postings_path)
        n, sum_tf = content.count(), postings.agg(F.sum("tf")).first()[0]
        assert read_pointer(s.root)["snapshot_stats"] == {"docs": n, "sum_tf": sum_tf}
        assert (update["content_rows"], update["postings_rows"], update["sum_tf"]) == (
            n,
            postings.count(),
            sum_tf,
        )
        assert (n, bulk["content_rows"]) == (50, 40)
        assert 0 < bulk["postings_rows"] < update["postings_rows"]

    def test_schema_constants_match_written_tables(self, spark, updated):
        from pyspark.sql.types import _parse_datatype_string

        from ocr_search_spark.search.engine import POSTINGS_SCHEMA
        from ocr_search_spark.store import CONTENT_SCHEMA

        s, _, _ = updated
        for path, ddl in ((s.content_path, CONTENT_SCHEMA), (s.postings_path, POSTINGS_SCHEMA)):
            inferred = spark.read.parquet(path).schema.simpleString()
            assert inferred == _parse_datatype_string(ddl).simpleString(), path

    def test_pointer_without_stats_raises_until_an_ingest(
        self, spark, base_texts, tmp_path
    ):
        """A ``CURRENT`` published before the counts were recorded names a
        snapshot without them: searching raises, and the next ingest (even
        of an already-published batch) republishes the snapshot with them."""
        from ocr_search_spark.pipeline.checkpoint import (
            IncompatibleCheckpointError,
            publish,
        )

        docs = build_local(base_texts, 12)
        s = DocumentStore(spark, str(tmp_path / "old"))
        s.ingest(_spans_df(spark, docs), run_group="b1")
        publish(s.root, lambda p: p.pop("snapshot_stats"))
        with pytest.raises(IncompatibleCheckpointError, match="DocumentStore.ingest"):
            DocumentStore(spark, s.root).search("")
        s.ingest(_spans_df(spark, docs), run_group="b1")
        assert DocumentStore(spark, s.root).search("")["total"] == len(docs)


class TestRepeatedDocIds:
    """A batch must hold each doc_id once: with one id twice, the latest
    view's ``max_by`` over the publication order would tie between the two
    rows and keep either. The batch is rejected before its publish."""

    def test_batch_repeating_a_doc_id_is_rejected(self, spark, base_texts, tmp_path):
        from ocr_search_spark.pipeline.checkpoint import read_pointer, vacuum_uncommitted

        d1, d2 = build_local(base_texts, 2)
        d1_again = {"doc_id": d1["doc_id"], "spans": d1["spans"][:1]}
        s = DocumentStore(spark, str(tmp_path / "repeat"))
        before = read_pointer(s.root)
        with pytest.raises(ValueError, match=r"'rep'.*repeats 1 doc_id"):
            s.ingest(_spans_df(spark, [d1, d2, d1_again]), run_group="rep")
        assert read_pointer(s.root) == before
        # the staged attempt is an orphan that vacuum removes
        assert len(vacuum_uncommitted(spark, s.root, min_age_s=0)) == 1

        stats = s.ingest(_spans_df(spark, [d1, d2]), run_group="rep")
        assert not stats["skipped"] and stats["content_rows"] == 2
        assert read_pointer(s.root)["spans"]["rep"]["run_id"] == stats["run_id"]
        assert s.search("")["total"] == 2


class TestFilterColumns:
    """The store's ``content`` has no ``email`` and no ``created_at``: a
    filter on either raises before any job instead of being dropped."""

    @pytest.mark.parametrize(
        "kw, name",
        [
            ({"ocr_user": "nobody@nowhere"}, "ocr_user"),
            ({"ocr_from": "2099-01-01"}, "ocr_from"),
            ({"ocr_to": "2000-01-01"}, "ocr_to"),
        ],
    )
    def test_store_rejects_filter_without_column(self, spark, store, kw, name):
        s, _ = store
        s.search("")  # the snapshot is resident
        with _jobs_in_group(spark, f"test-filter-{name}") as jobs:
            with pytest.raises(ValueError, match=name):
                s.search("alpha", **kw)
        assert jobs == [0]

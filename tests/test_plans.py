"""Physical-plan regression tests: the optimizations we rely on at 100 TB
must be visible in the plan, not assumed (predicate pushdown, column
pruning, single-exchange extraction, broadcast joins, partition balance)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ocr_search_spark.corpus import SPANS_IN_SCHEMA, build_local
from ocr_search_spark.pipeline.checkpoint import run_extraction
from ocr_search_spark.pipeline.extract import extract_documents
from conftest import SF_DIR, SMALL_AQE_PARTITIONS, spark_conf


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


class TestScanPushdown:
    def test_filter_pushed_to_parquet(self, spark):
        df = spark.read.parquet(f"{SF_DIR}/events.parquet").filter(
            F.col("event_type") == "click"
        )
        plan = df.queryExecution().simpleString() if hasattr(df, "queryExecution") else plan_of(df)
        assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)" in plan_of(df)

    def test_column_pruning(self, spark):
        df = spark.read.parquet(f"{SF_DIR}/events.parquet").select("event_id")
        assert "ReadSchema: struct<event_id:bigint>" in plan_of(df)


class TestExtractionPlan:
    def test_single_exchange(self, spark, base_texts):
        docs = build_local(base_texts, 50)
        pdf = pd.DataFrame(
            {"doc_id": [d["doc_id"] for d in docs], "spans": [d["spans"] for d in docs]}
        )
        df = spark.createDataFrame(pdf, schema=SPANS_IN_SCHEMA)
        plan = plan_of(extract_documents(df, 8))
        assert plan.count("Exchange") == 1  # only the salt repartition
        assert "MapInArrow" in plan


class TestBroadcast:
    def test_cosine_topk_broadcasts_queries(self, spark):
        from ocr_search_spark.ops.similarity import cosine_topk

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        plan = plan_of(cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=5))
        assert "Broadcast" in plan  # small query side broadcast, corpus streams

    def test_postings_term_join_broadcasts(self, spark):
        from ocr_search_spark.search.engine import build_postings, search_documents

        docs = spark.createDataFrame(
            [("d1", "spark join")], "doc_id string, content string"
        )
        postings = build_postings(docs)
        res = search_documents(docs, "spark", postings=postings)
        assert res["total"] == 1  # semi-join path executes


class TestPartitionBalance:
    @pytest.fixture(scope="class")
    def thousand_docs(self, spark, base_texts):
        docs = build_local(base_texts, 1000)
        pdf = pd.DataFrame(
            {"doc_id": [d["doc_id"] for d in docs], "spans": [d["spans"] for d in docs]}
        )
        return spark.createDataFrame(pdf, schema=SPANS_IN_SCHEMA)

    def test_salt_spreads_docs_and_giants(self, spark, thousand_docs):
        """Skew defense: no salt partition holds a disproportionate share
        (the 1%-giant-PDF tail must not pile onto few partitions)."""
        out = extract_documents(thousand_docs, 16)
        stats = (
            out.groupBy("part_id")
            .agg(F.count("*").alias("docs"), F.sum("n_spans").alias("spans"))
            .collect()
        )
        assert len(stats) == 16
        docs_counts = [r.docs for r in stats]
        span_counts = [r.spans for r in stats]
        mean_docs = sum(docs_counts) / len(docs_counts)
        assert max(docs_counts) < 2 * mean_docs
        mean_spans = sum(span_counts) / len(span_counts)
        assert max(span_counts) < 3 * mean_spans  # giants spread, not clustered

    def test_shuffle_fills_every_task(self, spark, thousand_docs):
        """The extraction shuffle spreads documents over all of its
        partitions: it hashes doc_id, not the P salt values, which collide
        when hashed again into P partitions and leave some tasks empty and
        others with two or three salt keys' rows."""
        with spark_conf(spark, {"spark.sql.adaptive.coalescePartitions.enabled": "false"}):
            rows = (
                extract_documents(thousand_docs, 8)
                .groupBy(F.spark_partition_id().alias("task"))
                .count()
                .collect()
            )
        counts = sorted(r["count"] for r in rows)
        assert len(counts) == 8, counts
        assert max(counts) / min(counts) < 2, counts

    @pytest.fixture(scope="class")
    def input_df(self, spark, base_texts):
        docs = build_local(base_texts, 60)
        pdf = pd.DataFrame(
            {"doc_id": [d["doc_id"] for d in docs], "spans": [d["spans"] for d in docs]}
        )
        return spark.createDataFrame(pdf, schema=SPANS_IN_SCHEMA)

    @staticmethod
    def _files_per_attempt(spark, input_df, root) -> list[int]:
        run_extraction(spark, input_df, str(root), run_group="balance", num_partitions=8)
        return [len(list(r.glob("*.parquet"))) for r in (root / "spans").glob("r=*")]

    def test_small_batch_runs_in_one_task(self, spark, input_df, tmp_path):
        """AQE coalesces the rebalance of a small batch into one partition:
        the kernel runs in one Python task, which stages one file. Each
        Python task pays the worker's fixed set-up CPU, so a small batch
        must not fan out to num_partitions tasks."""
        assert self._files_per_attempt(spark, input_df, tmp_path) == [1]

    def test_large_input_still_fans_out(self, spark, input_df, tmp_path):
        """The same rebalance keeps several tasks once the shuffle outgrows
        AQE's partition sizes: lowered here so 60 docs count as large."""
        with spark_conf(spark, SMALL_AQE_PARTITIONS):
            files = self._files_per_attempt(spark, input_df, tmp_path)
        assert len(files) == 1 and files[0] > 1


class TestRankingPlans:
    @pytest.fixture(scope="class")
    def docs(self, spark):
        return spark.createDataFrame(
            [("d1", "spark join now"), ("d2", "x y z spark")],
            "doc_id string, text string",
        )

    def test_bm25_broadcasts_scalar_stats(self, spark, docs):
        """BM25 = one pass + a 1-row corpus-stats broadcast: the plan must
        contain a broadcast join and NO generate/explode at all."""
        from ocr_search_spark.search.ranking import bm25_scores

        plan = plan_of(bm25_scores(docs, ["spark", "join"]))
        assert "Broadcast" in plan
        assert "Generate" not in plan  # HOF term counts, never explode

    def test_rank_cd_explodes_only_matches(self, spark, docs):
        """The explode input must be the array-filtered (pos, term) structs,
        not the raw token array — no post-explode term filter remains."""
        from ocr_search_spark.search.ranking import cover_density_rank

        opt = optimized_of(cover_density_rank(docs, ["spark", "join"]))
        gen_lines = [l for l in opt.splitlines() if "Generate explode" in l]
        assert gen_lines and all("filter(" in l for l in gen_lines)

    def test_sessionize_single_shuffle(self, spark):
        """Both analytic windows and the session aggregate share the
        user_id hash partitioning — exactly one exchange in the plan."""
        from ocr_search_spark.streaming.sessionize import sessionize_batch

        events = spark.createDataFrame(
            [(1, "2024-01-01 10:00:00")], "user_id long, ts string"
        ).selectExpr("user_id", "cast(ts as timestamp) ts")
        plan = plan_of(sessionize_batch(events))
        assert plan.count("Exchange") == 1


class TestRelationalJoin:
    def test_revenue_joins_broadcast_dims(self, spark):
        import __spark_entry__ as e

        plan = plan_of(e.q_revenue_by_nation(spark, SF_DIR))
        # customer and nation are broadcast-hinted dims
        assert plan.count("BroadcastHashJoin") >= 2


class TestGenerateInferredFilter:
    def test_exploding_computed_array_does_not_inline_producer(self, spark):
        """InferFiltersFromGenerate + pushdown inlines the whole producing
        expression tree into a scan filter (measured: 41 tokenizer copies,
        re-evaluated per array element — a 50-min plan for a 1 s job). Our
        session factory excludes the rule; this asserts the tokenizer
        appears exactly once in the optimized exploded-winnow plan."""
        from ocr_search_spark.ops.text_analysis import winnow_fingerprints

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        w = winnow_fingerprints(docs, "doc_id", "text").select(
            F.explode("fingerprints")
        )
        opt = optimized_of(w)
        assert opt.count("split(lower") == 1

    def test_driver_facing_winnow_query_has_no_generate(self, spark):
        """The harness query must stay sane on ANY session config, so it
        avoids the Generate entirely (sorted-CSV projection)."""
        import __spark_entry__ as e

        plan = plan_of(e.q_winnow_fingerprints(spark, SF_DIR))
        assert "Generate" not in plan


class TestNearDedupPlan:
    def test_no_all_pairs_join(self, spark):
        """The end-to-end near_dedup composition must stay O(n·bands):
        candidate generation joins within LSH buckets, verification joins
        on candidate ids — never a cartesian/nested-loop product."""
        from ocr_search_spark.ops.dedup import near_dedup

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        plan = plan_of(near_dedup(docs, "doc_id", "text", threshold=0.3))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_survivors_drop_planted_duplicate(self, spark):
        from ocr_search_spark.ops.dedup import near_dedup

        rows = [
            ("a", "alpha beta gamma delta epsilon zeta eta theta"),
            ("b", "alpha beta gamma delta epsilon zeta eta theta"),  # dup of a
            ("c", "totally different words in this one here now"),
        ]
        df = spark.createDataFrame(rows, "doc_id string, text string")
        got = sorted(r.doc_id for r in near_dedup(df, "doc_id", "text", 0.9).collect())
        assert got == ["a", "c"]  # min-id keeper wins, unique doc survives

    def test_token_quality_is_single_scan_no_generate(self, spark):
        """token_quality (incl. the round-2 token_chars aggregate) must
        stay one scan of one parquet file with HOF aggregates — no explode,
        no join, no extra scan (the +72% bench move round 2 was added work,
        this pins that it never becomes a plan regression)."""
        import __spark_entry__ as e

        plan = plan_of(e.q_token_quality(spark, SF_DIR))
        assert "Generate" not in plan
        assert "Join" not in plan
        assert plan.count("Scan parquet") == 1

    def test_substring_dedup_no_all_pairs_join(self, spark):
        from ocr_search_spark.ops.text_analysis import substring_dedup

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        plan = plan_of(substring_dedup(docs, "doc_id", "text"))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_cc_keeper_no_all_pairs_join(self, spark):
        from ocr_search_spark.ops.dedup import near_dedup_cc

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        plan = plan_of(near_dedup_cc(docs, "doc_id", "text", threshold=0.3))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestPartitionPruning:
    def test_partitioned_write_prunes_directories(self, spark, tmp_path):
        """write_table(partition_by=...) must give directory-level
        partition pruning: a filter on the partition column lands in
        PartitionFilters (whole directories skipped at planning time, the
        10^12-row equivalent of not reading 364/365 days), never in the
        post-scan Filter."""
        from ocr_search_spark.tables import write_table

        path = str(tmp_path / "events_by_day")
        df = spark.range(1000).select(
            F.col("id").alias("event_id"),
            (F.col("id") % 10).alias("day"),
        )
        write_table(df, path, mode="overwrite", partition_by=("day",))
        q = spark.read.parquet(path).filter(F.col("day") == 3)
        plan = plan_of(q)
        assert "PartitionFilters" in plan
        assert "(day" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
        assert q.count() == 100
        # the partition predicate must not survive as a row-level Filter
        row_filter = plan.split("PartitionFilters", 1)[0]
        assert "Filter (day" not in row_filter


class TestAqeSkewJoin:
    def test_aqe_splits_skewed_partition(self, spark):
        """Runtime skew defense beyond the pipeline's static salting: AQE
        must detect a hot join key at execution time and split its
        partition (the 1000-executor behavior when one domain dominates a
        key — no code change, just correct configs). Asserted on the
        final adaptive plan: SortMergeJoin(skew=true) + a skewed
        AQEShuffleRead."""
        saved = {
            k: spark.conf.get(k, None)
            for k in (
                "spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
                "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            )
        }
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.5"
            )
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
                "100KB",
            )
            spark.conf.set(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", "100KB"
            )
            # one hot key carries 200x the payload of the other 99 combined
            left = spark.range(200_000).select(
                F.lit(0).alias("k"),
                F.md5(F.col("id").cast("string")).alias("pay"),
            ).union(
                spark.range(1000).select(
                    (F.col("id") % 99 + 1).alias("k"),
                    F.md5(F.col("id").cast("string")).alias("pay"),
                )
            )
            right = spark.range(100).select(
                F.col("id").alias("k"), F.col("id").alias("v")
            )
            j = left.join(right, "k")
            assert len(j.collect()) == 201_000
            # the SAME dataset's queryExecution holds the final AQE plan
            plan = plan_of(j)
            assert "isFinalPlan=true" in plan
            assert "skew=true" in plan
            assert "skewed" in plan  # AQEShuffleRead split the hot partition
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestPqPlans:
    def test_encode_broadcasts_codebook(self, spark):
        """The m·k codebook must always be the broadcast side — a shuffle
        of the corpus against a few-thousand-row codebook would be the
        classic small-side mistake at 10^12 vectors."""
        from ocr_search_spark.ops.similarity import (
            pq_codebooks_from_sample,
            pq_encode,
        )

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        cb = pq_codebooks_from_sample(emb, m=8, k=16, dim=64)
        plan = plan_of(pq_encode(emb, cb))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_ivf_pq_search_plan_shape(self, spark):
        """The r5 serve path (pre-built index -> probe search) must stay
        free of nested-loop/cartesian joins: probes prune on centroid_id,
        the ADC LUT rides a broadcast, and the only unkeyed product is
        the broadcast of the tiny centroid/codebook sides."""
        from ocr_search_spark.ops.similarity import (
            ivf_centroids_from_sample,
            ivf_pq_index,
            ivf_pq_search,
            pq_codebooks_from_sample,
        )
        from pyspark.sql import functions as F

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        cents = ivf_centroids_from_sample(emb, k=16)
        cb = pq_codebooks_from_sample(emb, m=8, k=16, dim=64)
        # materialize the index as production does (a table) so the plan
        # under test is the serve path, not build+serve
        index = ivf_pq_index(emb, cents, cb).persist()
        try:
            index.count()
            out = ivf_pq_search(
                index, emb.filter(F.col("vec_id") < 5), cents, cb,
                k=10, n_probe=4,
            )
            plan = plan_of(out)
            assert "CartesianProduct" not in plan
            # the only nested-loop products allowed are the documented
            # broadcast Crosses of O(m·k) driver-built sides (centroids
            # for probes, codebook for the ADC LUT) against the tiny
            # query set — every BNLJ line must be that BuildRight Cross;
            # the corpus-sized index joins only through hash/sort-merge
            # equi joins
            for line in plan.splitlines():
                if "BroadcastNestedLoopJoin" in line:
                    assert "Cross" in line and "BuildRight" in line, line
            assert "InMemoryTableScan" in plan  # index read, not rebuilt
        finally:
            index.unpersist()


class TestLmPlans:
    def test_lm_score_stays_distributed(self, spark):
        """The LM posting joins must be hash equi joins (model stays
        distributed); the only nested-loop product allowed is the
        broadcast single-row vocab-size Cross; no Python UDFs."""
        from ocr_search_spark.ops.lm import lm_score, lm_vocab_size, ngram_lm

        docs = spark.createDataFrame(
            [(i, "a b c d e f") for i in range(10)], "doc_id long, text string"
        )
        out = lm_score(docs, ngram_lm(docs), lm_vocab_size(docs))
        plan = plan_of(out)
        assert "CartesianProduct" not in plan
        for line in plan.splitlines():
            if "BroadcastNestedLoopJoin" in line:
                assert "Cross" in line and "BuildRight" in line, line
        assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
        # gram/prefix posting joins are equi joins
        assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan


class TestR5LateOpPlans:
    """Plan pins for the closing-r5 operators: no cartesian products, no
    Python UDFs, partial aggregation where the scale argument claims it."""

    def test_tfidf_related_posting_join_is_equi(self, spark):
        from ocr_search_spark.search.ranking import tfidf_related_topk

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        plan = plan_of(tfidf_related_topk(docs, k=3, max_df_frac=0.25))
        assert "CartesianProduct" not in plan
        assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
        # the posting self-join must be an equi join on the term key
        assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or \
            "ShuffledHashJoin" in plan

    def test_kmeans_iteration_shuffle_is_partial_agg(self, spark):
        """The per-iteration (cid, pos) sum must partial-combine map-side:
        two HashAggregate levels around one Exchange, so only k*dim rows
        per partition cross the wire — the core kmeans_train scale claim."""
        from ocr_search_spark.ops.similarity import kmeans_train

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        out = kmeans_train(emb, k=4, n_iters=1)
        # the returned stats plan carries the final assignment aggregation
        plan = plan_of(out)
        assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert plan.count("HashAggregate") >= 2  # partial + final

    def test_zipf_and_heaps_word_shuffles_partial_agg(self, spark):
        from ocr_search_spark.ops.sketch import heaps_law, zipf_spectrum

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        for q in (zipf_spectrum(docs), heaps_law(docs)):
            plan = plan_of(q)
            assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
            assert plan.count("HashAggregate") >= 2

    def test_bpe_encode_id_map_broadcast(self, spark):
        """The symbol->id map join must broadcast (|alphabet|+K rows) —
        never shuffle the encoded symbol stream for it."""
        from ocr_search_spark.ops.text_analysis import bpe_encode

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        plan = plan_of(bpe_encode(docs, n_merges=2))
        assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan


class TestRetrievalHeadPlans:
    """Round-5-close retrieval head: the scale claims must be visible in
    the physical plan."""

    def _docs(self, spark):
        return spark.createDataFrame(
            [(f"d{i}", f"spark join w{i} w{i % 3}") for i in range(40)],
            "doc_id string, text string",
        )

    def test_terms_df_bm25_broadcasts_term_table(self, spark):
        """The dynamic term table must broadcast — a sort-merge join on
        __term would shuffle the whole exploded token stream by term."""
        from ocr_search_spark.search.ranking import bm25_scores_terms_df

        terms = spark.createDataFrame(
            [("spark",), ("join",)], "term string"
        )
        plan = plan_of(bm25_scores_terms_df(self._docs(spark), terms))
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_rrf_fuse_has_no_join(self, spark):
        """Fusion is union + groupBy over pre-truncated arms — any Join
        node would mean an accidental arm correlation."""
        from ocr_search_spark.search.ranking import rrf_fuse

        a = spark.createDataFrame([("a", 1), ("b", 2)], "doc_id string, rank int")
        b = spark.createDataFrame([("b", 1)], "doc_id string, rank int")
        plan = plan_of(rrf_fuse([a, b]))
        assert "Join" not in plan
        assert "Union" in plan

    def test_hybrid_lexical_arm_is_top_k(self, spark):
        """The lexical arm's truncation must compile to
        TakeOrderedAndProject (distributed per-partition heaps), not a
        global Sort feeding the rank window."""
        from ocr_search_spark.search.ranking import bm25_scores

        lex = (
            bm25_scores(self._docs(spark), ["spark", "join"])
            .orderBy(F.col("bm25").desc(), F.col("doc_id"))
            .limit(50)
        )
        assert "TakeOrderedAndProject" in plan_of(lex)

    def test_prf_feedback_join_broadcasts(self, spark):
        """Only the fb_docs feedback rows are re-tokenized: the top-k
        side must broadcast into the docs join."""
        from ocr_search_spark.search.ranking import prf_expansion_terms

        plan = plan_of(
            prf_expansion_terms(self._docs(spark), ["spark"], fb_docs=5)
        )
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

#!/usr/bin/env python3
"""End-to-end walkthrough: everything a reference (ocr-search) user does,
on the Spark engine — runnable as a plain script or via spark-submit:

    spark-submit --master 'local[8]' --py-files ocr_search_spark.zip \
        scripts/demo.py [sf_dir] [workdir]

Flow: build the interleaved corpus → resumable salted extraction (audit +
pointer) → content/postings tables → searches (FTS + filters, three rank
modes) → training-data ops (dedup report, near-dup pairs, train/val/test
split) — printing a few rows of each.
"""

from __future__ import annotations

import sys
import tempfile

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    workdir = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="demo_store_")

    spark = SparkSession.builder.appName("ocr-search-spark-demo").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from ocr_search_spark.corpus import corpus_df
    from ocr_search_spark.ops.dedup import exact_dedup_groups, near_dedup
    from ocr_search_spark.ops.sampling import hash_split
    from ocr_search_spark.pipeline import read_audit
    from ocr_search_spark.pipeline.checkpoint import (
        committed_spans,
        compact_group_outputs,
        vacuum_uncommitted,
    )
    from ocr_search_spark.store import DocumentStore

    print(f"== ingest ({sf_dir} -> {workdir})")
    store = DocumentStore(spark, workdir)
    docs = corpus_df(spark, sf_dir, n_docs=1000)
    stats = store.ingest(docs, run_group="demo")
    print(stats)
    read_audit(spark, workdir).select(
        "run_id", "partition_id", "docs", "spans", "failures"
    ).show(4)

    print("== search: FTS AND-match, three rank modes")
    for mode in ("simple", "cd", "bm25"):
        res = store.search("spark join", limit=3, rank_mode=mode)
        print(f"-- rank_mode={mode}: total={res['total']}")
        res["items"].show(3, truncate=60)

    print("== search: websearch grammar (phrase / OR / -exclusion)")
    for q in ('"spark join"', "spark OR join -table"):
        res = store.search(q, limit=3)
        print(f"-- q={q!r}: total={res['total']}")
        res["items"].select("doc_id", "link", "snippet").show(2, truncate=50)

    print("== search: empty query -> latest-10 semantics")
    res = store.search(None)
    print(f"total={res['total']}")
    res["items"].show(3, truncate=60)

    print("== metadata map (exiftool analogue) on the content table")
    content = spark.read.parquet(store.content_path)
    content.select(
        "doc_id",
        F.element_at("meta", "FileType").alias("ftype"),
        F.element_at("meta", "MIMEType").alias("mime"),
        F.element_at("meta", "FileSize").alias("size"),
    ).show(4)

    print("== dedup report (exact, md5 fingerprint)")
    groups = exact_dedup_groups(content, "doc_id", "content")
    groups.filter(F.col("n_dups") > 1).orderBy(F.col("n_dups").desc()).show(5)

    print("== near-dedup survivors (LSH candidates -> verify -> keeper)")
    survivors = near_dedup(content, "doc_id", "content", threshold=0.5)
    n_surv = survivors.count()  # count once — the DAG is uncached
    print(f"docs={content.count()} survivors={n_surv}")

    print("== near-dedup, cluster keeper (min-label propagation)")
    from ocr_search_spark.ops.dedup import near_dedup_cc

    cc = near_dedup_cc(content, "doc_id", "content", threshold=0.5)
    print(f"cluster-keeper survivors={cc.count()} (pairwise kept {n_surv})")

    print("== Gopher repetition gate + passage-level substring dedup")
    from ocr_search_spark.ops.text_analysis import repetition_filter, substring_dedup

    kept = repetition_filter(content, "doc_id", "content")
    print(f"gopher gate survivors={kept.count()}")
    # max_doc_freq: corpus documents share pool vocabulary, so uncapped
    # fingerprint postings blow up the self-join (the boilerplate pathology
    # the guard exists for)
    sd = substring_dedup(content, "doc_id", "content", min_shared=2, max_doc_freq=20)
    sd_touched = sd.filter(F.col("n_dropped") > 0)
    print(f"passage-dedup touched docs={sd_touched.count()}")
    sd_touched.select("id", "n_tokens", "n_dropped").orderBy(
        F.col("n_dropped").desc()
    ).show(3)

    print("== .msg extraction (pure-stdlib CFB reader on corpus msg spans)")
    msg_rows = (
        committed_spans(spark, workdir, "demo")
        .select(F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "msg")
    )
    print(f"msg spans extracted: {msg_rows.count()}")
    msg_rows.select(F.substring("s.text", 1, 70).alias("msg_text_head")).show(
        2, truncate=False
    )

    print("== multimodal: caption pairing + interleave data card (r5 cont.)")
    from ocr_search_spark.ops.multimodal import caption_pairs, interleave_profile
    from ocr_search_spark.pipeline import explode_spans

    flat = explode_spans(committed_spans(spark, workdir, "demo"))
    caps = caption_pairs(flat)
    n_media = caps.count()
    n_captioned = caps.filter(F.col("caption").isNotNull()).count()
    print(f"media spans={n_media}  captioned={n_captioned}")
    caps.filter(F.col("caption").isNotNull()).select(
        "doc_id", "media_ref", "distance",
        F.substring("caption", 1, 50).alias("caption_head"),
    ).orderBy("doc_id", "media_order").show(3, truncate=False)
    interleave_profile(flat).orderBy(
        F.col("max_media_run").desc(), "doc_id"
    ).show(3)

    print("== train/val/test split (deterministic hash ranges)")
    hash_split(content, {"train": 0.8, "val": 0.1, "test": 0.1}).groupBy(
        "split"
    ).count().orderBy("split").show()

    print("== corpus hygiene: duplicate-line removal + mojibake gate")
    from ocr_search_spark.ops.lines import remove_duplicate_lines
    from ocr_search_spark.ops.scrub import mojibake_signals

    boiler = content.withColumn(
        "text", F.concat(F.lit("all rights reserved\n"), F.col("content"))
    )
    cleaned = remove_duplicate_lines(boiler, "doc_id", "text", min_docs=2)
    cleaned.agg(
        F.count("*").alias("docs"),
        F.sum("n_removed").alias("boilerplate_lines_removed"),
    ).show()
    mojibake_signals(content, "content").agg(
        F.sum("n_mojibake").alias("total_artifacts")
    ).show()

    print("== web hygiene: canonical-URL dedup + eTLD+1 rollup (r5)")
    from ocr_search_spark.ops.scrub import registered_domain_counts, url_dedup

    linked = content.withColumn(
        "text",
        F.concat(
            F.col("content"),
            F.lit(" see https://www.news.example.co.uk/a/"),
            F.col("doc_id"),
            F.lit("?utm_source=feed"),
        ),
    )
    url_dedup(linked, "doc_id", "text").agg(
        F.count("*").alias("canonical_urls"),
        F.sum("n_urls").alias("raw_urls"),
    ).show()
    registered_domain_counts(linked, "doc_id", "text").orderBy(
        F.desc("n_urls")
    ).show(3, truncate=False)

    print("== incremental ingest: batch 2 deduped against batch 1's sig store (r5)")
    from ocr_search_spark.ops.dedup import (
        incremental_near_dedup,
        minhash_signatures,
    )

    wave1 = content.filter(F.col("doc_id").substr(-1, 1) < "8").select(
        "doc_id", F.col("content").alias("text")
    )
    wave2 = content.select("doc_id", F.col("content").alias("text"))
    sig_store = minhash_signatures(wave1, "doc_id", "text")
    surv, _sigs = incremental_near_dedup(wave2, "doc_id", "text", sig_store)
    print(
        {
            "wave1_store": sig_store.count(),
            "wave2_batch": wave2.count(),
            "wave2_admitted": surv.count(),
        }
    )

    print("== classifier gate + temperature mixing + chunking (r5)")
    from ocr_search_spark.ops.classify import linear_scores
    from ocr_search_spark.ops.sampling import (
        chunk_documents,
        temperature_rebalance,
    )

    wts = spark.range(1 << 18).select(
        F.col("id").alias("bucket"), (F.col("id") % 2001 - 1000).alias("weight_fp")
    )
    linear_scores(content, "doc_id", "content", wts).agg(
        F.count("*").alias("docs"),
        F.sum((F.col("logit_fp") >= 0).cast("int")).alias("kept_at_0"),
    ).show()
    lang2 = content.withColumn(
        "lang", F.when(F.col("doc_id").substr(-1, 1) < "5", "ru").otherwise("en")
    )
    temperature_rebalance(lang2, "lang", alpha=0.5).groupBy("lang").count().show()
    chunk_documents(content, "doc_id", "content", 64, 16).agg(
        F.count("*").alias("chunks"), F.sum("n_tokens").alias("tokens")
    ).show()

    print("== domain authority: fixed-point PageRank over the link graph (r5)")
    from ocr_search_spark.ops.graph import domain_link_edges, pagerank

    sited = linked.withColumn(
        "site",
        F.concat(F.lit("s"), F.col("doc_id").substr(-1, 1), F.lit(".example.org")),
    )
    pr_edges = domain_link_edges(sited, "site", "text", "doc_id")
    pagerank(pr_edges, n_iter=3).orderBy(F.desc("pr_fp")).show(3)

    print("== corpus assembly: stratified rebalance -> ~4k-char shards")
    from ocr_search_spark.ops.sampling import pack_shards, stratified_sample

    lang_tagged = content.withColumn(
        "lang", F.when(F.col("doc_id").substr(-1, 1) < "5", "ru").otherwise("en")
    )
    mixed = stratified_sample(lang_tagged, "lang", {"en": 0.5}, salt="demo")
    shards = pack_shards(
        mixed.withColumn("n", F.length("content")), "doc_id", "n",
        target_tokens=4000, n_groups=8,
    )
    shards.groupBy("shard_group").agg(
        F.countDistinct("shard_idx").alias("shards"),
        F.count("*").alias("docs"),
    ).orderBy("shard_group").show(4)

    print("== temporal joins over the audit trail (as-of + 60s range)")
    from ocr_search_spark.ops.relational import asof_join, range_join

    audit = read_audit(spark, workdir).select(
        "run_id", "partition_id", "docs",
        F.col("committed_at").alias("ts"),
    )
    aj = asof_join(
        audit, audit.select("run_id", "ts", F.col("docs").alias("d2")),
        on="run_id", left_ts="ts", right_ts="ts", tiebreak="d2",
    )
    print(f"as-of rows: {aj.count()} (one per audit row, latest prior commit attached)")
    rj = range_join(audit, audit, on="run_id", left_ts="ts", right_ts="ts", lookback_s=60)
    print(f"range-join pairs within 60s: {rj.count()}")

    print("== ANN: PQ codes + IVF-PQ probe search over doc fingerprint vectors")
    from ocr_search_spark.ops.similarity import (
        ivf_centroids_from_sample,
        ivf_pq_topk,
        pq_codebooks_from_sample,
    )

    vecs = content.select(
        F.col("doc_id").alias("vec_id"),
        F.array(*[
            (F.conv(F.substring(F.md5(F.concat(F.col("content"), F.lit(str(i)))), 1, 4), 16, 10)
             .cast("double") / F.lit(65535.0)).alias(f"d{i}")
            for i in range(16)
        ]).alias("embedding"),
    )
    cents = ivf_centroids_from_sample(vecs, k=8)
    cb = pq_codebooks_from_sample(vecs, m=4, k=8, dim=16)
    hits = ivf_pq_topk(vecs, vecs.limit(2), cents, cb, k=3, n_probe=3)
    hits.show(6)

    print("== selection: SemDeDup over the fingerprint vectors + DSIR top-10")
    from ocr_search_spark.ops.dsir import dsir_select
    from ocr_search_spark.ops.similarity import semdedup

    kept_vecs = semdedup(vecs, cents, threshold=0.9, method="join")
    print(f"semdedup survivors: {kept_vecs.count()} / {vecs.count()}")
    target = content.filter(F.col("doc_id").substr(-1, 1) < "3")
    picked = dsir_select(content, target, n=10, id_col="doc_id",
                         text_col="content")
    print("DSIR top-3 (importance-weighted toward the target slice):")
    picked.show(3)

    print("== tokenizer induction: first 4 BPE merges + trained-vocab mass (r5)")
    from ocr_search_spark.ops.text_analysis import bpe_train, bpe_vocab_stats

    bpe_train(content, "content", n_merges=4).show(4, truncate=False)
    bpe_vocab_stats(content, "content", n_merges=4, top_k=3).show(3)

    print("== tokenizer lifecycle: ship the artifact, serve a NEW batch (r5 close)")
    from ocr_search_spark.ops.text_analysis import (
        bpe_apply,
        bpe_artifacts,
        wordpiece_artifacts,
        wordpiece_encode,
    )

    train_half = content.filter(F.col("doc_id").substr(-1, 1) < "5")
    merges, ship_vocab = bpe_artifacts(train_half, "content", n_merges=4)
    served = bpe_apply(content, merges, ship_vocab, "doc_id", "content")
    n_unk = served.filter(F.col("token_id") == -1).count()
    print(f"bpe_apply: {served.count()} symbol rows, {n_unk} OOV unk rows "
          f"(shipped {len(merges)} merges, |vocab|={len(ship_vocab)})")
    wp_vocab = wordpiece_artifacts(train_half, "content", n_merges=4)
    wp = wordpiece_encode(content, wp_vocab, "doc_id", "content",
                          max_word_len=12)
    print(f"wordpiece_encode (greedy longest-match, 12-char cap): "
          f"{wp.count()} symbol rows, "
          f"{wp.filter(F.col('symbol') == '[UNK]').count()} whole-word [UNK]")

    print("== corpus statistics: Heaps' growth curve + Zipf half-bit spectrum (r5)")
    from ocr_search_spark.ops.sketch import heaps_law, zipf_spectrum

    heaps_law(content, "doc_id", "content").show()
    zipf_spectrum(content, "content").show(5)

    print("== related docs (tf-idf MIPS) + lattice k-means over the vectors (r5)")
    from ocr_search_spark.ops.similarity import kmeans_train
    from ocr_search_spark.search.ranking import tfidf_related_topk

    tfidf_related_topk(
        content, id_col="doc_id", text_col="content", k=2, max_df_frac=0.9
    ).orderBy("a", "rnk").show(4)
    kmeans_train(vecs, k=4, n_iters=2).select(
        "cluster_id", "size", "inertia"
    ).orderBy("cluster_id").show()

    print("== retrieval head: PRF expansion -> RRF fusion -> MMR diversify (r5 close)")
    from pyspark.sql.window import Window

    from ocr_search_spark.ops.similarity import mmr_select
    from ocr_search_spark.search.ranking import (
        bm25_scores,
        cover_density_rank,
        prf_expansion_terms,
        rrf_fuse,
    )

    cdocs = content.select("doc_id", F.col("content").alias("text"))
    print("-- PRF: RM3 expansion terms from the BM25 top-10 feedback set")
    exp_terms = prf_expansion_terms(
        cdocs, ["spark", "join"], fb_docs=10, fb_terms=5
    )
    exp_terms.show()
    print("-- PRF second pass: original + expansion terms as a term TABLE,")
    print("   re-scored by data-driven BM25 (e6-lattice contributions)")
    from ocr_search_spark.search.ranking import bm25_scores_terms_df

    all_terms = exp_terms.select("term").unionByName(
        spark.createDataFrame([("spark",), ("join",)], "term string")
    )
    bm25_scores_terms_df(cdocs, all_terms).orderBy(
        F.col("bm25_e6").desc(), "doc_id"
    ).show(3)
    lex = (
        bm25_scores(cdocs, ["spark", "join"])
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.col("bm25").desc(), "doc_id")),
        )
        .select("doc_id", "rank")
    )
    prox = (
        cover_density_rank(cdocs, ["spark", "join"])
        .orderBy(F.col("rank_cd").desc(), "doc_id")
        .limit(20)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("rank_cd").desc(), "doc_id")
            ),
        )
        .select("doc_id", "rank")
    )
    fused = rrf_fuse([lex, prox], id_col="doc_id", topk=10)
    print("-- RRF: BM25 arm + cover-density arm, fused top-10")
    fused.show(4)
    pool = fused.join(
        vecs.select(F.col("vec_id").alias("doc_id"), "embedding"), "doc_id"
    ).select("doc_id", F.col("rrf").alias("rel_e6"), "embedding")
    print("-- MMR: diversified top-5 over the fused pool (lambda=0.7)")
    mmr_select(
        pool, k=5, lambda_bp=7000, id_col="doc_id", rel_col="rel_e6"
    ).show()

    print("== re-ingest: checkpoint pointer skips committed groups")
    print(store.ingest(docs, run_group="demo"))

    print("== compaction: republish each group as one file, vacuum orphans")
    print(compact_group_outputs(spark, workdir, "demo"))
    print(f"vacuumed {len(vacuum_uncommitted(spark, workdir, min_age_s=0))} superseded dirs")
    print(f"committed rows: {committed_spans(spark, workdir, 'demo').count()}")

    spark.stop()


if __name__ == "__main__":
    main()

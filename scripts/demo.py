#!/usr/bin/env python3
"""End-to-end walkthrough: everything a reference (ocr-search) user does,
on the Spark engine — runnable as a plain script or via spark-submit:

    spark-submit --master 'local[8]' --py-files ocr_search_spark.zip \
        scripts/demo.py [sf_dir] [workdir]

Flow: build the interleaved corpus → ``DocumentStore.ingest`` (resumable
salted extraction, audit, pointer, content/postings tables) →
``DocumentStore.search`` (three rank modes, the websearch grammar) →
``near_dedup_cc`` over the stored content → vacuum → a re-ingest that
resumes from the pointer — printing a few rows of each.
"""

from __future__ import annotations

import sys
import tempfile

from pyspark.sql import SparkSession


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    workdir = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="demo_store_")

    spark = SparkSession.builder.appName("ocr-search-spark-demo").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from ocr_search_spark.corpus import corpus_df
    from ocr_search_spark.ops.dedup import near_dedup_cc
    from ocr_search_spark.pipeline.checkpoint import (
        committed_spans,
        read_audit,
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

    print("== near-dedup, cluster keeper (min-label propagation)")
    content = spark.read.parquet(store.content_path)
    cc = near_dedup_cc(content, "doc_id", "content", threshold=0.5)
    print(f"docs={content.count()} cluster-keeper survivors={cc.count()}")

    print("== vacuum: remove staged attempts that were never published")
    print(f"vacuumed {len(vacuum_uncommitted(spark, workdir, min_age_s=0))} orphan dirs")
    print(f"committed rows: {committed_spans(spark, workdir, 'demo').count()}")

    print("== re-ingest: run_group 'demo' is published, so extraction is skipped")
    print(store.ingest(docs, run_group="demo"))

    spark.stop()


if __name__ == "__main__":
    main()

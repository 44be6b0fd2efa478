#!/usr/bin/env python3
"""Extraction timer: the extraction stage at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Metric (BASELINE.json): end-to-end extraction throughput — documents/sec
and spans/sec over the interleaved corpus — measured as scan(parquet) →
salt/shuffle → vectorized extraction → parquet write (the full pipeline,
not a kernel microbenchmark), as the minimum of 2 timed passes. The repo's
benchmark of the ingest and search paths is ``perfbench/``.

The corpus is deterministic, derived from the sf's documents.parquet
(corpus.build_document); it is materialized once to a cache dir so the
timed section benchmarks extraction, not corpus synthesis.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
CACHE_ROOT = os.environ.get(
    "SPARK_GRAFT_CACHE", os.path.join(os.path.dirname(os.path.abspath(__file__)), ".data")
)


def sf_of(sf_dir: str) -> float:
    tail = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    try:
        return float(tail.replace("sf", ""))
    except ValueError:
        return -1.0


def corpus_cache_path(sf_dir: str) -> str:
    # key the cache on the corpus recipe source (plus the kernels it pulls
    # in, e.g. cfb_build for msg spans) so a recipe change regenerates
    # instead of silently benchmarking a stale corpus. inspect.getsource,
    # not open(__file__): the package may be imported from a --py-files zip
    import hashlib
    import inspect

    import ocr_search_spark.corpus as _corpus
    import ocr_search_spark.kernels.cfb_build as _cfb
    import ocr_search_spark.kernels.xlsx_build as _xlsx

    h = hashlib.md5()
    for mod in (_corpus, _cfb, _xlsx):
        h.update(inspect.getsource(mod).encode())
    sf = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    return os.path.join(CACHE_ROOT, f"corpus_{sf}_{h.hexdigest()[:10]}.parquet")


def ensure_corpus(spark, sf_dir: str) -> str:
    """Materialize the interleaved corpus parquet once per sf."""
    from ocr_search_spark.corpus import corpus_df, n_docs_for

    path = corpus_cache_path(sf_dir)
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        corpus_df(
            spark, sf_dir, n_docs=n_docs_for(sf_dir), partitions=CPUS * 2
        ).write.mode("overwrite").parquet(path)
    return path


def main() -> None:
    from ocr_search_spark.session import get_spark

    spark = get_spark("bench", cores=CPUS, shuffle_partitions=max(CPUS, 16))
    spark.sparkContext.setLogLevel("ERROR")

    corpus_path = ensure_corpus(spark, SF_DIR)
    corpus = spark.read.parquet(corpus_path)
    n_docs = corpus.count()

    # e2e extraction (scan -> shuffle -> extract -> write)
    from ocr_search_spark.pipeline.extract import extract_documents

    # two warmup passes: one reaches codegen/Python-worker steady state, the
    # second settles Arrow buffer pools + page cache (measured: the first
    # post-warmup pass is still ~1.3× the true steady state on this VM)
    n_spans = 0
    for _ in range(2):
        warm_dir = tempfile.mkdtemp(prefix="bench_warm_")
        extract_documents(corpus, num_partitions=CPUS * 2).write.mode(
            "overwrite"
        ).parquet(warm_dir)
        res = spark.read.parquet(warm_dir).agg(
            F.count("*").alias("docs"), F.sum("n_spans").alias("spans")
        ).collect()[0]
        n_spans = int(res.spans)
        shutil.rmtree(warm_dir, ignore_errors=True)

    # best of two timed passes: a single pass still carries JIT/page-cache
    # noise on a shared VM; the min is the steady-state number a long-lived
    # cluster job sees (both passes run the identical full pipeline)
    t_extract = float("inf")
    for _ in range(2):
        out_dir = tempfile.mkdtemp(prefix="bench_extract_")
        t0 = time.monotonic()
        extract_documents(corpus, num_partitions=CPUS * 2).write.mode(
            "overwrite"
        ).parquet(out_dir)
        t_extract = min(t_extract, time.monotonic() - t0)
        shutil.rmtree(out_dir, ignore_errors=True)

    docs_per_sec = n_docs / t_extract
    spans_per_sec = n_spans / t_extract
    print(
        json.dumps(
            {
                "metric": "extract_e2e_sec",
                "value": round(t_extract, 3),
                "unit": "sec",
                "sf": sf_of(SF_DIR),
                "cpus": CPUS,
                "docs": n_docs,
                "spans": n_spans,
                "docs_per_sec": round(docs_per_sec, 1),
                "spans_per_sec": round(spans_per_sec, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

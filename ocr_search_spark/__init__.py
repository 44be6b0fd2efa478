"""ocr_search_spark — a PySpark-native document-extraction and search engine.

A from-scratch reimplementation of the data-processing capabilities of
``SergeantBDA/ocr-search`` (the reference, cited per-module as file:line)
as a batch DataFrame pipeline over an Iceberg-style table of interleaved
text + media documents:

* per-format extraction dispatch (html / pdf / txt / docx / image / uns) in
  vectorized kernels driven by ``mapInArrow`` — no per-row Python UDFs
  at the Spark level (reference: app/services/bytes_xtractor.py:50-88);
* the reference's text normalization chain, bug-for-bug
  (app/services/bytes_xtractor.py:23-39);
* search semantics — FTS term match, date-range / ILIKE predicates, rank +
  trigram similarity, snippet, combined ordering (app/search.py:10-99);
* skew-salted partitioning, per-partition lineage/audit metrics, and
  checkpointed resumability published by one atomic pointer
  (``pipeline.checkpoint.publish``, the package's only publish protocol);
* near-duplicate removal over stored content (``ops.dedup.near_dedup_cc``
  and the MinHash-LSH / Jaccard / SimHash operators it builds on) and the
  exiftool-analogue metadata map (``ops.metadata``);
* off those paths, training-data-pipeline operators in the other ``ops``
  submodules (ANN similarity search over embeddings, text analysis and
  tokenizers, sampling, hygiene, multimodal column plumbing) and
  ``streaming`` (windowed counts, sessions, streaming exact dedup and
  interval joins; none of them writes to a store).

The three paths are ``store.DocumentStore.ingest``, ``DocumentStore.search``
and ``ops.dedup.near_dedup_cc``.

No package re-exports a name: import each from its defining submodule
(``from ocr_search_spark.pipeline.checkpoint import run_extraction``).
"""

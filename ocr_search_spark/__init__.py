"""ocr_search_spark — a PySpark-native document-extraction and search engine.

A from-scratch reimplementation of the data-processing capabilities of
``SergeantBDA/ocr-search`` (reference at /root/reference, cited per-module as
file:line) as a batch DataFrame pipeline over an Iceberg-style table of
interleaved text + media documents:

* per-format extraction dispatch (html / pdf / txt / docx / image / uns) in
  vectorized pandas kernels driven by ``mapInPandas`` — no per-row Python UDFs
  at the Spark level (reference: app/services/bytes_xtractor.py:50-88);
* the reference's text normalization chain, bug-for-bug
  (app/services/bytes_xtractor.py:23-39);
* search semantics — FTS term match, date-range / ILIKE predicates, rank +
  trigram similarity, snippet, combined ordering (app/search.py:10-99);
* skew-salted partitioning, per-partition lineage/audit metrics, and
  checkpointed resumability published by one atomic pointer (north_rule);
* training-data-pipeline operators: dedup (exact / MinHash-LSH / n-gram
  Jaccard / SimHash), ANN similarity search over embeddings, text analysis
  (language id, quality score, token counting, fingerprinting), multimodal
  binary-column plumbing.
"""

__version__ = "0.1.0"

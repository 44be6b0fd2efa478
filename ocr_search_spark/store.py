"""DocumentStore: the full reference lifecycle as one facade.

Upload → extract → store → search (reference flow §3.1 + §3.2 of SURVEY.md:
app/broker/workers.py:22-126 ingestion into the ``documents`` Postgres table
with its trigger-maintained tsvector, then app/search.py:10-99 querying it).

Spark shape:

* ``ingest`` runs the resumable extraction (staged span attempts + audit,
  see ``pipeline/checkpoint.py``) and materializes two derived tables
  compute-once-on-write, exactly like the reference's trigger (alembic
  0001_init.py:36-53): a flat per-document ``content`` table (the
  ``documents.content`` analogue: one projection over the latest published
  row of each document, joining its span array's texts in array order,
  which is span order) and the inverted ``postings`` table (the tsvector
  analogue);
* ``search`` mirrors ``search_documents`` semantics over the content table,
  resolving the match from the postings table.

Store layout and publish protocol::

    <root>/spans/r=<run_id>                staged span attempts, one per batch
    <root>/_audit                          one lineage row per attempt partition
    <root>/snapshots/<id>/content          flat parquet, one row per doc
    <root>/snapshots/<id>/postings         flat parquet, (term, doc_id, ...)
    <root>/CURRENT                         the publication record: the live
                                           span attempts and the snapshot

``CURRENT`` is the only way anything becomes visible, and
``checkpoint.publish`` is its only writer: one atomic read-modify-write
swap (temporary file, fsync, atomic rename). An ingest publishes twice:
the extraction makes the batch's span attempt live, then the derived tables,
written into a fresh ``<id>`` that no reader knows, are published as the
snapshot. A reader resolves ``CURRENT`` once and reads both tables of that
one snapshot, so it sees the old or the new store, never content from one
and postings from another. A crash before the snapshot swap leaves the
previous snapshot live; the next ingest skips the already-published spans,
rebuilds from them and publishes a complete snapshot. After the swap the
previous snapshot is kept (a search that resolved it just before the swap
can finish) and every older or unpublished snapshot is deleted.

An ingest counts the snapshot's documents (rows written to ``content``)
and its total token count (Σ ``tf`` written to ``postings``) while it
writes them: a ``DataFrame.observe`` on each write, so the counts ride in
the write's own result stage and cost no job. The snapshot publish writes
both into ``CURRENT`` in the same swap that names the snapshot.

``search`` keeps the published snapshot resident. Opening it runs no Spark
job: both tables are read with their known schemas (no footer inference)
and marked cached, and (N docs, Σ tf) come from ``CURRENT``, so BM25 and
the empty query need no statistics job. The first query fills the cache.
It reloads only when ``CURRENT`` names another snapshot. A ``CURRENT``
that names a snapshot without these counts was written by an older
version; searching it raises until an ingest republishes the snapshot.

One writer per store at a time; any number of readers. ``content_path`` and
``postings_path`` resolve to the published snapshot, so callers keep
reading flat parquet directories.
"""

from __future__ import annotations

import os
import shutil
import threading
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .ops.metadata import metadata_map_expr
from .pipeline.checkpoint import (
    IncompatibleCheckpointError,
    committed_spans_latest,
    publish,
    read_pointer,
    run_extraction,
)
from .search.engine import POSTINGS_SCHEMA, build_postings, search_documents
from .tables import write_table

#: the columns ``DocumentStore.ingest`` writes to ``content``, in order
CONTENT_SCHEMA = (
    "doc_id string, content string, filename string, path_origin string, "
    "meta map<string,string>"
)


def snapshot_dir(root: str, snapshot: str) -> str:
    return f"{root}/snapshots/{snapshot}"


def _table_path(root: str, pointer: dict, name: str) -> str:
    if pointer["snapshot"] is None:
        raise FileNotFoundError(f"{root} has no published snapshot yet")
    return f"{snapshot_dir(root, pointer['snapshot'])}/{name}"


def publish_snapshot(root: str, snapshot: str, stats: dict) -> None:
    """Atomically make ``snapshot`` the published one, with its ``stats``
    (``{"docs": N, "sum_tf": Σ tf}``), then delete every snapshot except it
    and the one it replaces."""
    previous = publish(root, lambda p: p.update(snapshot=snapshot, snapshot_stats=stats))
    keep = {snapshot, previous["snapshot"]}
    base = os.path.join(root, "snapshots")
    for name in os.listdir(base):
        if name not in keep:
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)


@dataclass
class _Resident:
    """One published snapshot's cached tables and its (N docs, Σ tf) as
    ``CURRENT`` records them. Loading it runs no Spark job: the tables are
    read with their known schemas and only marked cached; the first query
    that reads them fills the cache."""

    snapshot: str
    docs: DataFrame
    postings: DataFrame
    stats: tuple[int, int]

    @classmethod
    def load(cls, spark: SparkSession, root: str, pointer: dict):
        content = _table_path(root, pointer, "content")
        postings = _table_path(root, pointer, "postings")
        stats = pointer["snapshot_stats"]
        if stats is None:
            raise IncompatibleCheckpointError(
                f"{root}/CURRENT names snapshot {pointer['snapshot']} without its "
                "document and token counts (it was published by an older "
                "version). Run DocumentStore.ingest on this store, with any "
                "batch, to republish the snapshot with them."
            )
        docs = spark.read.schema(CONTENT_SCHEMA).parquet(content).cache()
        post = spark.read.schema(POSTINGS_SCHEMA).parquet(postings).cache()
        return cls(pointer["snapshot"], docs, post, (stats["docs"], stats["sum_tf"]))

    def unpersist(self) -> None:
        self.docs.unpersist()
        self.postings.unpersist()


class DocumentStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._resident: _Resident | None = None
        self._lock = threading.Lock()

    # ---- paths -----------------------------------------------------------
    @property
    def content_path(self) -> str:
        return _table_path(self.root, read_pointer(self.root), "content")

    @property
    def postings_path(self) -> str:
        return _table_path(self.root, read_pointer(self.root), "postings")

    # ---- lifecycle -------------------------------------------------------
    def ingest(self, documents: DataFrame, run_group: str = "ingest") -> dict:
        """Extract (resumably), write content + postings into a fresh
        snapshot and publish it (see the module docstring). Returns the
        extraction's stats plus the snapshot id and what its writes
        observed: ``content_rows``, ``postings_rows`` and ``sum_tf``."""
        stats = run_extraction(self.spark, documents, self.root, run_group=run_group)
        # read the *published* view (live attempts only) across ALL
        # run_groups — a store ingested in several batches under different
        # run_groups keeps every batch searchable, with the latest
        # publication winning per document (a second ingest of a changed doc
        # supersedes the first). Its rows carry each document's spans in
        # span order (the kernel emits span i with order i), so content is
        # one projection: the span texts joined in array order. A null text
        # stays an empty line (array_join skips nulls), and a document with
        # zero spans keeps its row (the reference always keeps a documents
        # row per file) with content "" and extension txt: F.get is NULL
        # past the end where [0] raises under ANSI. Attach the reference's
        # documents-row companions: filename / path_origin (search.py:92-98
        # link composition) + the exiftool-analogue meta map (models.py:14)
        ext = F.coalesce(F.get("spans", 0)["kind"], F.lit("txt"))
        content = committed_spans_latest(self.spark, self.root).select(
            "doc_id",
            F.array_join(
                F.transform("spans", lambda s: F.coalesce(s["text"], F.lit(""))), "\n"
            ).alias("content"),
            F.concat(F.col("doc_id"), F.lit("."), ext).alias("filename"),
            F.concat(F.lit("store\\"), F.col("doc_id"), F.lit("."), ext).alias(
                "path_origin"
            ),
        )
        content = content.withColumn(
            "meta",
            metadata_map_expr(
                "doc_id",
                "content",
                source_col=F.lit("store"),
                ext=F.regexp_extract("filename", r"\.([a-z]+)$", 1),
            ),
        )
        snapshot = uuid.uuid4().hex
        base = snapshot_dir(self.root, snapshot)
        # each write counts its own rows: an observation rides in the
        # write's result stage, so it adds no job, and a retried result
        # task's accumulator updates are applied once
        wrote_content, wrote_postings = Observation(), Observation()
        write_table(
            content.observe(wrote_content, F.count(F.lit(1)).alias("rows")),
            f"{base}/content",
            mode="overwrite",
        )
        docs = self.spark.read.schema(CONTENT_SCHEMA).parquet(f"{base}/content")
        write_table(
            build_postings(docs, "doc_id", "content").observe(
                wrote_postings,
                F.count(F.lit(1)).alias("rows"),
                F.coalesce(F.sum("tf"), F.lit(0)).alias("sum_tf"),
            ),
            f"{base}/postings",
            mode="overwrite",
        )
        n_docs = wrote_content.get["rows"]
        sum_tf = wrote_postings.get["sum_tf"]
        publish_snapshot(self.root, snapshot, {"docs": n_docs, "sum_tf": sum_tf})
        stats.update(
            snapshot=snapshot,
            content_rows=n_docs,
            postings_rows=wrote_postings.get["rows"],
            sum_tf=sum_tf,
        )
        return stats

    def _resolve(self) -> _Resident:
        """The published snapshot's tables, kept resident across searches.
        They are reloaded, and the previous ones unpersisted, only when the
        pointer has changed since the last search."""
        with self._lock:
            pointer = read_pointer(self.root)
            old = self._resident
            if old is None or old.snapshot != pointer["snapshot"]:
                self._resident = _Resident.load(self.spark, self.root, pointer)
                if old is not None:
                    old.unpersist()
            return self._resident

    def search(self, q: str | None, limit: int = 25, offset: int = 0, **filters) -> dict:
        """Reference search semantics over the published snapshot."""
        snap = self._resolve()
        return search_documents(
            snap.docs,
            q,
            limit=limit,
            offset=offset,
            postings=snap.postings,
            corpus_stats=snap.stats,
            **filters,
        )

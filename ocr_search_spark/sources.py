"""File-system ingestion sources and sinks (operators S1-S5, S8).

Spark rebuild of the reference's folder-scan ingest path
(reference: app/services/ingest_folder.py:42-145):

* S1 recursive folder scan — ``binaryFile`` source with
  ``recursiveFileLookup`` (the glob walk at ingest_folder.py:66-67);
* S2 hidden/temp filter — names starting ``.``/``~$`` or ending ``.tmp``
  (ingest_folder.py:37-39), expressed as Catalyst predicates on ``path``;
* S3 extension allowlist (ingest_folder.py:53-54,74-75);
* S5 kind detection from the extension, mirroring ``_guess_ext``
  (app/services/bytes_xtractor.py:50-70) with the extension authoritative
  (the reference's MIME sets match nothing real — SURVEY.md appendix) and
  extension-less names mapped to ``uns`` instead of crashing
  (``None.endswith`` bug, bytes_xtractor.py:54);
* S4/E3/E12 bytes→text via the decode cascades inside an Arrow kernel;
* S8 text sink — one ``<doc_id>.txt`` per document
  (app/services/save_outputs.py:84-102; collision-suffix logic dropped —
  doc ids are unique by construction).
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .kernels.decode import HTML_ENCODINGS, TXT_ENCODINGS, decode_bytes

#: default extension allowlist (ingest_folder.py:53-54)
DEFAULT_ALLOWED_EXT = ("pdf", "png", "jpg", "jpeg", "docx", "xlsx")

#: extension → kind, mirroring _guess_ext (bytes_xtractor.py:50-70)
EXT_KIND = {
    "docx": "docx",
    "eml": "email", "msg": "email",
    "htm": "html", "html": "html", "xhtml": "html", "xml": "html",
    "pdf": "pdf",
    "png": "image", "jpg": "image", "jpeg": "image", "tif": "image",
    "tiff": "image", "bmp": "image",
    "rtf": "rtf",
    "txt": "txt", "csv": "txt",
    "xlsx": "xls", "xlsm": "xls", "xls": "xls",
}

#: kinds whose payload is text decoded from bytes (vs media routed by ref)
_TEXTUAL_KINDS = {"txt", "html", "docx", "rtf", "xls", "email", "pdf"}


def guess_kind_expr(filename_col) -> F.Column:
    """Column-level ``_guess_ext``: lowercase extension → kind, 'uns' else."""
    fname = F.element_at(F.split(filename_col, "/"), -1)
    has_ext = fname.contains(".")
    ext = F.lower(F.element_at(F.split(fname, r"\."), -1))
    mapping = F.create_map(*[F.lit(x) for kv in EXT_KIND.items() for x in kv])
    return F.when(has_ext, F.coalesce(mapping[ext], F.lit("uns"))).otherwise(
        F.lit("uns")
    )


def scan_folder_df(
    spark: SparkSession,
    path: str,
    allowed_ext: tuple[str, ...] | None = DEFAULT_ALLOWED_EXT,
    recursive: bool = True,
) -> DataFrame:
    """S1-S5: scan a folder into (path, filename, kind, size, content).

    The name filters are plain Catalyst predicates — pushed into the file
    scan's partition/file pruning where the source supports it.
    """
    df = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", str(recursive).lower())
        .load(path)
    )
    fname = F.element_at(F.split(F.col("path"), "/"), -1)
    df = df.withColumn("filename", fname).filter(
        ~F.col("filename").startswith(".")
        & ~F.col("filename").startswith("~$")
        & ~F.col("filename").endswith(".tmp")
    )
    if allowed_ext is not None:
        ext = F.lower(F.element_at(F.split(F.col("filename"), r"\."), -1))
        df = df.filter(F.col("filename").contains(".") & ext.isin(list(allowed_ext)))
    return df.select(
        "path",
        "filename",
        guess_kind_expr(F.col("path")).alias("kind"),
        F.col("length").alias("size_bytes"),
        "content",
    )


def _decode_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    pdf = batch.to_pandas()
    texts = []
    media_refs = []
    from .kernels.email_extract import CFB_MAGIC

    for kind, content, path in zip(pdf["kind"], pdf["content"], pdf["path"]):
        data = bytes(content) if content is not None else b""
        if (kind == "email" and data.startswith(CFB_MAGIC)) or (
            kind == "xls" and data[:4] in (b"PK\x03\x04", CFB_MAGIC[:4])
        ):
            # binary container kinds (Outlook .msg via the email kind,
            # real .xlsx/.xls workbooks): carry the raw bytes latin-1-
            # mapped — the binary-kind span convention — so the kernel's
            # magic sniff sees them intact; the txt decode cascade
            # (utf-8 -> cp1251) would remap the bytes and corrupt them
            texts.append(data.decode("latin-1"))
            media_refs.append("")
        elif kind in _TEXTUAL_KINDS:
            encs = HTML_ENCODINGS if kind == "html" else TXT_ENCODINGS
            texts.append(decode_bytes(data, encs))
            media_refs.append("")
        elif kind == "image":
            texts.append("")
            media_refs.append(path)  # media routed by reference (north_star)
        else:
            texts.append("")
            media_refs.append("")
    span_type = pa.list_(
        pa.struct(
            [
                ("kind", pa.string()),
                ("text", pa.string()),
                ("media_ref", pa.string()),
                ("offset", pa.int32()),
            ]
        )
    )
    spans = [
        [{"kind": k, "text": t, "media_ref": m, "offset": 0}]
        for k, t, m in zip(pdf["kind"], texts, media_refs)
    ]
    return pa.RecordBatch.from_arrays(
        [pa.array(pdf["filename"], type=pa.string()), pa.array(spans, type=span_type)],
        names=["doc_id", "spans"],
    )


def folder_to_documents(scanned: DataFrame) -> DataFrame:
    """S4 + decode: scanned files → the interleaved documents shape
    (one span per file; a file is a single-span document).

    doc_id is the bare filename — except when a recursive scan holds
    same-named files in different directories: one file per collision
    group — the min(path) one, the deterministic stand-in for the
    reference's first-inserted file — keeps the bare name, every other
    colliding file gets a ``#<md5(path) prefix>`` suffix, mirroring the
    reference's ``_unique_path`` (bare name first, suffixes only for
    subsequent claims) so two unrelated files can never silently merge
    into one document downstream (groupBy(doc_id) in the content build
    would concatenate them). The uniqueness check is a window min/count
    over filename — one shuffle at ingest, the same cost class as the
    reference's per-name DB lookup.
    """
    from pyspark.sql import Window

    from .corpus import SPANS_IN_SCHEMA

    w = Window.partitionBy("filename")
    scanned = scanned.withColumn(
        "filename",
        F.when(
            (F.count("*").over(w) > 1)
            & (F.col("path") != F.min("path").over(w)),
            F.concat(
                F.col("filename"),
                F.lit("#"),
                F.substring(F.md5(F.col("path")), 1, 8),
            ),
        ).otherwise(F.col("filename")),
    )

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if b.num_rows:
                yield _decode_batch(b)

    return scanned.mapInArrow(kernel, schema=SPANS_IN_SCHEMA)


def write_text_sink(flat_spans: DataFrame, out_dir: str) -> int:
    """S8: one ``<doc_id>.txt`` per document with its concatenated span
    texts (save_outputs.py:84-102 semantics, deterministic names).

    Executor-side ``open()`` writes into ``out_dir``; returns files written.

    CLUSTER CAVEAT: on a multi-executor cluster ``out_dir`` must be a
    filesystem every executor can write (NFS/FUSE-mounted object store) —
    a plain local path scatters files across executor-local disks. For
    object stores prefer the durable parquet span table (S7/``tables.py``)
    and export per-doc text files from it as a separate driver-side or
    fs-native step; this sink is the reference's local-directory analogue
    (optional per SURVEY S8), not the 100 TB path.
    """
    os.makedirs(out_dir, exist_ok=True)
    from .pipeline.extract import ordered_text_agg

    docs = flat_spans.groupBy("doc_id").agg(
        ordered_text_agg("text", "order").alias("text")
    )

    def writer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                safe = str(doc_id).replace("/", "_")
                # explicit utf-8: executor locale must not decide the
                # bytes (LC_ALL=C would crash on the Cyrillic corpus)
                with open(
                    os.path.join(out_dir, f"{safe}.txt"), "w", encoding="utf-8"
                ) as f:
                    f.write(text or "")
            yield pd.DataFrame({"n": [len(pdf)]})

    counts = docs.mapInPandas(writer, "n long").agg(F.sum("n")).collect()[0][0]
    return int(counts or 0)


WARC_RECORD_SCHEMA = (
    "path string, record_idx int, warc_type string, target_uri string, "
    "warc_date string, http_status int, http_content_type string, "
    "body binary"
)


def warc_records(scanned: DataFrame) -> DataFrame:
    """Parse a binaryFile scan of ``.warc`` / ``.warc.gz`` containers into
    one row per record — the web-crawl ingestion source.

    Arrow-batched ``mapInPandas`` over the pure-stdlib scanner
    (``kernels.warc.parse_warc``): one WARC file is one input row, so the
    fan-out is records-per-file and parallelism follows the file scan —
    at crawl scale the natural partitioning is the (many, ~1 GB) WARC
    files themselves, exactly what binaryFile provides. Fail-soft per
    file: malformed framing yields that file's parsed prefix, never an
    executor error (the P5 kernel contract).
    """
    import pandas as pd

    from .kernels.warc import parse_warc

    def kernel(batches):
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                for i, rec in enumerate(parse_warc(bytes(content))):
                    rows.append(
                        (
                            path,
                            i,
                            rec["warc_type"],
                            rec["target_uri"],
                            rec["date"],
                            rec["http_status"],
                            rec["http_content_type"],
                            rec["body"],
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "path",
                    "record_idx",
                    "warc_type",
                    "target_uri",
                    "warc_date",
                    "http_status",
                    "http_content_type",
                    "body",
                ],
            )

    return scanned.select("path", "content").mapInPandas(
        kernel, WARC_RECORD_SCHEMA
    )


def scan_warc_folder(
    spark: SparkSession,
    path: str,
    recursive: bool = True,
) -> DataFrame:
    """binaryFile scan restricted to WARC containers → parsed records."""
    scanned = scan_folder_df(
        spark, path, allowed_ext=("warc", "gz"), recursive=recursive
    )
    return warc_records(scanned)

"""Metadata extraction (S10): deterministic exiftool-analogue stub.

The reference shells out to ExifTool per uploaded file and stores the
tag→value dict as ``documents.meta`` JSON (app/services/metadata.py:8-37,
models.py:14). ExifTool itself is a process-boundary black box (and is not
present in this environment), so the graft mirrors the *data contract*: a
``meta map<string,string>`` column of stable tags derived purely from the
row — computable as Catalyst column expressions (no UDF, engine-portable,
oracle-checkable) and queryable with ``element_at(meta, 'Tag')`` exactly
like ``meta->>'Tag'`` on the reference's JSON column.

Tags emitted (ExifTool group-0 style names):

* ``FileName``   — ``{source}/{doc_id}{ext}`` (upload path analogue),
* ``FileType``   — upper-cased extension (ExifTool's File:FileType),
* ``MIMEType``   — mapped from the extension,
* ``FileSize``   — character count of the text payload (stringified),
* ``Language``   — pass-through of a language column when present,
* ``Checksum``   — md5 of the text payload.

The extension is a deterministic md5-hash pick over doc_id (the synthetic
corpus has no real files); a real deployment swaps ``ext_expr`` for the
upload filename's suffix and keeps everything downstream unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: extension universe + MIME mapping (reference handles these kinds,
#: bytes_xtractor.py dispatch table)
EXT_MIME = {
    "pdf": "application/pdf",
    "html": "text/html",
    "txt": "text/plain",
    "docx": "application/vnd.openxmlformats-officedocument.wordprocessingml.document",
}
_EXTS = sorted(EXT_MIME)  # deterministic order: docx, html, pdf, txt


def ext_expr(id_col: Column | str) -> Column:
    """Deterministic extension pick: md5-hash of the id over _EXTS.

    Engine-portable: ``conv(substring(md5('ext:'||id), 1, 8), 16, 10) %
    len`` in Spark ≡ ``('0x'||substring(md5(...),1,8))::BIGINT % len`` in
    DuckDB (same trick as ops.sampling)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.conv(
        F.substring(F.md5(F.encode(F.concat(F.lit("ext:"), c.cast("string")), "utf-8")), 1, 8),
        16,
        10,
    ).cast("long")
    ext = F.lit(_EXTS[0])
    for i, e in enumerate(_EXTS[1:], start=1):
        ext = F.when(F.pmod(h, F.lit(len(_EXTS))) == i, F.lit(e)).otherwise(ext)
    return ext


def mime_expr(ext: Column) -> Column:
    out = F.lit("application/octet-stream")
    for e, m in EXT_MIME.items():
        out = F.when(ext == e, F.lit(m)).otherwise(out)
    return out


def metadata_map_expr(
    id_col: Column | str,
    text_col: Column | str,
    source_col: Column | str | None = None,
    lang_col: Column | str | None = None,
    ext: Column | None = None,
) -> Column:
    """The ``meta map<string,string>`` column (exiftool dict analogue)."""
    cid = F.col(id_col) if isinstance(id_col, str) else id_col
    ct = F.col(text_col) if isinstance(text_col, str) else text_col
    if ext is None:
        ext = ext_expr(cid)
    prefix = (
        (F.col(source_col) if isinstance(source_col, str) else source_col)
        if source_col is not None
        else F.lit("uploads")
    )
    filename = F.concat(prefix, F.lit("/"), cid.cast("string"), F.lit("."), ext)
    pairs = [
        (F.lit("FileName"), filename),
        (F.lit("FileType"), F.upper(ext)),
        (F.lit("MIMEType"), mime_expr(ext)),
        (F.lit("FileSize"), F.length(ct).cast("string")),
        (F.lit("Checksum"), F.md5(F.encode(ct, "utf-8"))),
    ]
    if lang_col is not None:
        lc = F.col(lang_col) if isinstance(lang_col, str) else lang_col
        pairs.append((F.lit("Language"), lc))
    return F.create_map(*[c for kv in pairs for c in kv])


def with_metadata(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str | None = None,
    lang_col: str | None = None,
    out_col: str = "meta",
) -> DataFrame:
    """Append the metadata map column (auto-detecting source/lang columns)."""
    cols = df.columns
    src = source_col if source_col is not None else ("source" if "source" in cols else None)
    lang = lang_col if lang_col is not None else ("lang" if "lang" in cols else None)
    return df.withColumn(
        out_col, metadata_map_expr(id_col, text_col, src, lang)
    )


"""Compression-ratio quality signal (the ccnet / RefinedWeb trick).

Highly repetitive or machine-generated text compresses far better than
natural prose; a zlib-ratio band is a cheap, language-agnostic quality
gate used by several published web-corpus pipelines. The reference has
no analogue; this joins the quality/repetition family of
``ops.text_analysis``.

Execution shape: byte length stays JVM-side (``octet_length`` —
codegen'd); only the deflate itself runs in an Arrow-batched pandas UDF
(the sanctioned escape hatch — there is no JVM-side zlib expression),
one C call per value, no per-row Python parsing. The gate then compares
integers (``n_zlib * 100`` vs ``n_bytes * threshold_pct``) so the
predicate is exact, portable and pushdown-friendly — no float ratio in
the filter.

Determinism: zlib output for a fixed (level, strategy, no dict) is fully
determined by the input bytes, so the golden-parquet oracle built by the
scalar twin (``scalar_zlib_len``) is byte-identical to the UDF path.
"""

from __future__ import annotations

import zlib

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: deflate level for the signal — fixed so results are reproducible
ZLIB_LEVEL = 6


def scalar_zlib_len(text: str, level: int = ZLIB_LEVEL) -> int:
    """Scalar twin used by the golden-parquet oracle and pytest."""
    return len(zlib.compress(text.encode("utf-8"), level))


def _zlib_len_udf(level: int):
    @F.pandas_udf("long")
    def zlib_len(s: pd.Series) -> pd.Series:
        return s.map(
            lambda t: len(zlib.compress(t.encode("utf-8"), level))
            if t is not None
            else None
        )

    return zlib_len


def compression_signals(
    df: DataFrame, text_col: str, level: int = ZLIB_LEVEL
) -> DataFrame:
    """Adds ``n_bytes`` (UTF-8 octets, JVM-side) and ``n_zlib``
    (deflate-compressed size, Arrow-batched UDF)."""
    return df.withColumns(
        {
            "n_bytes": F.octet_length(F.col(text_col)).cast("long"),
            "n_zlib": _zlib_len_udf(level)(F.col(text_col)),
        }
    )


def compression_filter(
    df: DataFrame,
    text_col: str,
    min_ratio_pct: int = 20,
    max_ratio_pct: int = 90,
    level: int = ZLIB_LEVEL,
) -> DataFrame:
    """Keep documents whose zlib ratio (percent) lies in
    [min_ratio_pct, max_ratio_pct]: below the floor the text is
    pathologically repetitive (boilerplate/spam), above the cap it is
    high-entropy noise (binary-in-text, minified code). Integer
    cross-multiplication — exact, no float comparison.

    Null and empty texts are DROPPED by design (explicitly, not via null
    propagation): a quality gate cannot score a document with no
    content, and no published ratio band admits the undefined 8/0
    "ratio" of an empty deflate stream. Run the gate before operators
    that may legitimately empty a doc (e.g. duplicate-line removal)."""
    sig = compression_signals(df, text_col, level)
    keep = (
        F.col("n_bytes").isNotNull()
        & (F.col("n_bytes") > 0)
        & (F.col("n_zlib") * 100 >= F.col("n_bytes") * min_ratio_pct)
        & (F.col("n_zlib") * 100 <= F.col("n_bytes") * max_ratio_pct)
    )
    return sig.filter(keep).drop("n_bytes", "n_zlib")

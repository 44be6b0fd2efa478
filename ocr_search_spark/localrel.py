"""JVM-local literal relations for small driver-side tables.

``spark.createDataFrame`` frames are Python-RDD-backed: every job whose
plan contains one pays a Python-worker scan stage just to produce a
handful of literal rows. A ``VALUES`` relation is a JVM-local
LocalRelation — free to scan, free to broadcast (the
``similarity.centroids_to_df`` convention, shared here for string
lists: blocklists, badword lists, tokenizer piece maps).

Strings are embedded as SQL literals escaped by :func:`_lit`. That escaping
is correct only under the default
``spark.sql.parser.escapedStringLiterals=false``; both table builders
check the setting and refuse to build SQL text under the other one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_ESCAPED_LITERALS = "spark.sql.parser.escapedStringLiterals"


def _check_parser(spark) -> None:
    if spark.conf.get(_ESCAPED_LITERALS, "false").strip().lower() != "false":
        raise ValueError(
            f"localrel builds SQL string literals with backslash escapes, "
            f"which need {_ESCAPED_LITERALS}=false"
        )


def strings_df(spark, values, col: str = "value") -> DataFrame:
    """One-column string table as a JVM-local VALUES relation.

    ``values`` must be non-empty (SQL VALUES cannot be empty — callers
    already guard their empty-list cases). Order is preserved.
    """
    vals = list(values)
    if not vals:
        raise ValueError("strings_df needs at least one value")
    _check_parser(spark)
    rows = ", ".join(f"({_lit(v)})" for v in vals)
    return spark.sql(f"SELECT * FROM VALUES {rows} AS t({col})")


def _lit(s: str) -> str:
    return "'" + str(s).replace("\\", "\\\\").replace("'", "\\'") + "'"


def string_int_df(spark, pairs, cols: str = "k, v") -> DataFrame:
    """(string, int) pair table as a JVM-local VALUES relation — the
    two-column sibling of :func:`strings_df` (tokenizer piece→id maps,
    term→weight tables). ``pairs`` must be non-empty."""
    rows_list = list(pairs)
    if not rows_list:
        raise ValueError("string_int_df needs at least one pair")
    _check_parser(spark)
    rows = ", ".join(f"({_lit(k)}, {int(v)})" for k, v in rows_list)
    return spark.sql(f"SELECT * FROM VALUES {rows} AS t({cols})")

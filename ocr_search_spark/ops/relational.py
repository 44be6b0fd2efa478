"""Temporal relational operators Spark lacks natively: as-of join and
time-range (interval) join.

A training-data / event-analytics pipeline routinely needs "the latest
prior fact per key" (as-of join: attach the last click before each
purchase, the last price before each trade) and "all facts within a
window" (range join: error events within N seconds of a purchase).
Neither has a built-in DataFrame operator in Spark; the naive
formulations are a theta-join (``r.ts <= l.ts``) that Catalyst executes
as BroadcastNestedLoopJoin — O(|L|·|R|) per key and a scale-killer. The
reference (a Postgres search service) gets these "for free" from btree
indexes; on Spark they have to be re-expressed as shuffle-friendly
compositions, which is what this module does.

Scale design (the point of the module):

* ``asof_join`` — the union trick: tag right rows side=0 and left rows
  side=1, union on (key, ts, side), and take a running
  ``last(right_payload, ignorenulls=True)`` over
  (partition by key, order by ts, side, tiebreak). Right rows at the
  same key sort before left rows at equal ts (inclusive semantics), so
  the running last at each left row is exactly the greatest
  ``right.ts <= left.ts``. Cost: ONE hash shuffle on key + one
  in-partition sort — identical shape to a sort-merge join, no pair
  explosion, no per-key pandas. Skew bounded by per-key row count, same
  as any keyed window.
* ``range_join`` — equi-join on (key, coarse time bucket): each left row
  joins buckets ``floor(ts/width) - ceil(lo/width) .. floor(ts/width)``
  (backward window), then an exact residual filter. With bucket width =
  window span the explode factor is ≤ 2 buckets per left row, so the
  join stays an equi shuffle join with a 2× fan-out instead of a
  nested-loop theta join. This is the standard interval-bucketing
  rewrite (same family as the banded LSH joins in ops/dedup.py).

Determinism: ties on right ts are broken by a caller-named tiebreak
column (max wins), so results are stable and the DuckDB oracle
(ROW_NUMBER over ts DESC, tiebreak DESC) matches hash-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType


def _epoch_us(df: DataFrame, col: str):
    """Column as epoch MICROseconds (long) — full precision, no flooring.
    Numeric columns are taken as (possibly fractional) seconds."""
    dt = df.schema[col].dataType
    if isinstance(dt, (TimestampType, TimestampNTZType)):
        return F.unix_micros(F.col(col).cast("timestamp_ltz"))
    return (F.col(col).cast("double") * F.lit(1_000_000)).cast("long")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    tiebreak: str | None = None,
    suffix: str = "_r",
    tolerance_s: int | None = None,
) -> DataFrame:
    """For every left row, attach the right row with the greatest
    ``right_ts <= left_ts`` within the same ``on`` key (backward,
    inclusive as-of join). Left rows with no prior right row keep nulls.

    ``tiebreak``: right column that breaks equal-``right_ts`` ties (the
    max value wins); defaults to ``right_ts`` itself (only safe when
    (on, right_ts) is unique). ``tolerance_s``: if set, matches older
    than this many seconds are nulled out (pandas ``merge_asof``
    tolerance semantics; for timestamp columns the comparison is at
    microsecond precision, for numeric ts columns the unit is the
    caller's). Null handling: right rows with a null ``right_ts`` never
    match (they are dropped from the join state — null is not "before
    everything"); left rows with a null ``left_ts`` pass through with a
    null match.

    Plan shape: union → one Exchange(hashpartitioning(on)) → Sort →
    running Window last() → filter. No join node at all.
    """
    tb = tiebreak or right_ts
    right = right.filter(F.col(right_ts).isNotNull())
    r_payload = F.struct(
        *[F.col(c).alias(c) for c in right.columns if c != on]
    ).alias("__asof_r")
    r2 = right.select(
        F.col(on),
        F.col(right_ts).alias("__asof_ts"),
        F.lit(0).alias("__asof_side"),
        F.col(tb).alias("__asof_tb"),
        r_payload,
    )
    l2 = left.select(
        F.col(on),
        F.col(left_ts).alias("__asof_ts"),
        F.lit(1).alias("__asof_side"),
        F.lit(None).cast(r2.schema["__asof_tb"].dataType).alias("__asof_tb"),
        F.lit(None).cast(r2.schema["__asof_r"].dataType).alias("__asof_r"),
        F.struct(*[F.col(c).alias(c) for c in left.columns if c != on]).alias(
            "__asof_l"
        ),
    )
    r2 = r2.withColumn(
        "__asof_l", F.lit(None).cast(l2.schema["__asof_l"].dataType)
    )
    # right rows order before left rows at equal ts (side 0 < 1) so the
    # running last() is inclusive; among equal right ts the max tiebreak
    # sorts last and wins.
    w = (
        Window.partitionBy(on)
        .orderBy("__asof_ts", "__asof_side", "__asof_tb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        l2.unionByName(r2)
        .withColumn("__match", F.last("__asof_r", ignorenulls=True).over(w))
        .withColumn(
            "__match_ts", F.last(F.when(F.col("__asof_side") == 0, F.col("__asof_ts")), ignorenulls=True).over(w)
        )
        .filter(F.col("__asof_side") == 1)
    )
    if tolerance_s is not None:
        dt = matched.schema["__asof_ts"].dataType
        if isinstance(dt, (TimestampType, TimestampNTZType)):
            # microsecond-precision gap so sub-second components are not
            # truncated away (pandas merge_asof tolerance semantics)
            gap = F.unix_micros(
                F.col("__asof_ts").cast("timestamp_ltz")
            ) - F.unix_micros(F.col("__match_ts").cast("timestamp_ltz"))
            budget = F.lit(int(tolerance_s) * 1_000_000)
        else:
            gap = F.col("__asof_ts").cast("long") - F.col("__match_ts").cast(
                "long"
            )
            budget = F.lit(int(tolerance_s))
        in_tol = gap <= budget
        matched = matched.withColumn(
            "__match", F.when(in_tol, F.col("__match"))
        ).withColumn("__match_ts", F.when(in_tol, F.col("__match_ts")))
    left_cols = [F.col(on)] + [
        F.col(f"__asof_l.{c}").alias(c) for c in left.columns if c != on
    ]
    right_cols = [
        F.col(f"__match.{c}").alias(c + suffix)
        for c in right.columns
        if c != on
    ]
    return matched.select(*left_cols, *right_cols)


def range_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lookback_s: int = 60,
    suffix: str = "_r",
) -> DataFrame:
    """All (left, right) pairs within the same ``on`` key with
    ``left_ts - lookback_s <= right_ts <= left_ts`` (backward interval
    join, inclusive both ends). Inner semantics: left rows with no right
    row in range produce no output.

    Rewrites the theta join as an equi join on (key, time bucket) with
    bucket width = ``lookback_s``: a backward window of span W can only
    overlap the left row's own bucket and the one before it, so each
    left row probes exactly 2 buckets and the join is a plain shuffle
    hash/sort-merge equi join (fan-out 2×|L|), never a
    BroadcastNestedLoopJoin. The residual range predicate filters
    in-bucket false positives after the join.
    """
    w = int(lookback_s)
    if w <= 0:
        raise ValueError(
            f"lookback_s must be a positive whole number of seconds, got {lookback_s!r}"
        )
    # bucket on floored whole-second boundaries (coarse, cheap); the
    # residual predicate runs on full-precision microseconds so sub-second
    # timestamps honor the documented inclusive bounds exactly (and match
    # the full-precision streaming twin range_join_stream)
    w_us = w * 1_000_000
    r_us = _epoch_us(right, right_ts)
    l_us = _epoch_us(left, left_ts)
    r2 = right.select(
        F.col(on),
        F.floor(r_us / w_us).alias("__bucket"),
        r_us.alias("__r_us"),
        F.struct(
            *[F.col(c).alias(c) for c in right.columns if c != on]
        ).alias("__r"),
    )
    l2 = left.select(
        F.col(on),
        l_us.alias("__l_us"),
        F.explode(
            F.array(F.floor(l_us / w_us) - 1, F.floor(l_us / w_us))
        ).alias("__bucket"),
        F.struct(*[F.col(c).alias(c) for c in left.columns if c != on]).alias(
            "__l"
        ),
    )
    joined = l2.join(r2, [on, "__bucket"]).filter(
        (F.col("__r_us") <= F.col("__l_us"))
        & (F.col("__r_us") >= F.col("__l_us") - F.lit(w_us))
    )
    left_cols = [F.col(on)] + [
        F.col(f"__l.{c}").alias(c) for c in left.columns if c != on
    ]
    right_cols = [
        F.col(f"__r.{c}").alias(c + suffix) for c in right.columns if c != on
    ]
    return joined.select(*left_cols, *right_cols)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_start: str = "start",
    left_end: str = "end",
    right_start: str = "start",
    right_end: str = "end",
    bin_s: int = 60,
    suffix: str = "_r",
) -> DataFrame:
    """Interval OVERLAP join: all (left, right) pairs under the same
    ``on`` key whose closed intervals intersect —
    ``l.start <= r.end AND r.start <= l.end`` — the third sibling of
    :func:`asof_join` (nearest past point) and :func:`range_join`
    (point vs backward window), and the shape log-session / outage /
    concurrency analytics need. Spark has no native interval join; the
    naive theta join is a per-key cross product.

    Strategy: the classic bin decomposition. Each interval replicates
    to every ``bin_s``-second time bin it touches, the join becomes a
    plain (key, bin) equi join, the exact predicate filters in-bin
    false positives, and a pair is emitted ONLY in the first bin both
    intervals share (``bin == greatest(first_l_bin, first_r_bin)``) —
    overlap-once semantics without any distinct/dedup shuffle. Fan-out
    per row is duration/bin_s + 1: size ``bin_s`` near the typical
    interval length (the published sizing rule for bin-partitioned
    overlap joins; at 100 TB also partition the bins table by day so
    both sides prune).

    Inclusive bounds at full microsecond precision. Rows with
    ``end < start`` are dropped (malformed intervals; document-side
    validation belongs upstream). Output: ``on``, every left column,
    every right column suffixed, plus ``overlap_us`` — the exact
    integer microseconds of intersection (0 for point-touching pairs).
    """
    w = int(bin_s)
    if w <= 0:
        raise ValueError(f"bin_s must be a positive whole number of seconds, got {bin_s!r}")
    w_us = w * 1_000_000

    def prep(df: DataFrame, s_col: str, e_col: str, tag: str) -> DataFrame:
        s_us = _epoch_us(df, s_col)
        e_us = _epoch_us(df, e_col)
        return (
            df.select(
                F.col(on),
                s_us.alias(f"__{tag}s"),
                e_us.alias(f"__{tag}e"),
                F.struct(
                    *[F.col(c).alias(c) for c in df.columns if c != on]
                ).alias(f"__{tag}"),
            )
            .filter(F.col(f"__{tag}e") >= F.col(f"__{tag}s"))
            .select(
                "*",
                F.explode(
                    F.sequence(
                        F.floor(F.col(f"__{tag}s") / w_us),
                        F.floor(F.col(f"__{tag}e") / w_us),
                    )
                ).alias("__bin"),
            )
        )

    l2 = prep(left, left_start, left_end, "l")
    r2 = prep(right, right_start, right_end, "r")
    joined = l2.join(r2, [on, "__bin"]).filter(
        (F.col("__ls") <= F.col("__re"))
        & (F.col("__rs") <= F.col("__le"))
        # overlap-once: emit only in the FIRST bin the two intervals share
        & (
            F.col("__bin")
            == F.greatest(
                F.floor(F.col("__ls") / w_us), F.floor(F.col("__rs") / w_us)
            )
        )
    )
    left_cols = [F.col(on)] + [
        F.col(f"__l.{c}").alias(c) for c in left.columns if c != on
    ]
    right_cols = [
        F.col(f"__r.{c}").alias(c + suffix) for c in right.columns if c != on
    ]
    overlap = (
        F.least(F.col("__le"), F.col("__re"))
        - F.greatest(F.col("__ls"), F.col("__rs"))
    ).alias("overlap_us")
    return joined.select(*left_cols, *right_cols, overlap)

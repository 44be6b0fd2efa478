"""Sequential event analytics: funnel completion and cohort retention.

The reference has no event analytics at all (SURVEY §2.5 — no window
functions, no sequential operators); these are the two operators every
event table grows next, and at 10^12 events they are the canonical
"shuffle by user key once, then only per-user state" shapes. Both are
exact-integer outputs (user counts, basis-point conversions, day
offsets) — no float drift for an oracle to disagree on.

Funnel semantics: greedy earliest completion. ``t_1 = min ts`` of step
1; ``t_k = min ts`` of step k strictly after ``t_{k-1}``. A user reaches
step k iff ``t_k`` exists. Strict ``>`` means one event can never
satisfy two steps, and the greedy minimum is provably optimal for "did
the user ever complete the sequence" (taking the earliest possible
completion of each prefix can only widen the window for the suffix), so
the count is THE number of users with any ordered completion —
deterministic, engine-reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered funnel completion counts for ``steps``.

    Returns one row per step: ``(step, event_type, users,
    conversion_bp)`` where ``users`` is the number of users whose events
    contain the step sequence in strict timestamp order (greedy earliest
    completion, see module docstring) and ``conversion_bp`` is
    ``users * 10000 DIV users_at_step_1`` (exact basis points; 10000 for
    step 1 itself, 0s across the board when nobody reaches step 1).

    Scale: step 1 is a filtered per-user min (map-side combinable);
    every later step is a filtered scan joined on the user key against
    the previous frontier — the frontier is one row per surviving user,
    so the join is keyed and shrinks monotonically. No windows over the
    raw event stream, no per-user event sorting; at 10^12 events the
    only big shuffles are |steps| keyed aggregations.

    LAZY (r6, ADVICE r5): this returns one composable plan — per-step
    counts come from a step-tagged union of the frontier chain
    aggregated in one pass, with the frontier prefixes shared at
    runtime through exchange reuse (ReusedExchange plan-verified), and
    the step-1 denominator attached via a window over the ≤ |steps|
    count rows (row-bound: the window input is one row per step, never
    event-scaled). No job runs at construction time, no per-step
    checkpoint/count round-trips, and re-invoking or composing the
    result costs nothing until an action — the old eager form ran
    2·|steps| jobs inside the constructor.
    """
    if len(steps) < 1:
        raise ValueError("funnel needs at least one step")
    if len(set(steps)) != len(steps):
        raise ValueError(f"funnel steps must be distinct, got {steps!r}")
    from pyspark.sql import Window

    spark = events.sparkSession
    frontier = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("__t"))
    )
    fronts = [frontier]
    for step in steps[1:]:
        frontier = (
            events.filter(F.col(type_col) == step)
            .join(frontier, user_col)
            .filter(F.col(ts_col) > F.col("__t"))
            .groupBy(user_col)
            .agg(F.min(ts_col).alias("__t"))
        )
        fronts.append(frontier)
    tagged = None
    for i, f in enumerate(fronts, start=1):
        leg = f.select(F.lit(i).alias("step"), F.col(user_col))
        tagged = leg if tagged is None else tagged.unionByName(leg)
    counts = tagged.groupBy("step").agg(F.count("*").alias("__c"))
    # explicit (step, name) VALUES pairs — a JVM-local relation with the
    # step index as data (never derived from row order/partitioning)
    from ocr_search_spark.localrel import _check_parser, _lit

    _check_parser(spark)
    rows = ", ".join(f"({i + 1}, {_lit(s)})" for i, s in enumerate(steps))
    steps_rel = spark.sql(f"SELECT * FROM VALUES {rows} AS t(step, event_type)")
    w = Window.orderBy("step").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        steps_rel.join(counts, "step", "left")
        .select(
            "step",
            "event_type",
            F.coalesce("__c", F.lit(0)).cast("bigint").alias("users"),
        )
        .withColumn(
            "__n1",
            F.first(
                F.when(F.col("step") == 1, F.col("users")), ignorenulls=True
            ).over(w),
        )
        .select(
            "step",
            "event_type",
            "users",
            F.when(F.col("__n1") > 0, F.expr("users * 10000 DIV __n1"))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("conversion_bp"),
        )
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    max_offset_days: int | None = None,
) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity day,
    counted on each later day-offset they were active.

    Returns ``(cohort_day, day_offset, users)`` — ``day_offset`` 0 rows
    are each cohort's size. ``max_offset_days`` truncates the matrix
    (the report shape); ``None`` keeps every offset.

    Scale: one per-user min (the cohort assignment), one distinct over
    (user, activity-day) — both keyed shuffles; the join back is on the
    user key against a one-row-per-user cohort table. The output is
    O(days²) rows regardless of event count.
    """
    # day values stay day-truncated TIMESTAMPS (the events_rollup
    # convention) — engines normalize DATE columns differently
    first = events.groupBy(user_col).agg(
        F.date_trunc("day", F.min(ts_col)).alias("cohort_day")
    )
    active = events.select(
        user_col, F.date_trunc("day", ts_col).alias("__day")
    ).distinct()
    joined = active.join(first, user_col).withColumn(
        "day_offset", F.datediff("__day", "cohort_day").cast("long")
    )
    if max_offset_days is not None:
        joined = joined.filter(F.col("day_offset") <= int(max_offset_days))
    return (
        joined.groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct(user_col).alias("users"))
        .orderBy("cohort_day", "day_offset")
    )


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """Per-user consecutive event-type transition counts — the Markov
    transition matrix of product analytics (view→click rates, error
    loops). One analytic-window pass: events ordered by
    ``(ts, order_tiebreak)`` within each user, LAG(1) pairs counted.

    Returns ``(from_type, to_type, transitions)``. Deterministic: the
    tiebreak column makes the per-user order total, so simultaneous
    events produce the same pairs every run and engine.

    Scale: one shuffle by user key + a per-user sort (bounded by the
    busiest user's event count — salt pathological users upstream the
    same way extraction salts giant docs); output is |types|² rows.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, order_tiebreak)
    pairs = events.select(
        F.lag(type_col).over(w).alias("from_type"),
        F.col(type_col).alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    return (
        pairs.groupBy("from_type", "to_type")
        .agg(F.count("*").alias("transitions"))
        .orderBy("from_type", "to_type")
    )

"""JVM-local literal tables: values survive the SQL-literal round trip, and
the builders refuse a parser setting under which the escaping is wrong."""

from __future__ import annotations

import pytest

from ocr_search_spark.localrel import string_int_df, strings_df

TRICKY = ["plain", "it's", "back\\slash", "\\'", "'; DROP TABLE t; --", "a)b(", "\\\\n", ""]


def test_strings_round_trip(spark):
    got = [r.v for r in strings_df(spark, TRICKY, "v").collect()]
    assert got == TRICKY


def test_string_int_round_trip(spark):
    pairs = [(s, i) for i, s in enumerate(TRICKY)]
    got = [(r.k, r.v) for r in string_int_df(spark, pairs).collect()]
    assert got == pairs


def test_funnel_step_names_round_trip(spark):
    from datetime import datetime as dt

    from ocr_search_spark.ops.events import funnel

    steps = ["view'd", "click\\ed"]
    events = spark.createDataFrame(
        [(1, dt(2024, 1, 1, 0), steps[0]), (1, dt(2024, 1, 1, 1), steps[1])],
        "user_id bigint, ts timestamp, event_type string",
    )
    got = {r.event_type: r.users for r in funnel(events, steps).collect()}
    assert got == {steps[0]: 1, steps[1]: 1}


def test_escaped_string_literals_rejected(spark):
    from ocr_search_spark.ops.events import funnel

    key = "spark.sql.parser.escapedStringLiterals"
    spark.conf.set(key, "true")
    try:
        with pytest.raises(ValueError, match="escapedStringLiterals"):
            strings_df(spark, ["x"])
        with pytest.raises(ValueError, match="escapedStringLiterals"):
            string_int_df(spark, [("x", 1)])
        events = spark.createDataFrame([], "user_id bigint, ts timestamp, event_type string")
        with pytest.raises(ValueError, match="escapedStringLiterals"):
            funnel(events, ["a", "b"])
    finally:
        spark.conf.unset(key)

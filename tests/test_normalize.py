"""Unit tests for the clean_ts chain (P9/P10) against the FIXTURES.md §2.1
branch corpus, and the key/label helpers."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from real_time_flight_data_pipeline_spark.functions.normalize import (
    flight_key,
    on_time_label,
    parse_flight_ts,
    route_label,
)

UTC = dt.timezone.utc


def _parse_one(spark, s):
    df = spark.createDataFrame([(s,)], "ts_raw string")
    return df.select(parse_flight_ts(F.col("ts_raw")).alias("p")).head()[0]


CASES = [
    # (input, expected naive-UTC datetime or None)  — FIXTURES.md §2.1
    ("2025-08-21T00:05:00+00:00", dt.datetime(2025, 8, 21, 0, 5, 0)),   # t01
    ("2025-08-21T00:05:00Z", dt.datetime(2025, 8, 21, 0, 5, 0)),        # t02
    ("2025-08-21T00:05:00+0000", dt.datetime(2025, 8, 21, 0, 5, 0)),    # t03
    ("2025-08-21T00:05:2+00:00", dt.datetime(2025, 8, 21, 0, 5, 2)),    # t05
    ("2025-08-21T00:05:123+00:00", dt.datetime(2025, 8, 21, 0, 5, 12)), # t06
    ("2025-08-21T00:05+00:00", dt.datetime(2025, 8, 21, 0, 5, 0)),      # t07
    ("2025-08-21T00:05:00", dt.datetime(2025, 8, 21, 0, 5, 0)),         # t08
    ("2025-08-21T00:05:00.123", None),                                   # t09
    ("garbage", None),                                                   # t10a
    ("", None),                                                          # t10b
    (None, None),                                                        # t10c
    ("2025-08-21T00:05:00-05:00", dt.datetime(2025, 8, 21, 5, 5, 0)),   # t11
    ("2025-08-21T00:05:2", dt.datetime(2025, 8, 21, 0, 5, 2)),          # t12
    # Java's `$` also matches before a final newline; either form of the
    # bare-timestamp fallback keeps the newline, so the parse fails.
    ("2025-08-21T00:05:00\n", None),
]


@pytest.mark.parametrize("raw,expected", CASES, ids=[repr(c[0]) for c in CASES])
def test_clean_ts_branches(spark, raw, expected):
    got = _parse_one(spark, raw)
    assert got == expected, f"{raw!r} -> {got!r}, want {expected!r}"


def test_clean_ts_fraction_with_tz(spark):
    """t04: fractional seconds + tz. Document actual engine behavior (the
    format has no fraction field, so whether this parses is an engine
    property, not a spec): Spark's Iso8601 parser and DuckDB's %z strptime
    must AGREE — the catalog oracle enforces that; here we pin Spark's
    answer so a silent behavior change is caught."""
    got = _parse_one(spark, "2025-08-21T00:05:00.123456+00:00")
    got_clean = _parse_one(spark, "2025-08-21T00:05:00.123+00:00")
    assert got == got_clean  # after 3-digit trim both go the same way


def test_flight_key_fallbacks(spark):
    df = spark.createDataFrame(
        [
            ("NH849", "ANA849", "849", "2025-08-21T00:05:00+00:00"),
            (None, "ANA849", "849", "2025-08-21T00:05:00+00:00"),
            (None, None, "849", "2025-08-21T00:05:00+00:00"),
            (None, None, None, "2025-08-21T00:05:00+00:00"),
            (None, None, None, None),
        ],
        "iata string, icao string, num string, sched string",
    )
    got = [
        r[0]
        for r in df.select(
            flight_key(F.col("iata"), F.col("icao"), F.col("num"), F.col("sched"))
        ).collect()
    ]
    assert got == [
        "NH849_2025-08-21T00:05:00+00:00",
        "ANA849_2025-08-21T00:05:00+00:00",
        "849_2025-08-21T00:05:00+00:00",
        "UNKNOWN_2025-08-21T00:05:00+00:00",
        "UNKNOWN_None",
    ]


def test_on_time_label_and_route_label(spark):
    df = spark.createDataFrame(
        [(0.0,), (5.0,), (5.1,), (None,)], "d double"
    ).select(
        on_time_label(F.col("d"), 5.0).alias("l"),
        route_label(F.lit("HND"), F.lit("PVG")).alias("r"),
    )
    rows = df.collect()
    assert [r["l"] for r in rows] == ["On-time", "On-time", "Late", None]
    assert rows[0]["r"] == "HND → PVG"

"""Scalar normalization expressions (pure Column composition — no UDFs).

The hot path stays inside whole-stage codegen: every function here returns a
Column built from pyspark.sql.functions only, so Catalyst folds, pushes and
codegens them for free. This mirrors the reference's discipline (its entire
transform layer is built-in expressions; zero UDFs).

Semantics reproduced (SURVEY.md §2.3):
  P9  clean_ts         reference apps/spark_app/flight_stream.py:149-196
  P10 parse_flight_ts  reference flight_stream.py:147, 206-212
  P12 flight_key       reference apps/producer/run_producer.py:54-63
  P14 on_time_label    reference README.md:257-271 (Tableau calc, adopted)
  P15 route_label      reference README.md:282
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Spark ISO-8601 parse pattern with a required UTC-style offset.
TS_FMT = "yyyy-MM-dd'T'HH:mm:ssXXX"

# Ordered rewrite passes. Each entry: (match, replacement). Order matters —
# the seconds fixups (3A-3C) assume the timezone shape is already normalized,
# and the bare-timestamp fallback (4) must run last.
_REWRITES: tuple[tuple[str, str], ...] = (
    # 1a. trailing 'Z' designator -> explicit UTC offset
    (r"Z$", "+00:00"),
    # 1b. compact offset '+HHMM' -> '+HH:MM'
    (r"([+-]\d{2})(\d{2})$", "$1:$2"),
    # 2. cap fractional seconds at 3 digits
    (r"(\.\d{3})\d+", "$1"),
    # 3a. single-digit seconds -> zero-pad (…T10:05:2 -> …T10:05:02)
    (r"(T\d{2}:\d{2}:)(\d)(?=(?:\.\d{1,3}|[+-]\d{2}:\d{2}|$))", "$10$2"),
    # 3b. three-digit seconds -> keep first two (clamp)
    (r"(T\d{2}:\d{2}:)(\d{2})\d(?=(?:\.\d{1,3}|[+-]\d{2}:\d{2}|$))", "$1$2"),
    # 3c. seconds missing entirely -> insert ':00'
    (r"(T\d{2}:\d{2})(?=(?:\.\d{1,3}|[+-]\d{2}:\d{2}|$))", "$1:00"),
    # 4. complete timestamp with no timezone -> assume UTC
    (r"^(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2})$", "$1+00:00"),
)


def clean_ts(col: Column | str) -> Column:
    """Normalize a messy ISO-8601-ish timestamp string for TS_FMT parsing.

    Handles: 'Z' designator, compact '+0000' offsets, over-long fractional
    seconds, 1- and 3-digit second fields, missing second fields, and a
    missing timezone on an otherwise-complete timestamp (assumed UTC).
    Anything still malformed after these passes parses to NULL downstream.
    Each pass wraps the previous one once: Catalyst inlines the chain into
    every filter on a parsed column, so a pass that referenced it twice would
    multiply it past Janino's 64 KB method limit.
    """
    c = F.col(col) if isinstance(col, str) else col
    for pattern, repl in _REWRITES:
        c = F.regexp_replace(c, pattern, repl)
    return c


def parse_flight_ts(col: Column | str) -> Column:
    """clean_ts + strict-format parse; unparsable input -> NULL, never an error.

    Uses try_to_timestamp so the engine keeps Spark 4's ANSI mode on while
    preserving the reference's parse-to-NULL policy.
    """
    return F.try_to_timestamp(clean_ts(col), F.lit(TS_FMT))


def flight_key(
    flight_iata: Column,
    flight_icao: Column,
    flight_number: Column,
    dep_sched_raw: Column,
) -> Column:
    """Stable dedup/merge key: first present flight designator + raw dep time.

    The raw (unparsed) departure string is part of the key on purpose — the
    key must be reproducible from the wire payload alone.
    """
    num = F.coalesce(flight_iata, flight_icao, flight_number, F.lit("UNKNOWN"))
    return F.concat_ws("_", num, F.coalesce(dep_sched_raw, F.lit("None")))


def on_time_label(delay_min: Column, threshold: float = 5.0) -> Column:
    """'On-time' iff delay is known and <= threshold minutes, else 'Late';
    NULL delay -> NULL label (three-valued, matches the BI-layer calc)."""
    return (
        F.when(delay_min.isNull(), F.lit(None).cast("string"))
        .when(delay_min <= threshold, F.lit("On-time"))
        .otherwise(F.lit("Late"))
    )


def on_time_flag(delay_min: Column, threshold: float = 5.0) -> Column:
    """1.0/0.0 variant of on_time_label; avg() of it is an on-time rate."""
    return (
        F.when(delay_min.isNull(), F.lit(None).cast("double"))
        .when(delay_min <= threshold, F.lit(1.0))
        .otherwise(F.lit(0.0))
    )


def route_label(dep_code: Column, arr_code: Column) -> Column:
    """Display label 'HND → PVG'."""
    return F.concat_ws(" → ", dep_code, arr_code)

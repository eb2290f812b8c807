"""load_table type-normalization contract.

The testdata writes events.ts as parquet TIMESTAMP(NANOS). Spark runtimes
disagree on how that arrives (bigint under <=3.x nanosAsLong, TIMESTAMP_NTZ
under 4.x which ignores that conf); load_table must always hand callers a
zoned TIMESTAMP truncated to micros so windowing, unix_micros, and
withWatermark all work and DuckDB oracle parity holds. Pinning this here
means the next Spark bump can't silently regress it (r4's failure mode).
"""

from __future__ import annotations

import pytest

from real_time_flight_data_pipeline_spark.sources.parquet import (
    _max_partition_bytes,
    load_table,
)

from .conftest import SF_CORRECT


def test_events_ts_is_zoned_timestamp(spark):
    dtypes = dict(load_table(spark, SF_CORRECT, "events").dtypes)
    assert dtypes["ts"] == "timestamp", dtypes


def test_events_ts_survives_unix_micros_and_watermark(spark):
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_CORRECT, "events")
    # unix_micros requires TIMESTAMP (what killed sessionize_events in r4)
    ev.select(F.unix_micros("ts").alias("us")).limit(1).collect()
    # withWatermark requires TIMESTAMP (what killed the streaming tests)
    ev.withWatermark("ts", "1 hour").limit(1).collect()


@pytest.mark.parametrize(
    "raw, expected",
    [("64m", 64 << 20), ("1t", 1 << 40), ("134217728", 128 << 20)],
)
def test_max_partition_bytes_reads_spark_byte_strings(spark, raw, expected):
    """The split probe must see the value Spark plans with, for every
    byte-string suffix Spark accepts (``t`` included)."""
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, raw)
    try:
        assert _max_partition_bytes(spark) == expected
    finally:
        spark.conf.set(key, prev)

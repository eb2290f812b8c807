"""load_table type-normalization contract.

The testdata writes events.ts as parquet TIMESTAMP(NANOS). Spark runtimes
disagree on how that arrives (bigint under <=3.x nanosAsLong, TIMESTAMP_NTZ
under 4.x which ignores that conf); load_table must always hand callers a
zoned TIMESTAMP truncated to micros so windowing, unix_micros, and
withWatermark all work and DuckDB oracle parity holds. Pinning this here
means the next Spark bump can't silently regress it (r4's failure mode).
"""

from __future__ import annotations

import os

import pytest

from real_time_flight_data_pipeline_spark.sources.parquet import (
    _byte_splits,
    _scan_splits,
    _split_confs,
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
        assert _split_confs(spark)[0] == expected
    finally:
        spark.conf.set(key, prev)


def test_scan_splits_match_spark_planning(spark, tmp_path):
    """The footer/size split probe must predict the scan partitions Spark
    plans (the probe bug ADVICE r17 found): over row-group count x file
    size x minPartitionNum x maxPartitionBytes (x openCostInBytes), the
    byte-split count equals the scan RDD's partition count, and the probe
    is that count capped by the row groups. Byte confs are small so the
    files stay a few KB to ~300 KB."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = []
    for rows, rg in [(300, 1), (3000, 1), (3000, 4), (40000, 16)]:
        p = str(tmp_path / f"r{rows}_g{rg}.parquet")
        t = pa.table({"x": pa.array(range(rows), pa.int64())})
        pq.write_table(t, p, row_group_size=-(-rows // rg), compression="none")
        assert pq.ParquetFile(p).metadata.num_row_groups == rg
        files.append((p, rg))
    keys = (
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.files.openCostInBytes",
        "spark.sql.files.minPartitionNum",
    )
    prev = {k: spark.conf.get(k, None) for k in keys}
    seen = set()
    try:
        for max_part in ("2k", "16k", "1m"):
            for open_cost in ("512", "8k"):
                for min_parts in (None, "1", "3", "64"):
                    spark.conf.set(keys[0], max_part)
                    spark.conf.set(keys[1], open_cost)
                    if min_parts is None:
                        spark.conf.unset(keys[2])
                    else:
                        spark.conf.set(keys[2], min_parts)
                    confs = _split_confs(spark)
                    for p, rg in files:
                        planned = spark.read.parquet(p).rdd.getNumPartitions()
                        size = os.path.getsize(p)
                        assert _byte_splits(size, *confs) == planned, (
                            p, max_part, open_cost, min_parts,
                        )
                        assert _scan_splits(p, confs) == min(rg, planned)
                        seen.add(planned > 1)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert seen == {True, False}  # the grid spans 1-split and multi-split

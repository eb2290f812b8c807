"""Bucketed fact merge (r7 verdict #6): the M4 merge's target side must
not shuffle when the fact is stored bucketed by the merge key.

test_bucketing.py proves zero-Exchange SMJ on two bucketed tables; this
wires the property into the MERGE path itself: BucketedParquetTable
writes each version bucketed+sorted by flight_key through the catalog,
and merge_upsert(null_safe_keys=False) joins with plain equality so the
bucketed layout satisfies the join's required distribution. Asserted on
the EXECUTED plan: the only Exchange hashes the micro-batch (source)
side's attribute; the target scan reads "Bucketed: true" straight into
the merge sort. At 100 TB this is the difference between re-shuffling
the whole fact every micro-batch and shuffling only the batch.

Also pins WHY null_safe_keys exists: `<=>` keys plan as coalesce-wrapped
hash keys, which do not line up with the bucket layout — the same merge
with null-safe keys loses the bucketed scan entirely.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F
from pyspark.sql import types as T

from real_time_flight_data_pipeline_spark.operators.merge import (
    MergePolicy,
    merge_upsert,
)
from real_time_flight_data_pipeline_spark.streaming.pipeline import (
    BucketedParquetTable,
    ParquetTable,
)

_SCHEMA = T.StructType(
    [
        T.StructField("flight_key", T.StringType()),
        T.StructField("v", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _frames(spark):
    init = spark.range(2000).select(
        F.concat(F.lit("K"), F.col("id")).alias("flight_key"),
        F.col("id").alias("v"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
    )
    src = spark.range(500, 2500).select(
        F.concat(F.lit("K"), F.col("id")).alias("flight_key"),
        (F.col("id") * 10).alias("v"),
        F.timestamp_seconds(F.lit(1_700_500_000) + F.col("id")).alias("ts"),
    )
    return init, src


def _merge(target, src):
    return merge_upsert(
        target,
        src,
        keys=["flight_key"],
        policies={"ts": MergePolicy.GREATEST},
        null_safe_keys=False,
    )


def _assert_target_side_never_exchanged(plan: str) -> None:
    """Every Exchange must hash the SOURCE attribute; the target's
    attribute id (taken from the bucketed scan line) must appear in none.
    Attribute ids are dynamic, so parse them from the executed plan."""
    scan_ids = {
        m.group(1)
        for m in re.finditer(r"FileScan[^\n]*?flight_key#(\d+)[^\n]*Bucketed: true", plan)
    }
    assert scan_ids, f"no bucketed target scan in plan:\n{plan}"
    exch_ids = {
        m.group(1)
        for m in re.finditer(r"Exchange hashpartitioning\(flight_key#(\d+)", plan)
    }
    assert exch_ids, "expected the source-side Exchange to remain"
    assert not (scan_ids & exch_ids), (
        f"target-side Exchange present (ids {scan_ids & exch_ids}):\n{plan}"
    )


def test_bucketed_merge_shuffles_only_the_batch(spark, tmp_path, no_broadcast):
    init, src = _frames(spark)
    tbl = BucketedParquetTable(
        spark, str(tmp_path / "fact"), _SCHEMA, bucket_key="flight_key", n_buckets=8
    )
    tbl.overwrite(init)

    merged = _merge(tbl.read(), src)
    rows = sorted(map(tuple, merged.collect()))
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    _assert_target_side_never_exchanged(plan)

    # Value parity with the plain (unbucketed, null-safe) merge path.
    plain = ParquetTable(spark, str(tmp_path / "plainfact"), _SCHEMA)
    plain.overwrite(init)
    want = sorted(
        map(
            tuple,
            merge_upsert(
                plain.read(), src, ["flight_key"], {"ts": MergePolicy.GREATEST}
            ).collect(),
        )
    )
    assert rows == want
    assert len(rows) == 2500

    # The layout survives the commit round-trip: write the merge result
    # back, and the NEXT merge's target side is again exchange-free.
    tbl.overwrite(merged)
    again = _merge(tbl.read(), src)
    again.collect()
    _assert_target_side_never_exchanged(
        again._jdf.queryExecution().executedPlan().toString()
    )
    assert sorted(map(tuple, tbl.read().collect())) == want


def test_null_safe_keys_lose_the_bucketed_layout(spark, tmp_path, no_broadcast):
    """The reason null_safe_keys exists: `<=>` merge keys plan as
    coalesce-wrapped hashes, so the same bucketed target re-shuffles."""
    init, src = _frames(spark)
    tbl = BucketedParquetTable(
        spark, str(tmp_path / "fact"), _SCHEMA, bucket_key="flight_key", n_buckets=8
    )
    tbl.overwrite(init)
    m = merge_upsert(
        tbl.read(), src, ["flight_key"], {"ts": MergePolicy.GREATEST},
        null_safe_keys=True,
    )
    m.collect()
    plan = m._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" not in plan  # layout unusable under <=>


def test_bucketed_table_versioning_contract(spark, tmp_path):
    """BucketedParquetTable keeps ParquetTable's commit semantics: pointer
    flip, time travel within retention, vacuum of catalog entries+dirs,
    and a fresh catalog re-registration path (a new session would hit it;
    simulated by dropping the catalog entry before read)."""
    init, src = _frames(spark)
    tbl = BucketedParquetTable(
        spark, str(tmp_path / "fact"), _SCHEMA, bucket_key="flight_key",
        n_buckets=4, keep_versions=2,
    )
    tbl.overwrite(init.limit(100))
    v1 = tbl.versions()[-1]
    tbl.overwrite(init.limit(200))
    assert tbl.read().count() == 200
    assert tbl.read(version=v1).count() == 100  # time travel
    tbl.overwrite(init.limit(300))
    assert v1 not in tbl.versions()  # vacuumed beyond retention
    assert not spark.catalog.tableExists(tbl._table_for(v1))
    # catalog re-registration (new-session path)
    cur = tbl.versions()[-1]
    spark.sql(f"DROP TABLE IF EXISTS {tbl._table_for(cur)}")
    assert tbl.read().count() == 300
    # and the re-registered DDL table still plans bucketed
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        m = _merge(tbl.read(), src)
        m.collect()
        _assert_target_side_never_exchanged(
            m._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        # restore the SAVED value — session.py configures 64 MB, and a
        # hardcoded Spark default here would leak a 10 MB threshold into
        # every later plan-asserting test in the shared session.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)


def test_mismatched_bucket_spec_falls_back_to_plain_read(spark, tmp_path):
    """ADVICE r8: _ensure_registered must not trust bucket metadata the
    files were not written with. Two real upgrade paths are simulated:
    (a) a warehouse created by plain ParquetTable (no bucket spec in the
    commit log) later opened as BucketedParquetTable; (b) an n_buckets
    change between sessions. Both must READ correctly via the plain-parquet
    fallback instead of failing with 'Invalid bucket file' / mis-pruning —
    and the next overwrite regains the bucketed layout."""
    init, _ = _frames(spark)
    path = str(tmp_path / "fact")

    # (a) version written by the PLAIN table: no spec recorded.
    plain = ParquetTable(spark, path, _SCHEMA)
    plain.overwrite(init.limit(150))
    as_bucketed = BucketedParquetTable(
        spark, path, _SCHEMA, bucket_key="flight_key", n_buckets=8
    )
    v_plain = as_bucketed.versions()[-1]
    assert not as_bucketed._bucket_spec_valid(v_plain)
    df = as_bucketed.read()
    assert df.count() == 150
    assert not spark.catalog.tableExists(as_bucketed._table_for(v_plain))
    assert "Bucketed: true" not in df._jdf.queryExecution().executedPlan().toString()

    # next overwrite rewrites bucketed, records the spec, and reads resolve
    # through the catalog again (a bare scan prints Bucketed: false —
    # "disabled by query planner" — so the registration is the assertion;
    # the zero-Exchange MERGE property is pinned by the tests above).
    as_bucketed.overwrite(init.limit(150))
    v_new = as_bucketed.versions()[-1]
    assert as_bucketed._bucket_spec_valid(v_new)
    as_bucketed.read().count()
    assert spark.catalog.tableExists(as_bucketed._table_for(v_new))

    # (b) n_buckets changed between sessions: recorded spec (8) mismatches
    # the new reader (16) -> plain fallback, not wrong bucket pruning.
    resized = BucketedParquetTable(
        spark, path, _SCHEMA, bucket_key="flight_key", n_buckets=16,
        name=f"{as_bucketed.name}_r16",
    )
    assert not resized._bucket_spec_valid(v_new)
    df16 = resized.read()
    assert df16.count() == 150
    assert "Bucketed: true" not in df16._jdf.queryExecution().executedPlan().toString()


def test_corrupt_commit_log_meta_degrades_to_plain_read(spark, tmp_path):
    """ADVICE r9: a commit-log meta field that is valid JSON but NOT an
    object (log corruption, future format change) must degrade to the
    plain-parquet fallback, not crash _bucket_spec_valid with an
    AttributeError mid-read."""
    init, _ = _frames(spark)
    path = str(tmp_path / "fact")
    tbl = BucketedParquetTable(
        spark, path, _SCHEMA, bucket_key="flight_key", n_buckets=8
    )
    tbl.overwrite(init.limit(100))
    v = tbl.versions()[-1]
    assert tbl._bucket_spec_valid(v)

    # Corrupt the meta field of the committed line: valid JSON, not a dict.
    log = tbl._log
    lines = open(log).read().splitlines()
    lines[-1] = "\t".join(lines[-1].split("\t")[:2] + ['["not","a","dict"]'])
    with open(log, "w") as f:
        f.write("\n".join(lines) + "\n")

    assert tbl._version_meta(v) is None
    assert not tbl._bucket_spec_valid(v)
    fresh = BucketedParquetTable(
        spark, path, _SCHEMA, bucket_key="flight_key", n_buckets=8,
        name=f"{tbl.name}_corrupt",
    )
    df = fresh.read()  # must not raise
    assert df.count() == 100

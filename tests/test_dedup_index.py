"""Persisted LSH band index: the 100 TB lever behind docs_incremental_dedup.

The incremental-dedup production shape is: write the corpus's MinHash band
table ONCE, bucketed by band; each crawl increment computes bands for its
own documents only and probes the index. The property that makes this
O(batch), not O(corpus), is that the probe join must not shuffle (or even
re-read more than the matching buckets of) the index side. As with
tests/test_bucketing.py, the test pins the property on the executed
physical plan, not by assertion of intent.

The band identity is stored as ONE composite column (band_idx:band_key) so
the bucket spec and the join key coincide exactly — a subset-of-keys
bucketed join would leave Spark free to re-shuffle both sides.
"""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from real_time_flight_data_pipeline_spark.functions import text as TX
from real_time_flight_data_pipeline_spark.operators.dedup import (
    band_rows,
    shingle_sets,
)
from real_time_flight_data_pipeline_spark.sources.parquet import load_table

from .conftest import SF_SMOKE


def _bands(df):
    toks = df.select("doc_id", TX.tokens(F.col("text")).alias("toks"))
    return band_rows(shingle_sets(toks)).select(
        "doc_id",
        F.concat_ws(":", F.col("band_idx").cast("string"), "band_key").alias(
            "band"
        ),
    )


def test_band_index_probe_no_index_side_exchange(spark):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 5 != 4)
    batch = docs.filter(F.col("doc_id") % 5 == 4)
    index_table = f"band_index_{uuid.uuid4().hex[:8]}"
    (_bands(base).write.bucketBy(8, "band").sortBy("band")
        .format("parquet").mode("overwrite").saveAsTable(index_table))

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = (
            spark.table(index_table)
            .withColumnRenamed("doc_id", "base_id")
            .join(_bands(batch), "band")
            .select("base_id", "doc_id")
        )
        got = {(r.base_id, r.doc_id) for r in probe.collect()}
        # AQE prints Final and Initial sections; judge the Final one only.
        plan = (
            probe._jdf.queryExecution()
            .executedPlan()
            .toString()
            .split("== Initial Plan ==")[0]
        )
        # exactly ONE shuffle: the batch side aligning to the index's
        # bucketing. The corpus-sized index side must contribute none.
        assert plan.count("Exchange") == 1, (
            "index probe must shuffle only the batch side:\n" + plan
        )
        assert "hashpartitioning(band" in plan, plan  # and it IS the batch side
        # the bucketed layout is what the planner used, not a rescan
        assert "Bucketed: true" in plan, plan

        # correctness: identical to the plain (shuffle-everything) join
        want = {
            (r.base_id, r.doc_id)
            for r in _bands(base)
            .withColumnRenamed("doc_id", "base_id")
            .join(_bands(batch), "band")
            .select("base_id", "doc_id")
            .collect()
        }
        assert got == want and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {index_table}")

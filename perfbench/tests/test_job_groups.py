"""Job-group attribution against a real local Spark: jobs launched while a
query is built (a checkpoint barrier) land in its build group, the final
materialization's jobs in its exec group. Starts a local[1] JVM."""

import pytest

import sparkstats
from stats import attribute_jobs, parse_group


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[1]").appName("perfbench-test")
         .config("spark.ui.enabled", "false").getOrCreate())
    yield s
    s.stop()


def test_build_and_exec_jobs_are_attributed_to_their_groups(spark):
    sc = spark.sparkContext
    sc.setJobGroup("q:probe#0:build", "build")
    df = spark.range(1000).localCheckpoint(eager=True)  # a build-time job
    sc.setJobGroup("q:probe#0:exec", "exec")
    df.groupBy((df.id % 3).alias("k")).count().write.format("noop").mode("overwrite").save()
    sc.setLocalProperty("spark.jobGroup.id", None)
    spark.range(10).count()  # untagged

    jobs = sparkstats.jobs(spark)
    counts = attribute_jobs(jobs)
    assert counts["probe#0"]["build"] >= 1
    assert counts["probe#0"]["exec"] >= 1
    assert counts["-"]["untagged"] >= 1
    exec_stages = [s for j in jobs if parse_group(j["group"]) == ("q", "probe#0", "exec")
                   for s in j["stages"]]
    metrics = [sparkstats.stage_metrics(spark, s) for s in exec_stages]
    assert metrics and all(m["tasks"] >= 1 and m["executor_run_s"] >= 0 for m in metrics)
    assert sum(m["input_bytes"] for m in metrics) > 0

"""Isolated per-query probe for the r16 optimization round.

For each named query: N warm runs of builder-(t_build) + noop write
(t_exec) at $SPARK_GRAFT_SF_DIR, medians to stdout, and optionally the
``.explain("formatted")`` text to a file (--explain-dir). Runs in ONE
session so JVM/codegen warmup is shared; pass the query list in the order
you want them probed. This is the guide-§1 loop (measure -> change ->
re-measure) without paying a 150-query sweep per iteration.

Run: python scripts/opt_probe.py q1 q2 ... [--runs 5] [--explain-dir plans/r16 --suffix _before]
"""

from __future__ import annotations

import os
import pathlib
import statistics
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from real_time_flight_data_pipeline_spark.plans.catalog import REGISTRY  # noqa: E402
from real_time_flight_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    runs = 5
    explain_dir = None
    suffix = ""
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--runs":
            runs = int(args[i + 1])
            i += 2
        elif args[i] == "--explain-dir":
            explain_dir = pathlib.Path(args[i + 1])
            i += 2
        elif args[i] == "--suffix":
            suffix = args[i + 1]
            i += 2
        else:
            names.append(args[i])
            i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="flightframe-opt-probe")
    # Same JVM warmup shape as bench.py so numbers are comparable.
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(0, 8_000_000).selectExpr("max(md5(cast(id as string)))").collect()
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet"):
            spark.read.parquet(os.path.join(sf_dir, f)).write.format("noop").mode(
                "overwrite"
            ).save()

    for name in names:
        q = REGISTRY[name]
        spark.sparkContext.setJobDescription(f"probe:{name}")
        # one untimed warm run
        q.builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
        builds, execs = [], []
        for _ in range(runs):
            t0 = time.perf_counter()
            df = q.builder(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            builds.append(t1 - t0)
            execs.append(t2 - t1)
        b = statistics.median(builds)
        x = statistics.median(execs)
        print(
            f"{name}: tot={b + x:.3f} build={b:.3f} exec={x:.3f} "
            f"(execs: {', '.join(f'{e:.3f}' for e in execs)})",
            flush=True,
        )
        if explain_dir is not None:
            explain_dir.mkdir(parents=True, exist_ok=True)
            df = q.builder(spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            (explain_dir / f"{name}{suffix}.txt").write_text(txt)
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()

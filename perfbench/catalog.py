"""catalog_relational: one client running the relational query mix in a
closed loop over seeded tables.

Each query is built (the registered builder: Python plan construction,
Catalyst analysis and any build-time Spark jobs) and then materialized to the
noop sink. Queries are looked up by name: importing ``plans`` reorders
REGISTRY, so positions are meaningless. Before the timed window every query
runs once through the DuckDB oracle comparison of ``tests/oracle_harness.py``,
which checks its output and warms the JVM.
"""

from __future__ import annotations

import time
from collections import defaultdict

import catalog_data
import common
import sparkstats
from common import median, metric
from stats import attribute_jobs, parse_group, summarize

SF = 0.01  # 60k lineitem rows, 10k events
MIN_PASSES = 5  # each query's median is over at least this many runs
MIX = (
    "pricing_summary",
    "route_lookup_two_key_join",
    "rollup_lineitem_flag_status",
    "supplier_revenue_by_nation",
    "sessionize_events",
    "clean_ts_normalize_parse",
    "fact_upsert_lww",
    "curated_event_star_view",
)


def run(ctx) -> dict:
    tr = ctx.tracer
    spark, session_s = common.start_session(ctx, "perfbench-catalog_relational")
    sc = spark.sparkContext
    gen_s = []
    for i in range(3):  # table generation is repeatable set-up: median of 3
        t0 = time.monotonic()
        catalog_data.write(ctx.seed, SF, ctx.path(f"data{i}"))
        gen_s.append(time.monotonic() - t0)
    data = ctx.path("data2")

    from real_time_flight_data_pipeline_spark.plans import REGISTRY
    from tests.oracle_harness import compare

    queries = {name: REGISTRY[name] for name in MIX}
    problems = []
    attempted = failed = 0
    t_warm = time.monotonic()
    for name, q in queries.items():
        attempted += 1
        ok, msg = compare(spark, data, q.builder, q.oracle)
        if not ok:
            problems.append(f"{name}: {msg}")
    warm_s = time.monotonic() - t_warm
    setup_s = session_s + median(gen_s) + warm_s

    log0 = common.log_offset(ctx.jvm_log)
    cpu0 = sparkstats.cpu_s(spark)
    build, execute, total = defaultdict(list), defaultdict(list), defaultdict(list)
    catalyst = defaultdict(list)
    passes = 0
    end = time.monotonic() + ctx.seconds
    while passes < MIN_PASSES or time.monotonic() < end:  # whole passes only
        for name, q in queries.items():
            req = f"query:{name}#{passes}"
            attempted += 1
            try:
                if ctx.trace:
                    sc.setJobGroup(f"q:{req}:build", "build")
                with tr.span("catalog.query", req):
                    t0 = time.monotonic()
                    with tr.span("plans.build"):
                        df = q.builder(spark, data)
                    t1 = time.monotonic()
                    if ctx.trace:
                        sc.setJobGroup(f"q:{req}:exec", "exec")
                    with tr.span("operators.exec"):
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.monotonic()
            except Exception as e:  # counted; the client moves on
                failed += 1
                problems.append(f"{name}: failed in pass {passes}: {e!r}"[:500])
                continue
            build[name].append(t1 - t0)
            execute[name].append(t2 - t1)
            total[name].append(t2 - t0)
            if ctx.trace:
                sc.setLocalProperty("spark.jobGroup.id", None)
                catalyst[name].append(sum(sparkstats.catalyst_ms(df).values()))
        passes += 1
    log1 = common.log_offset(ctx.jvm_log)
    cpu_per_pass = (sparkstats.cpu_s(spark) - cpu0) / passes
    missing = [n for n in MIX if not total[n]]
    if missing:
        raise RuntimeError(f"no successful run of {missing}")

    e2e = {
        "setup_s": metric(setup_s, "s"),
        "latency_p50_s": metric(sum(median(total[n]) for n in MIX), "s"),
        "read_p50_s": metric(sum(median(execute[n]) for n in MIX), "s"),
        "peak_rss_mb": metric(sparkstats.peak_rss_mb(spark), "MB"),
    }
    ctx.artifact.update({
        "setup_parts_s": {"session": session_s, "generate": gen_s, "warm": warm_s},
        "passes": passes,
        "cpu_per_pass_s": cpu_per_pass,
        "per_query": {
            n: {"build_s": summarize(build[n]), "exec_s": summarize(execute[n]),
                "total_s": summarize(total[n]), "total_each_s": total[n]}
            for n in MIX
        },
        "query_mix_s": e2e["latency_p50_s"]["value"],
    })
    if ctx.trace:
        _per_layer(ctx, spark, build, execute, catalyst, passes, log0, log1, session_s)
    return {"problems": problems, "attempted": attempted, "failed": failed, "e2e": e2e}


def _per_layer(ctx, spark, build, execute, catalyst, passes, log0, log1, session_s) -> None:
    pl = ctx.per_layer
    pl["session.start_s"] = session_s
    pl["plans.build_s"] = sum(median(v) for v in build.values())
    pl["plans.catalyst_ms"] = sum(median(v) for v in catalyst.values())
    pl["operators.exec_s"] = sum(median(v) for v in execute.values())
    pl["functions.codegen_fallbacks"] = common.codegen_fallbacks(ctx.jvm_log, log0, log1)
    spans = [s for s in ctx.tracer.spans if s["name"] == "catalog.query"]
    ctx.artifact["accounting"] = {
        "build_plus_exec_s": pl["plans.build_s"] + pl["operators.exec_s"],
        "query_mix_s": ctx.artifact["query_mix_s"],
        "query_spans_per_pass_s": sum(s["end"] - s["start"] for s in spans) / passes,
    }

    jobs = [j for j in sparkstats.jobs(spark) if parse_group(j["group"])]
    for req, phases in attribute_jobs(jobs).items():
        for phase, n in phases.items():
            ctx.tracer.count(f"spark.{phase}_jobs", req, n)
    build_jobs = defaultdict(int)
    units: dict[int, list[dict]] = defaultdict(list)
    scans: dict[int, list[dict]] = defaultdict(list)
    by_group: dict[str, list[dict]] = {}
    for j in jobs:
        _, req, phase = parse_group(j["group"])
        p = int(req.rsplit("#", 1)[1])
        rows = [sparkstats.stage_metrics(spark, s) for s in j["stages"]]
        by_group.setdefault(j["group"], []).extend(rows)
        scans[p].extend(rows)
        if phase == "build":
            build_jobs[p] += 1
        else:
            units[p].extend(rows)
    pl["plans.build_jobs"] = median(build_jobs[p] for p in range(passes))
    common.stage_layers(pl, [units[p] for p in range(passes)],
                        [scans[p] for p in range(passes)])
    ctx.artifact["stages_by_group"] = by_group

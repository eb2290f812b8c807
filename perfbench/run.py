"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload flight_live --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout. Builds its inputs from ``--seed`` under
``.perfbench_work/`` (removed at exit), measures for ``--seconds``, checks the
program's outputs, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1`` the
same run also records spans, Spark job/stage metrics and streaming progress
and reports the per-layer metrics instead. Each run writes an artifact
(spans, self times, a per-layer "where did the time go" table, host load)
to ``.perfbench_out/``. Exits 1 when an output is wrong, 2 when the program
cannot be imported or the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Spark task threads per workload, sized for a 4-core host. flight_live leaves
# one core to what runs beside the stream's tasks (the driver, the export
# reader, the generator), so an export poll does not wait for a core behind
# four task threads. The catalog's single client waits while its tasks run.
CORES = {"flight_live": "3", "catalog_relational": "4"}
DRIVER_MEM = "2g"


def _metric_units(kind: str) -> dict[str, str]:
    """Metric name -> unit for BENCHMARK.json's ``end_to_end`` or ``per_layer``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _isolate(work: str, cores: str) -> tuple[str, object]:
    """Keep every file the run writes inside the checkout, and send the driver
    JVM's stderr (Spark's log) to a file so it can be counted. Returns the
    log path and a stream on the original stderr."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    # No hsperfdata file under /tmp either.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = cores
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_JAVA_OPTS", None)
    os.environ["TZ"] = "UTC"  # collected timestamps come back as naive UTC
    time.tzset()
    log = os.path.join(work, "jvm.log")
    fd = os.open(log, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    saved = os.dup(2)
    os.dup2(fd, 2)
    os.close(fd)
    return log, os.fdopen(saved, "w", buffering=1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(CORES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # A terminated run still stops its generator and the JVM (finally below).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    jvm_log, err = _isolate(work, CORES[args.workload])
    sys.path.insert(1, ROOT)
    try:
        import real_time_flight_data_pipeline_spark  # noqa: F401
        import bench
        import tests.oracle_harness  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=err)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    import common

    end_to_end, per_layer = _metric_units("end_to_end"), _metric_units("per_layer")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    ctx = common.Context(work=work, seed=args.seed, seconds=args.seconds,
                         trace=bool(args.trace), jvm_log=jvm_log)
    host0 = bench._host_sample()
    t0 = time.monotonic()
    try:
        if args.workload == "flight_live":
            import flight_live as wl
        else:
            import catalog as wl
        res = wl.run(ctx)
    except Exception:
        traceback.print_exc(file=err)
        print(f"perfbench: run failed; Spark log in {jvm_log}", file=err)
        return 2
    finally:
        common.stop_all(ctx)
    host = bench._host_delta(host0, bench._host_sample())

    e2e = res["e2e"]
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "wall_s": time.monotonic() - t0, "host": host,
        "problems": res["problems"], "attempted": res["attempted"], "failed": res["failed"],
        "ops_failed_frac": res["failed"] / max(1, res["attempted"]),
        "end_to_end": e2e, **ctx.artifact,
    }
    last_untraced = os.path.join(out_dir, f"last_untraced_{args.workload}.json")
    if args.trace:
        from stats import self_time_by_name

        spans = ctx.tracer.spans
        # Shares are of the workload's top-level spans (batches, polls, queries).
        top = sum(s["end"] - s["start"] for s in spans
                  if s["parent"] is None and s["name"] != "session.get_spark")
        artifact.update(spans=spans, counts=ctx.tracer.counts, per_layer=ctx.per_layer)
        artifact["where_time_went"] = [
            {"span": k, "self_s": v, "share": v / top if top else None}
            for k, v in sorted(self_time_by_name(spans).items(), key=lambda kv: -kv[1])
        ]
        try:
            with open(last_untraced) as f:
                base = json.load(f)
            artifact["tracing_overhead"] = {
                k: e2e[k]["value"] - base[k]["value"] for k in e2e if k in base
            }
        except (OSError, ValueError, KeyError):
            artifact["tracing_overhead"] = None
        metrics = {k: common.metric(ctx.per_layer.get(k, 0.0), u) for k, u in per_layer.items()}
    else:
        with open(last_untraced, "w") as f:
            json.dump(e2e, f)
        metrics = {k: common.metric(e2e[k]["value"], u) for k, u in end_to_end.items()}
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    correct = not res["problems"]
    for p in res["problems"]:
        print(f"perfbench: MISMATCH {p}", file=err)
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

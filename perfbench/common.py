"""What both workloads share: the run context, session start, the JVM log
counters and metric assembly."""

from __future__ import annotations

import os
import re
import statistics
import time
from dataclasses import dataclass, field

from spans import Tracer

# Janino gives up on a generated class (e.g. "Code grows beyond 64 KB") and
# Spark falls back to interpreted execution for that plan.
_CODEGEN_FAIL = re.compile(rb"CodeGenerator: [Ff]ailed to compile")


@dataclass
class Context:
    work: str  # scratch directory for this run, removed when it ends
    seed: int
    seconds: int
    trace: bool
    jvm_log: str  # the driver JVM's stderr
    tracer: Tracer = field(init=False)
    per_layer: dict = field(default_factory=dict)
    artifact: dict = field(default_factory=dict)
    procs: list = field(default_factory=list)  # child processes to reap

    def __post_init__(self):
        self.tracer = Tracer(self.trace)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def start_session(ctx: Context, app: str):
    """The program's own session factory, timed as the session layer."""
    from real_time_flight_data_pipeline_spark.session import get_spark

    t0 = time.monotonic()
    with ctx.tracer.span("session.get_spark", "setup"):
        spark = get_spark(app_name=app)
    return spark, time.monotonic() - t0


def stop_all(ctx: Context) -> None:
    """Kill and reap every child process the run started: generators, then
    the driver JVM. The JVM is killed rather than stopped in order: every
    output has been read by now, and the run's directory is removed."""
    for p in ctx.procs:
        if p.poll() is None:
            p.kill()
        p.wait()
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is not None:
        gw.shutdown()
        proc.kill()
        proc.wait()


def log_offset(path: str) -> int:
    try:
        return os.path.getsize(path)
    except OSError:
        return 0


def codegen_fallbacks(path: str, start: int, end: int) -> int:
    """Whole-stage codegen compile failures logged between two offsets."""
    with open(path, "rb") as f:
        f.seek(start)
        data = f.read(max(0, end - start))
    return len(_CODEGEN_FAIL.findall(data))


def median(values, default: float = 0.0) -> float:
    vals = [v for v in values if v is not None]
    return statistics.median(vals) if vals else default


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def stage_layers(pl: dict, units: list[list[dict]], scans: list[list[dict]]) -> None:
    """operators.* from the stage metrics of ``units`` and sources.* from those
    of ``scans``: summed over the stages of one unit of work (a micro-batch or
    a mix pass), median over units. A scan counts wherever it runs, so for
    the catalog ``scans`` also holds the build-time jobs' stages."""

    def per_unit(rows_by_unit, f):
        return median(sum(f(s) for s in rows if s) for rows in rows_by_unit)

    pl["operators.executor_run_s"] = per_unit(units, lambda s: s["executor_run_s"])
    pl["operators.executor_cpu_s"] = per_unit(units, lambda s: s["executor_cpu_s"])
    pl["operators.shuffle_bytes"] = per_unit(units, lambda s: s["shuffle_read_bytes"])
    pl["operators.spill_bytes"] = per_unit(units, lambda s: s["spill_bytes"])
    pl["operators.task_skew"] = median(
        s["task_skew"] for rows in units for s in rows if s and "task_skew" in s
    )
    pl["sources.scan_input_bytes"] = per_unit(scans, lambda s: s["input_bytes"])
    pl["sources.scan_input_rows"] = per_unit(scans, lambda s: s["input_rows"])
    pl["sources.scan_tasks"] = per_unit(scans, lambda s: s["tasks"] if s["input_bytes"] else 0)

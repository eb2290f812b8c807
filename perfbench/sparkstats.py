"""Readers for Spark's own bookkeeping, through py4j: jobs and stage metrics
from the status store, Catalyst phase times from a query's tracker, and the
driver JVM's resident-set high-water mark."""

from __future__ import annotations

import os
import resource


def _opt(o):
    return o.get() if o.isDefined() else None


def jobs(spark) -> list[dict]:
    """Every job the status store retains: id, group, description, stages."""
    store = spark.sparkContext._jsc.sc().statusStore()
    seq = store.jobsList(None)
    out = []
    for i in range(seq.length()):
        j = seq.apply(i)
        ids = j.stageIds()
        out.append({
            "job": j.jobId(),
            "group": _opt(j.jobGroup()),
            "description": _opt(j.description()),
            "stages": [ids.apply(k) for k in range(ids.length())],
            "status": str(j.status()),
        })
    return out


def stage_metrics(spark, stage_id: int, skew: bool = True) -> dict:
    """Executor time, CPU, scan and shuffle bytes, spill and task skew (max
    over median task run time) of a stage's last attempt."""
    store = spark.sparkContext._jsc.sc().statusStore()
    try:
        s = store.lastStageAttempt(stage_id)
    except Exception:  # stage evicted from the store or never run
        return {}
    out = {
        "stage": stage_id,
        "tasks": s.numTasks(),
        "executor_run_s": s.executorRunTime() / 1e3,
        "executor_cpu_s": s.executorCpuTime() / 1e9,
        "input_bytes": s.inputBytes(),
        "input_rows": s.inputRecords(),
        "shuffle_read_bytes": s.shuffleReadBytes(),
        "shuffle_write_bytes": s.shuffleWriteBytes(),
        "output_bytes": s.outputBytes(),
        "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
    }
    if skew and s.numTasks() > 1:
        gw = spark.sparkContext._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        summ = store.taskSummary(stage_id, s.attemptId(), qs)
        if summ.isDefined():
            rt = summ.get().executorRunTime()
            med, mx = rt.apply(0), rt.apply(1)
            out["task_skew"] = mx / med if med > 0 else 1.0
    return out


def catalyst_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning time of ``df``'s own query
    execution (plans it if it has not been planned yet)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        p = phases.get(k)
        if p.isDefined():
            out[k] = float(p.get().durationMs())
    return out


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._gateway.jvm.java.lang.ProcessHandle.current().pid())


def _status_kb(pid: int, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """High-water RSS of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (_status_kb(jvm_pid(spark), "VmHWM") + py_kb) / 1024.0



def cpu_s(spark) -> float:
    """User + system CPU seconds used so far by the driver JVM and this
    Python process (time the hypervisor stole is not charged to either)."""
    with open(f"/proc/{jvm_pid(spark)}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    jvm = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    t = os.times()
    return jvm + t.user + t.system

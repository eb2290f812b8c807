"""Pure arithmetic shared by the workloads: summary statistics, span self
times and job-group attribution. No Spark imports, so the unit tests run
without a JVM."""

from __future__ import annotations

import math
import statistics
from collections import defaultdict

# Percentiles considered for the tail, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def tail_percentile(n: int) -> float | None:
    """Highest percentile in TAIL_LADDER with at least ten samples beyond it
    out of ``n``; None when even the lowest one has fewer than ten."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= 10.0 - 1e-9:
            return p
    return None


def nearest_rank(sorted_vals: list[float], p: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    k = max(1, math.ceil(p / 100.0 * len(sorted_vals)))
    return sorted_vals[k - 1]


def summarize(values: list[float]) -> dict:
    """Median, sample count and the highest percentile the count supports,
    named after that percentile (e.g. ``p90``)."""
    vals = sorted(values)
    out: dict = {"n": len(vals)}
    if not vals:
        return out
    out["p50"] = statistics.median(vals)
    p = tail_percentile(len(vals))
    if p is not None:
        out[f"p{p:g}".replace(".", "_")] = nearest_rank(vals, p)
    return out


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles(n=4)``
    gives them: the run-to-run spread the benchmark's bounds are set
    against."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def batch_freshness(file_batch: dict[str, int], due: dict[str, float],
                    batch_end: dict[int, float]) -> dict[int, float]:
    """Freshness per micro-batch: the mean over a batch's files of the time
    from a file being due until the batch that loaded it returned. Only
    batches whose files are all in ``due`` (the measured window) count, so a
    batch that also carried earlier files does not mix in their wait."""
    files: dict[int, list[str]] = defaultdict(list)
    for name, b in file_batch.items():
        files[b].append(name)
    return {
        b: statistics.fmean(batch_end[b] - due[n] for n in names)
        for b, names in sorted(files.items())
        if all(n in due for n in names)
    }


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its interval
    covered by its children (overlapping children are counted once)."""
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s.get("parent") is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        ivs = sorted(
            (max(c["start"], lo), min(c["end"], hi)) for c in children.get(s["id"], ())
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name (a layer boundary)."""
    st = self_times(spans)
    agg: dict[str, float] = defaultdict(float)
    for s in spans:
        agg[s["name"]] += st[s["id"]]
    return dict(agg)


def parse_group(group: str | None) -> tuple[str, str, str] | None:
    """``"q:<query>:<phase>"`` -> (kind, request, phase); None for groups the
    benchmark did not set (e.g. a streaming query's run id)."""
    if not group or group.count(":") < 2:
        return None
    kind, rest = group.split(":", 1)
    request, phase = rest.rsplit(":", 1)
    return kind, request, phase


def attribute_jobs(jobs: list[dict]) -> dict[str, dict[str, int]]:
    """Count jobs per request and phase from their job groups. ``jobs`` are
    dicts with a ``group`` key; jobs outside any benchmark group are
    counted under request ``"-"``."""
    out: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
    for j in jobs:
        parsed = parse_group(j.get("group"))
        if parsed is None:
            out["-"]["untagged"] += 1
        else:
            _, request, phase = parsed
            out[request][phase] += 1
    return {k: dict(v) for k, v in out.items()}

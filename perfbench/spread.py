"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload flight_live --seeds 1-10

Runs the benchmark once per seed for BENCHMARK.json's run_seconds, one run at
a time, and prints for every end-to-end metric its median and (Q3 - Q1) /
median over the runs, with the quartiles of
``statistics.quantiles(values, n=4)``, next to the metric's bound in
BENCHMARK.json. Exits 1 if a run fails or reports wrong output.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

from stats import quartile_spread

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=300,
        )
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        print(f"seed {seed}: " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for k, vals in values.items():
        print(f"{k:16s} median {statistics.median(vals):10.4g}  spread "
              f"{quartile_spread(vals):.4f}  bound {bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

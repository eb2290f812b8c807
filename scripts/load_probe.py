"""In-process probe of the streaming warehouse load.

Generates a seeded flightgen feed (``perfbench/flightgen.py``, imported
read-only), loads file 0 to warm the warehouse, then runs ``--loads`` loads
of ``--per-load`` files each through ``normalize_flight_stream`` and
``warehouse_load`` in one Spark session. It prints:

* the median ``warehouse_load`` time over the loads after the first
  ``--skip``, and the median Spark jobs per load;
* per table: how many of the timed loads committed it, the median seconds
  and Spark jobs per commit (a job group is set around each
  ``FlightWarehouse`` instance's ``overwrite``);
* the export poll, run after each load as ``flight_live``'s reader runs it
  (``curated_view`` -> ``next_export_batch`` -> ``rows.collect()`` -> advance
  the watermark) and once more right after: the median poll that shipped
  rows and the median poll that found none, over the timed loads, and the
  median Spark jobs per ``rows.collect()``. A load that touches more keys
  than the 300-row export limit (the default 3 files per load do) ships
  one ``last_updated`` group larger than the limit, which re-runs the view;
  ``--per-load 1`` keeps each load's group under the limit;
* md5 digests of the sorted rows of the four tables and of ``curated_view``
  (fact and view without ``last_updated``, which is a wall-clock stamp).

Each load's staging is read from the spool files and normalized with the
feed's fixed retention clock, so the digests depend only on the feed and
the load code: running the probe in two checkouts is a row-identity check.

Run from a checkout (3 task threads, as ``flight_live`` uses)::

    SPARK_GRAFT_CPUS=3 SPARK_GRAFT_DRIVER_MEM=2g python scripts/load_probe.py \\
        [--seed 3] [--files 40] [--loads 12] [--per-load 3] [--skip 2]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import pathlib
import shutil
import statistics
import sys
import tempfile
import time
from collections import defaultdict

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "perfbench"))

import flightgen  # noqa: E402

from real_time_flight_data_pipeline_spark.schemas import FLIGHT_WIRE_SCHEMA  # noqa: E402
from real_time_flight_data_pipeline_spark.session import get_spark  # noqa: E402
from real_time_flight_data_pipeline_spark.streaming.pipeline import (  # noqa: E402
    FlightWarehouse,
    curated_view,
    normalize_flight_stream,
    warehouse_load,
)
from real_time_flight_data_pipeline_spark.streaming.watermark import (  # noqa: E402
    WatermarkStore,
    next_export_batch,
)

EXPORT_LIMIT = 300  # flight_live's export batch size

TABLES = {"airline": "dim_airline", "airport": "dim_airport", "route": "dim_route",
          "fact": "fact_flight_status"}


def _digest(df) -> str:
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=3)
    ap.add_argument("--files", type=int, default=40)
    ap.add_argument("--loads", type=int, default=12)
    ap.add_argument("--per-load", type=int, default=3)
    ap.add_argument("--skip", type=int, default=2, help="loads left out of the medians")
    args = ap.parse_args(argv)
    if 1 + args.loads * args.per_load > args.files:
        ap.error("--files must cover file 0 plus loads * per-load files")

    work = tempfile.mkdtemp(prefix="load_probe_")
    try:
        files, _, _ = flightgen.make_files(args.seed, args.files)
        paths = []
        for i, lines in enumerate(files):
            paths.append(os.path.join(work, f"part-{i:05d}.json"))
            with open(paths[-1], "w") as f:
                f.write("\n".join(lines) + "\n")

        spark = get_spark(app_name="flightframe-load-probe")
        sc = spark.sparkContext
        wh = FlightWarehouse(spark, os.path.join(work, "wh"))
        current = [0]  # the load in progress; load 0 is the warm-up
        commit_s: dict[str, dict[int, float]] = defaultdict(dict)
        for attr, name in TABLES.items():
            tbl = getattr(wh, attr)

            def timed(df, _orig=tbl.overwrite, _name=name):
                sc.setJobGroup(f"load{current[0]}:{_name}", f"{_name} commit")
                t0 = time.perf_counter()
                _orig(df)
                commit_s[_name][current[0]] = time.perf_counter() - t0
                sc.setJobGroup(f"load{current[0]}", "warehouse_load")

            tbl.overwrite = timed

        def load(i: int, batch: list[str]) -> float:
            current[0] = i
            sc.setJobGroup(f"load{i}", "warehouse_load")
            staged = normalize_flight_stream(
                spark.read.schema(FLIGHT_WIRE_SCHEMA).json(batch), flightgen.NOW_EXPR
            )
            t0 = time.perf_counter()
            warehouse_load(wh, staged)
            return time.perf_counter() - t0

        store = WatermarkStore(os.path.join(work, "export_watermark.json"))

        def poll(i: int, tag: str) -> tuple[float, bool]:
            """One export poll: seconds, and whether it shipped rows."""
            sc.setJobGroup(f"poll{i}:{tag}", "export poll")
            t0 = time.perf_counter()
            batch = next_export_batch(curated_view(wh), store, limit=EXPORT_LIMIT)
            if batch.new_watermark is not None:
                sc.setJobGroup(f"poll{i}:{tag}:ship", "export ship")
                batch.rows.collect()
                store.advance(batch.new_watermark)
            return time.perf_counter() - t0, batch.new_watermark is not None

        load(0, paths[:1])
        poll(0, "a")
        times = []
        polls: dict[bool, list[float]] = {True: [], False: []}
        ship_groups = []
        for i in range(1, args.loads + 1):
            lo = 1 + (i - 1) * args.per_load
            times.append(load(i, paths[lo : lo + args.per_load]))
            print(f"load {i}: {times[-1]:.3f} s", flush=True)
            for tag in ("a", "b"):  # after the load, then with nothing new
                secs, shipped = poll(i, tag)
                if i > args.skip:
                    polls[shipped].append(secs)
                    if shipped:
                        ship_groups.append(f"poll{i}:{tag}:ship")
        sc.setJobGroup("digest", "row digests")
        digests = {
            "dim_airline": _digest(wh.airline.read()),
            "dim_airport": _digest(wh.airport.read()),
            "dim_route": _digest(wh.route.read()),
            "fact_flight_status": _digest(wh.fact.read().drop("last_updated")),
            "curated_view": _digest(curated_view(wh).drop("last_updated")),
        }

        timed_loads = range(args.skip + 1, args.loads + 1)
        tracker = sc.statusTracker()

        def n_jobs(g: str) -> int:
            return len(tracker.getJobIdsForGroup(g))

        per_load = [n_jobs(f"load{i}") + sum(n_jobs(f"load{i}:{t}") for t in TABLES.values())
                    for i in timed_loads]
        print(f"warehouse_load median {statistics.median(times[args.skip:]):.3f} s, "
              f"jobs per load {statistics.median(per_load):g} "
              f"(loads {args.skip + 1}-{args.loads} of {args.loads}, {args.per_load} files each)")
        for name in TABLES.values():
            done = [i for i in timed_loads if i in commit_s[name]]
            if done:
                secs = statistics.median(commit_s[name][i] for i in done)
                jobs = statistics.median(n_jobs(f"load{i}:{name}") for i in done)
                print(f"  {name}: committed in {len(done)} of {len(timed_loads)} loads, "
                      f"{secs:.3f} s and {jobs:g} jobs per commit")
            else:
                print(f"  {name}: committed in 0 of {len(timed_loads)} loads")
        for shipped, label in ((True, "with rows"), (False, "without rows")):
            if polls[shipped]:
                print(f"export poll {label}: median {statistics.median(polls[shipped]):.3f} s "
                      f"over {len(polls[shipped])} polls")
        if ship_groups:
            print(f"  jobs per rows.collect(): "
                  f"{statistics.median(n_jobs(g) for g in ship_groups):g}")
        for name, d in digests.items():
            print(f"md5 {name} {d}")
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

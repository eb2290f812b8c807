"""Deterministic flight-record generator for the streaming workloads.

Emits wire-format JSON that matches ``FLIGHT_WIRE_SCHEMA`` (the Kafka value
contract) as spool files, one JSON record per line. Each file is written to a
temporary name and renamed into place when it is due, so the file source never
sees a partial file; the landing time of every file is appended to
``landings.jsonl``. ``truth.json`` holds the latest surviving snapshot of every
key, i.e. what the warehouse must contain once every file has been loaded.

The record mix exercises every branch of ``normalize_flight_stream`` and of
the warehouse merge: repeat snapshots of a key and new keys, rows dropped by
status, by the three-day retention window and by a missing key, ICAO-only
airlines and airports, negative delays (nulled by the pipeline), and three
timestamp spellings that ``clean_ts`` normalises.

Run as its own process::

    python3 perfbench/flightgen.py --out DIR --seed 1 --files 10

It writes ``DIR/truth.json`` and ``DIR/plan.json`` first, then lands files
``--first`` to ``--first + --count - 1`` of the ``--files`` it generated, as
``DIR/spool/part-NNNNN.json``, one every PERIOD_S seconds from ``--t0``
(a ``time.monotonic()`` value, which is one clock for every process on the
host; default: now). File contents depend only on the seed and the file
count, so a run may land its files from several launches.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
from datetime import datetime, timedelta, timezone

RECORDS = 150  # snapshots per spool file after the first
KEYS = 1500  # recurring flight keys; file 0 holds one snapshot of each
PERIOD_S = 1.0  # one spool file lands every PERIOD_S seconds

# Retention clock handed to normalize_flight_stream as its ``now_expr``.
NOW = datetime(2025, 8, 22, 0, 0, 0, tzinfo=timezone.utc)
NOW_EXPR = "timestamp'2025-08-22 00:00:00'"
KEEP = ("active", "landed", "arrived", "en-route", "enroute")
KEPT_STATUSES = ("active", "landed", "en-route", "Active", "arrived")
DROPPED_STATUSES = ("scheduled", "cancelled", "diverted")


def _fmt(ts: datetime, style: int) -> str:
    """Three spellings of one UTC instant; clean_ts maps all to +00:00."""
    if style == 0:
        return ts.strftime("%Y-%m-%dT%H:%M:%S+00:00")
    if style == 1:
        return ts.strftime("%Y-%m-%dT%H:%M:%SZ")
    return ts.strftime("%Y-%m-%dT%H:%M:%S+0000")


def _iso(ts: datetime | None) -> str | None:
    return None if ts is None else ts.strftime("%Y-%m-%d %H:%M:%S")


class FlightUniverse:
    """Fixed per-key identity (airline, route, schedule) drawn from the seed;
    snapshots vary only status, estimates, actuals and delays."""

    def __init__(self, seed: int, n_keys: int):
        rng = random.Random(seed * 7919 + 17)
        self.airlines = []
        for i in range(24):
            icao = f"A{i:02d}X"
            iata = None if i % 5 == 4 else f"{chr(65 + i)}{i % 10}"  # ICAO-only
            self.airlines.append((iata, icao, f"Airline {icao}"))
        self.airports = []
        for i in range(48):
            icao = f"K{i:03d}"
            iata = None if i % 7 == 6 else f"P{i:02d}"  # ICAO-only airports
            self.airports.append((iata, icao, f"Airport {icao}"))
        self.keys = []
        for k in range(n_keys):
            airline = self.airlines[rng.randrange(len(self.airlines))]
            dep, arr = rng.sample(self.airports, 2)
            stale = rng.random() < 0.04  # every timestamp outside retention
            if stale:
                sched = NOW - timedelta(days=12, minutes=rng.randrange(1440))
            else:
                sched = NOW + timedelta(minutes=rng.randrange(-1800, 1800))
            number = str(100 + k)
            flight_iata = f"{airline[0] or airline[1]}{number}"
            style = rng.randrange(3)
            self.keys.append(
                {
                    "idx": k,
                    "key": f"{flight_iata}_{_fmt(sched, style)}",
                    "number": number,
                    "flight_iata": flight_iata,
                    "airline": airline,
                    "dep": dep,
                    "arr": arr,
                    "sched": sched,
                    "dur": timedelta(minutes=45 + rng.randrange(600)),
                    "style": style,
                }
            )


def _snapshot(u: FlightUniverse, k: dict, seq: int, rng: random.Random, missing_key: bool):
    """One wire record for key ``k``; ``seq`` orders ingest times globally, so a
    later snapshot of a key always has the later ingest_time."""
    ingest = NOW - timedelta(hours=20) + timedelta(seconds=seq)
    status = (
        rng.choice(DROPPED_STATUSES) if rng.random() < 0.08 else rng.choice(KEPT_STATUSES)
    )
    dep_delay = rng.randrange(-10, 0) if rng.random() < 0.06 else rng.randrange(0, 90)
    arr_delay = None if rng.random() < 0.3 else rng.randrange(-15, 120)
    sched, style = k["sched"], k["style"]
    arr_sched = sched + k["dur"]
    dep_est = sched + timedelta(minutes=max(dep_delay, 0))
    dep_actual = dep_est if rng.random() < 0.5 else None
    a_iata, a_icao, a_name = k["airline"]
    d_iata, d_icao, d_name = k["dep"]
    r_iata, r_icao, r_name = k["arr"]
    rec = {
        "flight_key": None if missing_key else k["key"],
        "flight_date": sched.strftime("%Y-%m-%d"),
        "status": status,
        "airline": {"iata": a_iata, "icao": a_icao, "name": a_name},
        "flight": {"number": k["number"], "iata": k["flight_iata"], "icao": None},
        "departure": {
            "airport": d_name, "iata": d_iata, "icao": d_icao,
            "gate": str(seq % 40), "terminal": str(seq % 3 + 1),
            "schedule": _fmt(sched, style),
            "estimated": _fmt(dep_est, (style + 1) % 3),
            "actual": None if dep_actual is None else _fmt(dep_actual, style),
            "delay_min": dep_delay,
        },
        "arrival": {
            "airport": r_name, "iata": r_iata, "icao": r_icao,
            "gate": None, "terminal": "1",
            "schedule": _fmt(arr_sched, style), "estimated": None,
            "actual": None, "delay_min": arr_delay,
        },
        "ingest_time": _fmt(ingest, seq % 3),
        "source": "perfbench",
    }
    return rec, ingest, dep_est, dep_actual, arr_sched


def _survives(rec: dict, sched: datetime, arr_sched: datetime, dep_actual) -> bool:
    if rec["flight_key"] is None or rec["status"].lower() not in KEEP:
        return False
    cutoff = NOW - timedelta(days=3)
    return any(t is not None and t >= cutoff for t in (sched, arr_sched, dep_actual))


def _truth_row(k: dict, rec: dict, ingest, dep_est, dep_actual, arr_sched) -> dict:
    """The curated-view row (minus last_updated) the warehouse must hold."""
    dd = rec["departure"]["delay_min"]
    ad = rec["arrival"]["delay_min"]
    a_iata, _, a_name = k["airline"]
    d_iata, d_icao, d_name = k["dep"]
    r_iata, r_icao, r_name = k["arr"]
    return {
        "flight_key": k["key"],
        "flight_date": k["sched"].strftime("%Y-%m-%d"),
        "status": rec["status"],
        "ingest_time": _iso(ingest),
        "airline_iata": a_iata,
        "airline_name": a_name,
        "dep_scheduled": _iso(k["sched"]),
        "dep_estimated": _iso(dep_est),
        "dep_actual": _iso(dep_actual),
        "dep_delay_min": float(dd) if dd >= 0 else None,
        "arr_scheduled": _iso(arr_sched),
        "arr_estimated": None,
        "arr_actual": None,
        "arr_delay_min": float(ad) if ad is not None and ad >= 0 else None,
        "dep_airport": d_name,
        "dep_iata": d_iata,
        "dep_icao": d_icao,
        "arr_airport": r_name,
        "arr_iata": r_iata,
        "arr_icao": r_icao,
    }


def make_files(seed: int, n_files: int, records_per_file: int = RECORDS,
               n_keys: int = KEYS):
    """All spool file contents plus ground truth, as pure data.

    File 0 is a full poll holding one snapshot of every key, in key order;
    every later file holds ``records_per_file``
    snapshots of keys drawn at random from the same fixed set. Returns
    ``(files, truth, stats)`` where ``files`` is a list of lists of JSON
    lines and ``truth`` maps flight_key to its expected curated row."""
    rng = random.Random(seed)
    u = FlightUniverse(seed, n_keys)
    truth: dict[str, dict] = {}
    files: list[list[str]] = []
    stats = {"records": 0, "kept": 0, "missing_key": 0, "bytes": 0}
    seq = 0
    for i in range(n_files):
        if i == 0:
            picks = list(u.keys)
        else:
            picks = [u.keys[rng.randrange(n_keys)] for _ in range(records_per_file)]
        lines = []
        for k in picks:
            seq += 1
            missing = rng.random() < 0.02
            rec, ingest, dep_est, dep_actual, arr_sched = _snapshot(u, k, seq, rng, missing)
            stats["records"] += 1
            stats["missing_key"] += missing
            if _survives(rec, k["sched"], arr_sched, dep_actual):
                stats["kept"] += 1
                truth[k["key"]] = _truth_row(k, rec, ingest, dep_est, dep_actual, arr_sched)
            lines.append(json.dumps(rec, separators=(",", ":")))
        files.append(lines)
        stats["bytes"] += sum(len(x) + 1 for x in lines)
    return files, truth, stats


def land(spool: str, name: str, lines: list[str]) -> None:
    """Write under a dot-prefixed temporary name (the file source ignores
    those) and rename into place atomically."""
    tmp = os.path.join(spool, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.replace(tmp, os.path.join(spool, name))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--first", type=int, default=0)
    ap.add_argument("--count", type=int, default=None, help="default: all files")
    ap.add_argument("--t0", type=float, default=None, help="time.monotonic() of file 0")
    ap.add_argument("--plan-only", action="store_true", help="write truth/plan, land nothing")
    args = ap.parse_args(argv)

    files, truth, stats = make_files(args.seed, args.files)
    spool = os.path.join(args.out, "spool")
    os.makedirs(spool, exist_ok=True)
    with open(os.path.join(args.out, "truth.json"), "w") as f:
        json.dump(truth, f)
    with open(os.path.join(args.out, "plan.json"), "w") as f:
        json.dump(stats, f)
    if args.plan_only:
        return 0
    t0 = time.monotonic() if args.t0 is None else args.t0
    with open(os.path.join(args.out, "landings.jsonl"), "a") as log:
        count = len(files) - args.first if args.count is None else args.count
        for j in range(count):
            i = args.first + j
            lines = files[i]
            due = t0 + j * PERIOD_S
            wait = due - time.monotonic()
            if wait > 0:
                time.sleep(wait)
            name = f"part-{i:05d}.json"
            land(spool, name, lines)
            landed = time.monotonic()
            log.write(json.dumps({"file": name, "due": due, "landed": landed,
                                  "records": len(lines),
                                  "bytes": sum(len(x) + 1 for x in lines)}) + "\n")
            log.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())

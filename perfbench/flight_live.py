"""flight_live: the streaming pipeline left running under an open-loop feed,
with an export reader polling the curated view beside it.

A generator process (flightgen.py) lands one spool file every
``flightgen.PERIOD_S`` seconds regardless of how the stream keeps up. One
long-running query feeds file source -> ``normalize_flight_stream`` ->
``foreachBatch`` sink -> ``warehouse_load``, the composition
``run_file_replay_stream`` uses, minus its one-file-per-trigger cap (that
function drains its input and stops, so it cannot be left running). The
sink is the same short-circuit-then-load callback. In the same driver the
main thread polls ``next_export_batch`` over ``curated_view`` every
EXPORT_PERIOD_S seconds and ships (collects) the rows, as the reference's
Sheets sink does.

Freshness of a file is the time from when it was due to land until the
``foreachBatch`` call that loaded it returned, i.e. until its rows are
visible to ``curated_view``. The files of one micro-batch share its wait, so
the reported freshness takes one sample per batch: the mean over its files.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time
import traceback
from collections import defaultdict

import common
import flightgen
import sparkstats
from common import median, metric
from flightgen import PERIOD_S
from stats import batch_freshness, summarize

WARM_FILES = 1  # the full snapshot, loaded before the window opens
# Files landed before the window opens, so the stream is in its steady
# trigger cycle (and past its first warm batches) when measuring starts.
LEAD_FILES = 4
EXPORT_PERIOD_S = 0.5
EXPORT_LIMIT = 300
LOAD_DEADLINE_S = 75.0
GEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "flightgen.py")
TABLES = {"airline": "dim_airline", "airport": "dim_airport",
          "route": "dim_route", "fact": "fact_flight_status"}
FACT_COLS = ("flight_date", "status", "ingest_time", "dep_scheduled", "dep_estimated",
             "dep_actual", "dep_delay_min", "arr_scheduled", "arr_estimated",
             "arr_actual", "arr_delay_min")
_BATCH_RE = re.compile(r"batch = (\d+)")


class Sink:
    """The ``foreachBatch`` callback of ``run_file_replay_stream`` (empty
    batches short-circuit, the rest go through ``warehouse_load``), with
    each call's start and end recorded. When tracing, it first counts the
    rows ``normalize_flight_stream`` let through, outside the timed call."""

    def __init__(self, wh, tracer):
        from real_time_flight_data_pipeline_spark.streaming.pipeline import warehouse_load

        self._load = warehouse_load
        self.wh = wh
        self.tracer = tracer
        self.done: dict[int, dict] = {}
        self.kept: dict[int, int] = {}

    def __call__(self, batch_df, epoch_id: int) -> None:
        if self.tracer.enabled:
            with self.tracer.span("trace.kept_rows", f"batch:{epoch_id}"):
                self.kept[epoch_id] = batch_df.count()
        t0 = time.monotonic()
        load_s = None
        with self.tracer.span("streaming.batch", f"batch:{epoch_id}"):
            with self.tracer.span("streaming.is_empty"):
                empty = batch_df.isEmpty()
            if not empty:
                with self.tracer.span("streaming.warehouse_load"):
                    t1 = time.monotonic()
                    self._load(self.wh, batch_df)
                    load_s = time.monotonic() - t1
        self.done[epoch_id] = {"start": t0, "end": time.monotonic(), "load_s": load_s}


def _current_dir(table_path: str) -> str:
    """The version directory a ParquetTable's pointer file names."""
    with open(os.path.join(table_path, "_CURRENT")) as f:
        return os.path.join(table_path, f.read().strip())


def _version_bytes(table_path: str) -> int:
    """Bytes in the table's current version directory."""
    vdir = _current_dir(table_path)
    return sum(
        os.path.getsize(os.path.join(d, n)) for d, _, names in os.walk(vdir) for n in names
    )


def _time_commits(wh, tracer, written: dict) -> None:
    """Span every ``ParquetTable.overwrite`` of the warehouse and count the
    bytes each commit wrote (instance attributes; the class is untouched)."""
    for attr, name in TABLES.items():
        tbl = getattr(wh, attr)

        def timed(df, _orig=tbl.overwrite, _name=name, _path=tbl.path):
            with tracer.span(f"streaming.commit.{_name}"):
                _orig(df)
            written[_name] += _version_bytes(_path)

        tbl.overwrite = timed


def _file_batches(ckpt: str) -> dict[str, int]:
    """Spool file -> micro-batch id, from the file source's offset log."""
    d = os.path.join(ckpt, "sources", "0")
    out: dict[str, int] = {}
    try:
        names = os.listdir(d)
    except FileNotFoundError:
        return out
    for n in names:
        if n.startswith("."):
            continue
        try:
            with open(os.path.join(d, n)) as f:
                lines = f.read().splitlines()[1:]
        except FileNotFoundError:  # compacted away meanwhile
            continue
        for line in lines:
            if line.strip():
                e = json.loads(line)
                out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _gen(ctx, out: str, n_files: int, *extra: str) -> subprocess.Popen:
    p = subprocess.Popen(
        [sys.executable, GEN, "--out", out, "--seed", str(ctx.seed), "--files", str(n_files),
         *extra]
    )
    ctx.procs.append(p)
    return p


def _wait_gen(p: subprocess.Popen, timeout: float) -> None:
    if p.wait(timeout=timeout) != 0:
        raise RuntimeError(f"flight generator exited with {p.returncode}")


def _loaded(q, sink: Sink, ckpt: str, names: list[str]) -> dict | None:
    """The spool file -> micro-batch map once every named file's batch has
    returned, else None."""
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")
    fb = _file_batches(ckpt)
    return fb if all(n in fb and fb[n] in sink.done for n in names) else None


def _wait_loaded(q, sink: Sink, ckpt: str, names: list[str], deadline: float) -> dict:
    """Block until every named spool file's micro-batch has returned."""
    while (fb := _loaded(q, sink, ckpt, names)) is None:
        if time.monotonic() > deadline:
            raise TimeoutError(f"stream did not load {len(names)} files in time")
        time.sleep(0.02)
    return fb


class Exporter:
    """The export reader: one poll = build ``curated_view``, pick the next
    tie-safe batch with ``next_export_batch``, collect (ship) its rows and
    advance the watermark."""

    def __init__(self, spark, wh, store_path: str, ctx):
        from real_time_flight_data_pipeline_spark.streaming.watermark import WatermarkStore

        self.spark, self.wh, self.ctx = spark, wh, ctx
        self.store = WatermarkStore(store_path)
        self.shipped: list[tuple] = []
        self.n = 0

    def poll(self) -> int | None:
        """Rows shipped, or None when nothing was pending."""
        from real_time_flight_data_pipeline_spark.streaming.pipeline import curated_view
        from real_time_flight_data_pipeline_spark.streaming.watermark import next_export_batch

        self.n += 1
        tr = self.ctx.tracer
        if self.ctx.trace:
            self.spark.sparkContext.setJobGroup(f"x:poll{self.n}:export", "export poll")
        with tr.span("streaming.export_poll", f"poll:{self.n}"):
            with tr.span("streaming.curated_view"):
                view = curated_view(self.wh)
            with tr.span("streaming.next_export_batch"):
                batch = next_export_batch(view, self.store, limit=EXPORT_LIMIT)
            if batch.new_watermark is None:
                return None
            with tr.span("streaming.ship"):
                rows = batch.rows.collect()
            self.store.advance(batch.new_watermark)
        self.shipped.extend(tuple(r) for r in rows)
        tr.count("streaming.export_rows", f"poll:{self.n}", len(rows))
        return len(rows)


def _s(v):
    """Collected value in the generator's spelling (timestamps are naive
    UTC: the run sets TZ=UTC and Spark's session time zone is UTC)."""
    if hasattr(v, "strftime"):
        return v.strftime("%Y-%m-%d %H:%M:%S" if hasattr(v, "hour") else "%Y-%m-%d")
    return v


def _check(wh, truth: dict, exporter: Exporter) -> list[str]:
    """Fact table and curated view equal the generator's ground truth; the
    export shipped every curated row version exactly once."""
    from real_time_flight_data_pipeline_spark.streaming.pipeline import curated_view

    problems = []
    fact = [r.asDict() for r in wh.fact.read().collect()]
    got = {r["flight_key"]: tuple(_s(r[c]) for c in FACT_COLS) for r in fact}
    want = {k: tuple(t[c] for c in FACT_COLS) for k, t in truth.items()}
    if got != want:
        diff = list(set(got.items()) ^ set(want.items()))[:3]
        problems.append(f"fact table != ground truth ({len(got)} vs {len(want)} keys): {diff}")
    unresolved = sum(r["airline_id"] is None or r["route_id"] is None for r in fact)
    if unresolved:
        problems.append(f"{unresolved} fact rows with an unresolved airline or route id")

    view = curated_view(wh)
    cols = view.columns
    final = {r[0]: tuple(r) for r in view.collect()}
    vcols = [c for c in cols if c not in ("flight_key", "last_updated")]
    idx = [cols.index(c) for c in vcols]
    got_v = {k: tuple(_s(r[i]) for i in idx) for k, r in final.items()}
    want_v = {k: tuple(t[c] for c in vcols) for k, t in truth.items()}
    if got_v != want_v:
        diff = list(set(got_v.items()) ^ set(want_v.items()))[:3]
        problems.append(f"curated view != ground truth: {diff}")

    lu = cols.index("last_updated")
    versions = [(r[0], r[lu]) for r in exporter.shipped]
    if len(versions) != len(set(versions)):
        problems.append(f"export shipped {len(versions) - len(set(versions))} row versions twice")
    latest: dict = {}
    for r in exporter.shipped:
        if r[0] not in latest or r[lu] > latest[r[0]][lu]:
            latest[r[0]] = r
    if latest != final:
        missing = sorted(set(final) - set(latest))[:3]
        stale = sorted(k for k in final if k in latest and latest[k] != final[k])[:3]
        problems.append(f"export lost rows: missing {missing}, stale {stale}")
    return problems


def run(ctx) -> dict:
    from real_time_flight_data_pipeline_spark.schemas import FLIGHT_WIRE_SCHEMA
    from real_time_flight_data_pipeline_spark.streaming.pipeline import (
        FlightWarehouse,
        normalize_flight_stream,
    )

    tr = ctx.tracer
    spark, session_s = common.start_session(ctx, "perfbench-flight_live")
    n_meas = max(1, int(round(ctx.seconds / PERIOD_S)))
    n_files = WARM_FILES + LEAD_FILES + n_meas
    names = [f"part-{i:05d}.json" for i in range(n_files)]

    gen_s = []
    for i in range(3):  # input generation is repeatable set-up: median of 3
        t0 = time.monotonic()
        _wait_gen(_gen(ctx, ctx.path(f"gen{i}"), n_files, "--plan-only"), 60)
        gen_s.append(time.monotonic() - t0)
    gen_dir = ctx.path("gen2")
    with open(os.path.join(gen_dir, "truth.json")) as f:
        truth = json.load(f)
    with open(os.path.join(gen_dir, "plan.json")) as f:
        plan = json.load(f)

    wh = FlightWarehouse(spark, ctx.path("wh"))
    written: dict = defaultdict(int)
    if ctx.trace:
        _time_commits(wh, tr, written)
    ckpt = ctx.path("ckpt")
    sink = Sink(wh, tr)
    exporter = Exporter(spark, wh, ctx.path("export_watermark.json"), ctx)
    raw = spark.readStream.schema(FLIGHT_WIRE_SCHEMA).json(os.path.join(gen_dir, "spool"))
    staged = normalize_flight_stream(raw, flightgen.NOW_EXPR)

    attempted = failed = 0
    t_warm = time.monotonic()
    _wait_gen(_gen(ctx, gen_dir, n_files, "--first", "0", "--count", "1"), 60)
    q = (staged.writeStream.outputMode("append").option("checkpointLocation", ckpt)
         .foreachBatch(sink).start())
    try:
        _wait_loaded(q, sink, ckpt, names[:1], time.monotonic() + LOAD_DEADLINE_S)
        exporter.poll()  # first poll ships the full snapshot; warms the reader
        attempted += 1
        warm_s = time.monotonic() - t_warm
        setup_s = session_s + median(gen_s) + warm_s

        t_lead = time.monotonic() + 0.3
        t_w = t_lead + LEAD_FILES * PERIOD_S
        gen = _gen(ctx, gen_dir, n_files, "--first", str(WARM_FILES),
                   "--count", str(LEAD_FILES + n_meas), "--t0", repr(t_lead))
        end = t_w + ctx.seconds
        polls, lateness, poll_at = [], [], []
        fb = cpu_window = log0 = None
        due = t_lead
        # The reader keeps its schedule until the stream has loaded every file,
        # so the batches after the window run beside it like those inside.
        while fb is None:
            wait = due - time.monotonic()
            if wait > 0:
                time.sleep(wait)
            if log0 is None and due >= t_w:
                log0 = common.log_offset(ctx.jvm_log)
                cpu0 = sparkstats.cpu_s(spark)
            t0 = time.monotonic()
            attempted += 1
            try:
                exporter.poll()
                if t_w <= due < end:
                    lateness.append(t0 - due)
                    polls.append(time.monotonic() - t0)
                    poll_at.append(t0)
            except Exception:  # a failed poll is counted; the reader keeps polling
                failed += 1
                traceback.print_exc(file=sys.stderr)
            # A late poll does not make the next one start early to catch up.
            due = max(due + EXPORT_PERIOD_S, time.monotonic())
            if due >= end:
                if cpu_window is None:
                    cpu_window = sparkstats.cpu_s(spark) - cpu0
                fb = _loaded(q, sink, ckpt, names)
                if fb is None and due > end + LOAD_DEADLINE_S:
                    raise TimeoutError(f"stream did not load {len(names)} files in time")
        t_loaded = time.monotonic()
        log1 = common.log_offset(ctx.jvm_log)
        _wait_gen(gen, LOAD_DEADLINE_S)
        while True:  # drain the export so every committed row is shipped
            attempted += 1
            if exporter.poll() is None:
                break
        progress = list(q.recentProgress)
        run_id = str(q.runId)
    finally:
        q.stop()
    attempted += len(sink.done)

    with open(os.path.join(gen_dir, "landings.jsonl")) as f:
        all_landings = [json.loads(line) for line in f]
    landings = all_landings[WARM_FILES + LEAD_FILES:]
    fresh = [sink.done[fb[x["file"]]]["end"] - x["due"] for x in landings]
    win_batches = sorted({fb[x["file"]] for x in landings})
    batch_end = {b: d["end"] for b, d in sink.done.items()}
    fresh_batch = batch_freshness(fb, {x["file"]: x["due"] for x in landings}, batch_end)
    if not fresh_batch:
        raise RuntimeError(f"no micro-batch held only window files: {len(win_batches)} batches")

    problems = _check(wh, truth, exporter)
    e2e = {
        "setup_s": metric(setup_s, "s"),
        "latency_p50_s": metric(median(fresh_batch.values()), "s"),
        "read_p50_s": metric(median(polls), "s"),
        "peak_rss_mb": metric(sparkstats.peak_rss_mb(spark), "MB"),
    }
    ctx.artifact.update({
        "freshness_per_batch_s": fresh_batch,
        "freshness_per_file_s": summarize(fresh),
        "freshness_each_s": fresh,
        "batch_each_s": [sink.done[b]["end"] - sink.done[b]["start"] for b in win_batches],
        "setup_parts_s": {"session": session_s, "generate": gen_s, "warm": warm_s},
        "timeline_s": {"setup": setup_s, "window_end": end - t_w,
                       "loaded": t_loaded - t_w, "checked": time.monotonic() - t_w},
        "export_poll_s": summarize(polls),
        "export_poll_each_s": [[t - t_w, d] for t, d in zip(poll_at, polls)],
        "batch_spans_s": [[d["start"] - t_w, d["end"] - t_w] for d in sink.done.values()],
        "export_poll_lateness_s": summarize(lateness),
        "batches_in_window": len(win_batches),
        "cpu_window_s": cpu_window,
        "plan": plan,
    })
    if ctx.trace:
        window = {"batches": set(win_batches), "landings": landings, "file_batch": fb,
                  "records": {x["file"]: x["records"] for x in all_landings},
                  "start": t_w, "end": end, "progress": progress, "run_id": run_id,
                  "log": (log0, log1)}
        _per_layer(ctx, spark, wh, sink, exporter, window, written, plan, session_s)
    return {"problems": problems, "attempted": attempted, "failed": failed, "e2e": e2e}


def _per_layer(ctx, spark, wh, sink: Sink, exporter: Exporter, window: dict,
               written: dict, plan: dict, session_s: float) -> None:
    from real_time_flight_data_pipeline_spark.streaming.pipeline import curated_view

    pl = ctx.per_layer
    win, landings, fb = window["batches"], window["landings"], window["file_batch"]
    t_w, end = window["start"], window["end"]
    spans = ctx.tracer.spans
    pl["session.start_s"] = session_s
    pl["streaming.batch_s"] = median(sink.done[b]["end"] - sink.done[b]["start"] for b in win)
    pl["streaming.load_s"] = median(sink.done[b]["load_s"] for b in win)
    for name in TABLES.values():
        pl[f"streaming.commit_s.{name}"] = median(
            s["end"] - s["start"] for s in spans
            if s["name"] == f"streaming.commit.{name}" and int(s["request"].split(":")[1]) in win
        )
    pl["streaming.bytes_written_per_input_byte"] = (
        sum(written.values()) / max(1, plan["bytes"])
    )
    progress = window["progress"]
    prog = [p for p in progress if p["batchId"] in win]
    for key, name in (("triggerExecution", "trigger_ms"), ("addBatch", "add_batch_ms"),
                      ("getBatch", "get_batch_ms"), ("queryPlanning", "query_planning_ms"),
                      ("walCommit", "wal_commit_ms")):
        pl[f"streaming.{name}"] = median(p["durationMs"].get(key) for p in prog)
    _account(ctx, spans, win, prog)
    ctx.artifact["progress"] = [
        {"batchId": p["batchId"], "numInputRows": p["numInputRows"], "durationMs": p["durationMs"]}
        for p in progress
    ]

    jobs = sparkstats.jobs(spark)
    per_batch: dict[int, list[dict]] = defaultdict(list)
    for j in jobs:
        m = _BATCH_RE.search(j["description"] or "")
        if j["group"] == window["run_id"] and m and int(m.group(1)) in win:
            per_batch[int(m.group(1))].append(j)
    pl["streaming.jobs_per_batch"] = median(len(v) for v in per_batch.values())
    for b, js in per_batch.items():
        ctx.tracer.count("streaming.jobs", f"batch:{b}", len(js))
    for b in win:
        ctx.tracer.count("streaming.files", f"batch:{b}", sum(v == b for v in fb.values()))
    stage_rows = {b: [sparkstats.stage_metrics(spark, s) for j in js for s in j["stages"]]
                  for b, js in per_batch.items()}
    units = list(stage_rows.values())
    common.stage_layers(pl, units, units)
    ctx.artifact["stages_by_group"] = {
        f"batch:{b}": rows for b, rows in sorted(stage_rows.items())
    }

    fact_dir = _current_dir(wh.fact.path)
    pl["streaming.fact_rows"] = wh.fact.read().count()
    pl["streaming.fact_files"] = sum(1 for n in os.listdir(fact_dir) if n.endswith(".parquet"))
    # Records in the files the window's batches loaded. Spark's numInputRows
    # is no count of input here: it grows with each action on the batch.
    pl["streaming.rows_in"] = sum(window["records"][f] for f, b in fb.items() if b in win)
    pl["streaming.rows_kept_frac"] = (
        sum(sink.kept.get(b, 0) for b in win) / max(1, pl["streaming.rows_in"])
    )
    pl["streaming.export_rows"] = len(exporter.shipped)
    events = [(x["landed"], 1) for x in landings]
    events += [(sink.done[fb[x["file"]]]["end"], -1) for x in landings]
    level = peak = 0
    for _, d in sorted(events, key=lambda e: (e[0], e[1])):
        level += d
        peak = max(peak, level)
    pl["streaming.backlog_max_files"] = peak
    busy = sum(
        max(0.0, min(d["end"], end) - max(d["start"], t_w)) for d in sink.done.values()
    )
    pl["streaming.idle_frac"] = 1.0 - busy / (end - t_w)
    pl["streaming.generator_late_s"] = max(x["landed"] - x["due"] for x in landings)
    pl["functions.codegen_fallbacks"] = common.codegen_fallbacks(ctx.jvm_log, *window["log"])
    reads = []
    for _ in range(3):
        t0 = time.monotonic()
        curated_view(wh).write.format("noop").mode("overwrite").save()
        reads.append(time.monotonic() - t0)
    pl["streaming.curated_read_s"] = median(reads)


def _account(ctx, spans, win: set, prog: list) -> None:
    """Does the span tree account for the batch? Per window batch: the batch
    span against its parts' self times, and against Spark's own addBatch
    and trigger phase durations (medians over batches). The tracing-only row
    count runs in addBatch but outside the batch span; it is shown apart."""
    from stats import self_times

    st = self_times(spans)
    parts: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        req = s["request"]
        if not req.startswith("batch:") or int(req[6:]) not in win:
            continue
        key = "commits_s" if s["name"].startswith("streaming.commit.") else s["name"]
        parts[int(req[6:])][key] += st[s["id"]]
        if s["name"] == "streaming.batch":
            parts[int(req[6:])]["batch_span_s"] = s["end"] - s["start"]
    acc = {k: median(p.get(k, 0.0) for p in parts.values())
           for k in ("batch_span_s", "streaming.batch", "streaming.is_empty",
                     "streaming.warehouse_load", "commits_s", "trace.kept_rows")}
    acc["parts_sum_s"] = median(
        sum(v for k, v in p.items() if k not in ("batch_span_s", "trace.kept_rows"))
        for p in parts.values())
    acc["add_batch_s"] = median(p["durationMs"].get("addBatch") for p in prog) / 1e3
    acc["trigger_s"] = median(p["durationMs"].get("triggerExecution") for p in prog) / 1e3
    ctx.artifact["accounting"] = acc

"""End-to-end streaming pipeline tests (SURVEY.md §5 plan, step 3-4).

Flight-domain wire fixtures (FIXTURES.md §2/§3.1) are replayed as files
through normalize -> foreachBatch -> warehouse merge; assertions cover the
M1-M4 column semantics, the ICAO->IATA backfill path, and the exactly-once
claim (T3): replaying the same batch twice leaves the warehouse unchanged.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from real_time_flight_data_pipeline_spark.streaming.pipeline import (
    FlightWarehouse,
    curated_view,
    dead_letter_split,
    normalize_flight_stream,
    run_file_replay_stream,
    warehouse_load,
)

NOW = "timestamp'2025-08-22 00:00:00'"


def _rec(
    key,
    sched="2025-08-21T00:05:00+00:00",
    status="active",
    ingest="2025-08-21T00:10:00+00:00",
    airline=("NH", "ANA", "All Nippon Airways"),
    dep=("Haneda", "HND", "RJTT"),
    arr=("Pudong", "PVG", "ZSPD"),
    dep_delay=12,
    arr_delay=None,
    dep_actual=None,
    arr_sched="2025-08-21T04:05:00+00:00",
):
    a_iata, a_icao, a_name = airline
    d_name, d_iata, d_icao = dep
    r_name, r_iata, r_icao = arr
    return {
        "flight_key": key,
        "flight_date": "2025-08-21",
        "status": status,
        "airline": {"iata": a_iata, "icao": a_icao, "name": a_name},
        "flight": {"number": "849", "iata": "NH849", "icao": "ANA849"},
        "departure": {
            "airport": d_name, "iata": d_iata, "icao": d_icao,
            "gate": "61", "terminal": "3",
            "schedule": sched, "estimated": None, "actual": dep_actual,
            "delay_min": dep_delay,
        },
        "arrival": {
            "airport": r_name, "iata": r_iata, "icao": r_icao,
            "gate": None, "terminal": "2",
            "schedule": arr_sched, "estimated": None,
            "actual": None, "delay_min": arr_delay,
        },
        "ingest_time": ingest,
        "source": "fixture",
    }


def _wire_df(spark, records):
    from real_time_flight_data_pipeline_spark.schemas import FLIGHT_WIRE_SCHEMA

    return spark.read.schema(FLIGHT_WIRE_SCHEMA).json(
        spark.sparkContext.parallelize([json.dumps(r) for r in records], 2)
    )


@pytest.fixture()
def batch1(spark):
    return _wire_df(
        spark,
        [
            # two snapshots of one key: later ingest wins (A1)
            _rec("K1", ingest="2025-08-21T00:10:00+00:00", dep_delay=5),
            _rec("K1", ingest="2025-08-21T01:10:00+00:00", dep_delay=30,
                 dep_actual="2025-08-21T00:35:00+00:00"),
            # ICAO-only airline (M2 path) + ICAO-only airports
            _rec("K2", airline=(None, "UAE", None),
                 dep=("Dubai Intl", None, "OMDB"), arr=("JFK Intl", None, "KJFK")),
            # dropped: bad status
            _rec("K3", status="cancelled"),
            # dropped: stale (all four checked timestamps > 3 days before NOW;
            # the retention filter is a disjunction, so arrival must be stale too)
            _rec("K4", sched="2025-08-10T00:00:00+00:00",
                 arr_sched="2025-08-10T04:00:00+00:00",
                 ingest="2025-08-10T00:10:00+00:00"),
            # negative delay -> nulled, row kept (divergence from CHECK abort)
            _rec("K5", dep_delay=-7),
        ],
    )


def test_normalize_filters_and_flattens(spark, batch1):
    out = normalize_flight_stream(batch1, NOW)
    rows = {r["flight_key"]: r for r in out.collect()}
    # K3 (status) and K4 (retention) dropped; K1 duplicated (both snapshots kept)
    assert set(rows) == {"K1", "K2", "K5"}
    assert out.count() == 4
    assert rows["K5"]["dep_delay_min"] is None  # F6 divergence: null, not abort
    assert rows["K2"]["airline_iata"] is None and rows["K2"]["airline_icao"] == "UAE"
    assert rows["K1"]["dep_scheduled"] is not None


# NOW minus the 3-day retention: the window's inclusive lower edge.
_CUTOFF = "2025-08-19T00:00:00+00:00"
_STALE = "2025-08-10T00:00:00+00:00"
_FRESH = "2025-08-21T00:05:00+00:00"


@pytest.mark.parametrize(
    "dep_sched,arr_sched,dep_actual,arr_actual,kept",
    [
        (_FRESH, None, None, None, True),
        (None, None, None, _FRESH, True),
        (_STALE, _FRESH, None, None, True),
        (_CUTOFF, None, None, None, True),
        ("2025-08-18T23:59:59+00:00", None, None, None, False),
        ("garbage", "bad", "", "2025-13-45T99:99", False),
        ("garbage", _STALE, _STALE, _STALE, False),
    ],
    ids=[
        "only_dep_scheduled_fresh",
        "only_arr_actual_fresh",
        "one_stale_one_fresh",
        "at_cutoff_inclusive",
        "one_second_before_cutoff",
        "all_unparseable",
        "one_unparseable_rest_stale",
    ],
)
def test_retention_and_liveness_per_branch(
    spark, dep_sched, arr_sched, dep_actual, arr_actual, kept
):
    """F2 + F3: a row is kept iff at least one of its four checked
    timestamps parses and lies at or after NOW - 3 days; unparseable
    timestamps count as absent, not as stale-or-fresh."""
    rec = _rec("R1", sched=dep_sched, arr_sched=arr_sched, dep_actual=dep_actual)
    rec["arrival"]["actual"] = arr_actual
    out = normalize_flight_stream(_wire_df(spark, [rec]), NOW).collect()
    assert [r["flight_key"] for r in out] == (["R1"] if kept else [])


def _max_method_sizes(spark, df) -> list[int]:
    """Largest generated method, in bytes, of each whole-stage-codegen
    subtree of ``df``'s executed plan; -1 marks a subtree that failed to
    compile (Spark then falls back to interpreted evaluation)."""
    debug = spark._jvm.org.apache.spark.sql.execution.debug.package
    seq = debug.codegenStringSeq(df._jdf.queryExecution().executedPlan())
    return [seq.apply(i)._3().maxMethodCodeSize() for i in range(seq.length())]


def test_normalizer_stages_compile(spark, batch1):
    """The normalize chain is inlined into the pushed-down retention filter
    once per reference; every generated stage of the normalizer and of both
    dead-letter outputs must compile, under the huge-method limit."""
    limit = int(spark.conf.get("spark.sql.codegen.hugeMethodLimit"))
    raw = batch1.select(F.to_json(F.struct(*batch1.columns)).alias("value"))
    valid, dlq = dead_letter_split(raw, NOW)
    for name, df in [
        ("normalize_flight_stream", normalize_flight_stream(batch1, NOW)),
        ("dead_letter_split.valid", valid),
        ("dead_letter_split.dlq", dlq),
    ]:
        sizes = _max_method_sizes(spark, df)
        assert sizes and all(0 <= n <= limit for n in sizes), (name, sizes, limit)


def test_warehouse_load_m_semantics(spark, batch1, tmp_path):
    wh = FlightWarehouse(spark, str(tmp_path / "wh"))
    staged = normalize_flight_stream(batch1, NOW)
    warehouse_load(wh, staged, "timestamp'2025-08-22 00:00:01'")

    fact = {r["flight_key"]: r for r in wh.fact.read().collect()}
    assert set(fact) == {"K1", "K2", "K5"}
    # A1: latest snapshot of K1 won
    assert fact["K1"]["dep_delay_min"] == 30.0
    assert fact["K1"]["dep_actual"] is not None

    airlines = {(r["iata"], r["icao"]): r for r in wh.airline.read().collect()}
    assert ("NH", "ANA") in airlines
    assert (None, "UAE") in airlines  # nullable-unique collapse (M2)

    airports = {r["icao"]: r for r in wh.airport.read().collect()}
    assert airports["OMDB"]["iata"] is None
    routes = wh.route.read().collect()
    assert len(routes) == 2  # HND->PVG, OMDB->KJFK
    assert fact["K2"]["route_id"] is not None and fact["K2"]["airline_id"] is not None

    # ---- second batch: NULL overwrite vs COALESCE vs GREATEST (M4) ----
    batch2 = _wire_df(
        spark,
        [
            # same key, NEWER ingest, airline missing -> airline_id COALESCEs old,
            # dep_actual NULL -> overwritten to NULL, delay overwritten
            _rec("K1", ingest="2025-08-21T02:10:00+00:00", dep_delay=45,
                 airline=(None, None, None), dep_actual=None),
            # airport backfill: OMDB now arrives WITH an IATA code (DXB)
            _rec("K2", ingest="2025-08-21T02:10:00+00:00",
                 airline=(None, "UAE", None),
                 dep=("Dubai Intl", "DXB", "OMDB"), arr=("JFK Intl", None, "KJFK")),
        ],
    )
    warehouse_load(wh, normalize_flight_stream(batch2, NOW),
                   "timestamp'2025-08-22 00:00:02'")
    fact2 = {r["flight_key"]: r for r in wh.fact.read().collect()}
    assert fact2["K1"]["dep_delay_min"] == 45.0          # overwrite
    assert fact2["K1"]["dep_actual"] is None             # overwrite with NULL
    assert fact2["K1"]["airline_id"] == fact["K1"]["airline_id"]  # COALESCE old
    assert fact2["K1"]["ingest_time"] >= fact["K1"]["ingest_time"]  # GREATEST
    assert str(fact2["K1"]["last_updated"]) == "2025-08-22 00:00:02"
    # K5 untouched: last_updated unchanged
    assert str(fact2["K5"]["last_updated"]) == "2025-08-22 00:00:01"

    # backfill (M1): DXB iata added onto the ICAO-keyed airport row, no dup
    airports2 = {r["icao"]: r for r in wh.airport.read().collect()}
    assert airports2["OMDB"]["iata"] == "DXB"
    assert wh.airport.read().filter(F.col("icao") == "OMDB").count() == 1


def _history(tbl) -> tuple[str, list[str]]:
    """A versioned table's pointer file contents and its retained versions."""
    with open(os.path.join(tbl.path, "_CURRENT")) as f:
        return f.read(), tbl.versions()


def test_replay_idempotency(spark, batch1, tmp_path):
    """T3: at-least-once + idempotent keyed merge => exactly-once state. The
    replayed batch changes no dim, so it writes no dim version; the fact
    commits once more (it stamps last_updated on every batch)."""
    wh = FlightWarehouse(spark, str(tmp_path / "wh"))
    staged = normalize_flight_stream(batch1, NOW)
    warehouse_load(wh, staged, "timestamp'2025-08-22 00:00:01'")
    snap1 = {t: sorted(map(str, tbl.read().collect()))
             for t, tbl in [("f", wh.fact), ("al", wh.airline),
                            ("ap", wh.airport), ("r", wh.route)]}
    dims = {"al": wh.airline, "ap": wh.airport, "r": wh.route}
    dim_hist1 = {t: _history(tbl) for t, tbl in dims.items()}
    fact_versions1 = wh.fact.versions()
    # replay the SAME batch (same batch timestamp, as a checkpoint replay would)
    warehouse_load(wh, staged, "timestamp'2025-08-22 00:00:01'")
    snap2 = {t: sorted(map(str, tbl.read().collect()))
             for t, tbl in [("f", wh.fact), ("al", wh.airline),
                            ("ap", wh.airport), ("r", wh.route)]}
    assert snap1 == snap2
    assert {t: _history(tbl) for t, tbl in dims.items()} == dim_hist1
    current, fact_versions2 = _history(wh.fact)
    assert fact_versions2[:-1] == fact_versions1
    assert current == fact_versions2[-1] not in fact_versions1


def test_streaming_shell_end_to_end(spark, batch1, tmp_path):
    """File-replay Structured Streaming -> foreachBatch -> warehouse; result
    must equal the batch-computed golden (§5 step 3)."""
    records = [json.loads(r["j"]) for r in batch1.select(
        F.to_json(F.struct(*batch1.columns)).alias("j")).collect()]
    in_dir = tmp_path / "in"
    os.makedirs(in_dir)
    # two files => two micro-batches (maxFilesPerTrigger=1)
    for i, chunk in enumerate([records[:3], records[3:]]):
        with open(in_dir / f"chunk{i}.json", "w") as f:
            f.write("\n".join(json.dumps(r) for r in chunk))

    run_file_replay_stream(
        spark, str(in_dir), str(tmp_path / "wh_stream"), str(tmp_path / "ckpt"), NOW
    )
    wh_s = FlightWarehouse(spark, str(tmp_path / "wh_stream"))
    got = {r["flight_key"]: r for r in wh_s.fact.read().collect()}
    assert set(got) == {"K1", "K2", "K5"}
    assert got["K1"]["dep_delay_min"] == 30.0

    view = curated_view(wh_s)
    vrows = {r["flight_key"]: r for r in view.collect()}
    assert vrows["K1"]["airline_iata"] == "NH"
    assert vrows["K2"]["dep_icao"] == "OMDB"
    assert len(view.columns) == 20

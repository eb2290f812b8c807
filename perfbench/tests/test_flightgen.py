"""The flight-record generator: deterministic per seed, wire-schema shaped,
and carrying every record class the pipeline treats differently."""

import json
import os

import pytest

import flightgen


def _field_names(struct):
    from pyspark.sql.types import StructType

    return {f.name: (_field_names(f.dataType) if isinstance(f.dataType, StructType) else None)
            for f in struct.fields}


def _shape(rec):
    return {k: (_shape(v) if isinstance(v, dict) else None) for k, v in rec.items()}


def test_same_seed_same_inputs_and_other_seed_other_inputs():
    a = flightgen.make_files(7, 4, 50, 100)
    b = flightgen.make_files(7, 4, 50, 100)
    c = flightgen.make_files(8, 4, 50, 100)
    assert a == b
    assert a[0] != c[0]


def test_cli_is_deterministic(tmp_path):
    for d in ("x", "y"):
        flightgen.main(["--out", str(tmp_path / d), "--seed", "3", "--files", "3",
                        "--plan-only"])
    for name in ("truth.json", "plan.json"):
        assert (tmp_path / "x" / name).read_text() == (tmp_path / "y" / name).read_text()


def test_cli_lands_a_slice_and_logs_landings(tmp_path):
    args = ["--out", str(tmp_path), "--seed", "3", "--files", "3"]
    flightgen.main(args + ["--first", "1", "--count", "2"])  # lands over one PERIOD_S
    assert sorted(os.listdir(tmp_path / "spool")) == ["part-00001.json", "part-00002.json"]
    log = [json.loads(x) for x in (tmp_path / "landings.jsonl").read_text().splitlines()]
    assert [x["file"] for x in log] == ["part-00001.json", "part-00002.json"]
    assert all(x["landed"] >= x["due"] for x in log)
    assert log[1]["due"] - log[0]["due"] == pytest.approx(flightgen.PERIOD_S)
    files, _, _ = flightgen.make_files(3, 3)
    assert (tmp_path / "spool" / "part-00002.json").read_text() == "\n".join(files[2]) + "\n"


def test_records_match_the_wire_schema_and_cover_every_class():
    from real_time_flight_data_pipeline_spark.schemas import FLIGHT_WIRE_SCHEMA

    files, truth, stats = flightgen.make_files(11, 6, 300, 400)
    recs = [json.loads(line) for f in files for line in f]
    wire = _field_names(FLIGHT_WIRE_SCHEMA)
    assert all(_shape(r) == wire for r in recs)
    assert len(files[0]) == 400 and all(len(f) == 300 for f in files[1:])
    assert stats["records"] == len(recs)
    status = {r["status"] for r in recs}
    assert status & set(flightgen.DROPPED_STATUSES) and status & set(flightgen.KEPT_STATUSES)
    assert any(r["flight_key"] is None for r in recs)
    assert any(r["airline"]["iata"] is None for r in recs)
    assert any(r["departure"]["iata"] is None or r["arrival"]["iata"] is None for r in recs)
    assert any(r["departure"]["delay_min"] < 0 for r in recs)
    assert any(r["departure"]["schedule"] < "2025-08-19" for r in recs)  # out of retention
    keys = [r["flight_key"] for r in recs if r["flight_key"]]
    assert len(keys) > len(set(keys))  # repeat snapshots of a key
    assert 0 < len(truth) < len(set(keys))  # some keys never survive the filters


def test_truth_is_the_latest_surviving_snapshot():
    files, truth, _ = flightgen.make_files(5, 8, 200, 150)
    last = {}
    for f in files:
        for line in f:
            r = json.loads(line)
            if (r["flight_key"] and r["status"].lower() in flightgen.KEEP
                    and r["departure"]["schedule"] >= "2025-08-19"):
                last[r["flight_key"]] = r
    assert set(last) == set(truth)
    for k, r in last.items():
        assert truth[k]["status"] == r["status"]
        d = r["departure"]["delay_min"]
        assert truth[k]["dep_delay_min"] == (float(d) if d >= 0 else None)

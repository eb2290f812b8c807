"""Warehouse-integrity regressions: non-unique dim natural keys must never
duplicate fact rows (in the lookup operator and end to end), NULL merge keys
must still match, ANSI-mode date parse must not abort the batch, versioned
tables must not grow without bound, a crash between the per-table commits
must converge on re-run, every kind of dim change must still commit while a
batch that changes no dim writes no dim version, and the id lookups must
stay broadcast.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from real_time_flight_data_pipeline_spark.operators.joins import (
    dim_lookup_maps,
    resolve_dim_id,
)
from real_time_flight_data_pipeline_spark.operators.merge import (
    MergePolicy,
    merge_upsert,
)
from real_time_flight_data_pipeline_spark.streaming import pipeline
from real_time_flight_data_pipeline_spark.streaming.pipeline import (
    FlightWarehouse,
    ParquetTable,
    curated_view,
    normalize_flight_stream,
    warehouse_load,
)

from .test_streaming import NOW, _rec, _wire_df

# Two micro-batches over a shared-IATA airport and a shared-ICAO airline:
# batch 1 knows LGW IATA-only and airline XX/XXX in full; batch 2 re-sees
# LGW with its ICAO (a second dim row sharing the IATA), the airline
# ICAO-only (a second row sharing the ICAO), a new flight keyed only by the
# ambiguous codes, and a later snapshot of A1.
_TWO_BATCHES = [
    (
        [
            _rec("A1", airline=("XX", "XXX", "Xair"), dep=("Gatwick", "LGW", None)),
            _rec("K1"),
        ],
        "timestamp'2025-08-22 00:00:01'",
    ),
    (
        [
            _rec("A2", airline=(None, "XXX", None), dep=("Gatwick", "LGW", "EGKK")),
            _rec("A3", airline=(None, "XXX", None), dep=("Gatwick", "LGW", None)),
            _rec("A1", ingest="2025-08-21T02:10:00+00:00", dep_delay=40,
                 airline=("XX", "XXX", "Xair"), dep=("Gatwick", "LGW", None)),
        ],
        "timestamp'2025-08-22 00:00:02'",
    ),
]


def _load(spark, wh, batch) -> None:
    records, batch_ts = batch
    warehouse_load(wh, normalize_flight_stream(_wire_df(spark, records), NOW), batch_ts)


def _snapshot(wh) -> dict[str, list[tuple]]:
    frames = {
        "airline": wh.airline.read(),
        "airport": wh.airport.read(),
        "route": wh.route.read(),
        "fact": wh.fact.read(),
        "curated_view": curated_view(wh),
    }
    return {k: sorted(map(tuple, df.collect()), key=repr) for k, df in frames.items()}


def test_shared_iata_across_dim_rows_keeps_fact_grain(spark, tmp_path):
    """An airport first seen IATA-only then later with an ICAO becomes two dim
    rows sharing one IATA; an airline seen with and without its IATA becomes
    two rows sharing one ICAO. Fact resolution must stay one row per key."""
    wh = FlightWarehouse(spark, str(tmp_path / "wh"))
    # batch 1: LGW known IATA-only; airline XX/XXX fully known
    b1 = _wire_df(
        spark,
        [_rec("A1", airline=("XX", "XXX", "Xair"), dep=("Gatwick", "LGW", None))],
    )
    warehouse_load(wh, normalize_flight_stream(b1, NOW), "timestamp'2025-08-22 00:00:01'")
    # batch 2: LGW re-seen WITH its ICAO (new icao#-keyed dim row, same iata);
    # airline re-seen ICAO-only (new icao-carrying dim row sharing icao XXX)
    b2 = _wire_df(
        spark,
        [_rec("A2", airline=(None, "XXX", None), dep=("Gatwick", "LGW", "EGKK"))],
    )
    warehouse_load(wh, normalize_flight_stream(b2, NOW), "timestamp'2025-08-22 00:00:02'")
    # precondition: the ambiguity actually exists in the dims
    assert wh.airport.read().filter(F.col("iata") == "LGW").count() == 2
    assert wh.airline.read().filter(F.col("icao") == "XXX").count() == 2

    # batch 3: a NEW flight keyed only by the ambiguous codes
    b3 = _wire_df(
        spark,
        [_rec("A3", airline=(None, "XXX", None), dep=("Gatwick", "LGW", None))],
    )
    warehouse_load(wh, normalize_flight_stream(b3, NOW), "timestamp'2025-08-22 00:00:03'")

    fact = wh.fact.read()
    keys = [r["flight_key"] for r in fact.collect()]
    assert sorted(keys) == ["A1", "A2", "A3"]  # one row per key, no dup blowup
    a3 = fact.filter(F.col("flight_key") == "A3").collect()[0]
    assert a3["airline_id"] is not None and a3["route_id"] is not None


def test_merge_upsert_null_key_rows_match(spark):
    """eqNullSafe join + struct presence markers: a NULL-key source row must
    update the NULL-key target row, not be silently discarded."""
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
    )
    target = spark.createDataFrame([(None, 1), ("a", 10)], schema)
    source = spark.createDataFrame([(None, 2), ("b", 20)], schema)
    out = merge_upsert(target, source, keys=["k"], policies={}, default=MergePolicy.OVERWRITE)
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {None: 2, "a": 10, "b": 20}


def test_malformed_flight_date_nulls_not_crash(spark):
    """ANSI mode stays on; a free-form bad date must parse to NULL (P10 policy)."""
    bad = _rec("B1")
    bad["flight_date"] = "21st of August"
    out = normalize_flight_stream(_wire_df(spark, [bad]), NOW).collect()
    assert len(out) == 1 and out[0]["flight_date"] is None


def test_parquet_table_vacuums_old_versions(spark, tmp_path):
    schema = T.StructType([T.StructField("x", T.LongType())])
    tbl = ParquetTable(spark, str(tmp_path / "t"), schema)
    for i in range(4):
        tbl.overwrite(spark.createDataFrame([(i,)], schema))
    versions = [d for d in os.listdir(tbl.path) if d.startswith("v_")]
    assert len(versions) == 2  # current + one grace version
    assert tbl.read().collect()[0]["x"] == 3


# (dim_lookup_maps arguments, resolve_dim_id source columns)
_AIRPORT_LOOKUP = (
    dict(dim_id_col="airport_id", primary="iata", fallback="icao"),
    dict(primary="s_iata", fallback="s_icao"),
)
_CUSTKEY_LOOKUP = (
    dict(dim_id_col="c_custkey", primary="c_custkey", fallback="c_custkey"),
    dict(primary="pk", fallback="fk"),
)


@pytest.mark.parametrize(
    "dim_schema,dim_rows,src_schema,src_rows,lookup,expected",
    [
        # Shared codes: LGW is IATA-only as id 1 and ICAO-carrying as id 2;
        # ZZZZ is ICAO-only as id 5 and IATA-carrying as id 6. The row that
        # carries the other code wins, though its id is the larger one.
        (
            "airport_id long, iata string, icao string",
            [(1, "LGW", None), (2, "LGW", "EGKK"), (3, None, "KJFK"),
             (5, None, "ZZZZ"), (6, "ZZ", "ZZZZ")],
            "sid string, s_iata string, s_icao string",
            [("s1", "LGW", None), ("s2", None, "EGKK"), ("s3", None, "KJFK"),
             ("s4", "LGW", "EGKK"), ("s5", None, "ZZZZ"), ("s6", "NOPE", "KJFK")],
            _AIRPORT_LOOKUP,
            {"s1": 2, "s2": 2, "s3": 3, "s4": 2, "s5": 6, "s6": None},
        ),
        # Code is the id (resolve_id_coalesce_lookup's shape): custkey 1 is
        # on two dim rows; the fallback only fires when the primary is NULL.
        (
            "c_custkey long, c_name string",
            [(1, "a"), (1, "b"), (2, "c")],
            "sid string, pk long, fk long",
            [("e1", 1, 2), ("e2", None, 2), ("e3", None, 9), ("e4", 7, 1)],
            _CUSTKEY_LOOKUP,
            {"e1": 1, "e2": 2, "e3": None, "e4": None},
        ),
    ],
    ids=["shared_iata_icao", "code_is_id"],
)
def test_resolve_dim_id_keeps_source_grain(
    spark, dim_schema, dim_rows, src_schema, src_rows, lookup, expected
):
    """One output row per source row even when a dim code repeats, with the
    deterministic pick: the row carrying the other code, then smallest id."""
    dim = spark.createDataFrame(dim_rows, dim_schema)
    src = spark.createDataFrame(src_rows, src_schema)
    dim_cols, src_cols = lookup
    maps = dim_lookup_maps(dim, **dim_cols)
    out = resolve_dim_id(src, maps, out_col="rid", **src_cols).select("sid", "rid").collect()
    assert sorted(r["sid"] for r in out) == sorted(expected)  # no fan-out
    assert {r["sid"]: r["rid"] for r in out} == expected


@pytest.fixture(scope="module")
def clean_two_batch(spark, tmp_path_factory):
    wh = FlightWarehouse(spark, str(tmp_path_factory.mktemp("clean") / "wh"))
    for batch in _TWO_BATCHES:
        _load(spark, wh, batch)
    return _snapshot(wh)


class _InjectedCrash(RuntimeError):
    pass


@pytest.mark.parametrize("crash_after_commit", [1, 2, 3])
def test_crash_between_commits_converges(
    spark, tmp_path, monkeypatch, clean_two_batch, crash_after_commit
):
    """warehouse_load commits airline, airport, route, then fact, each by its
    own pointer flip. Crash right after the N-th flip of the second batch,
    restart (a fresh FlightWarehouse on the same root) and re-run the same
    batch with the same batch timestamp: all four tables and the curated
    view must equal a clean run's."""
    root = str(tmp_path / "wh")
    _load(spark, FlightWarehouse(spark, root), _TWO_BATCHES[0])

    crashing = FlightWarehouse(spark, root)
    commits = []
    for attr in ("airline", "airport", "route", "fact"):
        tbl = getattr(crashing, attr)

        def flaky(df, _orig=tbl.overwrite, _attr=attr):
            _orig(df)
            commits.append(_attr)
            if len(commits) == crash_after_commit:
                raise _InjectedCrash(_attr)

        monkeypatch.setattr(tbl, "overwrite", flaky)
    with pytest.raises(_InjectedCrash):
        _load(spark, crashing, _TWO_BATCHES[1])
    assert commits == ["airline", "airport", "route"][:crash_after_commit]
    assert _snapshot(crashing) != clean_two_batch  # the crash left a partial state

    restarted = FlightWarehouse(spark, root)
    _load(spark, restarted, _TWO_BATCHES[1])
    assert _snapshot(restarted) == clean_two_batch


# Batch 1 of the dim-change cases: K1 HND -> PVG, K2 HND -> an ICAO-only
# airport. Each case's batch 2 differs from it in one way only.
_LATER = "2025-08-21T01:10:00+00:00"
_T1, _T2 = "2025-08-22 00:00:01", "2025-08-22 00:00:02"
_HND = ("Haneda", "HND", "RJTT")
_PVG = ("Pudong", "PVG", "ZSPD")
_DXB = ("Dubai", None, "OMDB")
_NH = ("NH", "ANA", "All Nippon Airways")
_BATCH_1 = [_rec("K1"), _rec("K2", arr=_DXB)]
# K1 again with every non-key dim attribute NULL: nothing for COALESCE to take.
_NULL_ATTRS = [_rec("K1", ingest=_LATER, airline=("NH", None, None),
                    dep=(None, None, "RJTT"), arr=(None, None, "ZSPD"))]
# Natural-key contents after batch 1: airline and airport (iata, icao, name),
# route (dep icao, arr icao), curated view (key, airline iata and name, then
# name, iata and icao of each airport, last_updated).
_CONTENTS_1 = {k: sorted(v, key=repr) for k, v in {
    "airline": [_NH],
    "airport": [(None, "OMDB", "Dubai"), ("HND", "RJTT", "Haneda"), ("PVG", "ZSPD", "Pudong")],
    "route": [("RJTT", "OMDB"), ("RJTT", "ZSPD")],
    "curated_view": [
        ("K1", "NH", "All Nippon Airways", *_HND, *_PVG, _T1),
        ("K2", "NH", "All Nippon Airways", *_HND, *_DXB, _T1),
    ],
}.items()}


def _contents(wh) -> dict[str, list[tuple]]:
    """Every table's rows with surrogate ids replaced by natural keys, sorted;
    the fact appears through the curated view."""
    airport = wh.airport.read()
    code = {r["airport_id"]: r["icao"] for r in airport.collect()}
    view = curated_view(wh).select(
        "flight_key", "airline_iata", "airline_name",
        "dep_airport", "dep_iata", "dep_icao", "arr_airport", "arr_iata", "arr_icao",
        F.date_format("last_updated", "yyyy-MM-dd HH:mm:ss"),
    )
    rows = {
        "airline": [tuple(r) for r in wh.airline.read().drop("airline_id").collect()],
        "airport": [tuple(r) for r in airport.drop("airport_id").collect()],
        "route": [(code[r["dep_airport_id"]], code[r["arr_airport_id"]])
                  for r in wh.route.read().collect()],
        "curated_view": [tuple(r) for r in view.collect()],
    }
    return {k: sorted(v, key=repr) for k, v in rows.items()}


def _with(contents: dict, table: str, drop=(), add=()) -> dict:
    out = dict(contents)
    out[table] = sorted([r for r in contents[table] if r not in drop] + list(add), key=repr)
    return out


def _view_row(key, airline, dep, arr, ts=_T2) -> tuple:
    return (key, airline[0], airline[2], *dep, *arr, ts)


@pytest.mark.parametrize(
    "batch_2,expected",
    [
        (
            [_rec("K3", airline=("JL", "JAL", "Japan Airlines"))],
            _with(
                _with(_CONTENTS_1, "airline", add=[("JL", "JAL", "Japan Airlines")]),
                "curated_view", add=[_view_row("K3", ("JL", "JAL", "Japan Airlines"), _HND, _PVG)],
            ),
        ),
        (
            [_rec("K2", ingest=_LATER, arr=("Dubai", "DXB", "OMDB"))],
            _with(
                _with(_CONTENTS_1, "airport", drop=[(None, "OMDB", "Dubai")],
                      add=[("DXB", "OMDB", "Dubai")]),
                "curated_view", drop=[_CONTENTS_1["curated_view"][1]],
                add=[_view_row("K2", _NH, _HND, ("Dubai", "DXB", "OMDB"))],
            ),
        ),
        (
            [_rec("K1", ingest=_LATER, airline=("NH", "ANA", "ANA Holdings"))],
            _with(
                _with(_CONTENTS_1, "airline", drop=[_NH], add=[("NH", "ANA", "ANA Holdings")]),
                "curated_view", drop=_CONTENTS_1["curated_view"],
                add=[_view_row("K1", ("NH", "ANA", "ANA Holdings"), _HND, _PVG),
                     _view_row("K2", ("NH", "ANA", "ANA Holdings"), _HND, _DXB, _T1)],
            ),
        ),
        (
            [_rec("K3", dep=_PVG, arr=_HND)],
            _with(
                _with(_CONTENTS_1, "route", add=[("ZSPD", "RJTT")]),
                "curated_view", add=[_view_row("K3", _NH, _PVG, _HND)],
            ),
        ),
        (
            _NULL_ATTRS,
            _with(
                _CONTENTS_1, "curated_view", drop=[_CONTENTS_1["curated_view"][0]],
                add=[_view_row("K1", _NH, _HND, _PVG)],
            ),
        ),
    ],
    ids=["new_airline", "late_iata_backfill", "airline_renamed", "new_route",
         "null_attributes"],
)
def test_every_dim_change_commits(spark, tmp_path, batch_2, expected):
    """A batch that changes a dim in one way only still lands that change:
    a new id, a late IATA backfilled onto an ICAO-only row, a new name, a new
    route between known airports. A batch whose attributes are NULL where
    the dim has values leaves the dims as they are (COALESCE(new, old))."""
    wh = FlightWarehouse(spark, str(tmp_path / "wh"))
    _load(spark, wh, (_BATCH_1, f"timestamp'{_T1}'"))
    assert _contents(wh) == _CONTENTS_1
    _load(spark, wh, (batch_2, f"timestamp'{_T2}'"))
    assert _contents(wh) == expected


def test_null_attributes_write_no_dim_version(spark, tmp_path):
    """A batch that brings no new dim value writes no dim version: every
    source row's id is in its dim and its attributes are NULL or equal."""
    wh = FlightWarehouse(spark, str(tmp_path / "wh"))
    _load(spark, wh, (_BATCH_1, f"timestamp'{_T1}'"))
    dims = (wh.airline, wh.airport, wh.route)
    before = [t.versions() for t in dims]
    _load(spark, wh, (_NULL_ATTRS, f"timestamp'{_T2}'"))
    assert [t.versions() for t in dims] == before
    assert len(wh.fact.versions()) == 2


def test_fact_merge_lookups_stay_broadcast(spark, tmp_path, monkeypatch, no_broadcast):
    """The six id lookups feeding the route insert and the fact merge
    (dep/arr airport and airline, each by IATA then ICAO) are broadcast hash
    joins on the explicit hint alone: with auto-broadcast off, a hint placed
    anywhere but on the aggregated lookup map would plan a sort-merge join
    instead. Both commits read the lookups' output through one checkpoint,
    so the plan checked is the last ``resolve_dim_id``'s, before it."""
    resolved = []
    real_resolve = pipeline.resolve_dim_id

    def spy(*args, **kwargs):
        resolved.append(real_resolve(*args, **kwargs))
        return resolved[-1]

    monkeypatch.setattr(pipeline, "resolve_dim_id", spy)
    wh = FlightWarehouse(spark, str(tmp_path / "wh"))
    _load(spark, wh, _TWO_BATCHES[0])
    assert len(resolved) == 3
    plan = resolved[-1]._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"BroadcastHashJoin", plan)) == 6, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def _count_map_builds(monkeypatch) -> list[tuple]:
    """Spy on the lookup-map builder: one entry (dim id column) per build."""
    built = []
    real = pipeline.dim_lookup_maps

    def spy(dim, dim_id_col, *args, **kwargs):
        built.append(dim_id_col)
        return real(dim, dim_id_col, *args, **kwargs)

    monkeypatch.setattr(pipeline, "dim_lookup_maps", spy)
    return built


def test_lookup_maps_built_once_per_dim_version(spark, tmp_path, monkeypatch):
    """Loads that commit no dim version reuse the maps already built; a load
    after a dim commit resolves against the new version's maps."""
    built = _count_map_builds(monkeypatch)
    wh = FlightWarehouse(spark, str(tmp_path / "wh"))
    _load(spark, wh, (_BATCH_1, f"timestamp'{_T1}'"))
    assert sorted(built) == ["airline_id", "airport_id"]
    _load(spark, wh, (_NULL_ATTRS, f"timestamp'{_T2}'"))
    _load(spark, wh, ([_rec("K1", ingest=_LATER)], "timestamp'2025-08-22 00:00:03'"))
    assert sorted(built) == ["airline_id", "airport_id"]  # no dim commit: no rebuild

    jl = ("JL", "JAL", "Japan Airlines")
    _load(spark, wh, ([_rec("K3", airline=jl, arr=("Dubai", "DXB", "OMDB"))],
                      "timestamp'2025-08-22 00:00:04'"))
    assert sorted(built) == ["airline_id", "airline_id", "airport_id", "airport_id"]
    for dim in ("airline", "airport"):
        assert wh._derived[dim][0] == (getattr(wh, dim)._current_version(),)
    k3 = wh.fact.read().filter(F.col("flight_key") == "K3").collect()[0]
    jl_id = wh.airline.read().filter(F.col("iata") == "JL").collect()[0]["airline_id"]
    assert k3["airline_id"] == jl_id
    view = {r["flight_key"]: r for r in curated_view(wh).collect()}
    assert view["K3"]["airline_name"] == "Japan Airlines"
    assert (view["K3"]["arr_iata"], view["K3"]["arr_icao"]) == ("DXB", "OMDB")


def test_superseded_lookup_maps_are_released(spark, tmp_path, monkeypatch):
    """Over ten loads that each commit both dims, the warehouse holds only
    the current version's maps, and none of them is persisted: they are
    driver-local relations, so a superseded version leaves nothing cached
    on the executors."""
    built = _count_map_builds(monkeypatch)
    wh = FlightWarehouse(spark, str(tmp_path / "wh"))
    for i in range(10):
        code = f"Q{i}"
        _load(spark, wh, (
            [_rec(f"K{i}", airline=(code, f"{code}X", f"Air {i}"),
                  arr=(f"Port {i}", f"P{i}Q", f"ZP{i}Q"))],
            f"timestamp'2025-08-22 00:00:{i + 1:02d}'",
        ))
        held = [m for dim in ("airline", "airport") for m in wh._derived[dim][1]]
        assert len(held) == 4
        for m in held:
            assert not m.storageLevel.useMemory and not m.storageLevel.useDisk
            assert "LocalRelation" in m._jdf.queryExecution().analyzed().toString()
    assert len(built) == 20  # both dims committed in every load
    for dim in ("airline", "airport"):
        assert wh._derived[dim][0] == (getattr(wh, dim)._current_version(),)
    fact = wh.fact.read().collect()
    assert len(fact) == 10
    assert all(r["airline_id"] is not None and r["route_id"] is not None for r in fact)

"""The export poll is one pass over the view: ``next_export_batch`` collects
the ``limit + 1`` oldest pending rows once and ships a prefix of them as a
driver-local relation, so shipping re-runs no query except for a single
``last_updated`` group larger than the limit. ``curated_view`` is memoized
per tuple of the four table versions."""

from __future__ import annotations

import pytest

from real_time_flight_data_pipeline_spark.streaming.pipeline import (
    FlightWarehouse,
    curated_view,
    normalize_flight_stream,
    warehouse_load,
)
from real_time_flight_data_pipeline_spark.streaming.watermark import (
    WatermarkStore,
    next_export_batch,
)

from .test_streaming import NOW, _rec, _wire_df


@pytest.fixture()
def parquet_view(spark, tmp_path):
    """A view over files, so re-running it is a Spark job (a view over
    in-memory rows would collect without one and prove nothing)."""

    def make(rows):
        path = str(tmp_path / "view")
        spark.createDataFrame(rows, "id int, last_updated string").write.parquet(path)
        return spark.read.parquet(path)

    return make


def _ship(spark, batch, group: str) -> tuple[list[int], int]:
    """Shipped ids and the Spark jobs ``rows.collect()`` launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "ship")
    try:
        ids = sorted(r["id"] for r in batch.rows.collect())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return ids, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "rows,limit,ids,watermark",
    [
        # everything pending fits the limit
        ([(1, "t1"), (2, "t2"), (3, "t2")], 5, [1, 2, 3], "t2"),
        # the limit lands exactly between two groups
        ([(1, "t1"), (2, "t2"), (3, "t2"), (4, "t3")], 3, [1, 2, 3], "t2"),
        # the limit splits the last group: ship the complete groups before it
        ([(1, "t1"), (2, "t2"), (3, "t3"), (4, "t3"), (5, "t3")], 3, [1, 2], "t2"),
    ],
    ids=["fits", "between_groups", "splits_group"],
)
def test_materialized_ship_runs_no_job(spark, tmp_path, parquet_view, rows, limit, ids,
                                       watermark):
    store = WatermarkStore(str(tmp_path / "wm.json"))
    batch = next_export_batch(parquet_view(rows), store, limit=limit)
    assert batch.new_watermark == watermark
    assert _ship(spark, batch, f"ship-{limit}-{len(rows)}") == (ids, 0)


def test_over_limit_group_ships_whole(spark, tmp_path, parquet_view):
    """A single group larger than the limit still ships whole, through the
    lazy filter; the next poll moves on to the following group."""
    store = WatermarkStore(str(tmp_path / "wm.json"))
    view = parquet_view([(1, "t1"), (2, "t1"), (3, "t1"), (4, "t1"), (5, "t2")])
    batch = next_export_batch(view, store, limit=2)
    assert batch.new_watermark == "t1"
    assert _ship(spark, batch, "ship-over-limit")[0] == [1, 2, 3, 4]
    store.advance(batch.new_watermark)
    batch = next_export_batch(view, store, limit=2)
    assert (batch.new_watermark, _ship(spark, batch, "ship-after")) == ("t2", ([5], 0))
    store.advance(batch.new_watermark)
    batch = next_export_batch(view, store, limit=2)
    assert batch.new_watermark is None
    assert _ship(spark, batch, "ship-empty") == ([], 0)


def test_curated_view_memoized_per_table_versions(spark, tmp_path):
    """Polls between commits reuse one plan; any table commit builds a new
    one, which sees the commit."""
    wh = FlightWarehouse(spark, str(tmp_path / "wh"))

    def load(records, ts):
        warehouse_load(wh, normalize_flight_stream(_wire_df(spark, records), NOW), ts)

    load([_rec("K1")], "timestamp'2025-08-22 00:00:01'")
    view = curated_view(wh)
    assert curated_view(wh) is view
    load([_rec("K2")], "timestamp'2025-08-22 00:00:02'")  # commits the fact only
    view2 = curated_view(wh)
    assert view2 is not view
    assert sorted(r["flight_key"] for r in view2.collect()) == ["K1", "K2"]
    assert curated_view(wh) is view2

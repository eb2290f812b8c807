"""ParquetTable retention/time-travel/compaction: the Delta-property subset
the offline container can't install, emulated and verified on plain parquet
(commit log + atomic pointer flip + bounded vacuum)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from real_time_flight_data_pipeline_spark.streaming.pipeline import ParquetTable

_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
    ]
)


def _df(spark, tag: str, n: int):
    return spark.createDataFrame([(i, f"{tag}{i}") for i in range(n)], _SCHEMA)


def test_time_travel_and_bounded_retention(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"), _SCHEMA, keep_versions=3)
    for i, tag in enumerate(["a", "b", "c", "d"]):
        t.overwrite(_df(spark, tag, 5 + i))

    vs = t.versions()
    assert len(vs) == 3  # 4 commits, retention 3: oldest vacuumed
    # newest version is what read() serves
    assert t.read().count() == 8
    assert {r["v"] for r in t.read().collect()} == {f"d{i}" for i in range(8)}
    # time travel to the oldest retained commit
    old = t.read(version=vs[0])
    assert {r["v"] for r in old.collect()} == {f"b{i}" for i in range(6)}
    # vacuumed versions are refused, not silently empty
    with pytest.raises(ValueError, match="not in retained history"):
        t.read(version="v_000000000000")


def test_compaction_preserves_contents_and_bounds_files(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"), _SCHEMA, keep_versions=2)
    t.overwrite(_df(spark, "x", 100).repartition(16))
    cur = os.path.join(t.path, t._current_version())
    n_before = len([f for f in os.listdir(cur) if f.endswith(".parquet")])
    assert n_before >= 8  # genuinely fragmented before compaction

    before = sorted((r["k"], r["v"]) for r in t.read().collect())
    t.compact(target_files=2)
    cur = os.path.join(t.path, t._current_version())
    n_after = len([f for f in os.listdir(cur) if f.endswith(".parquet")])
    assert n_after <= 2
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == before


def test_torn_pointer_falls_back_to_newest_logged_version(spark, tmp_path):
    """A power loss after a flush-free pointer flip can leave ``_CURRENT``
    zero-filled at its full length. Readers then serve the newest version
    the commit log names that is still on disk, and the next commit flips
    the pointer as usual."""
    t = ParquetTable(spark, str(tmp_path / "t"), _SCHEMA, keep_versions=3)
    for tag in ("a", "b"):
        t.overwrite(_df(spark, tag, 4))
    newest = t.versions()[-1]
    with open(os.path.join(t.path, "_CURRENT"), "wb") as f:
        f.write(b"\0" * len(newest))

    assert t._current_version() == newest
    assert {r["v"] for r in t.read().collect()} == {f"b{i}" for i in range(4)}
    t.overwrite(_df(spark, "c", 2))
    assert {r["v"] for r in t.read().collect()} == {"c0", "c1"}
    assert len(t.versions()) == 3


def test_torn_pointer_and_log_delete_nothing(spark, tmp_path):
    """If both ``_CURRENT`` and ``_LOG`` read as zeros, no version can be
    named: a read and a commit raise instead of serving or merging into an
    empty table, and every version directory stays on disk."""
    t = ParquetTable(spark, str(tmp_path / "t"), _SCHEMA, keep_versions=3)
    for tag in ("a", "b"):
        t.overwrite(_df(spark, tag, 4))
    dirs = sorted(n for n in os.listdir(t.path) if n.startswith("v_"))
    for name in ("_CURRENT", "_LOG"):
        path = os.path.join(t.path, name)
        size = os.path.getsize(path)
        with open(path, "wb") as f:
            f.write(b"\0" * size)

    with pytest.raises(RuntimeError, match="names no version"):
        t.read()
    with pytest.raises(RuntimeError, match="names no version"):
        t.overwrite(_df(spark, "c", 2))
    assert sorted(n for n in os.listdir(t.path) if n.startswith("v_")) == dirs


def test_commit_log_stays_bounded(spark, tmp_path, monkeypatch):
    """The vacuum trims ``_LOG`` to the retained versions once it has grown
    ``_LOG_SLACK`` lines past them, so a commit never re-reads the whole
    history; only the trim pays an fsync. ``versions()`` and time travel
    are unchanged."""
    fsyncs = []
    real_fsync = os.fsync
    monkeypatch.setattr(os, "fsync", lambda fd: (fsyncs.append(fd), real_fsync(fd)))
    t = ParquetTable(spark, str(tmp_path / "t"), _SCHEMA, keep_versions=3)
    bound = t.keep_versions + ParquetTable._LOG_SLACK
    df = _df(spark, "x", 1)
    sizes = []
    for _ in range(50):
        t.overwrite(df)
        with open(os.path.join(t.path, "_LOG")) as f:
            sizes.append(len(f.read().splitlines()))
    assert max(sizes) == bound
    assert sizes[-1] == 50 - (bound + 1) + t.keep_versions  # trimmed once
    assert len(fsyncs) == 1
    assert not os.path.exists(os.path.join(t.path, "_LOG.tmp"))
    vs = t.versions()
    assert len(vs) == 3
    assert vs[-1] == t._current_version()
    assert {r["v"] for r in t.read(version=vs[0]).collect()} == {"x0"}
    with pytest.raises(ValueError, match="not in retained history"):
        t.read(version="v_000000000000")

"""Store-open robustness (r13 ADVICE): legacy-layout migration, layout
version stamping, public-reader swap guards, and tolerant partition-dir
parsing.

Pre-r13 corpus stores wrote loose part-files directly under
``bucket=B/``; the generational layout appends under ``bucket=B/gen=G/``.
Reopening a legacy store used to succeed silently (the meta carried only
``n_buckets``) and the first append then produced a mixed-depth tree
Spark's partition discovery rejects — with the compactor and recovery
blind to the loose files. Open now detects the missing layout stamp,
migrates loose files into ``gen=0`` by driver-side renames (idempotent
across crashes), and stamps ``_META.json``; unknown stamps fail loud.
"""

from __future__ import annotations

import glob
import json
import os
import pathlib
import shutil

import pytest
from pyspark.sql import functions as F

from real_time_flight_data_pipeline_spark.operators import partstore as PS
from real_time_flight_data_pipeline_spark.sources.parquet import load_table
from real_time_flight_data_pipeline_spark.streaming.corpus import (
    CorpusStore,
    NearDupCorpusStore,
)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return load_table(spark, SF, "documents").select(
        "doc_id", "text", "lang", "source"
    )


def _content(store):
    return sorted(map(tuple, store.read().collect()))


def _flatten_to_legacy(data_root: str) -> int:
    """Rewrite a tiered layout into the pre-r13 flat one: move every
    gen-level file up into its bucket dir and drop the gen dirs."""
    moved = 0
    for gen_dir in glob.glob(f"{data_root}/*=*/gen=*"):
        bucket_dir = os.path.dirname(gen_dir)
        for f in glob.glob(f"{gen_dir}/*.parquet"):
            shutil.move(f, os.path.join(bucket_dir, os.path.basename(f)))
            moved += 1
        shutil.rmtree(gen_dir)
    return moved


def _strip_layout_stamp(root: str) -> None:
    meta = pathlib.Path(root) / "_META.json"
    stored = json.loads(meta.read_text())
    del stored["layout"]
    meta.write_text(json.dumps(stored))


def test_legacy_flat_store_migrates_at_open(spark, tmp_path):
    root = str(tmp_path / "c")
    store = CorpusStore(spark, root, n_buckets=4)
    store.ingest_batch(_docs(spark).filter(F.col("doc_id") % 2 == 0))
    before = _content(store)
    assert _flatten_to_legacy(store.docs_root) > 0
    _strip_layout_stamp(root)

    reopened = CorpusStore(spark, root, n_buckets=4)
    # loose files are back under gen=0 and nothing lives flat anymore
    assert not glob.glob(f"{reopened.docs_root}/bucket=*/*.parquet")
    assert glob.glob(f"{reopened.docs_root}/bucket=*/gen=0/*.parquet")
    assert _content(reopened) == before
    # the stamp is persisted, so the next open skips the migration path
    meta = json.loads((tmp_path / "c" / "_META.json").read_text())
    assert meta["layout"] == "tiered"
    # appends + replay still converge on the migrated store
    s = reopened.ingest_batch(_docs(spark))
    assert s.n_accepted > 0 and s.n_replayed > 0
    assert reopened.ingest_batch(_docs(spark)).n_accepted == 0


def test_legacy_migration_is_idempotent_after_partial_crash(spark, tmp_path):
    """A crash mid-migration (some files moved, some loose) re-runs at the
    next open and moves only the remainder."""
    root = str(tmp_path / "c")
    store = CorpusStore(spark, root, n_buckets=4)
    store.ingest_batch(_docs(spark))
    before = _content(store)
    _flatten_to_legacy(store.docs_root)
    _strip_layout_stamp(root)
    # simulate the interrupted first attempt: migrate exactly one bucket
    first = sorted(glob.glob(f"{store.docs_root}/bucket=*"))[0]
    os.makedirs(f"{first}/gen=0", exist_ok=True)
    for f in glob.glob(f"{first}/*.parquet"):
        shutil.move(f, f"{first}/gen=0/{os.path.basename(f)}")

    reopened = CorpusStore(spark, root, n_buckets=4)
    assert not glob.glob(f"{reopened.docs_root}/bucket=*/*.parquet")
    assert _content(reopened) == before


def test_legacy_near_dup_store_migrates_both_layouts(spark, tmp_path):
    root = str(tmp_path / "c")
    store = NearDupCorpusStore(spark, root, n_buckets=4)
    store.ingest_batch(_docs(spark))
    docs_before = _content(store)
    bands_before = sorted(map(tuple, store.read_bands().collect()))
    _flatten_to_legacy(store.docs_root)
    _flatten_to_legacy(store.bands_root)
    _strip_layout_stamp(root)

    reopened = NearDupCorpusStore(spark, root, n_buckets=4)
    assert not glob.glob(f"{reopened.docs_root}/bucket=*/*.parquet")
    assert not glob.glob(f"{reopened.bands_root}/bbucket=*/*.parquet")
    assert _content(reopened) == docs_before
    assert sorted(map(tuple, reopened.read_bands().collect())) == bands_before
    assert reopened.ingest_batch(_docs(spark)).n_accepted == 0  # replay no-op


def test_unknown_layout_stamp_fails_loud(spark, tmp_path):
    root = str(tmp_path / "c")
    CorpusStore(spark, root, n_buckets=4)
    meta = pathlib.Path(root) / "_META.json"
    stored = json.loads(meta.read_text())
    stored["layout"] = "columnar-v9"
    meta.write_text(json.dumps(stored))
    with pytest.raises(ValueError, match="layout"):
        CorpusStore(spark, root, n_buckets=4)


def test_public_readers_fail_loud_on_crashed_swap(spark, tmp_path):
    """read()/read_bands() carry the swap-window guard themselves — a
    cross-session reader of a store with a crashed tiered swap fails loud
    instead of silently missing the parked gen level (r13 ADVICE, low)."""
    store = NearDupCorpusStore(
        spark, str(tmp_path / "c"), n_buckets=4, swap_wait_sec=0.5
    )
    store.ingest_batch(_docs(spark))
    for data_root, reader in (
        (store.docs_root, store.read),
        (store.bands_root, store.read_bands),
    ):
        gen_dir = sorted(glob.glob(f"{data_root}/*=*/gen=0"))[0]
        rel = "/".join(gen_dir.rsplit("/", 2)[1:])
        shutil.copytree(gen_dir, f"{data_root}_old/{rel}")
        shutil.rmtree(gen_dir)
        with pytest.raises(RuntimeError, match="persists"):
            reader()
        shutil.copytree(f"{data_root}_old/{rel}", gen_dir)
        shutil.rmtree(f"{data_root}_old")


def test_stray_partition_dirs_are_skipped_by_listings(spark, tmp_path):
    """Non-integer partition dirs (a null-key __HIVE_DEFAULT_PARTITION__,
    a stray tooling dir) must not crash the compaction listings — they are
    foreign to this engine's non-null int partition columns and simply
    never compact (r13 ADVICE, low)."""
    store = CorpusStore(spark, str(tmp_path / "c"), n_buckets=4)
    store.ingest_batch(_docs(spark))
    os.makedirs(f"{store.docs_root}/bucket=__HIVE_DEFAULT_PARTITION__")
    os.makedirs(f"{store.docs_root}/bucket=2/gen=backup")
    tiered = PS.gen_file_counts(spark, store.docs_root, "bucket")
    assert all(isinstance(v, int) and isinstance(g, int) for v, g in tiered)
    # compaction runs to completion with the strays present
    store.maybe_compact(max_files_per_bucket=1)


def test_frag_counters_are_layout_aware(spark, tmp_path):
    """r15 verdict #5: the vector index's per-cell monitoring counter
    must keep reporting on the generational layout — every gen= level's
    files roll up into their cell's total, never reading 0 on exactly
    the layout that needs monitoring."""
    from real_time_flight_data_pipeline_spark.operators.ann_index import (
        cell_file_counts,
    )

    path = str(tmp_path / "index")
    for cell, gen, n in [(0, 0, 3), (0, 1, 2), (0, 3, 1), (5, 0, 1), (7, 2, 4)]:
        d = f"{path}/cells/cell={cell}/gen={gen}"
        os.makedirs(d)
        for i in range(n):
            pathlib.Path(f"{d}/part-{i:05d}.parquet").touch()
    pathlib.Path(f"{path}/cells/cell=0/gen=1/_SUCCESS").touch()
    gen = PS.gen_file_counts(spark, f"{path}/cells", "cell")
    assert gen == {(0, 0): 3, (0, 1): 2, (0, 3): 1, (5, 0): 1, (7, 2): 4}
    assert cell_file_counts(spark, path) == {0: 6, 5: 1, 7: 4}


def test_recovery_fails_loud_on_unparseable_parked_dir(spark, tmp_path):
    """A malformed dir name under the swap marker is PARKED data — skipping
    it would strand rows outside the read root, so recovery refuses with a
    clear message instead of an opaque int() ValueError."""
    store = CorpusStore(spark, str(tmp_path / "c"), n_buckets=4)
    store.ingest_batch(_docs(spark))
    os.makedirs(f"{store.docs_root}_old/bucket=1/gen=x")
    with pytest.raises(ValueError, match="unparseable generation dir"):
        PS.recover_tiered_compaction(spark, store.docs_root, "bucket")


def test_same_id_resend_within_batch_counts_dup_batch(spark, tmp_path):
    """The store's accounting contract for a same-(doc_id, text) double
    send WITHIN one batch (r13 ADVICE, low): the extra copy counts in
    n_dup_batch and exactly one copy lands; the oracle-paired spec twin
    collapses such re-sends to one logical row before classification, so
    its per-row universe stays aligned with the store's accepted set."""
    store = CorpusStore(spark, str(tmp_path / "c"), n_buckets=4)
    one = _docs(spark).filter(F.col("doc_id") == 0)
    s = store.ingest_batch(one.unionByName(one))
    assert s.n_rows == 2
    assert s.n_dup_batch == 1
    assert s.n_accepted == 1
    assert len(_content(store)) == 1

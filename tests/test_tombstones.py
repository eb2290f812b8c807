"""Tombstone deletion on the append-only stores (r13 verdict #3): a
100 TB corpus needs targeted removal — takedowns, contaminated-shard
recalls — without rewriting data on the delete path.

Contract pinned here, for BOTH tiers (text corpus + vector index):
- a delete APPENDS tombstones; readers/probes hide the rows immediately,
- the physical rows FOLD out at the next compaction that rewrites their
  level/cell, after which the tombstone garbage-collects,
- a deleted id legitimately re-ingested is ACCEPTED again (its content is
  no longer in the corpus) — by cancelling the tombstone when the dead
  physical row survives (never a duplicate physical copy), or by a fresh
  append when compaction already folded it,
- near-dup tier: a deleted doc's band rows stop screening, so a near-copy
  of removed content is accepted; a resurrection never duplicates band
  rows,
- the tombstone-set rewrite (cancellation/GC) recovers from crashes
  between its two renames,
- delete-free stores never pay: no tombstone file -> no anti-join.
"""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from real_time_flight_data_pipeline_spark.operators import partstore as PS
from real_time_flight_data_pipeline_spark.operators.ann_index import (
    build_ivfpq_index,
    probe_ivfpq_index,
    probe_ivfpq_index_batch,
)
from real_time_flight_data_pipeline_spark.sources.parquet import load_table
from real_time_flight_data_pipeline_spark.streaming.corpus import (
    CorpusStore,
    NearDupCorpusStore,
)
from real_time_flight_data_pipeline_spark.streaming.vector_index import (
    VectorIndexMaintainer,
)

from .conftest import SF_CORRECT, SF_SMOKE


def _docs(spark):
    return load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text", "lang", "source"
    )


def _ids(store):
    return {r.doc_id for r in store.read().select("doc_id").collect()}


# ---------------------------------------------------------------------------
# Text tier (exact dedup)
# ---------------------------------------------------------------------------


def test_delete_hides_then_replay_resurrects(spark, tmp_path):
    store = CorpusStore(spark, str(tmp_path / "c"), n_buckets=4)
    store.ingest_batch(_docs(spark))
    before = sorted(map(tuple, store.read().collect()))

    assert store.delete_docs([0, 1]) == 2
    assert {0, 1}.isdisjoint(_ids(store))
    # idempotent: already-dead and unknown ids are no-ops
    assert store.delete_docs([0, 999_999]) == 0

    # replay of the full input: the two deleted docs are accepted again by
    # CANCELLING their tombstones (dead rows still physical), no dup copy
    s = store.ingest_batch(_docs(spark))
    assert s.n_accepted == 2
    assert s.n_resurrected == 2
    assert sorted(map(tuple, store.read().collect())) == before
    assert not PS.has_tombstones(spark, store.docs_root)


def test_deleted_fingerprint_no_longer_blocks_new_id(spark, tmp_path):
    """dup_hist is a LIVE-content check: after doc 0 is deleted, its text
    arriving under a new id is accepted (the content left the corpus)."""
    store = CorpusStore(spark, str(tmp_path / "c"), n_buckets=4)
    store.ingest_batch(_docs(spark))
    clone = _docs(spark).filter(F.col("doc_id") == 0).select(
        F.lit(7_000_000).cast("long").alias("doc_id"), "text", "lang", "source"
    )
    assert store.ingest_batch(clone).n_dup_hist == 1  # blocked while live
    store.delete_docs([0])
    s = store.ingest_batch(clone)
    assert s.n_accepted == 1 and s.n_resurrected == 0
    # and the original id now re-sends as dup_hist of the clone
    orig = _docs(spark).filter(F.col("doc_id") == 0)
    assert store.ingest_batch(orig).n_dup_hist == 1


def test_fold_at_compaction_then_gc_then_fresh_append(spark, tmp_path):
    store = CorpusStore(spark, str(tmp_path / "c"), n_buckets=4)
    # two appends -> every bucket's gen=0 holds >= 2 files, so threshold 1
    # deterministically merges (and folds) the level holding the dead row
    store.ingest_batch(_docs(spark).filter(F.col("doc_id") % 2 == 0))
    store.ingest_batch(_docs(spark).filter(F.col("doc_id") % 2 == 1))
    n_total = len(_ids(store))
    store.delete_docs([0])
    assert store.maybe_compact(max_files_per_bucket=1)
    phys = spark.read.parquet(store.docs_root).select("doc_id").collect()
    assert 0 not in {r.doc_id for r in phys}
    assert len(phys) == n_total - 1
    # the fully-folded tombstone was garbage-collected with it
    assert not PS.has_tombstones(spark, store.docs_root)
    # re-ingest after the fold is a FRESH append (nothing left to cancel)
    s = store.ingest_batch(_docs(spark).filter(F.col("doc_id") == 0))
    assert s.n_accepted == 1 and s.n_resurrected == 0
    assert 0 in _ids(store)


def test_tombstone_rewrite_crash_recovers(spark, tmp_path):
    store = CorpusStore(spark, str(tmp_path / "c"), n_buckets=4)
    store.ingest_batch(_docs(spark))
    store.delete_docs([0])
    td = PS.tombs_dir(store.docs_root)
    fs, jvm = PS._fs(spark, td)
    hp = jvm.org.apache.hadoop.fs.Path
    # crash window: rename (A) done, rename (B) never ran, no staged set.
    # Readers already see the parked set (r15 ADVICE closed the un-delete
    # window — test_tombstone_swap_window_never_hides_deletes), and any
    # ingest self-heals the swap itself.
    PS._rename_or_raise(fs, hp(td), hp(f"{td}_gone"))
    assert PS.has_tombstones(spark, store.docs_root)  # parked set visible
    store.ingest_batch(_docs(spark).limit(0))  # any ingest self-heals first
    assert PS.has_tombstones(spark, store.docs_root)
    assert not fs.exists(hp(f"{td}_gone"))  # swap adjudicated, not parked
    assert 0 not in _ids(store)


# ---------------------------------------------------------------------------
# Text tier (near-dup)
# ---------------------------------------------------------------------------


def _near_copy(spark, src_id: int, new_id: int):
    return _docs(spark).filter(F.col("doc_id") == src_id).select(
        F.lit(new_id).cast("long").alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq")).alias("text"),
        "lang",
        "source",
    )


def test_deleted_content_stops_screening_near_dups(spark, tmp_path):
    store = NearDupCorpusStore(spark, str(tmp_path / "c"), n_buckets=4)
    store.ingest_batch(_docs(spark))
    # a near-copy of live doc 2 is rejected by the band screen
    assert store.ingest_batch(_near_copy(spark, 2, 8_000_000)).n_near_dup == 1
    store.delete_docs([2])
    # the same near-copy is now ACCEPTED: doc 2's bands are dead with it
    s = store.ingest_batch(_near_copy(spark, 2, 8_000_001))
    assert s.n_accepted == 1 and s.n_near_dup == 0


def test_near_dup_resurrection_never_duplicates_band_rows(spark, tmp_path):
    store = NearDupCorpusStore(spark, str(tmp_path / "c"), n_buckets=4)
    store.ingest_batch(_docs(spark))
    bands_before = sorted(
        map(tuple, store.read_bands().filter(F.col("doc_id") == 3).collect())
    )
    assert bands_before
    store.delete_docs([3])
    assert store.read_bands().filter(F.col("doc_id") == 3).isEmpty()
    s = store.ingest_batch(_docs(spark).filter(F.col("doc_id") == 3))
    assert s.n_accepted == 1 and s.n_resurrected == 1
    bands_after = sorted(
        map(tuple, store.read_bands().filter(F.col("doc_id") == 3).collect())
    )
    assert bands_after == bands_before  # restored, not duplicated


# ---------------------------------------------------------------------------
# Vector tier
# ---------------------------------------------------------------------------


@pytest.fixture()
def index(spark, tmp_path):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    src = str(tmp_path / "src")
    emb.write.parquet(f"{src}/embeddings.parquet")
    path = str(tmp_path / "index")
    build_ivfpq_index(spark, src, path)
    return path, emb


def _probe_ids(spark, path, vec, k=10):
    return {r.vec_id for r in probe_ivfpq_index(spark, path, vec, k=k).collect()}


def test_probe_never_returns_tombstoned_vector(spark, tmp_path, index):
    path, emb = index
    q = list(
        emb.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>").alias("x"))
        .head()
        .x
    )
    assert 0 in _probe_ids(spark, path, q)  # nearest to itself
    m = VectorIndexMaintainer(spark, path)
    assert m.delete_vectors([0]) == 1
    assert m.delete_vectors([0]) == 0  # already dead: no-op
    assert 0 not in _probe_ids(spark, path, q)
    batch = probe_ivfpq_index_batch(spark, path, {7: q}, k=10)
    assert 0 not in {r.vec_id for r in batch.collect()}


def test_vector_delete_replay_resurrects_then_fold_gc(spark, tmp_path, index):
    path, emb = index
    m = VectorIndexMaintainer(spark, path)
    held = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).filter(F.col("vec_id") < 5)
    m.delete_vectors([1])
    # replay containing the deleted id: accepted again by tombstone
    # cancellation — exactly one physical row for the id afterwards
    s = m.ingest_batch(held)
    assert s.n_resurrected == 1
    rows = (
        spark.read.parquet(f"{path}/cells")
        .filter(F.col("vec_id") == 1)
        .collect()
    )
    assert len(rows) == 1
    assert not PS.has_tombstones(spark, f"{path}/cells")

    # delete again, physically fold via compaction, tombstone GCs. The
    # fold rides the merge of the dead row's level (gen=0 of its cell), so
    # that level first accretes more files: fresh vectors of another
    # table, under new ids, spread over every cell (ingested while id 1
    # is live, so none can take over its quantization key).
    cell1 = int(rows[0].cell)
    fresh = load_table(spark, SF_CORRECT, "embeddings").select(
        (F.col("vec_id") + 9_000_000).alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    assert m.ingest_batch(fresh).n_added > 0
    assert PS.gen_file_counts(spark, f"{path}/cells", "cell")[(cell1, 0)] > 1
    m.delete_vectors([1])
    assert (cell1, 0) in m.maybe_compact(max_files_per_cell=1)
    assert (
        spark.read.parquet(f"{path}/cells")
        .filter(F.col("vec_id") == 1)
        .isEmpty()
    )
    assert not PS.has_tombstones(spark, f"{path}/cells")
    # re-ingest after the fold is a fresh append
    s = m.ingest_batch(held)
    assert s.n_added == 1 and s.n_resurrected == 0


def test_deleted_quantization_key_no_longer_blocks(spark, tmp_path, index):
    """The quantized-dup guard is a LIVE-index check: after vec 0 is
    deleted, a new id carrying vec 0's embedding (same PQ codes) is
    accepted; re-sending id 0 afterwards is then a quantized dup of the
    new live row and stays out — no resurrection."""
    path, emb = index
    m = VectorIndexMaintainer(spark, path)
    v0 = emb.filter(F.col("vec_id") == 0).select(
        F.lit(6_000_000).cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    assert m.ingest_batch(v0).n_quantized_dup == 1  # blocked while live
    m.delete_vectors([0])
    assert m.ingest_batch(v0).n_added == 1
    orig = emb.filter(F.col("vec_id") == 0).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    s = m.ingest_batch(orig)
    assert s.n_quantized_dup == 1 and s.n_resurrected == 0
    assert PS.has_tombstones(spark, f"{path}/cells")  # 0 stays dead


def test_delete_free_stores_pay_nothing(spark, tmp_path):
    """No tombstone file -> no anti-join: the live read's plan on a
    delete-free store contains no join at all (plan-stability guard for
    the whole catalog, whose queries never delete)."""
    store = CorpusStore(spark, str(tmp_path / "c"), n_buckets=4)
    store.ingest_batch(_docs(spark).filter(F.col("doc_id") < 50))
    plan = store.read()._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan


def test_corpus_mutated_resend_of_tombstoned_id_fails_loud(spark, tmp_path):
    """Content-immutability guard: a tombstoned id re-sent with DIFFERENT
    text is an update, which the store does not define — cancelling the
    tombstone would resurrect the old-content row next to the new append
    (two live rows per id). The ingest fails loud instead."""
    store = CorpusStore(spark, str(tmp_path / "c"), n_buckets=4)
    store.ingest_batch(_docs(spark))
    store.delete_docs([0])
    mutated = _docs(spark).filter(F.col("doc_id") == 0).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" MUTATED")).alias("text"),
        "lang",
        "source",
    )
    with pytest.raises(ValueError, match="content-immutable"):
        store.ingest_batch(mutated)
    # the store is untouched: tombstone still live, id still hidden
    assert PS.has_tombstones(spark, store.docs_root)
    assert 0 not in _ids(store)


def test_vector_mutated_resend_of_tombstoned_id_fails_loud(
    spark, tmp_path, index
):
    """The corpus guard's vector twin at the index's own identity: a
    tombstoned id re-sent with an embedding that quantizes to a different
    (cell, codes) fails loud instead of resurrecting or silently dropping
    content."""
    path, emb = index
    m = VectorIndexMaintainer(spark, path)
    m.delete_vectors([0, 1])  # both dead: vec 1's qkey leaves the live set
    mutated = emb.filter(F.col("vec_id") == 1).select(
        F.lit(0).cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    with pytest.raises(ValueError, match="content-immutable"):
        m.ingest_batch(mutated)
    assert PS.has_tombstones(spark, f"{path}/cells")


def test_corpus_update_allowed_once_dead_row_is_folded(spark, tmp_path):
    """Once compaction folds the dead row away (here simulated with the
    fold run directly, i.e. a crash before GC), a changed-content re-send
    degenerates to an insert: accepted, tombstone cancelled, exactly one
    live row with the NEW content."""
    store = CorpusStore(spark, str(tmp_path / "c"), n_buckets=4)
    store.ingest_batch(_docs(spark).filter(F.col("doc_id") % 2 == 0))
    store.ingest_batch(_docs(spark).filter(F.col("doc_id") % 2 == 1))
    store.delete_docs([0])
    tombs = PS.read_tombstones(spark, store.docs_root, None)
    PS.tiered_compact_partitions(
        spark, store.docs_root, "bucket", 1,
        drop=tombs.select("doc_id"), drop_key="doc_id",
    )  # fold WITHOUT the GC maybe_compact would run
    assert PS.has_tombstones(spark, store.docs_root)
    mutated = _docs(spark).filter(F.col("doc_id") == 0).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" MUTATED")).alias("text"),
        "lang",
        "source",
    )
    s = store.ingest_batch(mutated)
    assert s.n_accepted == 1 and s.n_resurrected == 1
    assert not PS.has_tombstones(spark, store.docs_root)
    rows = store.read().filter(F.col("doc_id") == 0).collect()
    assert len(rows) == 1 and rows[0].text.endswith(" MUTATED")


def test_tombstone_swap_window_never_hides_deletes(spark, tmp_path):
    """r15 ADVICE (medium): rewrite_tombstones renames the live set away
    (A) before the new set lands (B). A cross-session reader probing
    inside that window must still see the deletes via the parked
    ``_gone`` set — concluding 'delete-free' there drops the anti-join
    and surfaces deleted rows, breaking the probes-never-return-deleted
    contract. Over-filtering (a resurrection transiently invisible) is
    the safe direction; recovery converges either way."""
    import shutil

    store = CorpusStore(spark, str(tmp_path / "c"), n_buckets=4)
    store.ingest_batch(_docs(spark))
    assert store.delete_docs([0, 1]) == 2

    # simulate the mid-swap instant: rename (A) done, (B) not yet
    td = PS.tombs_dir(store.docs_root)
    shutil.move(td, f"{td}_gone")
    assert PS.has_tombstones(spark, store.docs_root)
    assert {0, 1}.isdisjoint(_ids(store))  # reader still anti-joins

    # crashed-after-(B) state: live holds the new set, _gone the old —
    # the union over-filters (safe) and never errors
    shutil.copytree(f"{td}_gone", td)
    assert {0, 1}.isdisjoint(_ids(store))

    # writer-side recovery adjudicates; deletes still in force after
    PS.recover_tombstone_rewrite(spark, store.docs_root)
    assert not glob.glob(f"{td}_gone")
    assert {0, 1}.isdisjoint(_ids(store))

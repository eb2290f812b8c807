"""Compaction lifecycle of the persisted IVF-PQ index (r11 verdict #1/#2).

Micro-batch appends accrete small part-files inside the ``gen=0`` level
of each cell; ``VectorIndexMaintainer.maybe_compact`` merges every
over-threshold (cell, gen) level into one file in ``gen+1`` through the
generational swap of operators/partstore.py (stage with a ``_SUCCESS``
witness -> park the level under ``cells_old`` -> rename the merged file
into live ``gen+1`` -> drop the parked level), and
``recover_tiered_compaction`` finishes or rolls back any interrupted swap.
These tests pin:

- content preservation + per-level file bound on a genuinely fragmented
  index,
- probe results bit-identical pre/post compaction,
- every crash state of the swap recovered without loss,
- a FAILED (false-returning) Hadoop rename aborts loudly with zero data
  loss instead of deleting the only copy (r11 ADVICE, high),
- a parked entry the generational compactor did not write (a whole-cell
  swap's parked files) makes recovery fail loud instead of dropping it,
- readers fail loud (not silently row-less) on a crashed swap,
- the streaming maintainer actually invokes compaction between triggers.
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from real_time_flight_data_pipeline_spark.operators import partstore as PS
from real_time_flight_data_pipeline_spark.operators.ann_index import (
    add_to_ivfpq_index,
    build_ivfpq_index,
    cell_file_counts,
    encode_batch,
    probe_ivfpq_index,
)
from real_time_flight_data_pipeline_spark.sources.parquet import load_table
from real_time_flight_data_pipeline_spark.streaming.vector_index import (
    VectorIndexMaintainer,
    run_file_replay_vectors,
)

from .conftest import SF_CORRECT

N_APPENDS = 6  # single-row appends into ONE cell -> that many part-files


@pytest.fixture(scope="module")
def frag_base(spark, tmp_path_factory):
    """Built once per module: an index plus N single-row appends all
    landing in the SAME coarse cell (the most-populated held-out cell),
    so that cell's part-file count exceeds any small threshold. Tests
    copy the directory instead of rebuilding."""
    root = tmp_path_factory.mktemp("compaction")
    emb = load_table(spark, SF_CORRECT, "embeddings")
    hist_dir = str(root / "hist")
    emb.filter(F.col("vec_id") % 10 != 9).write.parquet(
        f"{hist_dir}/embeddings.parquet"
    )
    path = str(root / "index")
    build_ivfpq_index(spark, hist_dir, path)

    held = emb.filter(F.col("vec_id") % 10 == 9).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    enc = encode_batch(spark, path, held).localCheckpoint(eager=True)
    hot_cell, hot_ids = None, []
    for r in (
        enc.groupBy("cell")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("ids"))
        .orderBy(F.size("ids").desc(), "cell")
        .collect()
    ):
        if len(r.ids) >= 2 * N_APPENDS:
            hot_cell, hot_ids = int(r.cell), [int(i) for i in r.ids]
            break
    assert hot_cell is not None, "need a cell with enough held-out rows"
    for vid in hot_ids[:N_APPENDS]:
        add_to_ivfpq_index(
            spark, path, held.filter(F.col("vec_id") == vid)
        )
    # a query vector whose nearest cell IS the fragmented cell:
    qvec = list(
        held.filter(F.col("vec_id") == hot_ids[0]).head().embedding
    )
    # rows of the hot cell NOT yet appended — fuel for the streaming test
    spare_ids = hot_ids[N_APPENDS : 2 * N_APPENDS]
    return path, hot_cell, qvec, spare_ids


@pytest.fixture()
def frag_index(frag_base, tmp_path):
    """A private copy of the fragmented index for destructive tests."""
    base_path, hot_cell, qvec, spare_ids = frag_base
    path = str(tmp_path / "index")
    shutil.copytree(base_path, path)
    return path, hot_cell, qvec, spare_ids


def _content(spark, path):
    return sorted(
        (r.vec_id, int(r.cell), tuple(r.codes))
        for r in spark.read.parquet(f"{path}/cells").collect()
    )


def _probe(spark, path, qvec):
    return sorted(
        tuple(r) for r in probe_ivfpq_index(spark, path, qvec).collect()
    )


def _compact(spark, path, max_files):
    return VectorIndexMaintainer(spark, path).maybe_compact(
        max_files_per_cell=max_files
    )


def _recover(spark, path):
    PS.recover_tiered_compaction(spark, f"{path}/cells", "cell")


def test_compaction_preserves_content_and_bounds_files(spark, frag_index):
    path, hot_cell, qvec, _ = frag_index
    before_counts = cell_file_counts(spark, path)
    assert before_counts[hot_cell] > N_APPENDS  # genuinely fragmented
    before = _content(spark, path)
    probe_before = _probe(spark, path, qvec)

    merged = _compact(spark, path, 3)
    assert (hot_cell, 0) in merged
    merged_cells = {c for c, _ in merged}
    after_counts = cell_file_counts(spark, path)
    assert after_counts[hot_cell] == 1  # one merged file in gen=1
    levels = PS.gen_file_counts(spark, f"{path}/cells", "cell")
    assert max(levels.values()) <= 3
    # untouched cells keep their exact file sets
    for c, n in before_counts.items():
        if c not in merged_cells:
            assert after_counts[c] == n
    assert _content(spark, path) == before  # bit-identical rows
    assert _probe(spark, path, qvec) == probe_before  # bit-identical probe
    assert not glob.glob(f"{path}/cells_old")
    assert not glob.glob(f"{path}/cells_staged")
    # idempotent: an immediate re-run finds nothing over threshold
    assert _compact(spark, path, 3) == []


def _crash_state(spark, path, cell, *, staged=False, parked=False):
    """Materialize a mid-swap crash state of the ``cell``'s gen=0 -> gen=1
    merge by doing what the protocol would have done so far: ``staged``
    writes the complete merged copy (Spark's own ``_SUCCESS`` witness
    included), ``parked`` moves the live level under ``cells_old``."""
    level = f"cell={cell}/gen=0"
    if staged:
        spark.read.parquet(f"{path}/cells/{level}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{path}/cells_staged/cell={cell}/gen=1")
    if parked:
        os.makedirs(f"{path}/cells_old/cell={cell}", exist_ok=True)
        os.rename(f"{path}/cells/{level}", f"{path}/cells_old/{level}")


def test_recover_orphan_staging_only(spark, frag_index):
    """Crash AFTER staging, before the level is parked: live untouched,
    orphan cells_staged dropped."""
    path, hot_cell, qvec, _ = frag_index
    before = _content(spark, path)
    _crash_state(spark, path, hot_cell, staged=True)
    _recover(spark, path)
    assert _content(spark, path) == before
    assert not glob.glob(f"{path}/cells_staged")


def test_recover_between_renames(spark, frag_index):
    """Crash after parking the level, before the merged file moved in:
    live level missing, parked + complete staged copy present. Recovery
    finishes the move into gen=1 and drops the parked level."""
    path, hot_cell, qvec, _ = frag_index
    before = _content(spark, path)
    _crash_state(spark, path, hot_cell, staged=True, parked=True)
    _recover(spark, path)
    assert _content(spark, path) == before
    assert glob.glob(f"{path}/cells/cell={hot_cell}/gen=1/*.parquet")
    assert not glob.glob(f"{path}/cells_old")
    assert not glob.glob(f"{path}/cells_staged")
    assert _probe(spark, path, qvec)  # probe healthy again


def test_recover_after_swap_before_cleanup(spark, frag_index):
    """Crash after the merged file moved into gen=1, before the parked
    level was dropped: the rows are live once (in gen=1) and parked once;
    recovery drops the parked copy and never re-adds it."""
    path, hot_cell, qvec, _ = frag_index
    before = _content(spark, path)
    _crash_state(spark, path, hot_cell, staged=True, parked=True)
    staged = f"{path}/cells_staged/cell={hot_cell}/gen=1"
    os.makedirs(f"{path}/cells/cell={hot_cell}/gen=1")
    for f in glob.glob(f"{staged}/*.parquet"):
        os.rename(f, f"{path}/cells/cell={hot_cell}/gen=1/{os.path.basename(f)}")
    _recover(spark, path)
    assert _content(spark, path) == before
    assert not glob.glob(f"{path}/cells_old")


def test_recover_rollback_old_only(spark, frag_index):
    """Level parked without a complete staged copy (no ``_SUCCESS``):
    recovery rolls the parked files back into live gen=0 — content is
    never lost."""
    path, hot_cell, qvec, _ = frag_index
    before = _content(spark, path)
    _crash_state(spark, path, hot_cell, parked=True)
    _recover(spark, path)
    assert _content(spark, path) == before
    assert glob.glob(f"{path}/cells/cell={hot_cell}/gen=0/*.parquet")
    assert not glob.glob(f"{path}/cells_old")


def test_recovery_refuses_flat_parked_marker(spark, frag_index):
    """The crash shape of the older whole-cell swap: the cell dir itself
    parked with its files directly under ``cells_old/cell=N/``, live
    ``cell=N`` missing. Those parked files are the only copy of the cell;
    the generational recovery must refuse (fail loud, touch nothing)
    rather than drop them with the marker — and so must the writer's
    self-heal at ingest."""
    path, hot_cell, _, spare_ids = frag_index
    parked = f"{path}/cells_old/cell={hot_cell}"
    os.makedirs(parked)
    for f in glob.glob(f"{path}/cells/cell={hot_cell}/gen=*/*.parquet"):
        os.rename(f, f"{parked}/{os.path.basename(f)}")
    shutil.rmtree(f"{path}/cells/cell={hot_cell}")
    files = sorted(os.listdir(parked))
    assert any(f.endswith(".parquet") for f in files)

    with pytest.raises(ValueError, match="not a gen= level"):
        _recover(spark, path)
    assert sorted(os.listdir(parked)) == files  # nothing moved or dropped
    emb = load_table(spark, SF_CORRECT, "embeddings")
    batch = emb.filter(F.col("vec_id") == spare_ids[0]).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    with pytest.raises(ValueError, match="not a gen= level"):
        VectorIndexMaintainer(spark, path).ingest_batch(batch)
    assert sorted(os.listdir(parked)) == files


class _FailingRenameFS:
    """Wraps the real Hadoop FileSystem; ``rename`` returns False (the
    Hadoop failure mode — no exception) when the destination matches."""

    def __init__(self, real, fail_dst_substr: str):
        object.__setattr__(self, "_real", real)
        object.__setattr__(self, "_fail", fail_dst_substr)
        object.__setattr__(self, "n_failed", 0)

    def rename(self, src, dst):
        if self._fail in dst.toString():
            object.__setattr__(self, "n_failed", self.n_failed + 1)
            return False
        return self._real.rename(src, dst)

    def __getattr__(self, name):
        return getattr(self._real, name)


def _compact_with_failing_rename(spark, path, monkeypatch, fail_dst):
    """Run a threshold-3 compaction whose renames to a destination
    containing ``fail_dst`` return False; the swap must abort with
    OSError. The injection seam is partstore's module-level _fs factory,
    which every swap rename goes through."""
    real_fs = PS._fs
    failing: list[_FailingRenameFS] = []

    def flaky_fs(spark_, p):
        fs, jvm = real_fs(spark_, p)
        failing.append(_FailingRenameFS(fs, fail_dst))
        return failing[-1], jvm

    monkeypatch.setattr(PS, "_fs", flaky_fs)
    try:
        with pytest.raises(OSError, match="rename failed"):
            _compact(spark, path, 3)
    finally:
        monkeypatch.setattr(PS, "_fs", real_fs)
    assert sum(f.n_failed for f in failing) == 1


def test_failed_rename_aborts_without_data_loss(
    spark, frag_index, monkeypatch
):
    """r11 ADVICE (high), generational swap: the rename that PARKS the
    source level returns False. The swap must fail loud with the live
    level untouched, and a following recovery on a healthy FS restores
    the exact content (dropping the complete-but-unused staged copy)."""
    path, hot_cell, qvec, _ = frag_index
    before = _content(spark, path)
    _compact_with_failing_rename(
        spark, path, monkeypatch, f"/cells_old/cell={hot_cell}/gen=0"
    )
    assert glob.glob(f"{path}/cells/cell={hot_cell}/gen=0/*.parquet")
    assert glob.glob(f"{path}/cells_staged/cell={hot_cell}/gen=1/_SUCCESS")
    _recover(spark, path)
    assert _content(spark, path) == before
    assert not glob.glob(f"{path}/cells_old")
    assert not glob.glob(f"{path}/cells_staged")


def test_failed_merged_move_aborts_without_data_loss(
    spark, frag_index, monkeypatch
):
    """The rename that moves the merged file into live gen=1 returns
    False AFTER the source level was parked — the point where an
    unchecked rename followed by the parked level's delete would destroy
    the only copy. The swap must fail loud with the level still parked,
    and recovery on a healthy FS finishes the merge with the exact
    content."""
    path, hot_cell, qvec, _ = frag_index
    before = _content(spark, path)
    probe_before = _probe(spark, path, qvec)
    _compact_with_failing_rename(
        spark, path, monkeypatch, f"/cells/cell={hot_cell}/gen=1/"
    )
    assert glob.glob(f"{path}/cells_old/cell={hot_cell}/gen=0/*.parquet")
    assert glob.glob(f"{path}/cells_staged/cell={hot_cell}/gen=1/*.parquet")
    _recover(spark, path)
    assert _content(spark, path) == before
    assert glob.glob(f"{path}/cells/cell={hot_cell}/gen=1/*.parquet")
    assert not glob.glob(f"{path}/cells_old")
    assert not glob.glob(f"{path}/cells_staged")
    assert _probe(spark, path, qvec) == probe_before


def test_reader_fails_loud_on_crashed_swap(spark, frag_index, monkeypatch):
    """r11 verdict #2: a probe that would silently miss a parked gen level
    must instead wait, then raise if the swap never completes (crashed
    compactor). After recovery the same probe returns the same rows as
    before the crash. A crashed swap of ANY cell blocks every reader —
    the marker, not a per-cell probe, is the guard."""
    # readers' default wait budget is ~10 s; a short one keeps this fast
    monkeypatch.setattr(PS.await_no_swap_marker, "__defaults__", (2, 0.05))
    path, hot_cell, qvec, _ = frag_index
    probe_before = _probe(spark, path, qvec)
    _crash_state(spark, path, hot_cell, staged=True, parked=True)
    with pytest.raises(RuntimeError, match="persists"):
        probe_ivfpq_index(spark, path, qvec).collect()
    # the maintainer's pruned dedup scan takes the same guard
    m = VectorIndexMaintainer(spark, path)
    emb = load_table(spark, SF_CORRECT, "embeddings")
    batch = emb.filter(F.col("vec_id") == 9).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    enc = encode_batch(spark, path, batch).localCheckpoint(eager=True)
    with pytest.raises(RuntimeError, match="persists"):
        m._pruned_existing(enc)
    _recover(spark, path)
    assert _probe(spark, path, qvec) == probe_before
    # a crashed swap of some OTHER cell blocks the hot cell's readers too
    other = next(
        int(p.rsplit("=", 1)[1])
        for p in sorted(glob.glob(f"{path}/cells/cell=*"))
        if int(p.rsplit("=", 1)[1]) != hot_cell
        and glob.glob(f"{p}/gen=0")
    )
    _crash_state(spark, path, other, parked=True)
    with pytest.raises(RuntimeError, match="persists"):
        probe_ivfpq_index(spark, path, qvec)
    _recover(spark, path)
    assert _probe(spark, path, qvec) == probe_before


def test_streaming_maintainer_compacts_between_triggers(spark, frag_index):
    """r11 verdict #2 wiring: run_file_replay_vectors calls maybe_compact
    after each micro-batch append, so every (cell, gen) level of the
    fragmented hot cell is bounded by the threshold while every accepted
    row survives (acceptance simulated exactly from the same quantization
    the maintainer uses)."""
    import time

    path, hot_cell, qvec, spare_ids = frag_index
    assert cell_file_counts(spark, path)[hot_cell] > 3
    emb = load_table(spark, SF_CORRECT, "embeddings")
    spares = emb.filter(F.col("vec_id").isin(spare_ids)).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # exact acceptance simulation (ids are fresh; PQ-key collisions with
    # history or an earlier batch are legitimate rejections)
    key_of = {
        r.vec_id: (int(r.cell), tuple(r.codes))
        for r in encode_batch(spark, path, spares).collect()
    }
    keys = {
        (int(r.cell), tuple(r.codes))
        for r in spark.read.parquet(f"{path}/cells").collect()
    }
    expected = set()
    for vid in sorted(spare_ids):  # one row per micro-batch, in id order
        k = key_of[vid]
        if k not in keys:
            keys.add(k)
            expected.add(vid)

    before_ids = {
        r.vec_id
        for r in spark.read.parquet(f"{path}/cells").select("vec_id").collect()
    }
    spool = f"{path}_spool"
    for vid in sorted(spare_ids):
        spares.filter(F.col("vec_id") == vid).coalesce(1).write.mode(
            "append"
        ).parquet(spool)
        time.sleep(1.05)  # pin timestamp-ordered batch processing
    m = VectorIndexMaintainer(spark, path)
    run_file_replay_vectors(
        spark, spool, m, f"{path}_ckpt", compact_max_files=3
    )
    after = spark.read.parquet(f"{path}/cells")
    assert {
        r.vec_id for r in after.select("vec_id").collect()
    } == before_ids | expected
    assert after.count() == len(before_ids) + len(expected)
    # compaction ran between triggers: no level of any cell is left past
    # the threshold (the hot cell's gen=0 merged at the first trigger)
    levels = PS.gen_file_counts(spark, f"{path}/cells", "cell")
    assert max(levels.values()) <= 3
    assert any(c == hot_cell and g >= 1 for c, g in levels)
    assert not glob.glob(f"{path}/cells_old")
    assert not glob.glob(f"{path}/cells_staged")


def test_strict_guard_catches_cross_batch_id_mutation(spark, frag_index):
    """r11 ADVICE (medium): a re-sent vec_id whose embedding mutated into
    a DIFFERENT coarse cell escapes a cell-pruned replay guard (the
    documented content-immutability contract); below the id-scan budget
    the maintainer runs the id guard against the unpruned id projection
    and rejects it."""
    path, _, _, _ = frag_index
    emb = load_table(spark, SF_CORRECT, "embeddings")

    def one(vid):
        return emb.filter(F.col("vec_id") == vid).select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )

    va = one(9)
    first = va.select(F.lit(8_000_000).alias("vec_id"), "embedding")
    ca = int(encode_batch(spark, path, first).head().cell)
    # find a corpus vector that encodes into a DIFFERENT coarse cell
    probe = emb.limit(50).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    other = next(
        r.vec_id
        for r in encode_batch(spark, path, probe).collect()
        if int(r.cell) != ca
    )
    mutated = one(other).select(F.lit(8_000_000).alias("vec_id"), "embedding")

    strict = VectorIndexMaintainer(spark, path)
    s1 = strict.ingest_batch(first)
    assert s1.n_added == 1 and s1.id_guard_mode == "strict"
    s2 = strict.ingest_batch(mutated)  # same id, different cell
    assert s2.id_guard_mode == "strict"
    assert s2.n_replayed == 1 and s2.n_added == 0
    dup_rows = (
        spark.read.parquet(f"{path}/cells")
        .filter(F.col("vec_id") == 8_000_000)
        .count()
    )
    assert dup_rows == 1  # invariant held even under contract violation


# ---------------------------------------------------------------------------
# Id-guard mode from the index-size budget (r12 verdict #5) + swap-marker
# guards on the strict full-index id scan (r12 ADVICE, medium).
# ---------------------------------------------------------------------------
def test_auto_default_is_strict_below_budget(spark, frag_index):
    """The maintainer resolves the id guard to strict while the cells
    layout is under the byte budget — the cross-batch id-mutation hole is
    closed at small/medium index sizes — and records the mode in the
    batch stats."""
    path, _, _, spare_ids = frag_index
    emb = load_table(spark, SF_CORRECT, "embeddings")
    m = VectorIndexMaintainer(spark, path)
    assert 0 < m._cells_bytes() <= 1 << 30
    batch = emb.filter(F.col("vec_id") == spare_ids[0]).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    stats = m.ingest_batch(batch)
    assert stats.id_guard_mode == "strict"
    assert stats.n_added == 1


def test_auto_switches_to_pruned_over_budget(spark, frag_index, monkeypatch):
    """Above the id-scan budget, auto falls back to the cell-pruned guard
    (and says so in the stats): the strict scan's cost is bounded by
    design, never paid unboundedly on a huge index."""
    from real_time_flight_data_pipeline_spark.streaming import vector_index

    path, _, _, spare_ids = frag_index
    monkeypatch.setattr(vector_index, "_STRICT_ID_SCAN_MAX_BYTES", 0)
    emb = load_table(spark, SF_CORRECT, "embeddings")
    m = VectorIndexMaintainer(spark, path)
    batch = emb.filter(F.col("vec_id") == spare_ids[0]).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    stats = m.ingest_batch(batch)
    assert stats.id_guard_mode == "pruned"
    assert stats.n_added == 1


def test_crashed_swap_heals_at_ingest_and_strict_scan_sees_all_ids(
    spark, frag_index
):
    """A crashed compaction swap that parked a NON-batch cell's gen level
    in cells_old would silently hide that cell's ids from the strict
    full-index scan (r12 ADVICE, medium). The maintainer is the store's
    single writer, so ingest HEALS the crash first (without this the
    streaming loop wedges: every replayed batch would fail before
    maybe_compact's recovery runs), and the strict scan then sees the
    recovered cell's ids — a replayed id from the previously-parked cell
    is classified replayed, never re-appended. Readers (probes) still
    fail loud on the same state — pinned by
    test_reader_fails_loud_on_crashed_swap."""
    path, hot_cell, _, spare_ids = frag_index
    emb = load_table(spark, SF_CORRECT, "embeddings")
    before = _content(spark, path)
    batch = emb.filter(F.col("vec_id") == spare_ids[0]).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # park a gen level of a cell OTHER than the batch's target cell,
    # simulating a compactor crash after the park rename
    enc_cell = int(encode_batch(spark, path, batch).head().cell)
    victim = next(
        c for c in cell_file_counts(spark, path) if c != enc_cell
    )
    _crash_state(spark, path, victim, parked=True)
    strict = VectorIndexMaintainer(spark, path)
    stats = strict.ingest_batch(batch)
    assert stats.n_added == 1 and stats.id_guard_mode == "strict"
    assert not glob.glob(f"{path}/cells_old")  # healed, not bypassed
    # recovered content intact + exactly the one new row
    after = _content(spark, path)
    assert len(after) == len(before) + 1
    assert set(before) <= set(after)
    # a replay of an id that lived in the PARKED cell adds nothing: the
    # strict scan sees the recovered cell (the r12 ADVICE violation case)
    victim_id = next(v for v, c, _ in before if c == victim)
    replay = emb.filter(F.col("vec_id") == victim_id).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    s2 = strict.ingest_batch(replay)
    assert s2.n_replayed == 1 and s2.n_added == 0


def test_partstore_guard_helpers(spark, tmp_path):
    """has_swap_marker / verify_stable_after / assert_no_swap_marker agree
    on the marker state and fail loud only when it exists."""
    root = str(tmp_path / "store")
    os.makedirs(root)
    assert PS.has_swap_marker(spark, root) is False
    PS.verify_stable_after(spark, root)          # no marker: passes
    PS.assert_no_swap_marker(spark, root)        # no marker: passes
    os.makedirs(f"{root}_old")
    assert PS.has_swap_marker(spark, root) is True
    with pytest.raises(RuntimeError, match="swap marker"):
        PS.verify_stable_after(spark, root)
    with pytest.raises(RuntimeError, match="swap marker"):
        PS.assert_no_swap_marker(spark, root)


def test_marker_guard_conservative_on_ambiguous(spark, tmp_path):
    """Readers never guess which state a swap marker is in: whatever is
    parked under it — a gen level, nothing yet (the window between the
    marker's mkdirs and the first park rename), or files the generational
    compactor did not write — the guard waits the marker out and fails
    loud if it persists. A marker that clears within the budget (an
    in-flight swap completing) lets the read through, and the writer's
    recovery drops a parked-nothing marker."""
    import threading

    path = str(tmp_path / "idx")
    root = f"{path}/cells"
    os.makedirs(f"{root}/cell=0/gen=0")

    def guard():
        PS.await_no_swap_marker(spark, root, retries=2, wait_sec=0.05)

    os.makedirs(f"{root}_old")  # marker present, nothing parked
    with pytest.raises(RuntimeError, match="persists"):
        guard()
    # an in-flight swap that completes within the budget passes
    done = threading.Timer(0.3, shutil.rmtree, args=(f"{root}_old",))
    done.start()
    PS.await_no_swap_marker(spark, root, retries=100, wait_sec=0.05)
    done.join(timeout=10)
    assert not done.is_alive()
    # parked gen level, or parked files of a whole-cell swap: both loud
    os.makedirs(f"{root}_old/cell=0/gen=2")
    with pytest.raises(RuntimeError, match="persists"):
        guard()
    shutil.rmtree(f"{root}_old/cell=0")
    os.makedirs(f"{root}_old/cell=1")
    with open(f"{root}_old/cell=1/part-000.parquet", "w") as f:
        f.write("x")
    with pytest.raises(RuntimeError, match="persists"):
        guard()
    shutil.rmtree(f"{root}_old/cell=1")
    # the writer's recovery drops an empty marker; readers pass again
    PS.recover_tiered_compaction(spark, root, "cell")
    assert not glob.glob(f"{root}_old")
    guard()

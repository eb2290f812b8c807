"""Streaming maintenance of the persisted IVF-PQ index: a real
availableNow file-replay stream drains vector batches through
VectorIndexMaintainer, which (1) skips ids already indexed (replay /
re-send idempotency, no ledger — the T3 idempotent-by-key contract),
(2) rejects arrivals PQ-identical to an indexed or lower-id in-batch
vector (the quantization IS the dedup identity; no raw-vector history
needed), and (3) appends survivors into their cell partitions where
probes immediately see them.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from real_time_flight_data_pipeline_spark.operators.ann_index import (
    build_ivfpq_index,
    encode_batch,
    probe_ivfpq_index,
)
from real_time_flight_data_pipeline_spark.sources.parquet import load_table
from real_time_flight_data_pipeline_spark.streaming.vector_index import (
    VectorIndexMaintainer,
    run_file_replay_vectors,
)

from .conftest import SF_CORRECT


def _vec(emb_df, vid):
    return list(
        emb_df.filter(F.col("vec_id") == vid)
        .select(F.col("embedding").cast("array<double>").alias("x"))
        .head()
        .x
    )


def test_stream_maintains_index(spark, tmp_path):
    emb = load_table(spark, SF_CORRECT, "embeddings")
    hist_dir = str(tmp_path / "hist")
    emb.filter(F.col("vec_id") % 10 != 9).write.parquet(
        f"{hist_dir}/embeddings.parquet"
    )
    path = str(tmp_path / "index")
    build_ivfpq_index(spark, hist_dir, path)
    hist_ids = {
        r.vec_id
        for r in spark.read.parquet(f"{path}/cells").select("vec_id").collect()
    }

    held = emb.filter(F.col("vec_id") % 10 == 9).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    held_ids = sorted(r.vec_id for r in held.select("vec_id").collect())
    mid = held_ids[len(held_ids) // 2]
    v0 = _vec(emb, 0)          # indexed vector -> PQ-identical arrival
    v9 = _vec(emb, held_ids[0])  # batch vector -> in-batch clone source

    spool = tmp_path / "spool"
    spool.mkdir()
    plant = spark.createDataFrame(
        [
            (5_000_000, v0),          # quantized dup of an INDEXED vector
            (5_000_001, v9),          # in-batch clone of held_ids[0]
            (5_000_002, v9),          # second clone, higher id
        ],
        "vec_id long, embedding array<double>",
    )
    batch_a = held.filter(F.col("vec_id") <= mid).unionByName(plant)
    # batch B re-sends one batch-A id (arrives again in a later trigger).
    batch_b = held.filter(
        (F.col("vec_id") > mid) | (F.col("vec_id") == held_ids[0])
    )
    # Part files go DIRECTLY in the spool (FileStreamSource does not
    # recurse into per-batch subdirectories); the mtime gap pins the
    # source's timestamp-ordered processing to A-then-B, which the
    # simulation below assumes for contested quantization keys.
    batch_a.coalesce(1).write.mode("append").parquet(str(spool))
    time.sleep(1.1)
    batch_b.coalesce(1).write.mode("append").parquet(str(spool))

    # Expected acceptance, simulated from the SAME quantization the
    # maintainer uses (PQ keys live in a small space — 8^M — so some
    # arrivals legitimately collide with history keys; that rejection IS
    # the dedup semantics, so the expectation must model it).
    def _key(r):
        return (r.cell, tuple(r.codes))

    key_of = {
        r.vec_id: _key(r)
        for r in encode_batch(
            spark, path, held.unionByName(plant)
        ).collect()
    }
    existing_keys = {
        _key(r) for r in spark.read.parquet(f"{path}/cells").collect()
    }
    batch_a_ids = [i for i in held_ids if i <= mid] + [
        5_000_000, 5_000_001, 5_000_002
    ]
    batch_b_ids = [i for i in held_ids if i > mid] + [held_ids[0]]
    keys, expected = set(existing_keys), set()
    for b in (batch_a_ids, batch_b_ids):
        claimed = {}
        for i in sorted(set(b) - expected):
            k = key_of[i]
            if k in keys:
                continue
            claimed.setdefault(k, i)
        for k, i in claimed.items():
            keys.add(k)
            expected.add(i)
    assert expected, "simulation must accept something"
    assert 5_000_000 not in expected  # PQ-identical to indexed vec 0
    assert 5_000_001 not in expected and 5_000_002 not in expected

    m = VectorIndexMaintainer(spark, path)
    run_file_replay_vectors(
        spark, str(spool), m, str(tmp_path / "ckpt")
    )

    cells = spark.read.parquet(f"{path}/cells")
    ids = {r.vec_id for r in cells.select("vec_id").collect()}
    assert ids == hist_ids | expected  # exactly the simulated acceptance
    assert cells.count() == len(ids)  # no duplicate rows from the re-send

    # a probe immediately sees a streamed-in vector (when accepted):
    if held_ids[0] in expected:
        top = {
            r.vec_id
            for r in probe_ivfpq_index(spark, path, v9, k=10).collect()
        }
        assert held_ids[0] in top

    # replaying a whole earlier batch is a no-op
    stats = m.ingest_batch(batch_a)
    assert stats.n_added == 0
    assert stats.n_batch == stats.n_replayed + stats.n_quantized_dup
    assert spark.read.parquet(f"{path}/cells").count() == len(hist_ids) + len(
        expected
    )


def test_ingest_stats_partition_batch(spark, tmp_path):
    """Stats classes are disjoint and total to the batch size."""
    emb = load_table(spark, SF_CORRECT, "embeddings")
    hist_dir = str(tmp_path / "hist")
    emb.filter(F.col("vec_id") % 10 != 9).write.parquet(
        f"{hist_dir}/embeddings.parquet"
    )
    path = str(tmp_path / "index")
    build_ivfpq_index(spark, hist_dir, path)
    m = VectorIndexMaintainer(spark, path)

    held = emb.filter(F.col("vec_id") % 10 == 9).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    s1 = m.ingest_batch(held)
    assert s1.n_batch == s1.n_replayed + s1.n_quantized_dup + s1.n_added
    assert s1.n_added > 0 and s1.n_replayed == 0 and s1.n_id_dup == 0
    # empty batch short-circuit (T7)
    s0 = m.ingest_batch(held.limit(0))
    assert s0 == type(s0)(0, 0, 0, 0)


def test_ingest_collapses_in_batch_id_dups(spark, tmp_path):
    """ADVICE r10 (medium): a micro-batch that re-sends the same vec_id —
    even with embeddings far enough apart to quantize differently — must
    admit at most ONE row for that id, deterministically (min embedding),
    or replay idempotency's unique-vec_id invariant breaks permanently."""
    emb = load_table(spark, SF_CORRECT, "embeddings")
    hist_dir = str(tmp_path / "hist")
    emb.filter(F.col("vec_id") % 10 != 9).write.parquet(
        f"{hist_dir}/embeddings.parquet"
    )
    path = str(tmp_path / "index")
    build_ivfpq_index(spark, hist_dir, path)
    m = VectorIndexMaintainer(spark, path)

    held = emb.filter(F.col("vec_id") % 10 == 9).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    va = _vec(emb, 9)
    ids = sorted(r.vec_id for r in held.select("vec_id").collect())
    vb = _vec(emb, ids[-1])  # a different corpus vector: distinct cell or
    # codes with near-certainty, which is exactly the dangerous case
    dup_id = 7_000_000
    batch = spark.createDataFrame(
        [(dup_id, va), (dup_id, vb)],
        "vec_id long, embedding array<double>",
    )
    s = m.ingest_batch(batch)
    assert s.n_id_dup == 1 and s.n_batch == 1
    assert s.n_batch == s.n_replayed + s.n_quantized_dup + s.n_added
    cells = spark.read.parquet(f"{path}/cells")
    got = cells.filter(F.col("vec_id") == dup_id).collect()
    assert len(got) <= 1
    if got:  # the surviving row is the min-embedding representative
        from real_time_flight_data_pipeline_spark.operators.ann_index import (
            probe_cells,
        )

        rep = min([va, vb])
        assert got[0].cell == probe_cells(spark, path, rep, 1)[0]
    # replaying the same dup-bearing batch is a no-op either way
    n_before = spark.read.parquet(f"{path}/cells").count()
    s2 = m.ingest_batch(batch)
    assert s2.n_added == 0
    assert spark.read.parquet(f"{path}/cells").count() == n_before


def test_ingest_dedup_scans_only_batch_cells(spark, tmp_path):
    """r10 verdict #1 done-criterion: the index side of the accept
    anti-joins reads ONLY the encoded batch's cell partitions (plus the
    two tiny codebooks for encoding) — asserted from the executed scan's
    own numFiles metric, not a plan-string promise."""
    import glob

    from .test_ivfpq_index import _scan_metrics

    emb = load_table(spark, SF_CORRECT, "embeddings")
    hist_dir = str(tmp_path / "hist")
    emb.filter(F.col("vec_id") % 10 != 9).write.parquet(
        f"{hist_dir}/embeddings.parquet"
    )
    path = str(tmp_path / "index")
    build_ivfpq_index(spark, hist_dir, path)
    m = VectorIndexMaintainer(spark, path)

    held = emb.filter(F.col("vec_id") % 10 == 9).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    small = held.limit(2)  # 2 vectors -> at most 2 cells
    enc = encode_batch(spark, path, small).localCheckpoint(eager=True)
    existing, batch_cells = m._pruned_existing(enc)
    n_cells_total = len(glob.glob(f"{path}/cells/cell=*"))
    assert 0 < len(batch_cells) <= 2 < n_cells_total

    existing.collect()
    plan = existing._jdf.queryExecution().executedPlan().toString()
    part = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "cell" in part  # static prune, not a post-scan filter

    batch_files = sum(
        len(glob.glob(f"{path}/cells/cell={c}/gen=*/*.parquet"))
        for c in batch_cells
    )
    total_files = len(glob.glob(f"{path}/cells/cell=*/gen=*/*.parquet"))
    assert _scan_metrics(existing, "numFiles") == [batch_files]
    assert batch_files < total_files

    # and the full ingest built on that pruned frame stays correct:
    s = m.ingest_batch(small)
    assert s.n_batch == s.n_replayed + s.n_quantized_dup + s.n_added

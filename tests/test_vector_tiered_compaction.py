"""Vector-tier generational compaction (r13 verdict #7): the index's
cells layout is ``cell=N/gen=G/`` from the build on — appends land in
gen=0, compaction merges one over-threshold level at a time into the
next generation (the corpus store's LSM tiering), every reader (probe,
dedup guards) reads across generations transparently, and an index
written in the older flat cell layout is migrated in place (driver-side
renames, no data rewrite) by the first writer that touches it.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from real_time_flight_data_pipeline_spark.operators.ann_index import (
    add_to_ivfpq_index,
    build_ivfpq_index,
    probe_ivfpq_index,
)
from real_time_flight_data_pipeline_spark.sources.parquet import load_table
from real_time_flight_data_pipeline_spark.streaming.vector_index import (
    VectorIndexMaintainer,
)

from .conftest import SF_SMOKE


def _index(spark, tmp_path, subset=None):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    built = emb.filter(subset) if subset is not None else emb
    src = str(tmp_path / "src")
    built.write.parquet(f"{src}/embeddings.parquet")
    path = str(tmp_path / "index")
    build_ivfpq_index(spark, src, path)
    return path, emb  # the FULL table — held batches draw beyond the build


def _held(emb, lo, hi):
    return emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def _probe0(spark, path, emb):
    q = list(
        emb.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>").alias("x"))
        .head()
        .x
    )
    return {r.vec_id for r in probe_ivfpq_index(spark, path, q, k=5).collect()}


def _flatten(path):
    """Rewrite a freshly built index into the older FLAT cell layout
    (``cells/cell=N/part-*.parquet``, no gen level) by moving files."""
    for gen_dir in glob.glob(f"{path}/cells/cell=*/gen=*"):
        cell_dir = os.path.dirname(gen_dir)
        for f in os.listdir(gen_dir):
            os.rename(f"{gen_dir}/{f}", f"{cell_dir}/{f}")
        os.rmdir(gen_dir)
    assert glob.glob(f"{path}/cells/cell=*/*.parquet")


def _ids(spark, path):
    return {
        r.vec_id
        for r in spark.read.parquet(f"{path}/cells").select("vec_id").collect()
    }


def test_flat_layout_index_migrates_on_first_ingest(spark, tmp_path):
    """An index in the flat cell layout stays a supported input: the
    maintainer's first ingest migrates it to gen=0 before appending, and
    probes return the same rows before and after the migration."""
    path, emb = _index(spark, tmp_path, subset=F.col("vec_id") < 200)
    _flatten(path)
    before = _probe0(spark, path, emb)
    ids = _ids(spark, path)
    m = VectorIndexMaintainer(spark, path)
    s = m.ingest_batch(_held(emb, 0, 50))  # a replay: nothing to add
    assert s.n_added == 0
    assert not glob.glob(f"{path}/cells/cell=*/*.parquet")  # migrated
    assert glob.glob(f"{path}/cells/cell=*/gen=0/*.parquet")
    assert _ids(spark, path) == ids
    assert _probe0(spark, path, emb) == before
    # appends now land in gen=0 and compaction merges levels as usual
    s2 = m.ingest_batch(_held(emb, 200, 230))
    assert s2.n_added > 0
    assert m.maybe_compact(max_files_per_cell=1)
    assert not glob.glob(f"{path}/cells/cell=*/*.parquet")
    assert _probe0(spark, path, emb) == before


def test_flat_layout_index_migrates_on_add(spark, tmp_path):
    """The one-shot add (add_to_ivfpq_index) migrates a flat index too,
    rather than writing gen=0 next to loose files (a mixed-depth tree
    Spark's partition discovery rejects)."""
    path, emb = _index(spark, tmp_path, subset=F.col("vec_id") < 200)
    _flatten(path)
    ids = _ids(spark, path)
    add_to_ivfpq_index(spark, path, _held(emb, 200, 210))
    assert not glob.glob(f"{path}/cells/cell=*/*.parquet")
    assert _ids(spark, path) == ids | set(range(200, 210))


def test_forced_tiered_mode_from_the_start(spark, tmp_path):
    """Generational from the build on: the first compaction merges gen=0
    levels into gen=1 with probes unchanged, and the tombstone fold
    works on the level merges."""
    path, emb = _index(spark, tmp_path, subset=F.col("vec_id") < 200)
    m = VectorIndexMaintainer(spark, path)
    before = _probe0(spark, path, emb)
    m.ingest_batch(_held(emb, 200, 240))
    assert m.maybe_compact(max_files_per_cell=1)
    assert glob.glob(f"{path}/cells/cell=*/gen=1/*.parquet")
    assert _probe0(spark, path, emb) == before
    # tombstone fold works on the tiered layout too
    m.delete_vectors([0])
    assert 0 not in _probe0(spark, path, emb)
    m.ingest_batch(_held(emb, 240, 250))
    m.maybe_compact(max_files_per_cell=1)
    live = spark.read.parquet(f"{path}/cells").select("vec_id")
    assert live.filter(F.col("vec_id") == 0).count() <= 1  # dead or folded


def test_delete_after_crashed_tiered_swap_recovers_without_loss(
    spark, tmp_path
):
    """Recovery from EVERY mutating entry point (r14 self-review): a
    crashed swap parks a gen sub-level while the cell dir stays present;
    delete_vectors must finish or roll back that swap before it scans,
    and keep every row."""
    path, emb = _index(spark, tmp_path, subset=F.col("vec_id") < 200)
    m = VectorIndexMaintainer(spark, path)
    m.ingest_batch(_held(emb, 200, 240))
    assert m.maybe_compact(max_files_per_cell=1)
    before = sorted(
        r.vec_id
        for r in spark.read.parquet(f"{path}/cells").select("vec_id").collect()
    )
    # crash state: one gen level parked under cells_old, live level gone
    gen_dir = sorted(glob.glob(f"{path}/cells/cell=*/gen=*"))[0]
    rel = "/".join(gen_dir.rsplit("/", 2)[1:])
    shutil.copytree(gen_dir, f"{path}/cells_old/{rel}")
    shutil.rmtree(gen_dir)

    assert m.delete_vectors([before[0]]) == 1  # heals first, then deletes
    assert not glob.glob(f"{path}/cells_old")
    live = sorted(
        r.vec_id
        for r in spark.read.parquet(f"{path}/cells").select("vec_id").collect()
    )
    assert live == before  # parked level restored, nothing lost


def test_recovery_protocol_from_parked_entries_not_live_tree(spark, tmp_path):
    """r15 ADVICE (low): a crashed swap can park the ONLY visible gen
    level(s), leaving the live tree gen-free (it then looks like an empty
    or flat index). Recovery is driven by the parked entries alone — the
    ingest's flat-layout migration runs only after it — so every parked
    row is restored."""
    path, emb = _index(spark, tmp_path, subset=F.col("vec_id") < 200)
    m = VectorIndexMaintainer(spark, path)
    m.ingest_batch(_held(emb, 200, 240))
    assert m.maybe_compact(max_files_per_cell=1)
    before = {
        r.vec_id
        for r in spark.read.parquet(f"{path}/cells").select("vec_id").collect()
    }
    # crash state: EVERY gen level parked; the live tree shows no gen=
    for gen_dir in sorted(glob.glob(f"{path}/cells/cell=*/gen=*")):
        rel = "/".join(gen_dir.rsplit("/", 2)[1:])
        os.makedirs(os.path.dirname(f"{path}/cells_old/{rel}"), exist_ok=True)
        shutil.move(gen_dir, f"{path}/cells_old/{rel}")
    assert not glob.glob(f"{path}/cells/cell=*/gen=*")  # live tree gen-free

    s = m.ingest_batch(_held(emb, 240, 250))  # heals first, then ingests
    assert not glob.glob(f"{path}/cells_old")
    live = {
        r.vec_id
        for r in spark.read.parquet(f"{path}/cells").select("vec_id").collect()
    }
    assert before <= live  # every parked row restored, nothing lost
    assert s.n_added + s.n_replayed + s.n_quantized_dup == 10

"""Measure build-once vs probe-many for the persisted IVF-PQ index.

The catalog query embedding_ivfpq_topk pays training on every execution
(so the oracle can verify it); the deployed shape separates the two. This
records both sides at sf0.1: one build (train + encode + cell layout) and
the median of repeated probes against the persisted layout — the number
that shows probe latency is decoupled from training cost (r9 verdict #4).

Run: python scripts/ivfpq_index_bench.py              (sf0.1)
     python scripts/ivfpq_index_bench.py --100x       (the 100x corpus —
         probe latency must stay decoupled as the corpus grows, since a
         probe reads nprobe/K partitions + two codebooks, not the corpus)
     python scripts/ivfpq_index_bench.py --increments [--100x]
         (r11 verdict #1/#3: build from 90% of the corpus, stream the
         held 10% through VectorIndexMaintainer in N_INCR micro-batches,
         and record (a) per-batch ingest wall time — must stay FLAT as
         the index grows, since the accept anti-joins prune to the
         batch's cells — and (b) probe latency after all increments,
         uncompacted vs after the maintainer's maybe_compact, against
         the build-time probe figure.)
Writes/merges ivfpq_index_results.json keyed by tier.
"""

from __future__ import annotations

import json
import pathlib
import statistics
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from real_time_flight_data_pipeline_spark.operators.ann_index import (
    build_ivfpq_index,
    probe_ivfpq_index,
)
from real_time_flight_data_pipeline_spark.plans.catalog import REGISTRY
from real_time_flight_data_pipeline_spark.session import get_spark
from real_time_flight_data_pipeline_spark.sources.parquet import load_table

SF = "/root/testdata/sf0.1"
SF_100X = "/tmp/flightframe_scale/sf100x"
INDEX = "/tmp/flightframe_ivfpq_index"
N_PROBES = 5
N_INCR = 24
OUT = pathlib.Path(__file__).with_name("ivfpq_index_results.json")


def _probe_median(spark, path, qvec, n=N_PROBES) -> tuple[float, list]:
    from real_time_flight_data_pipeline_spark.operators.ann_index import (
        probe_ivfpq_index as probe,
    )

    runs = []
    for _ in range(n):
        t0 = time.perf_counter()
        probe(spark, path, qvec).write.format("noop").mode("overwrite").save()
        runs.append(round(time.perf_counter() - t0, 3))
    return round(statistics.median(runs), 3), runs


def run_increments(spark, sf_dir: str, tier: str) -> dict:
    """Build from 90% of the corpus, ingest the held 10% in N_INCR
    micro-batches, measure flat-ingest and probe-vs-compaction."""
    import shutil

    from real_time_flight_data_pipeline_spark.operators.ann_index import (
        cell_file_counts,
    )
    from real_time_flight_data_pipeline_spark.streaming import (
        vector_index as VI,
    )

    work = "/tmp/flightframe_ivfpq_incr"
    shutil.rmtree(work, ignore_errors=True)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    hist = emb.filter(F.col("vec_id") % 10 != 9)
    hist.write.parquet(f"{work}/hist/embeddings.parquet")
    path = f"{work}/index"
    t0 = time.perf_counter()
    build_ivfpq_index(spark, f"{work}/hist", path)
    build_sec = round(time.perf_counter() - t0, 3)
    qvec = list(emb.filter(F.col("vec_id") == 0).head().embedding)
    probe_build, _ = _probe_median(spark, path, qvec)

    held = emb.filter(F.col("vec_id") % 10 == 9).withColumn(
        "b", F.pmod(F.xxhash64("vec_id"), F.lit(N_INCR))
    )
    held.write.partitionBy("b").parquet(f"{work}/held")
    m = VI.VectorIndexMaintainer(spark, path)
    per_batch, added = [], 0
    for i in range(N_INCR):
        batch = spark.read.parquet(f"{work}/held").filter(
            F.col("b") == i
        ).drop("b")
        t0 = time.perf_counter()
        s = m.ingest_batch(batch)
        per_batch.append(round(time.perf_counter() - t0, 3))
        added += s.n_added
    counts = cell_file_counts(spark, path)
    frag_max, frag_total = max(counts.values()), sum(counts.values())
    # Id-guard trade, measured (r12; budget rule r13): replay the last
    # batch under the budget as shipped, then with the budget forced to
    # the cell-pruned guard and to the strict (unpruned id projection)
    # guard — the pruned/strict delta prices the cross-batch id-mutation
    # protection, and the auto fields record which side the budget
    # resolved to at this index size.
    budget = VI._STRICT_ID_SCAN_MAX_BYTES
    last = spark.read.parquet(f"{work}/held").filter(
        F.col("b") == N_INCR - 1
    ).drop("b")
    t0 = time.perf_counter()
    s_auto = m.ingest_batch(last)
    replay_default_sec = round(time.perf_counter() - t0, 3)
    strict_auto = {
        "strict_auto_mode": s_auto.id_guard_mode,
        "strict_auto_cells_bytes": m._cells_bytes(),
        "strict_auto_budget_bytes": budget,
    }
    try:
        VI._STRICT_ID_SCAN_MAX_BYTES = -1  # every index is over: pruned
        t0 = time.perf_counter()
        assert m.ingest_batch(last).id_guard_mode == "pruned"
        replay_pruned_sec = round(time.perf_counter() - t0, 3)
        VI._STRICT_ID_SCAN_MAX_BYTES = 1 << 62  # every index is under: strict
        t0 = time.perf_counter()
        assert m.ingest_batch(last).id_guard_mode == "strict"
        replay_strict_sec = round(time.perf_counter() - t0, 3)
    finally:
        VI._STRICT_ID_SCAN_MAX_BYTES = budget
    probe_frag, frag_runs = _probe_median(spark, path, qvec)
    t0 = time.perf_counter()
    merged = m.maybe_compact(max_files_per_cell=8)
    n_compacted = len({cell for cell, _ in merged})
    compact_sec = round(time.perf_counter() - t0, 3)
    counts2 = cell_file_counts(spark, path)
    probe_comp, comp_runs = _probe_median(spark, path, qvec)
    half = N_INCR // 2
    result = {
        "tier": tier,
        "n_increments": N_INCR,
        "n_added": added,
        "build_sec": build_sec,
        "probe_after_build_sec": probe_build,
        "ingest_per_batch_sec": per_batch,
        "ingest_first_half_median": round(
            statistics.median(per_batch[:half]), 3
        ),
        "ingest_second_half_median": round(
            statistics.median(per_batch[half:]), 3
        ),
        "replay_default_sec": replay_default_sec,
        "replay_pruned_sec": replay_pruned_sec,
        "replay_strict_sec": replay_strict_sec,
        **strict_auto,
        "files_max_per_cell_frag": frag_max,
        "files_total_frag": frag_total,
        "probe_fragmented_sec": probe_frag,
        "probe_fragmented_runs": frag_runs,
        "n_cells_compacted": n_compacted,
        "compact_sec": compact_sec,
        "files_max_per_cell_after": max(counts2.values()),
        "files_total_after": sum(counts2.values()),
        "probe_compacted_sec": probe_comp,
        "probe_compacted_runs": comp_runs,
        "note": "flat ingest = second-half median ~= first-half median "
        "(accept anti-joins prune to batch cells); compaction returns "
        "probe latency to ~ the build-time figure.",
    }
    banked = json.loads(OUT.read_text()) if OUT.exists() else {}
    banked[f"{tier}_increments"] = result
    OUT.write_text(json.dumps(banked, indent=1))
    print(json.dumps(result))
    return result


def run_tombstones(spark, sf_dir: str, tier: str, wave: bool = False) -> dict:
    """Vector-tier tombstone lifecycle at scale (r13 verdict #3; scripted
    r15 — the r14 row was produced ad hoc): delete cost, probe overhead
    while tombstones are live (with the probes-never-return-deleted
    assertion), fold at compaction, GC, and the re-ingest of folded
    deletes. ``wave`` (r15 verdict #4 mirror of the corpus row): 5% of
    the index deleted at once, the victim set passed as a DataFrame."""
    import shutil

    from real_time_flight_data_pipeline_spark.operators import (
        partstore as PS,
    )
    from real_time_flight_data_pipeline_spark.streaming.vector_index import (
        VectorIndexMaintainer,
    )

    work = "/tmp/flightframe_ivfpq_tombs"
    shutil.rmtree(work, ignore_errors=True)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # Build from half, maintainer-append the other half: every cell then
    # carries >= 2 part-files, so a threshold-1 compaction deterministically
    # rewrites (and folds) every cell.
    hist = emb.filter(F.col("vec_id") % 2 == 0)
    hist.write.parquet(f"{work}/hist/embeddings.parquet")
    path = f"{work}/index"
    build_ivfpq_index(spark, f"{work}/hist", path)
    m = VectorIndexMaintainer(spark, path)
    m.ingest_batch(emb.filter(F.col("vec_id") % 2 == 1))
    qvec = list(emb.filter(F.col("vec_id") == 0).head().embedding)
    probe_clean, _ = _probe_median(spark, path, qvec)

    live = spark.read.parquet(f"{path}/cells").select("vec_id")
    n_total = live.count()
    victims_df = (
        live.limit(int(n_total * 0.05) if wave else 1000)
        .localCheckpoint(eager=True)
    )
    # wave passes the DataFrame (compliance-scale path); rare-path passes
    # a driver list — both delete_vectors input forms stay exercised.
    victims = (
        victims_df
        if wave
        else [int(r.vec_id) for r in victims_df.collect()]
    )
    t0 = time.perf_counter()
    n_tombed = m.delete_vectors(victims)
    delete_sec = round(time.perf_counter() - t0, 3)
    probe_tombed, _ = _probe_median(spark, path, qvec)
    # the hard part of the claim: a probe NEVER returns a deleted vector
    leaked = (
        probe_ivfpq_index(spark, path, qvec)
        .join(victims_df, "vec_id", "semi")
        .count()
    )
    assert leaked == 0, f"probe returned {leaked} deleted vectors"

    t0 = time.perf_counter()
    folded = m.maybe_compact(max_files_per_cell=1)
    fold_sec = round(time.perf_counter() - t0, 3)
    gc_cleared = not PS.has_tombstones(spark, f"{path}/cells")
    probe_folded, _ = _probe_median(spark, path, qvec)

    t0 = time.perf_counter()
    s = m.ingest_batch(emb.join(victims_df, "vec_id", "semi"))
    replay_sec = round(time.perf_counter() - t0, 3)
    readded = s.n_added + s.n_resurrected

    result = {
        "tier": tier,
        "n_index": n_total,
        "n_deleted": n_tombed,
        "delete_sec": delete_sec,
        "probe_clean_sec": probe_clean,
        "probe_tombstoned_sec": probe_tombed,
        "n_cells_folded": len({cell for cell, _ in folded}),
        "compact_fold_sec": fold_sec,
        "gc_cleared_tombstones": gc_cleared,
        "probe_after_fold_sec": probe_folded,
        "replay_readded": readded,
        "replay_quantized_dup": s.n_quantized_dup,
        "replay_sec": replay_sec,
        "note": (
            "delete = one column-pruned (vec_id, cell, codes) scan; probe "
            "while tombstones live pays one anti-join (asserted to never "
            "return a deleted vector); fold rides the threshold "
            "compaction; re-ingest of folded deletes is accepted again "
            "(fresh append) or by tombstone cancellation if unfolded — "
            "minus the ones whose (cell, codes) now PQ-collides with a "
            "live vector (replay_quantized_dup): the index is "
            "quantization-resolution by design."
        ),
    }
    merged = json.loads(OUT.read_text()) if OUT.exists() else {}
    merged[f"{tier}_tombstone_wave" if wave else f"{tier}_tombstones"] = result
    OUT.write_text(json.dumps(merged, indent=1))
    print(json.dumps(result))
    return result


def run_batch_probe(spark, sf_dir: str, tier: str) -> dict:
    """Per-query probe cost vs batch size (r11 verdict #7): the batched
    API pays the codebook reads / job scheduling / cell scan ONCE per
    batch, so per-query cost should drop as the batch grows."""
    from real_time_flight_data_pipeline_spark.operators.ann_index import (
        probe_ivfpq_index_batch,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    vecs = {int(r.vec_id): list(r.x) for r in emb.limit(16).collect()}
    build_ivfpq_index(spark, sf_dir, INDEX)
    result = {"tier": tier, "batch_sizes": {}}
    for size in (1, 4, 16):
        sub = dict(list(vecs.items())[:size])
        runs = []
        for _ in range(N_PROBES):
            t0 = time.perf_counter()
            probe_ivfpq_index_batch(spark, INDEX, sub).write.format(
                "noop"
            ).mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
        med = statistics.median(runs)
        result["batch_sizes"][str(size)] = {
            "batch_sec": round(med, 3),
            "per_query_sec": round(med / size, 4),
            "runs": runs,
        }
    result["note"] = (
        "one union-cell scan + one window per batch; per_query_sec "
        "should fall with batch size while results stay bit-identical "
        "to single probes (test_ivfpq_index)."
    )
    merged = json.loads(OUT.read_text()) if OUT.exists() else {}
    merged[f"{tier}_batch_probe"] = result
    OUT.write_text(json.dumps(merged, indent=1))
    print(json.dumps(result))
    return result


def main() -> None:
    tier100 = "--100x" in sys.argv[1:]
    sf_dir, tier = (SF_100X, "sf100x") if tier100 else (SF, "sf0.1")
    spark = get_spark(app_name="flightframe-ivfpq-index-bench")
    if tier100 and not pathlib.Path(f"{sf_dir}/embeddings.parquet").exists():
        sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
        from scale_curve import build_corpus_100x  # noqa: PLC0415

        build_corpus_100x(spark)
    if "--increments" in sys.argv[1:]:
        run_increments(spark, sf_dir, tier)
        return
    if "--batch-probe" in sys.argv[1:]:
        run_batch_probe(spark, sf_dir, tier)
        return
    if "--tombs" in sys.argv[1:]:
        run_tombstones(spark, sf_dir, tier, wave="--wave" in sys.argv[1:])
        return
    qvec = list(
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>").alias("x"))
        .head()
        .x
    )
    # Warmup: classloading/codegen on the catalog twin.
    REGISTRY["embedding_ivfpq_topk"].builder(spark, sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()

    t0 = time.perf_counter()
    build_ivfpq_index(spark, sf_dir, INDEX)
    build_sec = round(time.perf_counter() - t0, 3)

    probes = []
    for _ in range(N_PROBES):
        t0 = time.perf_counter()
        probe_ivfpq_index(spark, INDEX, qvec).write.format("noop").mode(
            "overwrite"
        ).save()
        probes.append(round(time.perf_counter() - t0, 3))

    t0 = time.perf_counter()
    REGISTRY["embedding_ivfpq_topk"].builder(spark, sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()
    inquery_sec = round(time.perf_counter() - t0, 3)

    result = {
        "tier": tier,
        "build_sec": build_sec,
        "probe_median_sec": round(statistics.median(probes), 3),
        "probe_runs": probes,
        "catalog_inquery_sec": inquery_sec,
        "note": "probe pays no training: compare probe_median_sec to "
        "catalog_inquery_sec (train+probe fused) and build_sec "
        "(one-time).",
    }
    merged = json.loads(OUT.read_text()) if OUT.exists() else {}
    if "tier" not in merged and merged:  # legacy flat layout
        merged = {"sf0.1": merged}
    merged[tier] = result
    OUT.write_text(json.dumps(merged, indent=1))
    print(json.dumps(result))


if __name__ == "__main__":
    main()

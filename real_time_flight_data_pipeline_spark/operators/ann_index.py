"""Persisted IVF-PQ index: build once, probe many (r8 verdict ask #4).

The catalog query ``embedding_ivfpq_topk`` trains its coarse and PQ
codebooks in-query so the DuckDB oracle can verify every step bit-for-bit;
a deployed ANN service trains ONCE and serves probes from a persisted
layout. This module is that layout:

    <path>/coarse/   K rows (cid, cv)            — trained coarse codebook
    <path>/pq/       M*K rows (m, c, cs)         — trained PQ codebooks
    <path>/cells/    n rows (vec_id, codes),     — PQ-encoded corpus,
                     cell=<N>/gen=<G>/part-*       partitioned by cell

The cells layout is an operators/partstore append store: the build and
every append write ``gen=0``, and compaction (run by the streaming
maintainer, streaming/vector_index.py) merges one over-threshold
generation of a cell at a time into ``gen+1``. Probes guard the swap
window with ``partstore.await_no_swap_marker``.

A probe reads the two tiny codebook tables plus ONLY the ``n_probe``
probed cell partitions — the literal ``cell IN (...)`` filter is a static
PartitionFilter, so (K - nprobe)/K of the corpus files are never opened —
computes the M*K ADC distance table for the query engine-side, and scores
candidates by code lookup. Raw vectors are never touched at probe time.

Semantics are IDENTICAL to ``embedding_ivfpq_topk`` (same deterministic
training, same fixed-point ADC, same tie-breaks), so a probe's top-k is
bit-identical to the oracle-verified catalog query — pinned in
``tests/test_ivfpq_index.py``. At 100 TB: build is the one heavy pass
(train + encode + one shuffle to lay out by cell); each probe costs two
tiny codebook reads + a scan of ~nprobe/K of the encoded corpus (codes
are M bytes/vector, not dim*8), which is the faiss IVFADC serving shape
re-expressed as parquet + partition pruning.

Reference: Jegou'11 "Product Quantization for Nearest Neighbor Search"
section III (IVFADC); composes the measured catalog ladder
(embedding_kmeans_2iter, embedding_pq_adc_recall_trained).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import vectors as V
from . import partstore as _ps


def build_ivfpq_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """One-time heavy pass: train both codebooks, PQ-encode the corpus,
    and lay it out partitioned by coarse cell."""
    from ..plans.llm_ext import (  # noqa: PLC0415 — avoid import cycle
        _PQ_D2H,
        _cc_side,
        _km_assign,
        _km_load,
        _km_trained_centroids,
        _pq_subs,
        _pq_trained_cents,
    )

    e = _km_load(spark, sf_dir)
    coarse = _km_trained_centroids(e).localCheckpoint(eager=False)
    coarse.write.mode("overwrite").parquet(f"{path}/coarse")
    cells = _km_assign(e, coarse)
    subs = _pq_subs(e)
    _pq_trained_cents(subs).write.mode("overwrite").parquet(f"{path}/pq")
    # Read the codebook BACK for the encode join: the persisted table is
    # the source of truth a later incremental batch will see, and its
    # known file size lets Catalyst size the broadcast from statistics.
    # r16: pair-invariant |xs|^2 (from _pq_subs) / |cs|^2 hoisted out of
    # the encode argmin — same terms, same order, bit-identical codes.
    cents = spark.read.parquet(f"{path}/pq")
    codes = (
        subs.join(F.broadcast(_cc_side(cents)), "m")
        .groupBy("vec_id", "m")
        .agg(
            F.expr(
                f"min_by(c, struct({_PQ_D2H} as d, "
                f"c as c))"
            ).alias("code")
        )
        .groupBy("vec_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(m, code))), "
                "s -> s.code)"
            ).alias("codes")
        )
    )
    write_cells(
        codes.join(cells.withColumnRenamed("cid", "cell"), "vec_id"),
        path,
        "overwrite",
    )


def write_cells(enc: DataFrame, path: str, mode: str = "append") -> None:
    """Write encoded (vec_id, codes, cell) rows into the youngest
    generation of their cells (``cell=N/gen=0/``), the only level writers
    touch. Appending callers migrate a flat-layout index first."""
    (
        enc.withColumn("gen", F.lit(0))
        .write.mode(mode)
        .partitionBy("cell", "gen")
        .parquet(f"{path}/cells")
    )


def encode_batch(
    spark: SparkSession, path: str, new_vectors: DataFrame
) -> DataFrame:
    """Assign + PQ-encode a vector batch with the PERSISTED codebooks —
    no retraining. Returns (vec_id, codes, cell); shared by the one-shot
    add below and the streaming maintainer
    (streaming/vector_index.py)."""
    from ..plans.llm_ext import (  # noqa: PLC0415 — avoid import cycle
        _PQ_D2H,
        _PQ_M,
        _PQ_SUB,
        _cc_side,
    )

    # r16: |x|^2 / |xs|^2 / |cv|^2 / |cs|^2 hoisted out of both argmins
    # (same terms, same order — bit-identical assignment and codes).
    e = (
        new_vectors.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("x")
        )
        .withColumn("_xx", V.dot(F.col("x"), F.col("x")))
        .localCheckpoint(eager=False)
    )
    coarse = spark.read.parquet(f"{path}/coarse").withColumn(
        "_cc", V.dot(F.col("cv"), F.col("cv"))
    )
    d = F.col("_xx") - 2 * V.dot(F.col("x"), F.col("cv")) + F.col("_cc")
    cells = (
        e.join(F.broadcast(coarse))
        .groupBy("vec_id")
        .agg(
            F.min_by(
                "cid", F.struct(d.alias("d"), F.col("cid").alias("c"))
            ).alias("cell")
        )
    )
    subs = (
        e.select(
            "vec_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("m"),
                            F.slice(
                                F.col("x"), m * _PQ_SUB + 1, _PQ_SUB
                            ).alias("xs"),
                        )
                        for m in range(_PQ_M)
                    ]
                )
            ).alias("s"),
        )
        .select("vec_id", "s.m", "s.xs")
        .withColumn("_xx", V.dot(F.col("xs"), F.col("xs")))
    )
    cents = spark.read.parquet(f"{path}/pq")
    codes = (
        subs.join(F.broadcast(_cc_side(cents)), "m")
        .groupBy("vec_id", "m")
        .agg(
            F.expr(
                f"min_by(c, struct({_PQ_D2H} as d, "
                f"c as c))"
            ).alias("code")
        )
        .groupBy("vec_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(m, code))), "
                "s -> s.code)"
            ).alias("codes")
        )
    )
    return codes.join(cells, "vec_id")


def add_to_ivfpq_index(
    spark: SparkSession, path: str, new_vectors: DataFrame
) -> None:
    """Incremental add (faiss add-after-train): assign and PQ-encode a new
    vector batch with the PERSISTED codebooks — no retraining, no touch of
    existing cell files — and append the encoded rows into their cell
    partitions. ``new_vectors`` must carry (vec_id, embedding). Cost is
    O(|batch|) broadcast dots + one |batch|-sized write; the catalog twin
    (embedding_incremental_index) holds the assign-without-retrain
    semantics to the DuckDB oracle, this is the persisted-layout side.
    An index written in the older flat cell layout is migrated to the
    generational one first (idempotent driver-side renames)."""
    _ps.migrate_flat_to_tiered(spark, f"{path}/cells", "cell")
    write_cells(encode_batch(spark, path, new_vectors), path)


def cell_file_counts(spark: SparkSession, path: str) -> dict[int, int]:
    """Parquet part-file count per cell of ``<path>/cells``, summed over
    the cell's generations — the fragmentation MONITORING counter (the
    compactor's own threshold input is the per-level
    ``partstore.gen_file_counts``). Driver-side listing bounded by K
    cells (the coarse codebook size) x live generations."""
    counts: dict[int, int] = {}
    levels = _ps.gen_file_counts(spark, f"{path}/cells", "cell")
    for (cell, _), n in levels.items():
        counts[cell] = counts.get(cell, 0) + n
    return counts


def _live_candidates(spark: SparkSession, path: str, cand: DataFrame) -> DataFrame:
    """Serve-side tombstone guard (r13 verdict #3): a probe must never
    return a deleted vector, including in the window between the delete's
    tombstone append and the compaction that physically folds the row.
    The anti-join is added only when a tombstone file exists (one
    driver-side check), so delete-free indexes keep their exact
    pre-tombstone probe plans."""
    root = f"{path}/cells"
    if not _ps.has_tombstones(spark, root):
        return cand
    tombs = _ps.read_tombstones(spark, root, "vec_id long, cell int")
    return cand.join(tombs.select("vec_id"), "vec_id", "left_anti")


def _query_lit(vals: Sequence[float]) -> F.Column:
    """Literal array column via one JVM-parsed expression (repr() is the
    shortest IEEE round-trip form, same convention as signature_col)."""
    return F.expr("array(" + ", ".join(f"{float(v)!r}D" for v in vals) + ")")


def probe_cells(
    spark: SparkSession,
    path: str,
    query_vec: Sequence[float],
    n_probe: int | None = None,
) -> list[int]:
    """Coarse routing: the query's ``n_probe`` nearest cell ids. A BOUNDED
    collect (n_probe rows) — the only driver step of a probe; the ids
    become the literal IN that turns the cells read into a static
    partition prune instead of a join."""
    from ..plans.llm_ext import _KM_NPROBE  # noqa: PLC0415 — import cycle

    n_probe = _KM_NPROBE if n_probe is None else n_probe
    qx = _query_lit(query_vec)
    d = (
        V.dot(qx, qx)
        - 2 * V.dot(qx, F.col("cv"))
        + V.dot(F.col("cv"), F.col("cv"))
    )
    return [
        int(r.cid)
        for r in spark.read.parquet(f"{path}/coarse")
        .select("cid", d.alias("d"))
        .orderBy("d", "cid")
        .limit(n_probe)
        .collect()
    ]


def probe_ivfpq_index(
    spark: SparkSession,
    path: str,
    query_vec: Sequence[float],
    k: int = 10,
    n_probe: int | None = None,
) -> DataFrame:
    """Serve one query from the persisted index. No training, no corpus
    shuffle: nprobe cells' files + two codebook reads."""
    from ..plans.llm_ext import (  # noqa: PLC0415 — avoid import cycle
        _PQ_M,
        _PQ_SCALE,
        _PQ_SUB,
    )

    probed = probe_cells(spark, path, query_vec, n_probe)
    # Reader-side compaction guard: never serve a result missing a parked
    # gen level from inside (or after a crash of) a compaction swap.
    _ps.await_no_swap_marker(spark, f"{path}/cells")
    # ADC distance table, M*K rows: same fixed-point pipeline as the
    # catalog query's _pq_centd, with the query sliced engine-side.
    qs = spark.createDataFrame(
        [
            (m, [float(v) for v in query_vec[m * _PQ_SUB : (m + 1) * _PQ_SUB]])
            for m in range(_PQ_M)
        ],
        "m int, qsub array<double>",
    )
    qd = (
        V.dot(F.col("qsub"), F.col("qsub"))
        - 2 * V.dot(F.col("qsub"), F.col("cs"))
        + V.dot(F.col("cs"), F.col("cs"))
    )
    centd = (
        spark.read.parquet(f"{path}/pq")
        .join(F.broadcast(qs), "m")
        .select("m", "c", F.round(qd * _PQ_SCALE).cast("long").alias("qd_fp"))
    )
    cand = _live_candidates(
        spark,
        path,
        spark.read.parquet(f"{path}/cells").filter(
            F.col("cell").isin([int(c) for c in probed])
        ),
    )
    scored = (
        cand.select("vec_id", "cell", F.posexplode("codes").alias("m", "code"))
        .join(F.broadcast(centd), "m")
        .filter(F.col("code") == F.col("c"))
        .groupBy("vec_id")
        .agg(
            F.any_value("cell").alias("cell"),
            F.sum("qd_fp").alias("adc_fp"),
        )
    )
    return (
        scored.orderBy("adc_fp", "vec_id")
        .limit(k)
        .select("vec_id", F.col("cell").cast("long").alias("cell"), "adc_fp")
    )


def probe_ivfpq_index_batch(
    spark: SparkSession,
    path: str,
    query_vecs: dict[int, Sequence[float]],
    k: int = 10,
    n_probe: int | None = None,
) -> DataFrame:
    """Serve MANY queries from the persisted index in ONE pass (r11
    verdict #7): a serving tier never probes one vector per Spark job —
    per-query fixed costs (codebook reads, job scheduling, one scan per
    query) dominate long before the ADC math does. This amortizes them:

    - coarse routing for ALL queries in one job (queries x K distances,
      top ``n_probe`` cells per query via window; the collect is bounded
      by |queries| * n_probe rows),
    - ONE scan of the UNION of probed cells (still a static
      ``cell IN (...)`` PartitionFilter — cells probed by no query are
      never opened),
    - a (qid, cell) membership broadcast restricts each candidate row to
      the queries that actually probed its cell, so the scored work is
      exactly the sum of the single-probe workloads,
    - per-query top-k via a qid-partitioned window with the SAME
      (adc_fp, vec_id) ordering as the single probe — results are
      bit-identical per query (pinned in tests).

    Returns (qid, vec_id, cell, adc_fp), k rows per qid."""
    from ..plans.llm_ext import (  # noqa: PLC0415 — avoid import cycle
        _KM_NPROBE,
        _PQ_M,
        _PQ_SCALE,
        _PQ_SUB,
    )
    from pyspark.sql import Window  # noqa: PLC0415

    n_probe = _KM_NPROBE if n_probe is None else n_probe
    if not query_vecs:
        return spark.createDataFrame(
            [], "qid long, vec_id long, cell long, adc_fp long"
        )
    qdf = spark.createDataFrame(
        [(int(q), [float(v) for v in vec]) for q, vec in query_vecs.items()],
        "qid long, qx array<double>",
    )
    coarse = spark.read.parquet(f"{path}/coarse")
    d = (
        V.dot(F.col("qx"), F.col("qx"))
        - 2 * V.dot(F.col("qx"), F.col("cv"))
        + V.dot(F.col("cv"), F.col("cv"))
    )
    wq = Window.partitionBy("qid").orderBy("d", "cid")
    probed_pairs = [
        (int(r.qid), int(r.cid))
        for r in coarse.join(F.broadcast(qdf))
        .select("qid", "cid", d.alias("d"))
        .withColumn("_rk", F.row_number().over(wq))
        .filter(F.col("_rk") <= n_probe)
        .select("qid", "cid")
        .collect()
    ]
    union_cells = sorted({c for _, c in probed_pairs})
    _ps.await_no_swap_marker(spark, f"{path}/cells")
    # Per-query ADC tables, |queries| * M * K rows, all in one frame.
    qs = qdf.select(
        "qid",
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("qx"), m * _PQ_SUB + 1, _PQ_SUB)
                    for m in range(_PQ_M)
                ]
            )
        ).alias("m", "qsub"),
    )
    qd = (
        V.dot(F.col("qsub"), F.col("qsub"))
        - 2 * V.dot(F.col("qsub"), F.col("cs"))
        + V.dot(F.col("cs"), F.col("cs"))
    )
    centd = (
        spark.read.parquet(f"{path}/pq")
        .join(F.broadcast(qs), "m")
        .select(
            "qid", "m", "c",
            F.round(qd * _PQ_SCALE).cast("long").alias("qd_fp"),
        )
    )
    member = spark.createDataFrame(
        probed_pairs, "qid long, cell int"
    ).withColumnRenamed("cell", "_mcell")
    cand = _live_candidates(
        spark,
        path,
        spark.read.parquet(f"{path}/cells").filter(
            F.col("cell").isin([int(c) for c in union_cells])
        ),
    )
    scored = (
        cand.join(
            F.broadcast(member),
            F.col("cell") == F.col("_mcell"),
        )
        .select(
            "qid", "vec_id", "cell",
            F.posexplode("codes").alias("m", "code"),
        )
        .join(F.broadcast(centd), ["qid", "m"])
        .filter(F.col("code") == F.col("c"))
        .groupBy("qid", "vec_id")
        .agg(
            F.any_value("cell").alias("cell"),
            F.sum("qd_fp").alias("adc_fp"),
        )
    )
    wk = Window.partitionBy("qid").orderBy("adc_fp", "vec_id")
    return (
        scored.withColumn("_rk", F.row_number().over(wk))
        .filter(F.col("_rk") <= k)
        .select(
            "qid",
            "vec_id",
            F.col("cell").cast("long").alias("cell"),
            "adc_fp",
        )
    )

"""Streaming maintenance of the persisted IVF-PQ index (r10).

Completes the index lifecycle: build once (operators/ann_index.
build_ivfpq_index), probe many (probe_ivfpq_index), and — here — ACCEPT A
STREAM of vector batches, deduplicating each against the index and itself
before appending, with replays idempotent by construction.

Dedup identity is the PQ quantization itself: two vectors with the same
(cell, codes) are indistinguishable to every probe, so admitting both
only inflates the index — the arrival-side analog of SemDeDup at the
codebook's resolution. This needs NO raw-vector history (the index stores
codes, M small ints per vector, never embeddings).

What makes the check affordable on every micro-batch at 100 TB is CELL
PRUNING (r10 verdict #1): the encoded batch's cell set is known and small
(≤ min(|batch|, K)), and both dedup keys are cell-local — a replayed
vec_id re-encodes to the same cell (encoding with the persisted codebooks
is deterministic and ids are content-immutable, the T3 replay contract),
and a quantization key (cell, codes) can by construction only collide
inside its own cell. So the index side of both anti-joins is first
filtered to the batch's cells — a literal ``cell IN (...)`` that lands as
a static PartitionFilter (the same prune ``probe_ivfpq_index`` uses), and
per-batch cost is O(batch's cell partitions), not O(index). Pinned by a
scanned-file assertion in ``tests/test_streaming_vector_index.py``.

Idempotency needs no ledger: the accept step anti-joins on vec_id against
the live index, so a replayed micro-batch (including one whose previous
attempt half-appended before a crash) re-adds only the rows that are
actually missing. Appends land in the youngest generation of their cell
(``cell=N/gen=0/``); orphan part-files from a mid-write crash hold rows
later replays skip by id. Appended small files are bounded by the
generational compaction of operators/partstore.py, which the maintainer
runs between triggers via ``maybe_compact``: one over-threshold level of
a cell merges into one file in the next generation, so a vector is
rewritten O(log_T(cell/batch)) times in total, never once per trigger.

Reference parity: the reference's loader upserts arrivals into warehouse
tables keyed on natural ids (SURVEY §2.7 M3 insert-ignore / §2.9 T3
exactly-once-by-idempotence); this is the same contract for the ANN tier.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import partstore as PS
from ..operators.ann_index import encode_batch, write_cells

log = logging.getLogger(__name__)

VECTOR_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
)

# Tombstone rows (r13 verdict #3): vec_id plus the dead row's coarse cell
# and PQ codes. The cell prunes GC's presence check to the tombstones'
# partitions; (cell, codes) — the index's whole identity for a vector —
# guards resurrection: a tombstoned id re-sent with a mutated embedding
# would otherwise cancel the tombstone and resurrect the old-content row
# (or silently drop the new one). Content-immutable ids make a matching
# quantization the only legal re-send; a mismatch fails loud.
VEC_TOMBS_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("cell", T.IntegerType()),
        T.StructField("codes", T.ArrayType(T.LongType())),
    ]
)

# Id-scan budget (r12 verdict #5): strict replay-guarding scans
# the vec_id column over ALL cell partitions; measured at the 100x corpus
# (600k vectors, cells layout 1.4 MB of dict/RLE parquet) the forced-
# strict replay costs 2.68 s vs 2.61 s forced-pruned — +2.5%, noise-level
# (scripts/ivfpq_index_results.json: replay_strict_sec /
# replay_pruned_sec / strict_auto_*). The scan is column-pruned, so cost
# grows linearly with index size: 1 GiB of cells parquet is ~400M vectors
# at the measured ~2.3 B/vec, whose vec_id column scan is roughly one
# micro-batch's own cost — the crossover where paying it every batch
# stops being free. Below the budget the guard is strict (the cross-batch
# id-mutation hole closed wherever closing it is affordable); above it the
# guard is cell-pruned and relies on the documented content-immutability
# contract. Monkeypatchable in tests.
_STRICT_ID_SCAN_MAX_BYTES = 1 << 30  # 1 GiB of cells parquet

@dataclass
class IngestStats:
    n_batch: int          # distinct vec_ids in the micro-batch
    n_replayed: int      # vec_id already in the index (replay / re-send)
    n_quantized_dup: int  # PQ-identical to an indexed or in-batch vector
    n_added: int
    n_id_dup: int = 0     # extra same-id rows collapsed before encoding
    id_guard_mode: str = ""  # "strict" | "pruned" — guard this batch ran
    n_resurrected: int = 0   # added by cancelling a tombstone (r13 #3)


class VectorIndexMaintainer:
    """foreachBatch sink over a persisted IVF-PQ index directory.

    The replay guard's index projection is chosen per batch from the
    index size (r11 ADVICE medium, r12 verdict #5):

    - strict, while the cells layout is under ``_STRICT_ID_SCAN_MAX_BYTES``
      (measured near-free: +2%/batch at the 100x corpus): the id guard
      runs against an UNPRUNED, column-pruned scan of just the vec_id
      column over all cells, catching a re-sent id whose mutated
      embedding re-encoded into a different cell. The full-index scan
      must see EVERY cell, so it fails loud on a swap marker (r12 ADVICE,
      medium).
    - pruned, above the budget: the vec_id anti-join is pruned to the
      batch's cell set — O(batch cells) per batch but sound ONLY under
      the content-immutability contract (a re-sent id carries the same
      embedding). The in-batch min(embedding) collapse defends WITHIN a
      batch; it cannot defend across batches.

    The mode each batch ran is recorded in ``IngestStats.id_guard_mode``
    and logged."""

    def __init__(self, spark: SparkSession, index_path: str) -> None:
        self.spark = spark
        self.path = index_path

    def _cells(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.path}/cells")

    # -- tombstone deletion (r13 verdict #3) --------------------------------

    def _tombs_df(self) -> DataFrame | None:
        """Live tombstone set (vec_id, cell), or None when the index has
        never seen a delete — callers then skip the anti-join entirely,
        keeping delete-free plans byte-identical to the pre-tombstone
        ones."""
        root = f"{self.path}/cells"
        if not PS.has_tombstones(self.spark, root):
            return None
        return PS.read_tombstones(self.spark, root, VEC_TOMBS_SCHEMA)

    def delete_vectors(self, vec_ids) -> int:
        """Tombstone-delete indexed vectors by id. APPEND-only on the
        delete path: live targets are recorded as (vec_id, cell) rows
        under ``cells_tombs``; probes anti-join them from this moment
        (operators.ann_index honors the set when it exists), the physical
        rows fold out at the next cell compaction, and GC then drops the
        tombstone. A deleted id may be legitimately re-ingested later:
        ``ingest_batch`` accepts it again and resurrects by CANCELLING the
        tombstone (the dead row is its equal under content-immutable ids)
        instead of appending a duplicate. Ids not currently visible are
        ignored; returns the tombstones written. Cost: one column-pruned
        (vec_id, cell) scan — the strict id guard's measured-cheap class;
        deletes are rare-path."""
        self._recover_if_crashed()
        if isinstance(vec_ids, DataFrame):
            ids_df = vec_ids.select(F.col(vec_ids.columns[0]).alias("vec_id"))
        else:
            ids_df = self.spark.createDataFrame(
                [(int(i),) for i in vec_ids], "vec_id long"
            )
        phys = self._cells().select("vec_id", "cell", "codes")
        tombs = self._tombs_df()
        if tombs is not None:
            phys = phys.join(tombs.select("vec_id"), "vec_id", "left_anti")
        targets = (
            phys.join(ids_df, "vec_id", "semi")
            .select(
                "vec_id",
                F.col("cell").cast("int").alias("cell"),
                F.col("codes").cast("array<long>").alias("codes"),
            )
            .distinct()
        )
        n = targets.count()
        if n:
            targets.write.mode("append").parquet(
                PS.tombs_dir(f"{self.path}/cells")
            )
        return n

    def _phys_vec_ids(self, cells: list[int]) -> DataFrame:
        """Physical vec ids pruned to ``cells`` — the tier-specific
        presence scan split_resurrections/gc use (column-pruned, bounded
        by the coarse codebook size K)."""
        return (
            self._cells()
            .filter(F.col("cell").isin([int(c) for c in cells]))
            .select("vec_id")
        )

    def _gc_tombstones(self) -> None:
        """Drop tombstones whose dead physical row was folded out —
        shared protocol (partstore.gc_folded_tombstones), presence
        checked PRUNED to the tombstones' recorded cells."""
        PS.gc_folded_tombstones(
            self.spark,
            f"{self.path}/cells",
            self._tombs_df(),
            id_col="vec_id",
            part_col="cell",
            phys_ids_for_parts=self._phys_vec_ids,
        )

    def _cells_bytes(self) -> int:
        """Total bytes of the cells layout — the id-guard budget input.
        Driver-side recursive listing of K cell dirs (K = coarse codebook
        size, small by construction), no Spark job."""
        fs, jvm = PS._fs(self.spark, self.path)
        hp = jvm.org.apache.hadoop.fs.Path(f"{self.path}/cells")
        if not fs.exists(hp):
            return 0
        return int(fs.getContentSummary(hp).getLength())

    def _resolve_strict(self) -> bool:
        """Per-batch mode decision (the index grows between batches, so
        it is re-evaluated each batch rather than pinned at construction)."""
        size = self._cells_bytes()
        strict = size <= _STRICT_ID_SCAN_MAX_BYTES
        log.info(
            "id guard resolved to %s (cells=%d bytes, budget=%d)",
            "strict" if strict else "pruned",
            size,
            _STRICT_ID_SCAN_MAX_BYTES,
        )
        return strict

    def _recover_if_crashed(self) -> None:
        """Writer-side self-heal at the top of every mutating entry point
        (ingest, delete, compaction): the maintainer is the store's single
        writer, so a swap marker now can only be its own compactor's
        crash — recover it before any guard or scan (a crash state not
        written by the generational compactor fails loud there instead of
        being dropped). Also finishes any crashed tombstone-set rewrite,
        and migrates an index written in the older flat cell layout
        (idempotent per-file renames, also completing a crashed migration)
        before anything scans a mixed-depth tree."""
        root = f"{self.path}/cells"
        if PS.has_swap_marker(self.spark, root):
            PS.recover_tiered_compaction(self.spark, root, "cell")
        PS.recover_tombstone_rewrite(self.spark, root)
        PS.migrate_flat_to_tiered(self.spark, root, "cell")

    def _pruned_existing(self, enc: DataFrame) -> tuple[DataFrame, list[int]]:
        """The index side of both accept anti-joins, PRUNED to the encoded
        batch's cell set (r10 verdict #1). The collect is bounded by
        min(|batch|, K coarse cells); the returned frame's scan carries a
        static ``cell IN (...)`` PartitionFilter, so per-batch dedup reads
        only the batch's cell partitions — O(batch cells), not O(index).
        Sound because both keys are cell-local: a replayed id lands in the
        same cell (deterministic encode, content-immutable ids) and a
        quantization key embeds its cell."""
        batch_cells = [
            int(r.cell) for r in enc.select("cell").distinct().collect()
        ]
        # Same reader-side compaction guard as probes: never dedup against
        # a slice with a parked gen level missing from it.
        PS.await_no_swap_marker(self.spark, f"{self.path}/cells")
        return (
            self._cells().filter(F.col("cell").isin(batch_cells)),
            batch_cells,
        )

    def ingest_batch(self, batch: DataFrame) -> IngestStats:
        n_rows = batch.count()
        if n_rows == 0:
            return IngestStats(0, 0, 0, 0)
        self._recover_if_crashed()
        strict = self._resolve_strict()
        # A micro-batch may re-send the same vec_id more than once (at-least
        # -once sources); two same-id rows whose embeddings differ could
        # quantize differently and BOTH survive a quantization-key dedup,
        # permanently breaking the unique-vec_id invariant (ADVICE r10). So
        # collapse to one deterministic row per id FIRST — min(embedding)
        # (arrays order lexicographically), not dropDuplicates, so a retry
        # that sees a different row order picks the same representative.
        batch = batch.groupBy("vec_id").agg(
            F.min("embedding").alias("embedding")
        )
        n_batch = batch.count()  # distinct ids, counted from the collapsed
        # batch itself — NOT from the encoded frame, so an encode-side drop
        # can never be misreported as an id-dup (r11 ADVICE, low)
        enc = encode_batch(self.spark, self.path, batch).localCheckpoint(
            eager=True  # eager: the accept joins and the append must see
            # ONE encoding; lazy would re-encode per action
        )
        n_enc = enc.count()
        if n_enc != n_batch:
            # Encoding is total by construction (broadcast-cross assign +
            # inner joins on frames derived from the same input); a row
            # going missing means a malformed embedding slipped past the
            # source schema — fail loud, don't silently under-ingest.
            raise ValueError(
                f"encode_batch dropped {n_batch - n_enc} of {n_batch} "
                "rows; malformed embeddings in the micro-batch"
            )
        existing, _ = self._pruned_existing(enc)
        # Dedup/replay guards see the LIVE index only (r13 verdict #3):
        # a tombstoned id no longer blocks re-ingest of its vector, and a
        # dead row's quantization key no longer blocks a new vector that
        # quantizes identically — deleted content is out of the index.
        tombs = self._tombs_df()
        live_existing = (
            existing.join(tombs.select("vec_id"), "vec_id", "left_anti")
            if tombs is not None
            else existing
        )
        # Replay guard: ids already present add nothing (idempotent-by-key,
        # the T3 contract — no ledger, so a half-appended crash replays
        # cleanly too). Strict mode checks ids against the WHOLE index
        # (column-pruned to just vec_id), catching re-sent ids whose
        # mutated embedding re-encoded into a different cell.
        if strict:
            # The full-index id scan must see EVERY cell; a gen level
            # parked in cells_old would silently hide its ids from this
            # scan — the exact violation strict mode exists to catch. The
            # recovery at ingest start already healed any own-crash marker,
            # so this fires only on a cross-session writer violating the
            # single-writer contract (r12 ADVICE, medium).
            PS.assert_no_swap_marker(self.spark, f"{self.path}/cells")
            id_guard = self._cells().select("vec_id")
            if tombs is not None:
                id_guard = id_guard.join(
                    tombs.select("vec_id"), "vec_id", "left_anti"
                )
        else:
            id_guard = live_existing.select("vec_id")
        # Checkpointed: both consumers (the dedup chain behind `added` and
        # the n_fresh count) would otherwise EACH re-run the id-guard
        # anti-join — in strict mode that is the full-index id scan paid
        # twice per batch, halving the real budget crossover.
        fresh = enc.join(id_guard, "vec_id", "anti").localCheckpoint(
            eager=True
        )
        # Quantized dedup: the (cell, codes) key IS the index's resolution.
        qkey = F.concat_ws(
            "_", F.col("cell"), F.concat_ws(",", F.col("codes"))
        )
        indexed_keys = live_existing.select(qkey.alias("qk")).distinct()
        deduped = (
            fresh.withColumn("qk", qkey)
            .join(indexed_keys.hint("shuffle_hash"), "qk", "anti")
            # in-batch: keep the lowest vec_id per quantization key
            .withColumn(
                "_rep", F.min("vec_id").over(_qk_window())
            )
            .filter(F.col("vec_id") == F.col("_rep"))
            .drop("qk", "_rep")
        )
        added = deduped.localCheckpoint(eager=True)
        n_added = added.count()
        # Count fresh BEFORE the append: a re-listing of the cells path
        # after the write would see the just-added files and undercount.
        n_fresh = fresh.count()
        # Guard-scan-verify (r12 ADVICE, medium): the accept joins'
        # index-side scans have now materialized (eager checkpoints +
        # counts above); any marker present NOW means a compaction raced
        # those scans (the ingest-start recovery cleared pre-existing
        # ones) and a cell may have been mid-rename — fail loud BEFORE
        # appending rather than commit a batch deduped against a
        # possibly-holed slice. Single-writer deployments never hit this
        # (their compactor runs between triggers); one exists() check.
        PS.verify_stable_after(self.spark, f"{self.path}/cells")
        n_res = 0
        if n_added:
            # Resurrections: an accepted id that is tombstoned commits by
            # CANCELLING the tombstone; its dead physical row (equal
            # under content-immutable ids) usually still exists — only
            # if compaction already folded it away does the row
            # re-append. Append-before-cancel so a crash in between
            # leaves the row hidden and the replay converges. Shared
            # wave-safe protocol (r16: partstore.split_resurrections /
            # cancel_resurrected_tombstones, one implementation for both
            # tiers); the tier-specific parts passed in: identity = the
            # quantization (cell, codes) — a re-send that quantizes
            # differently carries a mutated embedding and fails loud
            # while its dead row exists — presence scans = the cells
            # layout pruned to the tombstones' recorded cells, and the
            # batch-cell existing slice as the dead-visible set.
            to_append, res, n_res = PS.split_resurrections(
                added,
                tombs,
                id_col="vec_id",
                part_col="cell",
                identity_cols=("cell", "codes"),
                dead_visible_ids=existing.select("vec_id"),
                phys_ids_for_parts=self._phys_vec_ids,
                entity="vec_ids",
                mutation_desc="with embeddings that quantize differently",
                mutation_remedy="re-ingest updated vectors under new "
                "ids, or compact the index (folding the dead rows) "
                "first",
            )
            if n_res:
                if not to_append.isEmpty():
                    write_cells(to_append, self.path)
                PS.cancel_resurrected_tombstones(
                    self.spark, f"{self.path}/cells", tombs, res, "vec_id"
                )
            else:
                write_cells(added, self.path)
        return IngestStats(
            n_batch=n_batch,
            n_replayed=n_batch - n_fresh,
            n_quantized_dup=n_fresh - n_added,
            n_added=n_added,
            n_id_dup=n_rows - n_batch,
            id_guard_mode="strict" if strict else "pruned",
            n_resurrected=n_res,
        )

    def maybe_compact(
        self, max_files_per_cell: int = 8
    ) -> list[tuple[int, int]]:
        """Threshold-triggered small-file compaction (r10 verdict #2):
        merge every (cell, gen) level holding more than
        ``max_files_per_cell`` part-files into one file in that cell's
        next generation, so probe latency stays at its build-time figure
        as micro-batches accrete (``partstore.tiered_compact_partitions``;
        a threshold below 1 is treated as 1). Content-preserving and
        crash-safe (staged swap with fail-loud recovery). Call between
        triggers, never concurrently with an in-flight append; concurrent
        probes from OTHER sessions are tolerated because every reader
        (probe_ivfpq_index, _pruned_existing) first waits out the swap
        marker and fails loud on a crashed swap instead of silently
        dropping rows.

        Tombstone FOLD (r13 verdict #3): with deletes present the merge
        anti-joins the tombstone set — dead rows physically leave at the
        compaction that merges their level — and fully-folded tombstones
        are then garbage-collected. Returns the merged (cell, gen)
        levels."""
        self._recover_if_crashed()
        tombs = self._tombs_df()
        drop = tombs.select("vec_id") if tombs is not None else None
        done = PS.tiered_compact_partitions(
            self.spark,
            f"{self.path}/cells",
            "cell",
            max(1, max_files_per_cell),
            drop=drop,
            drop_key="vec_id",
        )
        if drop is not None and done:
            self._gc_tombstones()
        return done


def _qk_window():
    from pyspark.sql import Window

    return Window.partitionBy("qk")


def run_file_replay_vectors(
    spark: SparkSession,
    source_dir: str,
    maintainer: VectorIndexMaintainer,
    checkpoint_dir: str,
    compact_max_files: int | None = 8,
) -> None:
    """Drain a file-replay vector stream through the index maintainer.

    After each micro-batch's append the maintainer opportunistically
    merges any cell generation whose part-file count exceeded
    ``compact_max_files`` (r11 verdict #1/#2 wiring): foreachBatch sinks
    run serially within the query, so the compaction never overlaps an
    in-flight append — the single-writer contract holds by construction.
    The threshold check itself is a driver-side listing of K cell dirs
    (K = coarse codebook size) and their generations, so the common
    no-op case costs no Spark job. ``compact_max_files=None`` disables compaction.

    Driver shape shared with the corpus store via ``streaming.replay``;
    see that module for why the tiers below the driver stay separate."""
    from .replay import run_file_replay  # noqa: PLC0415

    def ingest(batch_df: DataFrame) -> None:
        maintainer.ingest_batch(batch_df)
        if compact_max_files is not None:
            maintainer.maybe_compact(max_files_per_cell=compact_max_files)

    run_file_replay(spark, source_dir, VECTOR_SCHEMA, ingest, checkpoint_dir)

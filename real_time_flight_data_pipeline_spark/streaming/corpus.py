"""Incremental corpus curation: streaming document ingest with exact (and
optionally near-) dedup-against-history, committed by APPENDS (r12
verdict #1).

The batch catalog dedups a CLOSED corpus (plans/northstar.q_exact_dedup);
a training-data pipeline at 100 TB instead receives documents
continuously and must dedup each arriving batch against everything
already accepted. Through r12 this store committed by versioned-parquet
pointer flip — rewriting the ENTIRE accepted corpus as "history UNION
survivors" every micro-batch, an O(corpus) write amplification per
trigger that the r12 verdict named the engine's last scale-killer. This
round replaces it with the vector tier's commit model
(streaming/vector_index.py + operators/partstore.py):

- accepted documents APPEND into the gen=0 level of fingerprint-hash
  bucket partitions (``<root>/docs/bucket=B/gen=G/``, B = fingerprint mod
  n_buckets) — per-batch write cost is O(batch), never O(corpus);
- the exact-dedup anti join reads history PRUNED to the batch's bucket
  set (a literal ``bucket IN (...)`` static PartitionFilter) and
  COLUMN-PRUNED to (fingerprint, doc_id) — ~16 bytes/row of parquet, the
  same measured-cheap class as the vector tier's strict-id scan; the
  partition prune is decisive when |batch| < n_buckets and harmless
  otherwise;
- the near-dup tier's LSH band index appends into band-hash bucket
  partitions (``<root>/bands/bbucket=B/gen=G/``) the same way;
- small-file accretion is bounded by GENERATIONAL compaction
  (partstore.tiered_compact_partitions: merge one over-threshold level
  into the next generation, never rewriting the accumulated corpus —
  whole-bucket rewrites would cost O(corpus/T) per trigger here because
  a batch's fingerprints scatter across ~all buckets; staged swap,
  checked renames, fail-loud recovery), run by the single writer between
  triggers via ``maybe_compact``;
- readers guard the swap window with partstore.await_no_swap_marker
  (bucket dirs never vanish mid-swap in this layout, only a gen
  sub-level does, so the coarse marker check is the correct guard).

Replay idempotence needs no ledger (T3, the reference's exactly-once
contract — /root/reference/apps/spark_app/flight_stream.py:33-36): the
accept step anti-joins the text fingerprint (md5-prefix, the same
cross-engine hash the batch queries use) against live state, so a
replayed micro-batch — including one whose previous attempt half-appended
before a crash — re-adds only rows actually missing, and converged
contents are identical. Contract: doc_ids are content-immutable (a
re-sent id carries the same text), the same contract the vector tier's
default mode documents; the ingest classification (CorpusIngestStats /
the ``docs_ingest_dedup`` catalog twin) makes violations visible.

In-batch representative choice is deterministic (lowest doc_id per
fingerprint) so retries that see a different row order converge.

DELETES (r13 verdict #3) are tombstone appends: ``delete_docs`` records
(doc_id, bucket) rows under ``docs_tombs``; readers anti-join the live
tombstone set (only when one exists — delete-free stores keep their
exact plans), classification treats dead rows as absent (deleted content
can be re-accepted, and no longer blocks a near-copy), the dead physical
rows fold out at the next generational compaction of their level, and
fully-folded tombstones garbage-collect. A deleted id re-ingested while
its dead row still exists resurrects by CANCELLING the tombstone —
content-immutable ids make the arriving row equal to the dead one, so a
second physical copy is never written; once folded, it re-appends fresh.
Every crash window converges under replay (tests/test_tombstones.py).

NEAR-DUP tier commit order: band rows append BEFORE doc rows. A crash
between the two leaves "ghost" bands (a doc_id present in bands but not
docs); the replay then re-accepts the doc — its fingerprint is absent
from docs, its own stale bands cannot verify against it (the exact-
Jaccard verify joins candidate ids back to the DOCS table, where the
ghost is absent), and the band re-append anti-joins (doc_id, band_idx)
so no duplicate band rows accrete. The opposite order (docs first) would
leave an accepted doc permanently missing from the band index — a
silent near-dup screening hole — because the replay's fingerprint
anti-join drops the doc before its bands are ever rebuilt.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import md5_long, tokens
from ..operators import partstore as PS
from ..operators.dedup import (
    JACCARD_THRESHOLD,
    band_rows,
    blocked_pairs,
    jaccard_pairs,
    shingle_sets,
)

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("fingerprint", T.LongType()),
    ]
)

_DOCS_READ_SCHEMA = T.StructType(
    [
        *CORPUS_SCHEMA.fields,
        T.StructField("bucket", T.IntegerType()),
        T.StructField("gen", T.IntegerType()),
    ]
)

# Tombstone rows (r13 verdict #3): doc_id plus the dead row's fingerprint
# and its bucket. The bucket prunes GC's presence check to the tombstones'
# partitions; the FINGERPRINT guards resurrection — a tombstoned id
# re-sent with DIFFERENT content would otherwise cancel the tombstone and
# resurrect the old-content row alongside the new append (two live rows
# per id). Content-immutable ids make a matching fingerprint the only
# legal re-send; a mismatch fails loud (see _split_resurrections).
TOMBS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("fingerprint", T.LongType()),
        T.StructField("bucket", T.IntegerType()),
    ]
)

_DEFAULT_BUCKETS = 64

# Layout version stamped into _META.json (r13 ADVICE, medium): "tiered" is
# the generational bucket layout (bucket=B/gen=G/). A pre-r13 store wrote
# loose files directly under bucket=B/ and its meta carried only
# n_buckets; reopening one silently produced a mixed-depth tree Spark's
# partition discovery rejects. Open now detects the missing stamp,
# one-shot-migrates loose files into gen=0 (driver-side renames,
# idempotent across crashes), and stamps the meta; a FUTURE unknown stamp
# fails loud instead of guessing.
_LAYOUT = "tiered"


@dataclass
class CorpusIngestStats:
    """Per-micro-batch accept accounting (mirrors the vector tier's
    IngestStats); the ``docs_ingest_dedup`` catalog query is the
    oracle-paired spec of exactly this classification."""

    n_rows: int        # gated input rows
    n_dup_batch: int   # lost the in-batch min-doc_id race for a fingerprint
    n_replayed: int    # representative's doc_id already accepted (re-send)
    n_dup_hist: int    # fingerprint already accepted under another doc_id
    n_accepted: int
    n_near_dup: int = 0      # near-dup tier only: verified near-dup drops
    n_resurrected: int = 0   # accepted by cancelling a tombstone (r13 #3)


class CorpusStore:
    """Accepted-document store with exact-dedup ingest, append-only.

    ``accept`` (optional) is a quality gate: a function of the batch
    DataFrame returning a boolean Column; rows where it is false are
    rejected BEFORE dedup, so a rejected document never claims a
    fingerprint (a later better-quality duplicate can still land). This
    is where the catalog's column-expression quality passes (classifier
    score, language / repetition filters) plug into ingest — the gate
    runs inside the same scan, no extra job.

    ``prefilter`` (optional) is the JOIN-shaped gate: a DataFrame ->
    DataFrame transform applied before ``accept``, for passes that need
    more than a per-row expression — benchmark decontamination (semi/anti
    join against a broadcast gram set), allow/deny-list joins. It must
    only FILTER (never rewrite doc_id/text), since dedup fingerprints the
    text it returns.

    ``n_buckets`` fixes the fingerprint-hash partitioning of the docs
    layout; it is persisted in ``<root>/_META.json`` at creation and
    validated on reopen — a mismatched reopen fails loud instead of
    silently mis-bucketing appends."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n_buckets: int = _DEFAULT_BUCKETS,
        accept=None,
        prefilter=None,
        swap_wait_sec: float = 10.0,
    ):
        self.spark = spark
        self.root = root
        self.accept = accept
        self.prefilter = prefilter
        self.docs_root = f"{root}/docs"
        # Reader-side swap-window budget (r13 ADVICE, low): the default
        # ~10 s covers the measured ~3 s per-level swap at 64 buckets on
        # local FS; the marker spans O(buckets) driver-side renames, so
        # deployments with larger bucket domains or object-store rename
        # latency raise this at construction instead of patching the
        # module constant.
        self.swap_wait_sec = swap_wait_sec
        self.n_buckets = self._open_meta(n_buckets)

    def _layout_roots(self) -> list[tuple[str, str]]:
        """(data root, partition column) pairs this store owns — what the
        legacy-layout migration must cover at open."""
        return [(self.docs_root, "bucket")]

    def _await_no_swap(self, root: str) -> None:
        PS.await_no_swap_marker(
            self.spark,
            root,
            retries=max(1, int(self.swap_wait_sec / 0.5)),
        )

    def _open_meta(self, n_buckets: int) -> int:
        os.makedirs(self.root, exist_ok=True)
        meta_path = os.path.join(self.root, "_META.json")
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
            stored = int(meta["n_buckets"])
            if stored != n_buckets and n_buckets != _DEFAULT_BUCKETS:
                raise ValueError(
                    f"store at {self.root} was created with n_buckets="
                    f"{stored}; reopen with that value (got {n_buckets})"
                )
            layout = meta.get("layout")
            if layout is None:
                # Pre-tiered store: migrate every owned root, THEN stamp —
                # a crash between the two re-runs the (idempotent)
                # migration at next open.
                for data_root, col in self._layout_roots():
                    PS.migrate_flat_to_tiered(self.spark, data_root, col)
                with open(meta_path, "w") as f:
                    json.dump({"n_buckets": stored, "layout": _LAYOUT}, f)
            elif layout != _LAYOUT:
                raise ValueError(
                    f"store at {self.root} uses layout {layout!r}; this "
                    f"build reads/writes {_LAYOUT!r} — refusing to mix"
                )
            return stored
        with open(meta_path, "w") as f:
            json.dump({"n_buckets": n_buckets, "layout": _LAYOUT}, f)
        return n_buckets

    def _bucket(self, fp_col: F.Column) -> F.Column:
        return F.pmod(fp_col, F.lit(self.n_buckets)).cast("int")

    def read(self) -> DataFrame:
        # Public readers get the swap-window guard too (r13 ADVICE, low):
        # without it a cross-session read during/after a crashed tiered
        # swap would silently miss the parked gen level's rows — the
        # fail-loud contract must not depend on the caller remembering
        # the guard. One driver-side exists() check when no swap is live.
        self._await_no_swap(self.docs_root)
        df = PS.read_partitioned(
            self.spark, self.docs_root, _DOCS_READ_SCHEMA
        ).select([f.name for f in CORPUS_SCHEMA.fields])
        tombs = self._tombs_df()
        if tombs is not None:
            # Live view = physical rows minus tombstoned ids. The join is
            # added only when a delete has ever happened (driver-side
            # exists check), so delete-free stores keep their exact
            # pre-tombstone plans.
            df = df.join(tombs.select("doc_id"), "doc_id", "left_anti")
        return df

    # -- tombstone deletion (r13 verdict #3) --------------------------------

    def _tombs_df(self) -> DataFrame | None:
        """Live tombstone set (doc_id, bucket), or None when the store has
        never seen a delete — callers skip their anti-joins entirely then."""
        if not PS.has_tombstones(self.spark, self.docs_root):
            return None
        return PS.read_tombstones(self.spark, self.docs_root, TOMBS_SCHEMA)

    def delete_docs(self, doc_ids) -> int:
        """Tombstone-delete accepted documents by id (takedowns,
        contaminated-shard recalls). The delete path only APPENDS: live
        targets are recorded as (doc_id, bucket) tombstone rows; readers
        anti-join them from this moment, and the physical rows fold out at
        the next generational compaction of their level (``maybe_compact``
        passes the tombstone set as the merge's anti-join), after which GC
        drops the tombstone. A deleted doc may be legitimately re-ingested
        later — ``ingest_batch`` classifies it ``accepted`` again (its
        content is no longer in the corpus) and resurrects it by
        CANCELLING the tombstone instead of appending a second physical
        copy when the dead row still exists.

        Accepts a list of ids or a one-column DataFrame. Ids that are not
        currently visible (never accepted, or already deleted) are
        ignored. Returns the number of tombstones written. Cost: one
        column-pruned (doc_id, bucket) scan of the docs layout — the same
        measured-cheap class as the vector tier's strict id guard; deletes
        are rare-path by design."""
        self._recover_if_crashed()
        if isinstance(doc_ids, DataFrame):
            ids_df = doc_ids.select(F.col(doc_ids.columns[0]).alias("doc_id"))
        else:
            ids_df = self.spark.createDataFrame(
                [(int(i),) for i in doc_ids], "doc_id long"
            )
        self._await_no_swap(self.docs_root)
        phys = PS.read_partitioned(
            self.spark, self.docs_root, _DOCS_READ_SCHEMA
        ).select("doc_id", "fingerprint", "bucket")
        tombs = self._tombs_df()
        if tombs is not None:
            phys = phys.join(tombs.select("doc_id"), "doc_id", "left_anti")
        targets = (
            phys.join(ids_df, "doc_id", "semi")
            .select("doc_id", "fingerprint", "bucket")
            .distinct()
        )
        n = targets.count()
        if n:
            targets.write.mode("append").parquet(
                PS.tombs_dir(self.docs_root)
            )
        return n

    def _split_resurrections(
        self, survivors: DataFrame, hist: DataFrame
    ) -> tuple[DataFrame, DataFrame | None, int]:
        """Split accepted survivors into (rows to physically append,
        resurrected-id frame to cancel, resurrection count). A survivor
        whose id is tombstoned is a RESURRECTION: content-immutable ids
        mean the arriving row equals the dead physical one, so if that
        row still exists (visible in the batch-bucket history slice as
        ``_dead``) the accept is just the tombstone's cancellation —
        appending would create a duplicate physical row that the
        cancelled tombstone could no longer hide. If compaction already
        folded the dead row away, the survivor appends like any fresh
        accept.

        Entirely JOIN-based (r15 verdict #4 / r14 what's-wrong #5): a
        takedown WAVE — 10^6 ids is a real compliance scenario at
        100 TB — must neither collect the wave to the driver nor push
        megabyte ``isin`` literal expressions through Catalyst; the
        shared protocol (r16: hoisted to partstore.split_resurrections,
        one implementation for both tiers) checkpoints the id frames and
        collects only the bucket prune + a 10-row fail-loud sample. The
        tier-specific parts kept here: text identity = the md5
        fingerprint, presence scans = docs_root pruned to the recorded
        buckets, and the _dead batch-bucket history slice."""
        return PS.split_resurrections(
            survivors,
            self._tombs_df(),
            id_col="doc_id",
            part_col="bucket",
            identity_cols=("fingerprint",),
            dead_visible_ids=hist.filter(F.col("_dead")).select("doc_id"),
            phys_ids_for_parts=self._phys_doc_ids,
            entity="doc_ids",
            mutation_desc="with different content",
            mutation_remedy="re-ingest updated documents under new ids, "
            "or compact the store (folding the dead rows) first",
        )

    def _phys_doc_ids(self, buckets: list[int]) -> DataFrame:
        """Physical doc ids pruned to ``buckets`` — the tier-specific
        presence scan split_resurrections/gc use (column-pruned, bounded
        by the bucket domain)."""
        return (
            PS.read_partitioned(self.spark, self.docs_root, _DOCS_READ_SCHEMA)
            .filter(F.col("bucket").isin([int(b) for b in buckets]))
            .select("doc_id")
        )

    def _cancel_tombstones(self, res: DataFrame | None) -> None:
        """Drop resurrected ids from the tombstone set (runs AFTER any
        append: a crash in between leaves the row hidden and the replay
        converges — see _split_resurrections). Shared protocol:
        partstore.cancel_resurrected_tombstones (anti-join, wave-safe)."""
        PS.cancel_resurrected_tombstones(
            self.spark, self.docs_root, self._tombs_df(), res, "doc_id"
        )

    def _gc_tombstones(self) -> None:
        """Garbage-collect tombstones whose dead physical row no longer
        exists anywhere (folded out by compaction) — shared protocol:
        partstore.gc_folded_tombstones pruned to the recorded buckets,
        run only after a compaction actually merged levels."""
        PS.gc_folded_tombstones(
            self.spark,
            self.docs_root,
            self._tombs_df(),
            id_col="doc_id",
            part_col="bucket",
            phys_ids_for_parts=self._phys_doc_ids,
        )

    def _gated(self, batch: DataFrame) -> DataFrame:
        if self.prefilter is not None:
            batch = self.prefilter(batch)
        return batch.filter(self.accept(batch)) if self.accept else batch

    def _fingerprinted(self, batch: DataFrame) -> DataFrame:
        return self._gated(batch).select(
            "doc_id",
            "text",
            "lang",
            "source",
            md5_long(F.col("text")).alias("fingerprint"),
        )

    def _in_batch_reps(self, fp: DataFrame) -> DataFrame:
        """One deterministic representative per fingerprint IN the batch
        (lowest doc_id) — one map-combined aggregation."""
        return (
            fp.groupBy("fingerprint")
            .agg(
                F.min_by(
                    F.struct("doc_id", "text", "lang", "source"),
                    F.col("doc_id"),
                ).alias("r")
            )
            .select(
                F.col("r.doc_id").alias("doc_id"),
                F.col("r.text").alias("text"),
                F.col("r.lang").alias("lang"),
                F.col("r.source").alias("source"),
                "fingerprint",
            )
        )

    def _pruned_history(self, reps: DataFrame) -> DataFrame:
        """History slice the accept anti-join needs: PRUNED to the batch's
        fingerprint-bucket set (static PartitionFilter; the collect is
        bounded by min(|batch|, n_buckets)) and COLUMN-PRUNED to
        (fingerprint, doc_id). A replayed doc_id shares its text's
        fingerprint (content-immutable ids), hence its bucket — so the
        pruned slice covers the id check too.

        Rows carry a ``_dead`` flag (tombstoned — r13 verdict #3):
        classification must see only LIVE history (deleted content is no
        longer in the corpus, so its re-send or a near-copy is accepted
        again), while the resurrection split needs the dead rows'
        physical presence. Delete-free stores get a constant false flag
        and no join."""
        batch_buckets = [
            int(r.b)
            for r in reps.select(
                self._bucket(F.col("fingerprint")).alias("b")
            )
            .distinct()
            .collect()
        ]
        # Reader-side compaction guard: in the generational layout a
        # bucket dir never vanishes mid-swap (only a gen sub-level does),
        # so the per-bucket existence probe can't see the hole — the
        # coarse marker guard is the correct one here.
        self._await_no_swap(self.docs_root)
        phys = (
            PS.read_partitioned(self.spark, self.docs_root, _DOCS_READ_SCHEMA)
            .filter(F.col("bucket").isin(batch_buckets))
            .select("fingerprint", "doc_id")
        )
        tombs = self._tombs_df()
        if tombs is None:
            return phys.withColumn("_dead", F.lit(False))
        return phys.join(
            tombs.select("doc_id").withColumn("_t", F.lit(True)),
            "doc_id",
            "left",
        ).select(
            "fingerprint", "doc_id", F.col("_t").isNotNull().alias("_dead")
        )

    def _classified(self, fp: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Batch representatives classified against history: ``status`` in
        (replayed, dup_hist, accepted) — dup_batch rows were already
        collapsed by the representative choice and are counted by the
        caller. Eagerly checkpointed: consumers (stats count + commit, and
        the near-dup tier's screening) must see ONE consistent slice.
        Also returns the flagged history slice (for the resurrection
        split — see _split_resurrections)."""
        reps = self._in_batch_reps(fp)
        hist = self._pruned_history(reps)
        # Classification sees LIVE rows only: a tombstoned doc's id and
        # fingerprint no longer block acceptance (r13 verdict #3).
        live = hist.filter(~F.col("_dead"))
        hist_ids = live.select("doc_id").withColumn("_id", F.lit(True))
        hist_fps = (
            live.select("fingerprint").distinct().withColumn("_fp", F.lit(True))
        )
        cls = (
            reps.join(hist_ids, "doc_id", "left")
            .join(hist_fps, "fingerprint", "left")
            .select(
                *[f.name for f in CORPUS_SCHEMA.fields],
                F.when(F.col("_id").isNotNull(), "replayed")
                .when(F.col("_fp").isNotNull(), "dup_hist")
                .otherwise("accepted")
                .alias("status"),
            )
            .localCheckpoint(eager=True)
        )
        # Guard-scan-verify (r12 ADVICE, medium): the history scan has now
        # materialized (eager checkpoint); any marker present NOW means a
        # compaction raced the scan (ingest-start recovery cleared
        # pre-existing crashed ones, and await_no_swap_marker waited out
        # in-flight ones) — fail loud before any commit built on a
        # possibly-holed history slice. Single-writer deployments never
        # hit this; one driver-side exists() check.
        PS.verify_stable_after(self.spark, self.docs_root)
        return cls, hist

    def _append_docs(self, survivors: DataFrame) -> None:
        # gen=0 is the append level of the generational layout; tiered
        # compaction merges it upward without ever rewriting the
        # accumulated generations (partstore.tiered_compact_partitions).
        (
            survivors.select(
                *[f.name for f in CORPUS_SCHEMA.fields],
                self._bucket(F.col("fingerprint")).alias("bucket"),
                F.lit(0).alias("gen"),
            )
            .write.mode("append")
            .partitionBy("bucket", "gen")
            .parquet(self.docs_root)
        )

    def _recover_if_crashed(self) -> None:
        """Writer-side self-heal at ingest start: the store has ONE writer,
        so a swap marker now can only be this writer's own compactor crash
        — recover it before any guard or scan. Without this, a crashed
        compaction wedges the streaming loop permanently (every replayed
        batch fails on the marker before maybe_compact's recovery runs).
        Also finishes any crashed tombstone-set rewrite (cancellation/GC),
        same single-writer argument."""
        if PS.has_swap_marker(self.spark, self.docs_root):
            PS.recover_tiered_compaction(self.spark, self.docs_root, "bucket")
        PS.recover_tombstone_rewrite(self.spark, self.docs_root)

    def ingest_batch(self, batch: DataFrame) -> CorpusIngestStats:
        """Dedup ``batch`` within itself and against history, then APPEND
        survivors into their fingerprint buckets — O(batch) written, the
        accepted corpus never rewritten. Replays and retries converge to
        the same contents (anti-join-by-fingerprint against live state;
        T3 idempotence, no ledger)."""
        self._recover_if_crashed()
        fp = self._fingerprinted(batch)
        n_rows = fp.count()
        cls, hist = self._classified(fp)
        by = {r.status: r.n for r in cls.groupBy("status").agg(
            F.count("*").alias("n")).collect()}
        survivors = cls.filter(F.col("status") == "accepted")
        n_accepted = by.get("accepted", 0)
        n_res = 0
        if n_accepted:
            # Resurrections (re-ingest of a deleted id) whose dead physical
            # row still exists are committed by CANCELLING the tombstone;
            # everything else appends. Append-before-cancel: a crash in
            # between leaves the row hidden, and the replay converges.
            to_append, res, n_res = self._split_resurrections(survivors, hist)
            if n_res == 0:
                self._append_docs(survivors)
            else:
                if not to_append.isEmpty():
                    self._append_docs(to_append)
                self._cancel_tombstones(res)
        n_reps = sum(by.values())
        return CorpusIngestStats(
            n_rows=n_rows,
            n_dup_batch=n_rows - n_reps,
            n_replayed=by.get("replayed", 0),
            n_dup_hist=by.get("dup_hist", 0),
            n_accepted=n_accepted,
            n_resurrected=n_res,
        )

    def maybe_compact(
        self, max_files_per_bucket: int = 8
    ) -> list[tuple[int, int]]:
        """Threshold-triggered GENERATIONAL compaction (r13): merge every
        (bucket, gen) level whose part-file count exceeds the bound into
        one file in that bucket's next generation, reading only the
        over-threshold level. Whole-bucket rewrites would be O(corpus/T)
        per trigger here because every batch's fingerprints scatter
        across ~all buckets (measured as a +12% ingest drift over 24
        increments at the 100x corpus); tiering bounds per-doc write
        amplification at O(log_T(corpus/batch)) total. Crash-safe staged
        swap with fail-loud recovery (partstore.tiered_compact_partitions).
        Single-writer: call between triggers, never concurrently with an
        in-flight append. Returns the merged (bucket, gen) pairs.

        Tombstone FOLD (r13 verdict #3): when deletes exist, the merged
        level anti-joins the tombstone set — dead rows physically leave
        the store at the compaction they would have been rewritten by
        anyway — and fully-folded tombstones are then garbage-collected
        (presence check pruned to the tombstones' buckets)."""
        tombs = self._tombs_df()
        drop = tombs.select("doc_id") if tombs is not None else None
        done = PS.tiered_compact_partitions(
            self.spark,
            self.docs_root,
            "bucket",
            max_files_per_bucket,
            drop=drop,
            drop_key="doc_id",
        )
        if drop is not None and done:
            self._gc_tombstones()
        return done


def run_file_replay_corpus(
    spark: SparkSession,
    source_dir: str,
    store: CorpusStore,
    checkpoint_dir: str,
    schema: T.StructType,
    compact_max_files: int | None = 8,
) -> None:
    """Drain a file-replay document stream through the dedup ingest,
    opportunistically compacting over-threshold buckets between triggers
    (foreachBatch sinks run serially within the query, so compaction
    never overlaps an in-flight append — single-writer by construction;
    the threshold check is a driver-side listing, no Spark job in the
    common no-op case). Driver shape shared with the vector-index
    maintainer via ``streaming.replay``."""
    from .replay import run_file_replay  # noqa: PLC0415

    def ingest(batch_df: DataFrame) -> None:
        store.ingest_batch(batch_df)
        if compact_max_files is not None:
            store.maybe_compact(max_files_per_bucket=compact_max_files)

    run_file_replay(spark, source_dir, schema, ingest, checkpoint_dir)


# ---------------------------------------------------------------------------
# Near-dup screening tier: MinHash-LSH against the accepted-corpus history.
# This store and the batch detector call the same operators/dedup functions.
# ---------------------------------------------------------------------------
BANDS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("band_idx", T.IntegerType()),
        T.StructField("band_key", T.StringType()),
    ]
)

_BANDS_READ_SCHEMA = T.StructType(
    [
        *BANDS_SCHEMA.fields,
        T.StructField("bbucket", T.IntegerType()),
        T.StructField("gen", T.IntegerType()),
    ]
)


def _token_frame(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, *carry, toks) behind a barrier: shingles() references the
    token array 3x per gram, so an inline tokens(text) re-runs the split
    per reference (measured 2.3x on the minhash stage, r12). Shared with
    the ingest spec twins in plans/llm_ext.py."""
    return docs.select(
        "doc_id", *carry, tokens(F.col("text")).alias("toks")
    ).localCheckpoint(eager=False)


class NearDupCorpusStore(CorpusStore):
    """CorpusStore that additionally rejects NEAR-duplicates of history.

    Alongside the docs layout it maintains the accepted documents' LSH
    band table — also append-only, partitioned by a band-key hash bucket
    (``bands/bbucket=B/``) — so screening an arriving batch is a band-key
    equi join against history (shuffle O(colliding candidates), never
    O(batch x history)) followed by exact-Jaccard verification of the
    candidates only, with the history side's shingles recomputed for the
    candidate slice alone (semi join on candidate ids). Invariant: no two
    accepted documents are near-dups at the batch detector's own
    threshold; first arrival wins.

    Commit order (bands before docs) and why it converges under every
    crash window is argued in the module docstring."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n_buckets: int = _DEFAULT_BUCKETS,
        accept=None,
        prefilter=None,
        swap_wait_sec: float = 10.0,
    ):
        # bands_root is set BEFORE super().__init__ because the base open
        # path runs the legacy-layout migration over _layout_roots(),
        # which includes the band layout for this subclass.
        self.bands_root = f"{root}/bands"
        super().__init__(
            spark,
            root,
            n_buckets=n_buckets,
            accept=accept,
            prefilter=prefilter,
            swap_wait_sec=swap_wait_sec,
        )

    def _layout_roots(self) -> list[tuple[str, str]]:
        return [*super()._layout_roots(), (self.bands_root, "bbucket")]

    def _bband(self, band_key_col: F.Column) -> F.Column:
        return F.pmod(
            F.conv(F.substring(band_key_col, 1, 15), 16, 10).cast("long"),
            F.lit(self.n_buckets),
        ).cast("int")

    def read_bands(self) -> DataFrame:
        # Same public-reader swap guard as read() (r13 ADVICE, low).
        self._await_no_swap(self.bands_root)
        df = PS.read_partitioned(
            self.spark, self.bands_root, _BANDS_READ_SCHEMA
        ).select([f.name for f in BANDS_SCHEMA.fields])
        tombs = self._tombs_df()
        if tombs is not None:
            # A deleted doc's bands are dead with it: they must not screen
            # future near-dups of content that is no longer in the corpus.
            df = df.join(tombs.select("doc_id"), "doc_id", "left_anti")
        return df

    def _pruned_bands(self, batch_bands: DataFrame) -> DataFrame:
        """PHYSICAL history band rows PRUNED to the batch's band-bucket
        set — identical band keys hash to identical buckets, so every
        possible history collision lives inside the pruned slice.
        Tombstoned docs' rows are INCLUDED (the append guard needs them to
        avoid duplicating a resurrected doc's band rows); the screening
        path filters to live rows itself."""
        buckets = [
            int(r.b)
            for r in batch_bands.select(
                self._bband(F.col("band_key")).alias("b")
            )
            .distinct()
            .collect()
        ]
        self._await_no_swap(self.bands_root)
        return (
            PS.read_partitioned(self.spark, self.bands_root, _BANDS_READ_SCHEMA)
            .filter(F.col("bbucket").isin(buckets))
            .select([f.name for f in BANDS_SCHEMA.fields])
        )

    def _recover_if_crashed(self) -> None:
        super()._recover_if_crashed()
        if PS.has_swap_marker(self.spark, self.bands_root):
            PS.recover_tiered_compaction(
                self.spark, self.bands_root, "bbucket"
            )

    def ingest_batch(self, batch: DataFrame) -> CorpusIngestStats:
        self._recover_if_crashed()
        fp = self._fingerprinted(batch)
        n_rows = fp.count()
        cls, hist = self._classified(fp)
        by = {r.status: r.n for r in cls.groupBy("status").agg(
            F.count("*").alias("n")).collect()}
        exact_ok = cls.filter(F.col("status") == "accepted").drop("status")

        shin = shingle_sets(_token_frame(exact_ok))
        bands = band_rows(shin).localCheckpoint(eager=True)
        blocks = ("band_idx", "band_key")

        # In-batch near-dups: keep the lowest doc_id of any verified pair.
        drop_in = jaccard_pairs(
            blocked_pairs(bands, "doc_id", blocks), shin, shin, JACCARD_THRESHOLD
        ).select(F.col("b_id").alias("doc_id"))

        # vs-history near-dups: batch doc drops if it verifies against ANY
        # accepted doc. The band join reads only the batch's band buckets;
        # history shingles are recomputed only for the candidate slice
        # (semi join on candidate doc_ids against DOCS — a ghost id from a
        # bands-then-crash window is absent there, so it can never verify).
        hist_bands = self._pruned_bands(bands)
        tombs = self._tombs_df()
        live_bands = (
            hist_bands.join(tombs.select("doc_id"), "doc_id", "left_anti")
            if tombs is not None
            else hist_bands
        )
        cand_hist = blocked_pairs(
            bands, "doc_id", blocks, other=live_bands
        ).localCheckpoint(eager=True)
        # Guard-scan-verify on the band layout (same contract as the docs
        # layout in _classified): the candidate join has materialized; any
        # marker present now means a compaction raced it.
        PS.verify_stable_after(self.spark, self.bands_root)
        hist_slice = self.read().join(
            cand_hist.select(F.col("b_id").alias("doc_id")).distinct(),
            "doc_id",
            "semi",
        )
        drop_hist = jaccard_pairs(
            cand_hist, shin, shingle_sets(_token_frame(hist_slice)), JACCARD_THRESHOLD
        ).select(F.col("a_id").alias("doc_id"))

        dropped = drop_in.unionByName(drop_hist).distinct()
        survivors = exact_ok.join(dropped, "doc_id", "left_anti").localCheckpoint(
            eager=True
        )
        n_accepted = survivors.count()
        n_res = 0
        if n_accepted:
            # Bands FIRST (crash-convergence: see module docstring), with a
            # (doc_id, band_idx) anti-join against the PHYSICAL pruned band
            # slice so neither a bands-then-crash replay nor a resurrection
            # whose dead band rows still exist duplicates band rows.
            new_bands = (
                bands.join(survivors.select("doc_id"), "doc_id", "semi")
                .join(
                    hist_bands.select("doc_id", "band_idx"),
                    ["doc_id", "band_idx"],
                    "left_anti",
                )
            )
            (
                new_bands.select(
                    *[f.name for f in BANDS_SCHEMA.fields],
                    self._bband(F.col("band_key")).alias("bbucket"),
                    F.lit(0).alias("gen"),
                )
                .write.mode("append")
                .partitionBy("bbucket", "gen")
                .parquet(self.bands_root)
            )
            # Docs: resurrections with a surviving dead row commit by
            # tombstone cancellation instead of a duplicate append (same
            # split + ordering argument as the exact tier).
            to_append, res, n_res = self._split_resurrections(survivors, hist)
            if n_res == 0:
                self._append_docs(survivors)
            else:
                if not to_append.isEmpty():
                    self._append_docs(to_append)
                self._cancel_tombstones(res)
        n_exact_ok = by.get("accepted", 0)
        n_reps = sum(by.values())
        return CorpusIngestStats(
            n_rows=n_rows,
            n_dup_batch=n_rows - n_reps,
            n_replayed=by.get("replayed", 0),
            n_dup_hist=by.get("dup_hist", 0),
            n_accepted=n_accepted,
            n_near_dup=n_exact_ok - n_accepted,
            n_resurrected=n_res,
        )

    def maybe_compact(
        self, max_files_per_bucket: int = 8
    ) -> list[tuple[int, int]]:
        """Generationally compact BOTH layouts' over-threshold levels
        (docs buckets and band buckets are disjoint partition roots;
        returned list is docs (bucket, gen) pairs then band ones). With
        deletes present, both merges FOLD tombstoned doc_ids out, then
        fully-folded tombstones are garbage-collected (see
        _gc_tombstones — the near-dup GC requires absence from BOTH
        layouts)."""
        tombs = self._tombs_df()
        drop = tombs.select("doc_id") if tombs is not None else None
        done = PS.tiered_compact_partitions(
            self.spark,
            self.docs_root,
            "bucket",
            max_files_per_bucket,
            drop=drop,
            drop_key="doc_id",
        )
        done += PS.tiered_compact_partitions(
            self.spark,
            self.bands_root,
            "bbucket",
            max_files_per_bucket,
            drop=drop,
            drop_key="doc_id",
        )
        if drop is not None and done:
            self._gc_tombstones()
        return done

    def _gc_tombstones(self) -> None:
        """A tombstone is discardable only when the doc is physically gone
        from BOTH layouts: a doc's band rows scatter across band buckets
        (the tombstone's recorded bucket prunes only the docs side), so
        the band presence check is a column-pruned doc_id scan of the band
        layout — a GC-only cost, paid when a fold actually happened.
        Shared protocol (partstore.gc_folded_tombstones) with the
        two-layout union as this tier's presence scan."""
        PS.gc_folded_tombstones(
            self.spark,
            self.docs_root,
            self._tombs_df(),
            id_col="doc_id",
            part_col="bucket",
            phys_ids_for_parts=lambda buckets: self._phys_doc_ids(
                buckets
            ).unionByName(
                PS.read_partitioned(
                    self.spark, self.bands_root, _BANDS_READ_SCHEMA
                ).select("doc_id")
            ),
        )

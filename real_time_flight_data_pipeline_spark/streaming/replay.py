"""Shared file-replay driver for the streaming ingest skeletons (r11
verdict #10).

Both streaming dedup tiers — the text-side corpus store
(``streaming/corpus.py``) and the vector-side index maintainer
(``streaming/vector_index.py``) — drain an availableNow file stream
through a per-batch ingest callable with the same empty-batch
short-circuit (T7) and checkpointed trigger contract (T1/T2). That
driver shape is factored here ONCE.

What stays deliberately separate is everything below the driver. Both
tiers share the partitioned-APPEND commit model and its one GENERATIONAL
compactor (``operators/partstore.py``: ``tiered_compact_partitions`` merges
one over-threshold ``gen=G`` level into the next, never rewriting the
accumulated partition) but dedup different identities into different
partitions:

- the corpus store keys on a TEXT fingerprint (plus an LSH band tier for
  near-dups); a batch's fingerprints hash-scatter across ~ALL buckets,
  so small files accrete everywhere at once;
- the index maintainer keys on vec_id and the (cell, codes) quantization
  and appends into the batch's few COARSE CELLS, so only touched cells
  accrete.

The shared contract both honor is the idempotent-replay one (T3): the
accept step anti-joins the natural key against live state, so replayed
micro-batches — including half-committed crash replays — converge to
identical contents.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def run_file_replay(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    ingest: Callable[[DataFrame], None],
    checkpoint_dir: str,
) -> None:
    """Drain an availableNow file-replay stream through ``ingest``, one
    micro-batch at a time (maxFilesPerTrigger=1 pins batch boundaries to
    spool files for deterministic tests), skipping empty batches (T7)."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ingest(batch_df)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

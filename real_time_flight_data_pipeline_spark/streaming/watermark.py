"""Watermark-driven incremental export (T4).

The reference keeps a single-row state table and ships rows with
``last_updated > last_sync_time ORDER BY last_updated LIMIT n``, advancing
the watermark to the max shipped value (apps/sheets_sink/sheets_sink.py:
88-105, 327-332; db/01_views.sql:25-33). That design loses rows when a
group of rows *ties* on the boundary ``last_updated`` and the LIMIT splits
the group: the next cycle's strict ``>`` skips the unsent remainder
(SURVEY.md §7.5).

Fix (documented divergence): a batch never splits a ``last_updated`` group —
if the limit lands mid-group, the batch is truncated to the previous
complete group. The watermark then always advances past *complete* groups
only. In pure Structured Streaming this whole mechanism is subsumed by the
checkpoint; this batch utility exists for export consumers that need
explicit watermark state (the reference's Sheets-style sink).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .localio import local_relation, replace_file


class WatermarkStore:
    """Single-value processing-time watermark, JSON file backed (the
    1-row Delta table stand-in). ``advance`` replaces the file the way a
    ``ParquetTable`` flips its pointer: atomic under a process crash, no
    forced flush (see ``replace_file``). A power loss can leave the file
    zero-filled; ``read`` then raises rather than guess a watermark."""

    def __init__(self, path: str):
        self.path = path

    def read(self) -> str | None:
        try:
            with open(self.path) as f:
                return json.load(f)["last_sync_time"]
        except FileNotFoundError:
            return None

    def advance(self, value: str) -> None:
        cur = self.read()
        new = max(cur, value) if cur is not None else value  # GREATEST guard (A3)
        replace_file(self.path, json.dumps({"last_sync_time": new}))


@dataclass
class ExportBatch:
    rows: DataFrame
    new_watermark: str | None  # None => nothing to ship


def next_export_batch(
    view: DataFrame,
    store: WatermarkStore,
    ts_col: str = "last_updated",
    limit: int = 300,
) -> ExportBatch:
    """Strict-> watermark filter + ordered batch, tie-safe (never splits a
    ``ts_col`` group across batches).

    One pass over ``view``: the ``limit + 1`` oldest pending rows are
    collected once (top-k plan; the (limit+1)-th tells whether the limit
    would split a ts group) and the rows to ship are a prefix of them,
    returned as a driver-local relation, so shipping re-runs no query. Only
    a single group larger than the limit ships through a lazy filter."""
    wm = store.read()
    pending = view if wm is None else view.filter(F.col(ts_col) > F.lit(wm))
    jrows = pending.orderBy(ts_col).limit(limit + 1)._jdf.collectAsList()
    head = local_relation(pending, jrows)
    vals = [r[0] for r in head.select(ts_col).collect()]
    if not vals:
        return ExportBatch(head, None)
    if len(vals) <= limit:
        return ExportBatch(head, str(max(vals)))
    boundary, overflow = vals[limit - 1], vals[limit]
    if overflow != boundary:
        # limit lands exactly between groups: ship all limit rows
        return ExportBatch(local_relation(pending, jrows.subList(0, limit)), str(boundary))
    prev = [v for v in vals[:limit] if v != boundary]
    if not prev:
        # a single group larger than the limit: ship it whole (progress
        # guarantee) — never split, never skip
        return ExportBatch(
            pending.filter(F.col(ts_col) <= F.lit(boundary)), str(boundary)
        )
    # the limit splits the last group: ship the complete groups before it
    return ExportBatch(local_relation(pending, jrows.subList(0, len(prev))), str(max(prev)))

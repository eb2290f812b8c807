"""Catalog queries banked ahead of their registration (COVERAGE.md "Next
catalog addition") and the semantics pinned at banking time.

`docs_near_dup_ingest`, `docs_tombstone_ingest` and `docs_curated_ingest`
are registered: their oracle match is covered by the registry-wide gate
(tests/test_oracle.py), and what stays here is the planted-status
contract each was banked with, so the accept-classification semantics
can't drift under later refactors. `docs_curated_ingest` is the
oracle-paired spec twin of the FULL curated streaming policy (decon
prefilter + quality gate + exact tier + near-dup tier + tombstone
live-history projection composed).

`multimodal_png_pixel_stats` (q_multimodal_png, plans/northstar.py) and
`embedding_tombstone_ingest` are banked but not registered; both are
oracle-verified here. The first is the first COMPRESSED-codec real decode
(stdlib-zlib PNG — per-chunk CRC verification, multi-IDAT reassembly,
DEFLATE inflate, all five scanline-filter reversals). The second is the
VECTOR-tier analog of docs_tombstone_ingest — the oracle-paired spec twin
of streaming/vector_index.ingest_batch under delete_vectors tombstones
(live id guard + live quantized-key guard + the resurrected branch),
including the PQ-resolution collision property the r15 100x wave replay
documented.
"""

from __future__ import annotations

from real_time_flight_data_pipeline_spark.plans.catalog import REGISTRY
from real_time_flight_data_pipeline_spark.plans.llm_ext import (
    _docs_curated_ingest_oracle,
    _embedding_tombstone_ingest_oracle,
    q_docs_curated_ingest,
    q_docs_near_dup_ingest,
    q_docs_tombstone_ingest,
    q_embedding_tombstone_ingest,
)

from .conftest import SF_CORRECT, SF_SMOKE
from .oracle_harness import compare


def test_near_dup_ingest_registered():
    """r14 flipped @_register on (VERDICT r13 item 1): the query is in the
    active registry with its DuckDB oracle attached."""
    assert "docs_near_dup_ingest" in REGISTRY
    assert REGISTRY["docs_near_dup_ingest"].oracle is not None
    assert len(REGISTRY) == 150  # the 150-query ceiling is fully used


def test_tombstone_ingest_registered():
    """r15 flipped @_register on (VERDICT r14 item 1): registered with its
    DuckDB oracle, inside the 150 ceiling."""
    assert "docs_tombstone_ingest" in REGISTRY
    assert REGISTRY["docs_tombstone_ingest"].oracle is not None
    assert len(REGISTRY) == 150  # the 150-query ceiling is fully used


def test_near_dup_ingest_planted_statuses(spark):
    """Every status of the NearDupCorpusStore accept contract is exercised
    by the planted batch and classified as designed (verified identical at
    sf0.001 and sf0.01 against the oracle)."""
    rows = {
        r.doc_id: r.status
        for r in q_docs_near_dup_ingest(spark, SF_SMOKE).collect()
    }
    assert rows[0] == "replayed"
    assert rows[9_000_001] == "dup_hist"
    assert rows[9_000_002] == "dup_batch"   # loses the min-id race to doc 9
    assert rows[9_000_004] == "near_dup"    # appended-token twin of history
    assert rows[9_000_005] == "near_dup"    # in-batch appended-token twin
    assert "accepted" in rows.values()


def test_tombstone_ingest_planted_statuses(spark):
    """The delete-specific classification deltas, pinned per planted row:
    a tombstoned id re-sent is ACCEPTED (the store resurrects by
    cancelling the tombstone), and dead content under a new id is
    ACCEPTED (a dead fingerprint no longer blocks) — where a live history
    would have said replayed / dup_hist respectively."""
    rows = {
        r.doc_id: r.status
        for r in q_docs_tombstone_ingest(spark, SF_SMOKE).collect()
    }
    assert rows[0] == "accepted"            # tombstoned id -> resurrect
    assert rows[1] == "replayed"            # live id
    assert rows[9_000_001] == "dup_hist"    # live text, new id
    assert rows[9_000_002] == "accepted"    # DEAD text, new id
    assert rows[9_000_003] == "dup_batch"   # loses min-id race to doc 9


def test_curated_ingest_registered():
    """r16 flipped @_register on (VERDICT r15 item 1): registered with its
    DuckDB oracle, inside the 150 ceiling."""
    assert "docs_curated_ingest" in REGISTRY
    assert REGISTRY["docs_curated_ingest"].oracle is not None
    assert len(REGISTRY) == 150  # the 150-query ceiling is fully used


def test_curated_ingest_oracle_match(spark):
    ok, msg = compare(
        spark,
        SF_CORRECT,
        q_docs_curated_ingest,
        _docs_curated_ingest_oracle(),
    )
    assert ok, msg


def test_curated_ingest_planted_statuses(spark):
    """Every stage of the curated streaming policy is exercised by a
    planted row, with the gates-first and tombstone-delta semantics
    pinned: the prefilter classifies before anything touches a
    fingerprint (a contaminated doc is 'contaminated' even if it would
    also fail quality or dup), a tombstoned id re-sent is ACCEPTED
    (resurrection), and dead content under a new id is ACCEPTED (dead
    fingerprints and band rows no longer block)."""
    rows = {
        r.doc_id: r.status
        for r in q_docs_curated_ingest(spark, SF_SMOKE).collect()
    }
    assert rows[8_000_001] == "accepted"      # tombstoned id -> resurrect
    assert rows[8_000_002] == "replayed"      # live id
    assert rows[9_000_001] == "dup_hist"      # live text, new id
    assert rows[9_000_002] == "accepted"      # DEAD text, new id
    assert rows[9_000_003] == "near_dup"      # near-copy of live history
    assert rows[9_000_004] == "accepted"      # fresh text, wins min-id race
    assert rows[9_000_005] == "dup_batch"     # loses min-id race
    assert rows[9_000_006] == "rejected"      # fails the quality+lang gate
    assert rows[9_000_007] == "contaminated"  # benchmark-excerpt copy


def test_embedding_tombstone_ingest_oracle_match(spark):
    ok, msg = compare(
        spark,
        SF_CORRECT,
        q_embedding_tombstone_ingest,
        _embedding_tombstone_ingest_oracle(),
    )
    assert ok, msg


def test_embedding_tombstone_ingest_planted_statuses(spark):
    """The delete-specific classification deltas at the ANN tier, pinned
    per planted row: a tombstoned id re-sent is RESURRECTED (the live id
    guard passes it, the accept cancels the tombstone), dead content
    under a new id is ADDED (a dead quantization key no longer blocks),
    and live keys / live ids / in-batch races classify as in the
    delete-free twin."""
    rows = {
        r.vec_id: r.status
        for r in q_embedding_tombstone_ingest(spark, SF_SMOKE).collect()
    }
    assert rows[2] == "resurrected"         # tombstoned id -> resurrect
    assert rows[0] == "resurrected"         # unique key at sf0.001
    assert rows[1] == "replayed"            # live id
    assert rows[3_000_001] == "dup_hist"    # live key, new id
    assert rows[3_000_002] == "added"       # DEAD key, new id
    assert rows[3_000_003] == "dup_batch"   # loses min-id race to vec 9


def test_embedding_tombstone_ingest_pq_collision_property(spark):
    """The PQ-resolution collision property (r15 wave replay,
    ivfpq_index_results.json sf100x_tombstone_wave), pinned at the
    driver's SF: tombstoned vec 0's key is shared by a LIVE vector at
    sf0.01, so its re-send dup_hist-blocks instead of resurrecting — the
    quantization IS the identity, and the tombstone stays until the
    collision partner is itself deleted or the dead row folds. Vec 2
    (key unique at both SFs) resurrects at the same SF, so both branches
    are exercised where the driver checks."""
    rows = {
        r.vec_id: r.status
        for r in q_embedding_tombstone_ingest(spark, SF_CORRECT).collect()
    }
    assert rows[0] == "dup_hist"
    assert rows[2] == "resurrected"


def test_embedding_tombstone_ingest_deliberately_not_registered_yet():
    """The queue decision itself is pinned: the registry is at the
    150/150 ceiling, and registering this query means giving up
    distinct_users_exact's slot. When that happens, flip @_register on
    and delete this test."""
    assert "embedding_tombstone_ingest" not in REGISTRY
    assert len(REGISTRY) == 150  # ceiling fully used; no free slot
    assert "distinct_users_exact" in REGISTRY  # the named r17 slot


def test_embedding_tombstone_ingest_plan_gates(spark):
    """Pre-registration plan audit (so the r17 flip cannot trip
    test_plan_audit): no cartesian product, no BNLJ — the codebook sides
    are bounded broadcasts (K + M*K rows) on equi-keys, the guard joins
    are shuffle_hash-hinted equi-joins, and the 3-element tombstone set
    is a constant isin predicate, never a wave-sized literal."""
    df = q_embedding_tombstone_ingest(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_curated_ingest_plan_gates(spark):
    """Pre-registration plan audit (so the r16 flip cannot trip
    test_plan_audit): no cartesian product, no BNLJ (the bench-gram side
    is a broadcast HASH join on gh), and the tokenize idiom bounded at
    its measured single-projection fan-out — the quality gate's
    stopword/score terms reference tokens(text) inside ONE Project per
    relation (batch + history), the CSE-safe class docs_quality_filter's
    pinned ceiling documents. Registration must carry
    _TOKENIZE_CEILINGS['docs_curated_ingest'] = 18."""
    df = q_docs_curated_ingest(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("split(lower(") <= 18


def test_multimodal_png_oracle_match(spark):
    from real_time_flight_data_pipeline_spark.plans.northstar import (
        _multimodal_png_oracle,
        q_multimodal_png,
    )

    ok, msg = compare(spark, SF_CORRECT, q_multimodal_png, _multimodal_png_oracle())
    assert ok, msg


def test_multimodal_png_planted_pixels(spark):
    """Closed-form pin at the smoke SF: the decoded statistics for vec 0
    and vec 7 recomputed here from the pixel function, independently of
    the oracle SQL — and filter_sum comes from the wire (the per-row
    filter bytes the decoder read out of the inflated stream), so a
    payload that silently stopped varying its filters would fail."""
    import numpy as np

    from real_time_flight_data_pipeline_spark.plans.northstar import (
        q_multimodal_png,
    )

    rows = {
        r.vec_id: r for r in q_multimodal_png(spark, SF_SMOKE).collect()
    }
    for vid in (0, 7):
        w, h = 8 + vid % 9, 5 + vid % 5
        j = np.arange(w * h * 3, dtype=np.int64)
        p = (vid * 13 + j * 17) % 256
        r = rows[vid]
        assert (r.width, r.height) == (w, h)
        assert r.sum_r == int(p[j % 3 == 0].sum())
        assert r.sum_g == int(p[j % 3 == 1].sum())
        assert r.sum_b == int(p[j % 3 == 2].sum())
        assert r.bright_r == int((p[j % 3 == 0] >= 128).sum())
        assert r.filter_sum == sum(y % 5 for y in range(h))


def test_multimodal_png_deliberately_not_registered_yet():
    """Queue decision pinned: the registry is at the 150/150 ceiling, and
    registering the PNG tier means giving up the slot of the same-tier
    multimodal_pcm_frame_energy. When that happens, flip @_register on
    and delete this test."""
    assert "multimodal_png_pixel_stats" not in REGISTRY
    assert len(REGISTRY) == 150
    assert "multimodal_pcm_frame_energy" in REGISTRY  # the named r18 slot


def test_multimodal_png_plan_gates(spark):
    """Pre-registration plan audit: two partition-local Arrow passes over
    one scan — no join at all, so no cartesian/BNLJ risk, and nothing to
    shuffle."""
    from real_time_flight_data_pipeline_spark.plans.northstar import (
        q_multimodal_png,
    )

    df = q_multimodal_png(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan

"""Plan-quality regression gate over the whole catalog (sf0.001).

Asserts the physical-plan properties the 100 TB design depends on: no
CartesianProduct anywhere, and BroadcastNestedLoopJoin only in the queries
whose keyless cross joins are intentionally bounded broadcasts (documented
in each query's description).
"""

from __future__ import annotations

import pytest

from real_time_flight_data_pipeline_spark.plans.catalog import REGISTRY

from .conftest import SF_SMOKE

# Keyless-by-design cross joins against provably tiny sides (1-row query
# vector, 16-row IVF codebook, 8-row query batch, 1-row watermark scalar,
# 1-row corpus-count aggregate, K-row k-means centroid set).
_BNLJ_ALLOWED = {
    "embedding_topk_ivf",
    "scalar_subquery_watermark",
    "docs_tfidf_top_terms",
    "embedding_kmeans_2iter",
    "docs_mix_weights",  # 1-row grand-total broadcast cross join (scalar subquery)
    "docs_token_heavy_hitters",  # 1-row stream-total broadcast cross join
    "events_hourly_gapfill",  # 1-row hour-bounds broadcast cross join (spine)
    "events_hourly_anomalies",  # same 1-row hour-bounds spine broadcast
    "docs_weighted_sample",  # 1-row grand-total broadcast (mix-weight chain)
    "docs_training_order",  # same 1-row grand-total broadcast (mix-weight chain)
    "idle_rich_customer_segments",  # 1-row avg-balance scalar broadcast cross join
    "embedding_pq_adc_recall_trained",  # 1-row query-vector broadcast
    # (exact-scan baseline side)
    "docs_bpe_top_merges",  # 1-row top-merge-pair + tokens-after broadcasts per round
    "events_key_skew_stats",  # 1-row top-10-sum broadcast cross join
    "segment_distinct_users_hll",  # 1-row merged-sketch x 1-row grand-total
    # broadcast join (the lit-key equi join constant-folds to a BNLJ of two
    # single-row aggregates — bounded by construction)
    "events_value_equidepth_hist",  # 1-row quartile-boundary broadcast
    "embedding_ivfpq_topk",  # 1-row query-vector + nprobe-row probe-list broadcasts
    # (embedding_incremental_index left the list when its routing moved to
    # the BLAS kernel — its plan now has zero BNLJ and stays gated.)
    "docs_packing_efficiency",  # 1-row grand-total (mix-weight chain) +
    # 1-row bins-total broadcast cross joins
    "embedding_index_ingest_dedup",  # K-row codebook broadcast cross joins
    # (the _km_assign shape embedding_kmeans_2iter carries); the
    # corpus-derived id/key guards are shuffle_hash-hinted equi joins
}

_ALL = sorted(REGISTRY)


@pytest.mark.parametrize("name", _ALL)
def test_no_pathological_joins(built_query, name):
    df = built_query(name, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"
    if name not in _BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: unexpected BroadcastNestedLoopJoin — broadcast an "
            "equi-keyed side or add to the documented allowlist"
        )
    _assert_no_global_window_on_fact(name, df)


# --------------------------------------------------------------------------
# Global-window gate: an unpartitioned Window moves ALL rows to one
# partition — acceptable only AFTER an aggregation has collapsed the input
# to dimension cardinality (quantile bucketing over O(users), not a window
# over the raw fact table), and only for the documented cases below.
# --------------------------------------------------------------------------
_GLOBAL_WINDOW_ALLOWED = {
    # ntile quartiles post-aggregation over O(purchasing users).
    "rfm_purchase_segments",
    # 12-step lag post-aggregation over O(months) rows (~80 at any SF).
    "lineitem_monthly_revenue_yoy",
    # per-partition token-offset cumsum post-aggregation over O(n_partitions)
    # rows (the distributed-enumeration idiom's bounded offset table).
    "docs_packing_efficiency",
}


def _logical_nodes(root):
    stack = [root]
    while stack:
        node = stack.pop()
        yield node
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))


def _global_windows(df):
    """Unpartitioned logical Window nodes in df's optimized plan, paired
    with whether an Aggregate sits below them (post-aggregation input)."""
    out = []
    for node in _logical_nodes(df._jdf.queryExecution().optimizedPlan()):
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            post_agg = any(
                m.nodeName() == "Aggregate"
                for m in _logical_nodes(node)
                if m is not node
            )
            out.append(post_agg)
    return out


def _assert_no_global_window_on_fact(name, df):
    for post_agg in _global_windows(df):
        assert name in _GLOBAL_WINDOW_ALLOWED, (
            f"{name}: unpartitioned Window in the plan — partition the "
            "window, pre-aggregate its input, or (for a documented "
            "dimension-cardinality case) add to _GLOBAL_WINDOW_ALLOWED"
        )
        assert post_agg, (
            f"{name}: allowlisted global window must run post-aggregation; "
            "this one windows a non-aggregated input"
        )


def test_global_window_gate_catches_raw_fact_window(spark):
    """The gate must go red for the shape it exists to forbid: a global
    window directly over the raw events fact table."""
    from pyspark.sql import Window, functions as F

    from real_time_flight_data_pipeline_spark.sources.parquet import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    bad = ev.withColumn("rn", F.row_number().over(Window.orderBy("ts")))
    flags = _global_windows(bad)
    assert flags == [False], flags
    with pytest.raises(AssertionError, match="unpartitioned Window"):
        _assert_no_global_window_on_fact("not_allowlisted_query", bad)


# --------------------------------------------------------------------------
# CollapseProject blowup gate.
#
# Catalyst's CollapseProject merges stacked projections, duplicating the
# tokenize idiom split(lower(text)) into every downstream expression that
# references the token array. In generator/aggregate shapes that duplication
# escapes runtime subexpression elimination and re-tokenizes the corpus once
# per reference (the decontaminate query paid 10x for exactly this, fixed
# twice by projection barriers: plans/llm_ext.py docs_decontaminate,
# plans/northstar.py gram queries). The barriers exist only by convention —
# this gate makes their removal a red test: each query's optimized plan may
# contain at most _TOKENIZE_CEILING_DEFAULT occurrences of the idiom, except
# the pinned snapshot below (flat per-projection fan-out that runtime CSE
# does eliminate). Raising a ceiling requires showing the duplication is
# CSE-safe, not generator-replicated.
# --------------------------------------------------------------------------
_TOKENIZE_IDIOM = "split(lower("
_TOKENIZE_CEILING_DEFAULT = 4
# r16: the old per-query ceilings (docs_text_stats 51, docs_lang_confusion
# 36, docs_quality_filter 28, ...) documented "single-Project stat
# fan-outs that runtime CSE eliminates". MEASURED FALSE: the fan-out
# references live inside interpreted higher-order functions, whose
# subtrees whole-stage-codegen subexpression elimination does not reach —
# docs_quality_filter paid its 19 inlined tokenizes per row (1.58 s ->
# 0.18 s exec at sf0.1 once tokenization moved behind a projection
# barrier). Every former exception now tokenizes once and sits under the
# default ceiling; new fan-outs must do the same.
_TOKENIZE_CEILINGS: dict[str, int] = {}


@pytest.mark.parametrize("name", _ALL)
def test_tokenize_not_collapse_duplicated(built_query, name):
    df = built_query(name, SF_SMOKE)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    n = plan.count(_TOKENIZE_IDIOM)
    ceiling = _TOKENIZE_CEILINGS.get(name, _TOKENIZE_CEILING_DEFAULT)
    assert n <= ceiling, (
        f"{name}: {n} x '{_TOKENIZE_IDIOM}' in optimized plan "
        f"(ceiling {ceiling}) — CollapseProject re-duplicated the tokenize; "
        "restore the projection barrier upstream of the fan-out"
    )

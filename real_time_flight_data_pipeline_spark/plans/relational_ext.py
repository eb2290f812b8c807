"""Relational completeness beyond the reference's surface.

SURVEY.md §2.11 lists the operator classes the reference never uses (set
ops, pivot, rollup/grouping sets, frame-spec windows, sessionization). A
complete engine needs them; each lands here with a DuckDB oracle under the
same determinism rules as catalog.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import (
    MERGE_SPLIT_LIT,
    _register,
    _spread,
    _t,
)
from .northstar import _sql_md5_long

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


# ===========================================================================
# Set operations (UNION / INTERSECT / EXCEPT, distinct semantics)
# ===========================================================================
@_register(
    "user_set_ops",
    """
    SELECT 'purchase_minus_click' AS op, user_id FROM (
      SELECT user_id FROM events WHERE event_type = 'purchase'
      EXCEPT
      SELECT user_id FROM events WHERE event_type = 'click'
    )
    UNION ALL
    SELECT 'purchase_intersect_click' AS op, user_id FROM (
      SELECT user_id FROM events WHERE event_type = 'purchase'
      INTERSECT
      SELECT user_id FROM events WHERE event_type = 'click'
    )
    UNION ALL
    SELECT 'purchase_union_signup' AS op, user_id FROM (
      SELECT user_id FROM events WHERE event_type = 'purchase'
      UNION
      SELECT user_id FROM events WHERE event_type = 'signup'
    )
    """,
    "EXCEPT / INTERSECT / UNION (distinct semantics) over user sets, tagged "
    "into one result",
    reference="SURVEY.md §2.11 (set ops absent in reference; added)",
    tags=("setops",),
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")

    def users(t: str) -> DataFrame:
        return ev.filter(F.col("event_type") == t).select("user_id")

    minus = users("purchase").subtract(users("click"))
    inter = users("purchase").intersect(users("click"))
    union = users("purchase").union(users("signup")).distinct()
    tag = lambda df, name: df.select(F.lit(name).alias("op"), "user_id")  # noqa: E731
    return (
        tag(minus, "purchase_minus_click")
        .unionByName(tag(inter, "purchase_intersect_click"))
        .unionByName(tag(union, "purchase_union_signup"))
    )


# ===========================================================================
# Pivot
# ===========================================================================
@_register(
    "pivot_event_counts",
    f"""
    SELECT user_id,
           {", ".join(
               f"COUNT(*) FILTER (WHERE event_type = '{t}') AS {t}"
               for t in _EVENT_TYPES
           )}
    FROM events GROUP BY user_id
    """,
    "Pivot event_type into per-user count columns (explicit value list so "
    "the plan is a single hash aggregate, no extra pass to discover values)",
    reference="SURVEY.md §2.11 (pivot absent in reference; added)",
    tags=("pivot",),
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .count()
        .na.fill(0, list(_EVENT_TYPES))
    )


# ===========================================================================
# Rollup / grouping sets
# ===========================================================================
@_register(
    "token_count_rollup",
    """
    SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY ROLLUP (lang, source)
    """,
    "ROLLUP(lang, source): per-pair, per-lang and grand-total document/char "
    "counts in one pass",
    reference="SURVEY.md §2.11 (rollup/cube absent in reference; added)",
    tags=("rollup",),
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.rollup("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


# ===========================================================================
# Frame-spec window: running total per key
# ===========================================================================
@_register(
    "running_total_per_user",
    """
    SELECT event_id, user_id, ts,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / 100 AS running_value
    FROM events
    """,
    "Cumulative sum per user over event time (ROWS UNBOUNDED PRECEDING .. "
    "CURRENT ROW), exact via scaled-long cents",
    reference="SURVEY.md §2.11 (frame-spec windows absent in reference; added)",
    tags=("window",),
)
def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cents = F.round(F.col("value") * 100).cast("long")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (F.sum(cents).over(w).cast("double") / 100).alias("running_value"),
    )


# ===========================================================================
# Sessionization (gap-based) — the batch twin of session_window streaming
# ===========================================================================
_SESSION_GAP_US = 30 * 60 * 1_000_000


@_register(
    "sessionize_events",
    f"""
    WITH g AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, event_id, ts,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
      FROM g
    )
    SELECT user_id, session_idx, count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM s GROUP BY user_id, session_idx
    """,
    "Gap-based sessionization (30-min idle gap): lag + cumulative new-session "
    "flag + per-session rollup. Streaming twin is session_window(ts, '30 min')",
    reference="SURVEY.md §2.9 T9 (stateful windows absent in reference; added)",
    tags=("window", "sessionization", "streaming"),
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    g = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(gap.isNull() | (gap > _SESSION_GAP_US), 1).otherwise(0).alias("is_new"),
    )
    s = g.select(
        "user_id",
        "ts",
        F.sum("is_new")
        .over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("session_idx"),
    )
    return s.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


# ===========================================================================
# Funnel conversion — ordered stage progression within a user timeline
# ===========================================================================
@_register(
    "funnel_view_click_purchase",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS view_ts
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS click_ts
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.view_ts
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS purchase_ts
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
      GROUP BY e.user_id
    )
    SELECT v.user_id, v.view_ts, c.click_ts, p.purchase_ts,
           CASE WHEN p.user_id IS NOT NULL THEN 3
                WHEN c.user_id IS NOT NULL THEN 2
                ELSE 1 END AS reached_stage
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    """,
    "Ordered funnel analysis (view -> click -> purchase): each stage's "
    "timestamp must strictly follow the previous stage's, per user — the "
    "event-sequence query behind every conversion dashboard. Three "
    "aggregations and two joins, ALL keyed on user_id: one shuffle "
    "partitioning serves the whole chain (exchange reuse), so at 100 TB "
    "this is a single co-partitioned pass over events with no timeline "
    "materialization and no window sort over the full event stream",
    reference="SURVEY.md §2.11 (funnel/sequence analytics absent in "
    "reference; added) — complements sessionize_events",
    tags=("window", "join", "A6"),
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "view_ts",
            "click_ts",
            "purchase_ts",
            F.when(F.col("purchase_ts").isNotNull(), 3)
            .when(F.col("click_ts").isNotNull(), 2)
            .otherwise(1)
            .alias("reached_stage"),
        )
    )


# ===========================================================================
# Cohort retention — signup-week cohorts x weeks-since-signup activity
# ===========================================================================
@_register(
    "cohort_retention_weekly",
    """
    WITH f AS (
      SELECT user_id, CAST(min(date_trunc('week', ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id
    ),
    a AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(datediff('day', f.cohort_week,
                           CAST(date_trunc('week', e.ts) AS DATE)) // 7
                  AS BIGINT) AS week_offset
      FROM events e JOIN f ON e.user_id = f.user_id
    )
    SELECT cohort_week, week_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM a GROUP BY cohort_week, week_offset
    """,
    "Cohort retention matrix: users bucketed by first-activity week, counted "
    "distinct per (cohort_week, weeks-since) — the retention triangle every "
    "product dashboard draws. Week offset is computed as whole days between "
    "Monday-truncated weeks // 7, which is engine-agnostic (week-diff "
    "builtins disagree across engines). Two aggregations keyed on user_id "
    "then on the (cohort, offset) pair; the user_id join reuses the first "
    "shuffle's partitioning, and the final matrix is O(weeks^2) rows",
    reference="SURVEY.md §2.11 (cohort/retention analytics absent in "
    "reference; added) — completes the funnel/session/cohort analytics trio",
    tags=("window", "A6", "join"),
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    week = lambda c: F.date_trunc("week", c).cast("date")  # noqa: E731
    f = ev.groupBy("user_id").agg(F.min(week(F.col("ts"))).alias("cohort_week"))
    a = (
        ev.join(f, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.datediff(week(F.col("ts")), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    return a.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct("user_id").alias("n_users")
    )


# ===========================================================================
# RFM segmentation — recency/frequency/monetary quartile scoring
# ===========================================================================
@_register(
    "rfm_purchase_segments",
    """
    WITH agg AS (
      SELECT user_id, max(ts) AS last_ts,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100
               AS monetary
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT user_id, last_ts, freq, monetary,
           CAST(ntile(4) OVER (ORDER BY last_ts DESC, user_id) AS INT) AS r_q,
           CAST(ntile(4) OVER (ORDER BY freq DESC, user_id) AS INT) AS f_q,
           CAST(ntile(4) OVER (ORDER BY monetary DESC, user_id) AS INT) AS m_q
    FROM agg
    """,
    "RFM segmentation: per-user purchase recency/frequency/monetary rolled "
    "up exactly (scaled-long cents), then quartile-scored with ntile over "
    "unique (metric, user_id) orderings — deterministic in both engines. "
    "The windows are global by definition (quantile bucketing), but they "
    "run AFTER aggregation on O(purchasing users) rows, not O(events) — "
    "at 100 TB that is the difference between sorting a dimension and "
    "sorting the fact table; an approx-percentile bucket assignment is the "
    "documented fallback if even the user dimension outgrows a sort",
    reference="SURVEY.md §2.11 (RFM/segmentation analytics absent in "
    "reference; added)",
    tags=("window", "A6"),
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    agg = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("freq"),
        (F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100).alias(
            "monetary"
        ),
    )
    q = lambda cols: F.ntile(4).over(Window.orderBy(*cols)).cast("int")  # noqa: E731
    return agg.select(
        "user_id",
        "last_ts",
        "freq",
        "monetary",
        q([F.desc("last_ts"), F.col("user_id")]).alias("r_q"),
        q([F.desc("freq"), F.col("user_id")]).alias("f_q"),
        q([F.desc("monetary"), F.col("user_id")]).alias("m_q"),
    )


# ===========================================================================
# Grouping sets (explicit; rollup/cube are the fixed-shape specializations)
# ===========================================================================
@_register(
    "grouping_sets_docs",
    """
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY GROUPING SETS ((lang), (source))
    """,
    "Explicit GROUPING SETS ((lang), (source)): per-lang and per-source "
    "aggregates in ONE scan + one expand — not a UNION of two scans. The "
    "NULLed-out opposite key disambiguates the set (both columns are "
    "non-NULL in the data)",
    reference="SURVEY.md §2.11 (grouping sets absent in reference; added)",
    tags=("rollup",),
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.groupingSets([["lang"], ["source"]], "lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


# ===========================================================================
# Window analytics pack (lag/lead/ntile/percent_rank/rank)
# ===========================================================================
@_register(
    "event_rank_analytics",
    """
    SELECT event_id, user_id,
           lag(value) OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           CAST(rank() OVER (PARTITION BY user_id ORDER BY
                             CAST(round(value * 100) AS BIGINT) DESC, event_id)
                AS INTEGER) AS value_rank
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    "Analytic-function pack over per-user event sequences: lag/lead "
    "neighbors, ntile quartiles, percent_rank (rounded for cross-engine "
    "float stability), and a value rank on the scaled-long key. One shuffle "
    "on user_id serves all five windows",
    reference="SURVEY.md §2.11 (analytic windows absent in reference; added)",
    tags=("window",),
)
def q_rank_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wv = Window.partitionBy("user_id").orderBy(
        F.round(F.col("value") * 100).cast("long").desc(), "event_id"
    )
    return ev.select(
        "event_id",
        "user_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.rank().over(wv).alias("value_rank"),
    )


# ===========================================================================
# Datetime scalar pack
# ===========================================================================
@_register(
    "datetime_functions",
    """
    SELECT event_id,
           CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(extract(hour FROM ts) AS INTEGER) AS hour_of_day,
           CAST(extract(dow FROM ts) + 1 AS INTEGER) AS dow_sunday1,
           CAST(ts AS DATE) + 7 AS plus_week,
           CAST(datediff('day', CAST(ts AS DATE), DATE '2024-02-01') AS INTEGER)
             AS days_to_feb,
           last_day(CAST(ts AS DATE)) AS month_end
    FROM events
    """,
    "Datetime scalar pack: truncation, field extraction (hour, day-of-week "
    "normalized to Sunday=1 on both engines), date arithmetic, datediff, "
    "last_day — all codegen'd scalar expressions",
    reference="SURVEY.md §2.11 (datetime scalars beyond P4-P6; added)",
    tags=("scalar",),
)
def q_datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    d = F.col("ts").cast("date")
    return ev.select(
        "event_id",
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.hour("ts").alias("hour_of_day"),
        F.dayofweek("ts").alias("dow_sunday1"),
        F.date_add(d, 7).alias("plus_week"),
        F.datediff(F.lit("2024-02-01").cast("date"), d).alias("days_to_feb"),
        F.last_day(d).alias("month_end"),
    )


# ===========================================================================
# Range join (grid-blocked: equi join on cells, never nested-loop)
# ===========================================================================
_VALUE_BANDS = (
    ("micro", 0.0, 10.0),
    ("small", 10.0, 50.0),
    ("mid", 50.0, 100.0),
    ("large", 100.0, 250.0),
    ("whale", 250.0, 1000.0),
)


@_register(
    "events_value_band_join",
    f"""
    WITH bands(band, lo, hi) AS (VALUES
      {", ".join(f"('{b}', {lo}::DOUBLE, {hi}::DOUBLE)" for b, lo, hi in _VALUE_BANDS)}
    )
    SELECT band, count(*) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_value
    FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY band
    """,
    "Range (band) join via grid blocking: ranges exploded onto fixed-width "
    "cells, values equi-joined on their cell, exact bounds post-filtered — "
    "a hash join where the naive BETWEEN join would be a nested-loop scan "
    "(the plan gate enforces this stays BNLJ-free)",
    reference="SURVEY.md §2.11 (range join absent in reference; grid-blocked interval join)",
    tags=("join", "range"),
)
def q_value_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranges import grid_range_join

    ev = _t(spark, sf_dir, "events")
    bands = spark.createDataFrame(list(_VALUE_BANDS), "band string, lo double, hi double")
    joined = grid_range_join(ev, F.broadcast(bands), "value", "lo", "hi", grid=50.0)
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100).alias(
            "sum_value"
        ),
    )


# ===========================================================================
# Approximate aggregates — engine capability; HLL sketches are not
# bit-comparable across engines, so the oracle checks exact bounds instead.
# ===========================================================================
_APPROX_RSD = 0.05  # approx_count_distinct's default relative standard dev


@_register(
    "approx_distinct_users",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           true AS approx_ok
    FROM events
    GROUP BY event_type
    """,
    "approx_count_distinct per event_type, made oracle-checkable: the HLL "
    "sketch value is engine-specific, so the query emits the exact count "
    "plus approx_ok = |approx-exact|/exact <= 4.5*rsd computed Spark-side; "
    "the oracle predicts (exact_count, true). A sketch drifting outside its "
    "own error bound now fails the hash match instead of hiding behind a "
    "rows-only row. 4.5 sigma (not 3): HLL++ error is not strictly "
    "Gaussian-bounded, so a 3-sigma band carries ~0.3% flake odds per "
    "group per run; at 4.5 sigma a mismatch is evidence of a real sketch "
    "regression, not variance",
    reference="SURVEY.md §2.11 (approximate aggregates absent in reference; added)",
    tags=("approx",),
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", _APPROX_RSD).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.col("exact_users")
            <= F.lit(4.5 * _APPROX_RSD)
        ).alias("approx_ok"),
    )


@_register(
    "distinct_users_exact",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           count(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
    "Exact distinct-user counts per event type: the oracle-checkable twin of "
    "approx_distinct_users (whose HLL sketch columns are rows-only by "
    "construction). count(DISTINCT) plans as a two-phase aggregate — "
    "partial distinct within partitions, shuffle O(distinct pairs)",
    reference="SURVEY.md §2.6 A5/A6 (count aggregates) exact twin of approx",
    tags=("approx", "A5"),
)
def q_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ===========================================================================
# J4 — two-column composite-key equi join (route-id lookup shape)
# ===========================================================================
@_register(
    "route_lookup_two_key_join",
    """
    WITH routes AS (
      SELECT DISTINCT l_partkey AS dep_key, l_suppkey AS arr_key,
             ('0x' || substring(md5(CAST(l_partkey AS VARCHAR) || '_' ||
                                   CAST(l_suppkey AS VARCHAR)), 1, 15))::BIGINT AS route_id
      FROM lineitem
    )
    SELECT l.l_orderkey, l.l_linenumber, r.route_id
    FROM lineitem l
    LEFT JOIN routes r
      ON l.l_partkey = r.dep_key AND l.l_suppkey = r.arr_key
    """,
    "Composite-key route lookup: route discovery (DISTINCT pairs + "
    "deterministic md5 surrogate id) re-attached to every lineitem row. "
    "r16 physical rewrite (guide §2.4/§8): the oracle keeps the DISTINCT-"
    "pairs + two-key LEFT JOIN statement, but the engine exploits what "
    "the optimizer cannot prove — the lookup side is derived from the "
    "SAME table, so every (non-null) key pair matches exactly one route "
    "row whose route_id is a pure function of the pair. The join is an "
    "identity re-attachment; computing route_id inline per row removes "
    "the DISTINCT shuffle, the 600k-row broadcast build, and the probe "
    "(measured 2.4 s -> 0.3 s exec at sf0.1; plan: 4 scans/2 exchanges/"
    "broadcast join -> 1 scan, zero exchanges). A NULL in either key "
    "produced no match before, so the inline form guards both keys",
    reference="load_warehouse.py:236-243 (route_id lookup ON dep AND arr)",
    tags=("J4", "A2", "M6"),
)
def q_route_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spread the single-row-group lineitem scan: the md5+conv surrogate-id
    # projection is per-row-CPU-bound, so one scan task serialized it
    # (guide §2.5; measured with the inline rewrite: 2.36 -> 1.23 s exec).
    li = _spread(spark, _t(spark, sf_dir, "lineitem"))
    route_id = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "_",
                        F.col("l_partkey").cast("string"),
                        F.col("l_suppkey").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(
            F.col("l_partkey").isNotNull() & F.col("l_suppkey").isNotNull(),
            route_id,
        ).alias("route_id"),
    )


# ===========================================================================
# J7 — cross join with a 1-row relation (scalar watermark)
# ===========================================================================
@_register(
    "scalar_subquery_watermark",
    """
    SELECT e.event_id, e.ts
    FROM events e, (SELECT max(ts) - INTERVAL 7 DAY AS cutoff FROM events) w
    WHERE e.ts > w.cutoff
    """,
    "Cross join with a broadcast 1-row aggregate (the reference's "
    "watermark-CTE shape): data-derived cutoff, no driver round-trip",
    reference="sheets_sink.py:93-94 (FROM view, last); 01_views.sql:25-33",
    tags=("J7", "F5", "A4"),
)
def q_scalar_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    wm = ev.agg((F.max("ts") - F.expr("INTERVAL 7 DAYS")).alias("cutoff"))
    return (
        ev.crossJoin(F.broadcast(wm))
        .filter(F.col("ts") > F.col("cutoff"))
        .select("event_id", "ts")
    )


# ===========================================================================
# CUBE + exact median
# ===========================================================================
@_register(
    "cube_event_stats",
    """
    SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
           count(*) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_value
    FROM events
    WHERE ts < TIMESTAMP '2024-01-04 00:00:00'
    GROUP BY CUBE (event_type, day)
    """,
    "CUBE over (event_type, day): all four grouping sets in one pass",
    reference="SURVEY.md §2.11 (cube absent in reference; added)",
    tags=("rollup",),
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-04 00:00:00").cast("timestamp")
    )
    return (
        ev.withColumn("day", F.date_trunc("day", "ts").cast("date"))
        .cube("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100).alias(
                "sum_value"
            ),
        )
    )


@_register(
    "median_value_by_type",
    """
    SELECT event_type,
           median(CAST(round(value * 100) AS BIGINT)) / 100 AS median_value,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
    "Exact median via integer cents (interpolated midpoint is exact in "
    "double for integer inputs — deterministic across engines)",
    reference="SURVEY.md §2.11 (quantiles absent in reference; added)",
    tags=("approx", "A6"),
)
def q_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    return ev.groupBy("event_type").agg(
        (F.median(cents) / 100).alias("median_value"),
        F.count(F.lit(1)).alias("n"),
    )


# ===========================================================================
# As-of join (no Spark primitive; union+window composition)
# ===========================================================================
@_register(
    "asof_last_click_before_purchase",
    """
    SELECT p.event_id, p.user_id, p.ts, c.ts AS last_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    "As-of join: for every purchase, the timestamp of the same user's most "
    "recent click at-or-before it. Spark lacks the primitive; composed as "
    "tag -> union -> per-key window carry-forward (one shuffle + one sort, "
    "cost independent of history depth). Oracle uses DuckDB's native ASOF "
    "JOIN — an independent implementation of the same semantics",
    reference="SURVEY.md §2.11 (as-of joins absent in reference; added); "
    "pyspark_guide 'As-of / range join' pattern",
    tags=("asof", "J-ext"),
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    out = asof_join(
        purchases, clicks, on=["user_id"], left_ts="ts", right_ts="ts",
        value_cols=["ts"],
    )
    return out.select(
        "event_id", "user_id", "ts", F.col("asof_ts").alias("last_click_ts")
    )


# ===========================================================================
# Skew-safe aggregation path: salted join + salted two-phase rollup
# ===========================================================================
@_register(
    "revenue_by_nation_skewsafe",
    """
    SELECT n.n_name AS nation_name,
           CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS DOUBLE) / 100
             AS total_value,
           COUNT(*) AS n_events
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY total_value DESC, nation_name
    """,
    "Skew-safe star rollup: the fact->customer equi join runs through "
    "salted_equi_join (hot user_ids split 8 ways, customer side replicated "
    "per salt — the non-broadcastable-dim case), and the nation rollup runs "
    "through salted_sum_count (two-phase: partial per (nation, salt), then "
    "merge — a 25-nation group key is exactly the low-cardinality hot-key "
    "shape that melts a single-shuffle agg at 100 TB). Salting is "
    "semantics-preserving, so the oracle is the plain join+GROUP BY",
    reference="SURVEY.md §4 (DISTINCT ON scale note); operators/skew.py; "
    "complements AQE skew splitting (session.py)",
    tags=("skew", "J1", "A6", "bench"),
)
def q_revenue_by_nation_skewsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_equi_join, salted_sum_count

    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = salted_equi_join(ev, cust, keys=["user_id"], n_salts=8)
    with_nation = joined.join(
        F.broadcast(nat), joined.c_nationkey == nat.n_nationkey
    ).select(F.col("n_name").alias("nation_name"), "cents")
    rolled = salted_sum_count(with_nation, ["nation_name"], ["cents"], n_salts=8)
    return rolled.select(
        "nation_name",
        (F.col("sum_cents").cast("double") / 100).alias("total_value"),
        F.col("n").alias("n_events"),
    ).orderBy(F.desc("total_value"), "nation_name")


# ===========================================================================
# Interval RANGE frame window (event-time trailing aggregate)
# ===========================================================================
@_register(
    "trailing_hour_value_per_user",
    """
    SELECT event_id, user_id, ts,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / 100 AS trailing_value,
           COUNT(*) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) AS n_trailing
    FROM events
    """,
    "Trailing one-hour aggregate per user: a RANGE frame over event time "
    "(epoch-microsecond ordering, so the 1h bound is integer-exact in both "
    "engines; ties are value-peers in both). The per-key sort is the only "
    "cost — one shuffle on user_id, no self-join, frame evaluated in a "
    "single pass. The batch twin of the hopping-window stream",
    reference="SURVEY.md §2.11 (rangeBetween frame windows absent in "
    "reference; added)",
    tags=("window",),
)
def q_trailing_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    cents = F.round(F.col("value") * 100).cast("long")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (F.sum(cents).over(w).cast("double") / 100).alias("trailing_value"),
        F.count(F.lit(1)).over(w).alias("n_trailing"),
    )


# ===========================================================================
# Multiset set operations (ALL variants — distinct variants in user_set_ops)
# ===========================================================================
@_register(
    "user_set_ops_all",
    """
    SELECT 'purchase_except_all_click' AS op, user_id FROM (
      SELECT user_id FROM events WHERE event_type = 'purchase'
      EXCEPT ALL
      SELECT user_id FROM events WHERE event_type = 'click'
    )
    UNION ALL
    SELECT 'purchase_intersect_all_click' AS op, user_id FROM (
      SELECT user_id FROM events WHERE event_type = 'purchase'
      INTERSECT ALL
      SELECT user_id FROM events WHERE event_type = 'click'
    )
    """,
    "EXCEPT ALL / INTERSECT ALL multiset semantics (duplicate-preserving "
    "complement of user_set_ops): per-key multiplicity arithmetic, planned "
    "as a keyed aggregate+generate — one shuffle per side, no sort",
    reference="SURVEY.md §2.11 (set ops absent in reference; added)",
    tags=("setops",),
)
def q_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")

    def users(t: str) -> DataFrame:
        return ev.filter(F.col("event_type") == t).select("user_id")

    minus_all = users("purchase").exceptAll(users("click"))
    inter_all = users("purchase").intersectAll(users("click"))
    tag = lambda df, name: df.select(F.lit(name).alias("op"), "user_id")  # noqa: E731
    return tag(minus_all, "purchase_except_all_click").unionByName(
        tag(inter_all, "purchase_intersect_all_click")
    )


# ===========================================================================
# Full outer join (the one join type the catalog lacked explicitly)
# ===========================================================================
@_register(
    "events_daily_full_outer",
    """
    WITH p AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n_purchase
      FROM events WHERE event_type = 'purchase'
        AND ts < TIMESTAMP '2024-01-21 00:00:00'
      GROUP BY 1
    ),
    c AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n_click
      FROM events WHERE event_type = 'click'
        AND ts >= TIMESTAMP '2024-01-11 00:00:00'
      GROUP BY 1
    )
    SELECT COALESCE(p.day, c.day) AS day,
           COALESCE(n_purchase, 0) AS n_purchase,
           COALESCE(n_click, 0) AS n_click
    FROM p FULL OUTER JOIN c ON p.day = c.day
    """,
    "FULL OUTER equi join of two daily aggregates with deliberately "
    "disjoint date windows, null sides coalesced to zero — the reconcile-"
    "two-ledgers shape. Post-aggregation join: both sides are already "
    "reduced to O(days) rows before the join, so the full-outer shuffle "
    "is trivial however large events is",
    reference="SURVEY.md §2.5 (J-class completeness; full outer absent in "
    "reference)",
    tags=("J-ext",),
)
def q_daily_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")

    def daily(etype: str, pred, alias: str) -> DataFrame:
        return (
            ev.filter((F.col("event_type") == etype) & pred)
            .groupBy(F.to_date("ts").alias("day"))
            .agg(F.count(F.lit(1)).alias(alias))
        )

    p = daily("purchase", F.col("ts") < "2024-01-21 00:00:00", "n_purchase")
    c = daily("click", F.col("ts") >= "2024-01-11 00:00:00", "n_click")
    return (
        p.join(c, "day", "full_outer")
        .select(
            "day",
            F.coalesce("n_purchase", F.lit(0)).alias("n_purchase"),
            F.coalesce("n_click", F.lit(0)).alias("n_click"),
        )
    )


# ===========================================================================
# Per-user median + median absolute deviation from built-in expressions
# ===========================================================================
@_register(
    "user_value_mad_native",
    """
    WITH c AS (
      SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents FROM events
    ),
    m AS (SELECT user_id, COUNT(*) AS n, median(cents) AS med
          FROM c GROUP BY user_id),
    d AS (SELECT c.user_id, abs(c.cents - m.med) AS adev
          FROM c JOIN m USING (user_id))
    SELECT m.user_id, m.n,
           m.med / 100 AS median_value,
           a.mad / 100 AS mad_value
    FROM m JOIN (SELECT user_id, median(adev) AS mad FROM d GROUP BY user_id) a
      USING (user_id)
    """,
    "Per-user median + median absolute deviation: two exact "
    "percentile(_, 0.5) statistics over integer cents (median, then median "
    "of absolute deviations), all JVM-side — no Python worker, no Arrow "
    "transfer; measured 3.0x faster than a grouped Arrow UDF at sf0.1. "
    "Exact cross-engine because integer-cent medians land on exact binary "
    "halves",
    reference="[NORTH-STAR] grouped custom operator tier, built-in form",
    tags=("window", "A6"),
)
def q_user_value_mad_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r16 (guide §2.4 share one exchange): the old form shuffled events by
    # user_id TWICE (median pass, then the deviation pass) and joined
    # twice more on the same key. One groupBy now collects each user's
    # sorted cents once; both medians come from the array with EXACTLY
    # percentile(_, 0.5)'s arithmetic — odd n reads the middle element,
    # even n averages the two middle ones ((a+b)/2 on integer-valued
    # doubles is exact, bit-equal to percentile's 0.5a+0.5b), and
    # collect_list drops NULLs exactly where percentile ignores them
    # while n keeps counting all rows. 1 Exchange, 0 joins (was 3
    # Exchanges, 2 joins); oracle statement unchanged.
    cents = _t(spark, sf_dir, "events").select(
        "user_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )

    def arr_median(c: Column) -> Column:
        n = F.size(c)
        k = ((n - 1) / 2).cast("int")  # 0-based lower-middle index
        lo = F.get(c, k).cast("double")
        hi = F.get(c, k + 1).cast("double")
        return F.when(n == 0, F.lit(None).cast("double")).otherwise(
            F.when(n % 2 == 1, lo).otherwise((lo + hi) / 2)
        )

    g = cents.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sort_array(F.collect_list("cents")).alias("cs"),
    )
    med = arr_median(F.col("cs"))
    g2 = g.select("user_id", "n", "cs", med.alias("med"))
    ads = F.sort_array(
        F.transform(F.col("cs"), lambda x: F.abs(x - F.col("med")))
    )
    # r17: materialize the sorted-deviation array in its OWN projection
    # (like `med` above) — inlining it into arr_median re-evaluated the
    # interpreted sort_array(transform(...)) ~7x per row (the r16
    # after-plan's node (7)); CollapseProject's cheapness check keeps a
    # multiply-referenced non-trivial alias from being re-inlined, so
    # this evaluates the HOF exactly once. Same values, same arithmetic.
    g3 = g2.select("user_id", "n", "med", ads.alias("ads"))
    return g3.select(
        "user_id",
        "n",
        (F.col("med") / 100).alias("median_value"),
        (arr_median(F.col("ads")) / 100).alias("mad_value"),
    )


# ===========================================================================
# Unpivot / melt (wide -> long, the inverse of pivot_event_counts)
# ===========================================================================
@_register(
    "unpivot_user_counts",
    """
    WITH p AS (
      SELECT user_id,
             count(*) FILTER (WHERE event_type = 'click') AS click,
             count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
             count(*) FILTER (WHERE event_type = 'signup') AS signup
      FROM events GROUP BY user_id
    )
    SELECT user_id, event_type, n
    FROM p UNPIVOT (n FOR event_type IN (click, purchase, signup))
    """,
    "Unpivot/melt: per-user wide counts back to long form (the inverse of "
    "pivot_event_counts) — wide-to-long reshaping without explode "
    "gymnastics. Post-aggregation: the unpivot runs on O(users) rows, "
    "constant fan-out 3",
    reference="SURVEY.md §2.11 (pivot family; unpivot added r3)",
    tags=("pivot",),
)
def q_unpivot_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cnt = lambda t: F.count(F.when(F.col("event_type") == t, 1)).alias(t)  # noqa: E731
    wide = ev.groupBy("user_id").agg(cnt("click"), cnt("purchase"), cnt("signup"))
    return wide.unpivot(
        ids=["user_id"],
        values=["click", "purchase", "signup"],
        variableColumnName="event_type",
        valueColumnName="n",
    )


# ===========================================================================
# Forward fill (gap filling via IGNORE NULLS frame window)
# ===========================================================================
@_register(
    "forward_fill_values",
    """
    WITH sparse AS (
      SELECT user_id, event_id, ts,
             CASE WHEN event_type = 'view' THEN NULL ELSE value END AS v
      FROM events
    )
    SELECT user_id, event_id, ts,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value
    FROM sparse
    """,
    "Forward fill: carry the last non-null observation forward per user in "
    "event-time order (IGNORE NULLS last_value over an unbounded-preceding "
    "frame) — the gap-filling pass for sparse sensor/metric streams. "
    "Values pass through untouched (bit-identical cross-engine); rows "
    "before a user's first observation stay NULL in both. One shuffle on "
    "user_id, single-pass frame",
    reference="SURVEY.md §2.11 (frame windows; IGNORE NULLS variant added r3)",
    tags=("window",),
)
def q_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    sparse = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.col("event_type") != "view", F.col("value")).alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return sparse.select(
        "user_id",
        "event_id",
        "ts",
        F.last("v", ignorenulls=True).over(w).alias("filled_value"),
    )


# ===========================================================================
# part / supplier dimension queries (last two unexercised testdata tables)
# ===========================================================================
@_register(
    "promo_revenue_share_by_brand",
    """
    SELECT p.p_brand,
           CAST(CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                    THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                         * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
                    ELSE 0 END) AS BIGINT) AS DOUBLE) / 10000 AS promo_revenue,
           CAST(CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT)
                AS DOUBLE) / 10000 AS total_revenue,
           CAST(CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                    THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                         * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
                    ELSE 0 END) AS BIGINT) AS DOUBLE)
             / CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT)
             AS promo_share
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    ORDER BY p.p_brand
    """,
    "TPC-H Q14-flavored conditional-aggregate share: promo revenue fraction "
    "per brand over a broadcast part-dimension join. Scaled-long revenue "
    "keeps both sums integer-exact; the share is one IEEE division of two "
    "exact longs. Fact side never shuffles for the join; one keyed agg "
    "shuffle on brand",
    reference="SURVEY.md §2.6 A6 family; exercises the part table",
    tags=("J1", "A6", "bench"),
)
def q_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r16: hash-spread (see q_rollup_lineitem / catalog._spread).
    # r17: keyed on l_partkey (the join key, already scanned) so the
    # repartition never widens the scan's ReadSchema.
    li = _spread(spark, _t(spark, sf_dir, "lineitem"), key="l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_type")
    rev = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            (F.sum(promo).cast("double") / 10000).alias("promo_revenue"),
            (F.sum(rev).cast("double") / 10000).alias("total_revenue"),
            (F.sum(promo).cast("double") / F.sum(rev)).alias("promo_share"),
        )
        .orderBy("p_brand")
    )


@_register(
    "supplier_revenue_by_nation",
    """
    SELECT n.n_name AS nation_name,
           CAST(CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT)
                AS DOUBLE) / 10000 AS revenue,
           COUNT(*) AS n_lineitems
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation_name
    """,
    "Supply-side star rollup (TPC-H Q9 flavor): revenue attributed through "
    "the supplier dimension instead of the customer path — the last "
    "unexercised testdata table. Supplier+nation pre-joined and broadcast; "
    "the fact scan flows straight into a map-side-combined agg",
    reference="01_views.sql:79-83 star join generalized (supply side)",
    tags=("J1", "A6", "bench"),
)
def q_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r16: hash-spread (see q_rollup_lineitem / catalog._spread).
    # r17: keyed on l_suppkey (the join key, already scanned) so the
    # repartition never widens the scan's ReadSchema.
    li = _spread(spark, _t(spark, sf_dir, "lineitem"), key="l_suppkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    dim = F.broadcast(
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
            "s_suppkey", "n_name"
        )
    )
    return (
        li.join(dim, li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            (F.sum(rev).cast("double") / 10000).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy(F.desc("revenue"), "nation_name")
    )


# ===========================================================================
# Exact distributed quantiles (quartiles on integer cents)
# ===========================================================================
@_register(
    "value_quartiles_by_type",
    """
    WITH cents AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events
    )
    SELECT event_type,
           quantile_cont(c, 0.25) AS p25_cents,
           quantile_cont(c, 0.50) AS p50_cents,
           quantile_cont(c, 0.75) AS p75_cents,
           CAST(count(*) AS BIGINT) AS n
    FROM cents GROUP BY event_type
    """,
    "Exact per-group quartiles. Values are first projected to integer cents "
    "(scaled-long fixed point), so the linear interpolation at q in "
    "{.25,.5,.75} multiplies an integer delta by an exactly-representable "
    "binary fraction: every intermediate is exact in IEEE double and "
    "Spark's percentile() agrees with DuckDB's quantile_cont bit-for-bit. "
    "Exact percentile is a single-pass partial aggregate in Spark (per-"
    "partition digest, merged on the reducer) - no global sort, unlike the "
    "naive windowed-rank formulation; approx_percentile is the knob when "
    "even that state is too large at 100 TB",
    reference="SURVEY.md §2.11 (quantiles absent in reference; added)",
    tags=("A6", "quantiles"),
)
def q_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        ev.select("event_type", cents.alias("c"))
        .groupBy("event_type")
        .agg(
            F.percentile("c", F.lit(0.25)).alias("p25_cents"),
            F.percentile("c", F.lit(0.50)).alias("p50_cents"),
            F.percentile("c", F.lit(0.75)).alias("p75_cents"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ===========================================================================
# Histogram / binning (width_bucket shape)
# ===========================================================================
@_register(
    "value_histogram_bands",
    """
    SELECT event_type,
           CAST(floor(value / 50) AS BIGINT) AS band,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                AS DOUBLE) / 100 AS total_value
    FROM events
    GROUP BY event_type, band
    """,
    "Fixed-width histogram (width_bucket shape): bin id is a pure "
    "projection (floor-div), so the whole query is one map-side-combined "
    "aggregate - the canonical distribution-profiling pass before choosing "
    "salting/bucketing thresholds at 100 TB. Money summed in scaled-long "
    "cents (DECIMAL intermediates leave Spark's "
    "compact-long fast path)",
    reference="SURVEY.md §2.11 (histogram absent in reference; added)",
    tags=("A6", "histogram"),
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        ev.groupBy(
            "event_type",
            F.floor(F.col("value") / 50).cast("long").alias("band"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents).cast("double") / 100).alias("total_value"),
        )
    )


# ===========================================================================
# Correlated EXISTS (TPC-H Q4 shape) — decorrelated to a compound semi join
# ===========================================================================
@_register(
    "late_ship_order_priority",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS late_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o_orderpriority
    """,
    "TPC-H Q4 shape: orders with at least one lineitem shipped >60 days "
    "after the order date, counted per priority. The correlated EXISTS "
    "decorrelates to a LEFT SEMI join whose condition carries both the "
    "equi key (shuffle key) and the date predicate (evaluated inside the "
    "join, no fact-side pre-expansion). Semi-join semantics dedupe "
    "multi-match orders for free - no DISTINCT pass over the fact table",
    reference="SURVEY.md §2.11 (correlated subqueries absent in reference; added)",
    tags=("J6", "subquery"),
)
def q_late_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("late_orders"))
    )


# ===========================================================================
# GROUP BY ... HAVING + join-back (TPC-H Q18 shape)
# ===========================================================================
_BIG_ORDER_QTY = 250


@_register(
    "large_basket_customers",
    f"""
    WITH big AS (
      SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > {_BIG_ORDER_QTY}
    )
    SELECT c.c_name, o.o_orderkey,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS totalprice_cents,
           b.sum_qty
    FROM big b
    JOIN orders o   ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    f"TPC-H Q18 shape: aggregate the fact table, HAVING-filter to the rare "
    f"heavy groups (> {_BIG_ORDER_QTY} units), then join the survivors back "
    "to the dimension chain. The HAVING output is orders of magnitude "
    "smaller than the fact table, so it broadcasts into both lookups - the "
    "100 TB plan aggregates once and never shuffles orders or customer. "
    "l_quantity is integer-valued, so the double sum is exact and the "
    "BIGINT cast deterministic",
    reference="SURVEY.md §2.11 (HAVING join-back absent in reference; added)",
    tags=("A6", "J1", "subquery"),
)
def q_large_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("s"))
        .filter(F.col("s") > _BIG_ORDER_QTY)
        .select("l_orderkey", F.col("s").cast("long").alias("sum_qty"))
    )
    joined = o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey).select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("totalprice_cents"),
        "sum_qty",
    )
    return c.join(F.broadcast(joined), c.c_custkey == F.col("o_custkey")).select(
        "c_name", "o_orderkey", "totalprice_cents", "sum_qty"
    )


# ===========================================================================
# Correlated scalar comparison (above per-group average) — broadcast agg
# ===========================================================================
@_register(
    "above_avg_events",
    """
    WITH c AS (
      SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    a AS (
      SELECT event_type,
             CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) / count(*) AS avg_cents
      FROM c GROUP BY event_type
    )
    SELECT c.event_id, c.event_type, c.cents, a.avg_cents
    FROM c JOIN a USING (event_type)
    WHERE CAST(c.cents AS DOUBLE) > a.avg_cents
    """,
    "Correlated scalar subquery shape ('rows above their group's "
    "average'), decorrelated as a tiny per-group aggregate broadcast back "
    "onto the fact scan - one shuffle for 5 aggregate rows, then a "
    "map-side-only filter join; the window formulation would instead sort "
    "the whole fact table per group. Exact: integer-cents sum / count is "
    "one IEEE division, identical on both engines",
    reference="SURVEY.md §2.11 (correlated subqueries absent in reference; added)",
    tags=("A6", "subquery"),
)
def q_above_avg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    avg = ev.groupBy("event_type").agg(
        (F.sum("cents").cast("double") / F.count(F.lit(1))).alias("avg_cents")
    )
    return ev.join(F.broadcast(avg), "event_type").filter(
        F.col("cents").cast("double") > F.col("avg_cents")
    ).select("event_id", "event_type", "cents", "avg_cents")


# ===========================================================================
# Hourly resample with zero-fill + forward fill (r6) — the time-series
# gap-fill pass: a dense hour spine per dimension value, observed hours
# joined on, counts zero-filled, last known hourly average carried forward.
# ===========================================================================
@_register(
    "events_hourly_gapfill",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(count(*) AS BIGINT) AS c,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
      FROM events
    ),
    spine AS (
      SELECT t.event_type, unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS hour
      FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN bounds b
    )
    SELECT s.event_type, s.hour,
           COALESCE(h.c, 0) AS n,
           CAST(h.cents AS DOUBLE) / (100.0 * h.c) AS hour_value,
           last_value(CAST(h.cents AS DOUBLE) / (100.0 * h.c) IGNORE NULLS) OVER (
             PARTITION BY s.event_type ORDER BY s.hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value
    FROM spine s LEFT JOIN hourly h
      ON s.event_type = h.event_type AND s.hour = h.hour
    """,
    "Time-series resample: aggregate events to (event_type, hour), build "
    "the DENSE hour spine via sequence(min_hour, max_hour) exploded per "
    "event_type, left-join observations onto it, zero-fill counts, and "
    "forward-fill the last known hourly average across gaps (IGNORE NULLS "
    "frame window). Hours before a type's first observation stay NULL in "
    "both engines. 100 TB shape: the expensive side is one map-combined "
    "aggregation of the fact table; the spine is O(types x hours) — "
    "dimension-sized — and the window runs on the aggregated table, never "
    "the raw facts. Hourly average = exact long cents / (100*n), one IEEE "
    "division",
    reference="SURVEY.md §2.11 extension (gap-fill/resample; composes the "
    "forward_fill_values idiom with a generated spine)",
    tags=("window", "timeseries"),
)
def q_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine = (
        ev.select("event_type")
        .distinct()
        .join(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("interval 1 hour"))
            ).alias("hour"),
        )
    )
    hour_value = F.col("cents").cast("double") / (F.lit(100.0) * F.col("c"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["event_type", "hour"], "left")
        .select(
            "event_type",
            "hour",
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("n"),
            hour_value.alias("hour_value"),
        )
        .withColumn(
            "filled_value", F.last("hour_value", ignorenulls=True).over(w)
        )
    )


# ===========================================================================
# Data-derived interval join (r6): mine promo windows from the orders
# table, then range-join the lineitem fact into them with NO equi key —
# the grid-blocked interval join, this time with ranges that come out of a
# first aggregation phase instead of a static literal table.
# ===========================================================================
_PROMO_TOP_DAYS = 12


@_register(
    "promo_interval_lineitem_join",
    f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS d,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    ),
    top_days AS (
      SELECT d, n_orders FROM daily
      ORDER BY n_orders DESC, d LIMIT {_PROMO_TOP_DAYS}
    ),
    iv AS (
      SELECT n_orders,
             d - INTERVAL 6 HOUR AS start_ts,
             d + INTERVAL 30 HOUR AS end_ts
      FROM top_days
    )
    SELECT iv.start_ts, iv.end_ts, iv.n_orders,
           CAST(count(*) AS BIGINT) AS n_ship,
           CAST(SUM(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
    FROM iv JOIN lineitem l
      ON l.l_shipdate >= iv.start_ts AND l.l_shipdate < iv.end_ts
    GROUP BY 1, 2, 3
    """,
    "Interval join with data-derived ranges: phase 1 aggregates orders to "
    "daily counts and keeps the top-12 busiest days (deterministic "
    "tie-break on the day), each widened to a 36-hour promo window "
    "[day-6h, day+30h); phase 2 range-joins lineitem shipments into the "
    "windows via grid blocking on epoch-day cells (operators/ranges.py) — "
    "an equi hash join plus exact-bound post-filter where the naive "
    "BETWEEN join is a BroadcastNestedLoopJoin (plan-gate enforced). "
    "Windows may overlap; a shipment lands in every window covering it. "
    "100 TB shape: interval mining is a map-combined aggregation + top-N; "
    "the fact side is scanned once and joined on its own day cell — range "
    "replication is ceil(36h/24h)+1 cells per window, independent of fact "
    "size. Quantities are integer-valued; the sum is exact long math",
    reference="SURVEY.md §2.11 (range join absent in reference; "
    "data-derived-interval variant of events_value_band_join)",
    tags=("join", "range", "timeseries"),
)
def q_promo_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranges import grid_range_join

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    daily = orders.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("d")
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    top = daily.orderBy(F.desc("n_orders"), F.asc("d")).limit(_PROMO_TOP_DAYS)
    iv = top.select(
        "n_orders",
        (F.col("d") - F.expr("interval 6 hours")).alias("start_ts"),
        (F.col("d") + F.expr("interval 30 hours")).alias("end_ts"),
    ).select(
        "n_orders",
        "start_ts",
        "end_ts",
        F.unix_timestamp("start_ts").cast("double").alias("lo"),
        F.unix_timestamp("end_ts").cast("double").alias("hi"),
    )
    facts = li.select(
        F.round(F.col("l_quantity")).cast("long").alias("qty"),
        F.unix_timestamp("l_shipdate").cast("double").alias("ship_epoch"),
    )
    joined = grid_range_join(
        facts, F.broadcast(iv), "ship_epoch", "lo", "hi", grid=86400.0
    )
    return joined.groupBy("start_ts", "end_ts", "n_orders").agg(
        F.count(F.lit(1)).alias("n_ship"),
        F.sum("qty").alias("total_qty"),
    )


# ===========================================================================
# ROLLUP (r6) — completes the grouping-set trio (CUBE cube_event_stats,
# GROUPING SETS grouping_sets_docs): hierarchical subtotals with explicit
# grouping flags so NULL-as-subtotal and NULL-as-data never collide.
# ===========================================================================
@_register(
    "rollup_lineitem_flag_status",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
             / 100 AS sum_price
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "ROLLUP over (l_returnflag, l_linestatus): per-pair, per-flag and "
    "grand-total subtotals in one pass, with GROUPING() flags "
    "disambiguating subtotal NULLs from data NULLs. Same one-shuffle "
    "map-combined shape as CUBE but only the hierarchy's prefixes "
    "(3 grouping sets, not 4). Exact long-cents money math",
    reference="SURVEY.md §2.11 (rollup absent in reference; completes the "
    "grouping-set trio with cube_event_stats / grouping_sets_docs)",
    tags=("rollup",),
)
def q_rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r16: hash-spread the single-row-group fact scan (guide §2.5) so the
    # partial aggregate parallelizes; exact long sums make the regrouped
    # partials bit-identical. See catalog._spread.
    # r17: keyed on l_extendedprice (already aggregated, near-unique) so
    # the repartition never widens the scan's ReadSchema.
    li = _spread(spark, _t(spark, sf_dir, "lineitem"), key="l_extendedprice")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("integer").alias("g_flag"),
        F.grouping("l_linestatus").cast("integer").alias("g_status"),
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).cast(
                "double"
            )
            / 100
        ).alias("sum_price"),
    )


# ===========================================================================
# Exact-arithmetic anomaly detection (r6): z-score outliers over the dense
# hourly series WITHOUT any floating point — the z² > 9 test cross-
# multiplied into pure BIGINT arithmetic, so the flag is exact in both
# engines (no sqrt, no double variance).
#   z² = (c - S/n)² / ((n·SS - S²)/n²)  >  9
#   ⇔ (n·c - S)² > 9·(n·SS - S²)
# ===========================================================================
@_register(
    "events_hourly_anomalies",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
      FROM events
    ),
    spine AS (
      SELECT t.event_type, unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS hour
      FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN bounds b
    ),
    dense AS (
      SELECT s.event_type, s.hour, COALESCE(h.c, 0) AS c
      FROM spine s LEFT JOIN hourly h
        ON s.event_type = h.event_type AND s.hour = h.hour
    ),
    stats AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS nh,
             CAST(sum(c) AS BIGINT) AS s,
             CAST(sum(c * c) AS BIGINT) AS ss
      FROM dense GROUP BY event_type
    )
    SELECT d.event_type, d.hour, d.c AS n,
           (d.c * st.nh - st.s) * (d.c * st.nh - st.s)
             > 9 * (st.nh * st.ss - st.s * st.s) AS is_outlier
    FROM dense d JOIN stats st ON d.event_type = st.event_type
    """,
    "Hourly anomaly flags per event_type: |z| > 3 against the type's own "
    "hourly-count distribution over the DENSE hour spine (missing hours "
    "count 0 — a dead hour should be flaggable). The z-test is cross-"
    "multiplied into integer arithmetic — (n·c - S)² > 9·(n·SS - S²) — so "
    "no sqrt, no double accumulation, bit-exact in both engines. 100 TB "
    "shape: one map-combined aggregation of the fact table to "
    "O(types x hours), per-type stats are a second tiny aggregation "
    "broadcast back; nothing beyond the first agg touches raw events",
    reference="SURVEY.md §2.11 extension (anomaly detection over the "
    "events_hourly_gapfill spine)",
    tags=("timeseries", "window"),
)
def q_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("c"))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine = (
        ev.select("event_type")
        .distinct()
        .join(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("interval 1 hour"))
            ).alias("hour"),
        )
    )
    dense = spine.join(hourly, ["event_type", "hour"], "left").select(
        "event_type", "hour", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    stats = dense.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
    )
    dev = F.col("c") * F.col("nh") - F.col("s")
    return dense.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "hour",
        F.col("c").alias("n"),
        (
            dev * dev
            > F.lit(9) * (F.col("nh") * F.col("ss") - F.col("s") * F.col("s"))
        ).alias("is_outlier"),
    )


# ===========================================================================
# TPC-H-shaped decision-support tier (r6): the three classic query shapes
# the catalog did not yet cover — returned-items top-k revenue (Q10),
# small-quantity correlated-average scalar rollup (Q17), and the
# scalar-subquery + anti-join segment report (Q22). All money math in exact
# long cents; one IEEE division max per output column.
# ===========================================================================
@_register(
    "returned_item_revenue_topk",
    """
    WITH rev AS (
      SELECT o.o_custkey,
             CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS rev_cents
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_returnflag = 'R'
        AND l.l_shipdate >= TIMESTAMP '1999-01-01'
        AND l.l_shipdate < TIMESTAMP '2000-01-01'
      GROUP BY o.o_custkey
    )
    SELECT c.c_custkey, c.c_name, n.n_name, c.c_mktsegment,
           CAST(round(c.c_acctbal * 100) AS BIGINT) AS acctbal_cents,
           rev.rev_cents
    FROM rev
    JOIN customer c ON c.c_custkey = rev.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    ORDER BY rev.rev_cents DESC, c.c_custkey
    LIMIT 20
    """,
    "TPC-H Q10 shape: revenue lost to returns per customer inside a "
    "shipdate year, top-20 by revenue with customer/nation context. Plan: "
    "the returnflag+date filters push into the lineitem scan, the "
    "lineitem-orders join shuffles only the filtered slice, the per-"
    "customer aggregate is map-combined, and the two dimension joins "
    "broadcast (customer rows after the aggregate are O(customers-with-"
    "returns), nation is 25 rows); the final top-20 is "
    "TakeOrderedAndProject, never a global sort. Exact long-cents revenue "
    "with the round-then-sum idiom",
    reference="SURVEY.md §2.11 (decision-support shapes absent in "
    "reference; added) — TPC-H Q10 analogue on the driver testdata",
    tags=("J1", "A6", "topk", "tpch"),
)
def q_returned_item_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r16: hash-spread measured a LOSS here (+0.14 s) — the selective
    # returnflag/date filter shrinks the scan output first, so the added
    # exchange outweighs parallel aggregation. Deliberately left direct.
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    rev = (
        li.filter(
            (F.col("l_returnflag") == "R")
            & (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("2000-01-01").cast("timestamp"))
        )
        .join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("rev_cents")
        )
    )
    return (
        rev.join(cust, rev.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey"))
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            "c_mktsegment",
            F.round(F.col("c_acctbal") * 100).cast("long").alias("acctbal_cents"),
            "rev_cents",
        )
        .orderBy(F.desc("rev_cents"), "c_custkey")
        .limit(20)
    )


@_register(
    "brand_small_qty_revenue",
    """
    WITH pq AS (
      SELECT l_partkey,
             CAST(CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
                  AS DOUBLE) / count(*) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_small,
           CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS rev_cents_sum
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pq ON pq.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#13' AND l.l_quantity < 0.2 * pq.avg_qty
    """,
    "TPC-H Q17 shape: revenue from small-quantity line items, where "
    "'small' is correlated to the PART's OWN average quantity (< 20% of "
    "it). Decorrelated the way Catalyst rewrites it: a per-part average "
    "aggregate (map-combined, O(parts) output) joined back onto the "
    "brand-filtered fact slice; the brand filter pushes into the part "
    "scan and the part side broadcasts. The average is an exact integer "
    "quantity sum with ONE IEEE division, and the 0.2x comparison is one "
    "IEEE multiply, so the engine and oracle agree bit-for-bit. Single "
    "scalar output row — the aggregate of the surviving slice",
    reference="SURVEY.md §2.11 (correlated-aggregate decision-support "
    "shape; added) — TPC-H Q17 analogue",
    tags=("A6", "subquery", "tpch"),
)
def q_brand_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r16: hash-spread (see q_rollup_lineitem / catalog._spread).
    li = _spread(spark, _t(spark, sf_dir, "lineitem"), key="l_partkey")
    part = _t(spark, sf_dir, "part")
    pq = li.groupBy("l_partkey").agg(
        (
            F.sum(F.round(F.col("l_quantity")).cast("long")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_qty")
    )
    small = (
        li.join(
            F.broadcast(
                part.filter(F.col("p_brand") == "Brand#13").select("p_partkey")
            ),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(pq, "l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
    )
    return small.agg(
        F.count(F.lit(1)).alias("n_small"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "rev_cents_sum"
        ),
    )


@_register(
    "idle_rich_customer_segments",
    """
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
             / count(*) AS a
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS totbal_cents
    FROM customer c CROSS JOIN avg_bal
    WHERE CAST(CAST(round(c.c_acctbal * 100) AS BIGINT) AS DOUBLE) > avg_bal.a
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-06-01'
      )
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    "TPC-H Q22 shape: above-average-balance customers with NO recent "
    "orders, rolled up per market segment. Three classic sub-shapes in "
    "one plan: a scalar aggregate subquery (1-row broadcast cross join, "
    "never a shuffle), an anti join against the date-filtered orders "
    "slice (the date predicate pushes into the orders scan so the anti "
    "build side is the small recent slice), and a map-combined final "
    "aggregate over O(segments) groups. Balance math in exact long "
    "cents; the average is one IEEE division compared against exactly-"
    "cast cents",
    reference="SURVEY.md §2.11 (scalar-subquery + anti-join report; "
    "added) — TPC-H Q22 analogue",
    tags=("J6", "J7", "A6", "tpch"),
)
def q_idle_rich_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).cast("double")
            / F.count(F.lit(1))
        ).alias("a")
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("2000-06-01").cast("timestamp")
    ).select("o_custkey")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(cents.cast("double") > F.col("a"))
        .join(recent, cust.c_custkey == recent.o_custkey, "anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(cents).alias("totbal_cents"),
        )
        .orderBy("c_mktsegment")
    )


# ===========================================================================
# Window value-function completeness (r6): first_value / last_value /
# nth_value over explicit full frames + cume_dist — the four analytic
# functions event_rank_analytics (lag/lead/ntile/percent_rank/rank) left
# uncovered, closing out SURVEY §2.11's "frame-spec windows" class.
# ===========================================================================
@_register(
    "window_value_functions",
    """
    SELECT user_id, event_id,
           CAST(round(value * 100) AS BIGINT) AS cents,
           first_value(CAST(round(value * 100) AS BIGINT)) OVER wf AS first_cents,
           last_value(CAST(round(value * 100) AS BIGINT)) OVER wf AS last_cents,
           nth_value(CAST(round(value * 100) AS BIGINT), 3) OVER wf AS third_cents,
           cume_dist() OVER wo AS cdist
    FROM events
    WINDOW
      wf AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
      wo AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    "first_value / last_value / nth_value(3) over an explicit full frame "
    "per user (ROWS UNBOUNDED PRECEDING..FOLLOWING — last_value under the "
    "default frame would degenerate to the current row) plus cume_dist "
    "under the rank-family default frame, ordered (ts, event_id) so ties "
    "are deterministic. Partitioned window — one shuffle on user_id, no "
    "global sort; money in exact long cents, cume_dist is count/count "
    "with one IEEE division per row, bit-equal cross-engine",
    reference="SURVEY.md §2.11 (frame-spec windows absent in reference; "
    "completes event_rank_analytics' function coverage)",
    tags=("window",),
)
def q_window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        cents.alias("cents"),
        F.first(cents).over(wf).alias("first_cents"),
        F.last(cents).over(wf).alias("last_cents"),
        F.nth_value(cents, 3).over(wf).alias("third_cents"),
        F.cume_dist().over(wo).alias("cdist"),
    )


# ===========================================================================
# Snapshot diff (r6): CDC-style change detection between two table
# versions — the read-side twin of the merge/versioned-table machinery in
# operators/merge.py + streaming/pipeline.py. Two snapshots are derived
# deterministically from orders (v1 = orders before the cutoff; v2 = v1
# with every 7th order's totalprice bumped 10% and the post-cutoff orders
# arriving as inserts), then diffed with ONE keyed full outer join into
# added / removed / changed / unchanged row classes.
# ===========================================================================
@_register(
    "orders_snapshot_diff",
    """
    WITH v1 AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'
    ),
    v2 AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0
                  THEN CAST(round(o_totalprice * 110) AS BIGINT)
                  ELSE CAST(round(o_totalprice * 100) AS BIGINT)
             END AS price_cents
      FROM orders
    )
    SELECT
      CASE
        WHEN v1.o_orderkey IS NULL THEN 'added'
        WHEN v2.o_orderkey IS NULL THEN 'removed'
        WHEN v1.price_cents != v2.price_cents
             OR v1.o_orderstatus != v2.o_orderstatus THEN 'changed'
        ELSE 'unchanged'
      END AS change_type,
      CAST(count(*) AS BIGINT) AS n,
      CAST(SUM(COALESCE(v2.price_cents, 0) - COALESCE(v1.price_cents, 0))
           AS BIGINT) AS net_cents_delta
    FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
    GROUP BY 1 ORDER BY 1
    """,
    "CDC-style snapshot diff: one keyed FULL OUTER join classifies every "
    "row of two table versions as added / removed / changed / unchanged "
    "and accumulates the net value delta per class — the read-side audit "
    "for the engine's versioned-parquet pointer-flip tables (the write "
    "side is operators/merge.py; this is how a consumer reconciles two "
    "pointers). Both snapshots derive deterministically from orders (v2 "
    "bumps every 7th order's price 10% and gains the post-cutoff "
    "inserts) so the oracle is exact; money in long cents, the delta is "
    "pure integer arithmetic. Scale shape: both sides shuffle once on "
    "the key (or co-located bucketing makes it shuffle-free — "
    "tests/test_bucketing.py proves that layout), aggregate output is "
    "4 rows",
    reference="SURVEY.md §2.7 M7 (versioned tables) read-side "
    "complement; [NORTH-STAR] CDC/snapshot reconciliation",
    tags=("M7", "J8", "cdc"),
)
def q_orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    v1 = orders.filter(
        F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp")
    ).select(
        F.col("o_orderkey").alias("k1"),
        F.col("o_orderstatus").alias("s1"),
        cents.alias("p1"),
    )
    v2 = orders.select(
        F.col("o_orderkey").alias("k2"),
        F.col("o_orderstatus").alias("s2"),
        F.when(
            F.col("o_orderkey") % 7 == 0,
            F.round(F.col("o_totalprice") * 110).cast("long"),
        )
        .otherwise(cents)
        .alias("p2"),
    )
    change = (
        F.when(F.col("k1").isNull(), F.lit("added"))
        .when(F.col("k2").isNull(), F.lit("removed"))
        .when(
            (F.col("p1") != F.col("p2")) | (F.col("s1") != F.col("s2")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    return (
        v1.join(v2, F.col("k1") == F.col("k2"), "full_outer")
        .select(
            change.alias("change_type"),
            (
                F.coalesce(F.col("p2"), F.lit(0))
                - F.coalesce(F.col("p1"), F.lit(0))
            ).alias("delta"),
        )
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("delta").alias("net_cents_delta"),
        )
        .orderBy("change_type")
    )


# ===========================================================================
# Key-skew diagnostics (r6): the measurement that decides when a join or
# aggregation needs the salting treatment (operators/skew.py). Per-key
# cardinalities reduced to the skew signature: key count, hottest-key
# share, top-10 share — exact integers plus one division per share.
# ===========================================================================
@_register(
    "events_key_skew_stats",
    """
    WITH c AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY user_id
    ),
    top10 AS (
      SELECT CAST(SUM(c) AS BIGINT) AS top10_c
      FROM (SELECT c FROM c ORDER BY c DESC, user_id LIMIT 10)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(SUM(c.c) AS BIGINT) AS n_rows,
           CAST(MAX(c.c) AS BIGINT) AS max_key_rows,
           CAST(MAX(c.c) AS DOUBLE) / SUM(c.c) AS max_key_share,
           CAST(MAX(t.top10_c) AS DOUBLE) / SUM(c.c) AS top10_share
    FROM c CROSS JOIN top10 t
    """,
    "Key-skew signature for the events fact keyed on user_id: distinct "
    "keys, total rows, hottest key's row count, and the hot-key / top-10 "
    "row shares — the diagnostic that decides whether a downstream "
    "join/agg on this key needs salting (operators/skew.py) or AQE skew "
    "handling. One map-combined aggregation to O(keys), a top-10 "
    "TakeOrdered, and a 4-long-column reduction; shares are single IEEE "
    "divisions over exact longs. At 100 TB this runs as a cheap profile "
    "pass before the expensive job, not after it fails",
    reference="[NORTH-STAR] skew profiling (pairs with "
    "revenue_by_nation_skewsafe and operators/skew.py)",
    tags=("A6", "skew"),
)
def q_events_key_skew_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    top10 = (
        c.orderBy(F.desc("c"), "user_id")
        .limit(10)
        .agg(F.sum("c").alias("top10_c"))
    )
    return (
        c.join(F.broadcast(top10))
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("c").alias("n_rows"),
            F.max("c").alias("max_key_rows"),
            (F.max("c").cast("double") / F.sum("c")).alias("max_key_share"),
            (F.max("top10_c").cast("double") / F.sum("c")).alias(
                "top10_share"
            ),
        )
    )


# ===========================================================================
# Year-over-year growth (r6): the reporting staple — monthly revenue with
# a 12-row lag comparison on the AGGREGATED month series. The lag window
# runs on O(months) rows, never the fact table.
# ===========================================================================
@_register(
    "lineitem_monthly_revenue_yoy",
    """
    WITH monthly AS (
      SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
             CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS rev_cents
      FROM lineitem GROUP BY 1
    )
    SELECT month, rev_cents,
           lag(rev_cents, 12) OVER (ORDER BY month) AS rev_cents_prev_year,
           CASE WHEN lag(rev_cents, 12) OVER (ORDER BY month) > 0
                THEN CAST(rev_cents - lag(rev_cents, 12) OVER (ORDER BY month)
                          AS DOUBLE)
                     / lag(rev_cents, 12) OVER (ORDER BY month)
           END AS yoy_growth
    FROM monthly
    ORDER BY month
    """,
    "Monthly discounted revenue with year-over-year comparison: one "
    "map-combined aggregation of the fact table to O(months) rows, then "
    "a 12-step lag and growth ratio ON THE AGGREGATE — the global window "
    "is over ~80 month rows, which is the legitimate shape the "
    "plan-audit global-window gate allowlists (post-aggregation, "
    "dimension cardinality). Exact long-cents revenue; growth is one "
    "IEEE division, NULL for the first year and for zero baselines",
    reference="SURVEY.md §2.11 extension (time-series reporting tier "
    "with events_hourly_gapfill / events_hourly_anomalies)",
    tags=("timeseries", "window", "A6"),
)
def q_monthly_revenue_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r16: hash-spread (see q_rollup_lineitem / catalog._spread).
    # r17: keyed on l_shipdate (already grouped on) so the repartition
    # never widens the scan's ReadSchema.
    li = _spread(spark, _t(spark, sf_dir, "lineitem"), key="l_shipdate")
    monthly = li.groupBy(
        F.to_date(F.date_trunc("month", F.col("l_shipdate"))).alias("month")
    ).agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("long")
        ).alias("rev_cents")
    )
    w = Window.orderBy("month")
    prev = F.lag("rev_cents", 12).over(w)
    return monthly.select(
        "month",
        "rev_cents",
        prev.alias("rev_cents_prev_year"),
        F.when(
            prev > 0,
            (F.col("rev_cents") - prev).cast("double") / prev,
        ).alias("yoy_growth"),
    ).orderBy("month")


# ===========================================================================
# SCD2 dimension history (r6): gaps-and-islands over the event stream. The
# reference's dims are type-1 (overwrite, load_warehouse.py upserts); a
# warehouse that needs history builds type-2 rows (valid_from / valid_to /
# is_current) instead. Built from change detection: lag() flags a state
# change, a running sum numbers the islands, one aggregate collapses each
# island to a versioned row, and lead() closes the interval.
# ===========================================================================
@_register(
    "user_state_scd2",
    """
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS NULL
                       OR lag(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), isl AS (
      SELECT user_id, event_type, ts,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM ordered
    ), g AS (
      SELECT user_id, CAST(island AS INTEGER) AS version,
             min(event_type) AS state, min(ts) AS valid_from,
             count(*) AS n_events
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id, version, state, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
             AS valid_to,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
             IS NULL AS is_current,
           n_events
    FROM g
    """,
    "Type-2 slowly-changing-dimension build (gaps-and-islands): runs of "
    "consecutive same event_type per user become versioned rows with "
    "half-open [valid_from, valid_to) intervals and an is_current flag. "
    "lag() detects changes, a running sum numbers islands, lead() ON THE "
    "COLLAPSED ISLANDS closes intervals. Every window is partitioned by "
    "user_id (plan-gate clean); the interval-closing window runs on "
    "O(islands), not O(events). Ordering is made total with the event_id "
    "tie-break so both engines see identical change sequences. At 100 TB "
    "this is the standard SCD2 merge shape: shuffle-by-key once, all "
    "three window passes reuse the same partitioning",
    reference="SURVEY.md §1.4 fact grain (type-1 latest-wins, "
    "00_warehous.sql:113); type-2 history is the §2.11 extension",
    tags=("window", "warehouse", "M4"),
)
def q_user_state_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    return user_state_scd2_from(ev)


def user_state_scd2_from(ev: DataFrame) -> DataFrame:
    """SCD2 build over a (user_id, event_type, ts, event_id) frame —
    shared by user_state_scd2 and user_state_durations."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    chg = F.when(
        prev.isNull() | (prev != F.col("event_type")), 1
    ).otherwise(0)
    isl = ev.withColumn(
        "island",
        F.sum(chg).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    g = isl.groupBy("user_id", "island").agg(
        F.min("event_type").alias("state"),
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("island")
    nxt = F.lead("valid_from").over(w2)
    return g.select(
        "user_id",
        F.col("island").cast("int").alias("version"),
        "state",
        "valid_from",
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
        "n_events",
    )


# ===========================================================================
# Mergeable distinct sketches (r6): Datasketches HLL via hll_sketch_agg /
# hll_union_agg — the 100 TB distinct-count pattern is "sketch each
# partition/day once, merge at rollup" instead of re-scanning raw data per
# reporting grain. Sketch bytes are engine-specific, so (like
# approx_distinct_users) the query emits exact counts plus Spark-side
# band-check booleans; the oracle predicts (exact, true).
# ===========================================================================
_HLL_LG_K = 14  # rsd = 1.04 / sqrt(2^14) ~= 0.0081
_HLL_TOL = 4.5 * 1.04 / (2 ** 7)


@_register(
    "segment_distinct_users_hll",
    """
    SELECT coalesce(event_type, 'ALL') AS scope,
           count(DISTINCT user_id) AS exact_users,
           true AS approx_ok
    FROM events GROUP BY ROLLUP(event_type)
    UNION ALL
    SELECT 'MERGED' AS scope, count(DISTINCT user_id) AS exact_users,
           true AS approx_ok
    FROM events
    """,
    "Mergeable HLL distinct-user rollup: one pass builds a Datasketches "
    "HLL sketch and the exact count per event_type AND for the grand "
    "total (ROLLUP); a second tiny aggregate (O(event types) rows) merges "
    "the per-type sketches with hll_union_agg and band-checks the merged "
    "estimate against the grand-total exact — proving sketch "
    "mergeability, the property that lets 100 TB pipelines sketch each "
    "day/partition once and answer any rollup by union instead of "
    "rescanning. Sketch bytes differ per engine, so correctness is the "
    "approx_distinct_users pattern: exact counts hash-compared, approx "
    "checked Spark-side at 4.5x rsd (lgK=14 -> rsd 0.81%). The MERGED "
    "row's join to the ALL row is a broadcast of two single-row "
    "aggregates (the literal equi key constant-folds away; bounded by "
    "construction, plan-audit allowlisted)",
    reference="SURVEY.md §2.11 approximate aggregates; merge pattern per "
    "Datasketches HLL (public)",
    tags=("approx", "sketch"),
)
def q_segment_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    roll = ev.rollup("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.hll_sketch_agg("user_id", F.lit(_HLL_LG_K)).alias("sk"),
    ).localCheckpoint(eager=False)
    ok = (
        F.abs(
            F.hll_sketch_estimate(F.col("sk")) - F.col("exact_users")
        )
        / F.col("exact_users")
        <= F.lit(_HLL_TOL)
    )
    base = roll.select(
        F.coalesce("event_type", F.lit("ALL")).alias("scope"),
        "exact_users",
        ok.alias("approx_ok"),
    )
    # Explicit union-merge proof: per-type sketches -> hll_union_agg ->
    # estimate, band-checked against the grand-total exact count.
    typed = roll.filter(F.col("event_type").isNotNull())
    merged = (
        typed.agg(F.hll_union_agg("sk").alias("sk"))
        .withColumn("k", F.lit(1))
    )
    total = (
        roll.filter(F.col("event_type").isNull())
        .select("exact_users")
        .withColumn("k", F.lit(1))
    )
    merged_row = merged.join(total, "k").select(
        F.lit("MERGED").alias("scope"),
        "exact_users",
        (
            F.abs(
                F.hll_sketch_estimate(F.col("sk")) - F.col("exact_users")
            )
            / F.col("exact_users")
            <= F.lit(_HLL_TOL)
        ).alias("approx_ok"),
    )
    return base.unionByName(merged_row)


# ===========================================================================
# Time-in-state rollup (r6): composes the SCD2 build — interval durations
# per state, open intervals closed at an injected horizon (the engine's
# injected-clock convention; events end 2024-01-30).
# ===========================================================================
_SCD2_CLOSE_LIT = "2024-01-31 00:00:00"

_SCD2_SQL_CTE = """
    ordered AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS NULL
                       OR lag(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), isl AS (
      SELECT user_id, event_type, ts,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM ordered
    ), g AS (
      SELECT user_id, CAST(island AS INTEGER) AS version,
             min(event_type) AS state, min(ts) AS valid_from,
             count(*) AS n_events
      FROM isl GROUP BY user_id, island
    ), scd AS (
      SELECT user_id, version, state, valid_from,
             lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
               AS valid_to,
             n_events
      FROM g
    )
"""


@_register(
    "user_state_durations",
    f"""
    WITH {_SCD2_SQL_CTE},
    d AS (
      SELECT state,
             CAST(floor(epoch(coalesce(valid_to,
                    TIMESTAMP '{_SCD2_CLOSE_LIT}'))) AS BIGINT)
               - CAST(floor(epoch(valid_from)) AS BIGINT) AS dur_s
      FROM scd
    )
    SELECT state,
           count(*) AS n_intervals,
           CAST(SUM(dur_s) AS BIGINT) AS total_seconds,
           CAST(SUM(dur_s) AS DOUBLE) / count(*) AS avg_seconds,
           CAST(MAX(dur_s) AS BIGINT) AS max_seconds
    FROM d GROUP BY state
    """,
    "Time-in-state analytics composed on the SCD2 build: every interval's "
    "duration in whole seconds (epoch truncation matches Spark's "
    "timestamp->long cast), open intervals closed at the injected horizon "
    "literal, rolled up per state. The rollup runs on O(islands) rows "
    "already partitioned by user from the SCD2 shuffle — no extra fact "
    "scan. Integer-exact seconds; avg is one IEEE division",
    reference="SURVEY.md §2.11 extension; composes user_state_scd2",
    tags=("window", "warehouse", "timeseries"),
)
def q_user_state_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    scd = user_state_scd2_from(ev)
    close = F.lit(_SCD2_CLOSE_LIT).cast("timestamp")
    dur = (
        F.coalesce(F.col("valid_to"), close).cast("long")
        - F.col("valid_from").cast("long")
    )
    d = scd.select("state", dur.alias("dur_s"))
    return d.groupBy("state").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("dur_s").alias("total_seconds"),
        (F.sum("dur_s").cast("double") / F.count(F.lit(1))).alias(
            "avg_seconds"
        ),
        F.max("dur_s").alias("max_seconds"),
    )


# ===========================================================================
# Incremental view maintenance by partial-aggregate merge (r6): the daily
# rollup is maintained as mergeable state (sum/count/min/max), a new
# micro-batch contributes its own partials, and the view is the MERGE of
# the two — never a rescan of history. avg is intentionally NOT stored:
# it is non-mergeable and must be derived from (sum, count) at read, which
# is exactly how streaming engines (and this repo's foreachBatch sink)
# keep aggregates exactly-once-updatable. Oracle recomputes from scratch,
# proving merge == recompute.
# ===========================================================================
@_register(
    "events_daily_agg_ivm",
    f"""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           count(*) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100
             AS sum_value,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100
             / count(*) AS avg_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events
    GROUP BY 1
    """,
    "Incremental aggregate maintenance: history (ts < '{split}') and the "
    "new batch (ts >= '{split}') are aggregated into mergeable partials "
    "(count, exact-cents sum, min, max) independently, then MERGED by a "
    "second tiny aggregate (sum of sums, min of mins) on O(days) rows — "
    "the view update never rescans history. avg is derived from "
    "(sum, count) at read because it does not merge. The oracle computes "
    "the same rollup from scratch over all events: merge == recompute is "
    "the exactness property that makes foreachBatch aggregate sinks "
    "idempotent at 100 TB".format(split=MERGE_SPLIT_LIT),
    reference="SURVEY.md §2.7 M1-M4 (upsert family); additive-state "
    "variant of the streaming pipeline's merge sink "
    "(streaming/pipeline.py foreachBatch)",
    tags=("merge", "ivm", "A6"),
)
def q_events_daily_agg_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("ts", "value")
    split = F.lit(MERGE_SPLIT_LIT).cast("timestamp")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "sum_cents"
            ),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )

    hist = partials(ev.filter(F.col("ts") < split))
    batch = partials(ev.filter(F.col("ts") >= split))
    merged = hist.unionByName(batch).groupBy("day").agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_cents").alias("sum_cents"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )
    sum_value = F.col("sum_cents").cast("double") / 100
    return merged.select(
        "day",
        "n_events",
        sum_value.alias("sum_value"),
        (sum_value / F.col("n_events")).alias("avg_value"),
        "min_value",
        "max_value",
    )


# ===========================================================================
# TPC-H Q7 shape (r6): bilateral trade volume — the 6-relation star-of-two-
# stars join (fact -> supplier-side dims AND order -> customer-side dims)
# with a disjunctive nation-pair filter. Completes the decision-support
# join shapes (Q1/Q3/Q4/Q5/Q10/Q17/Q18/Q22 already in the catalog).
# ===========================================================================
@_register(
    "bilateral_trade_volume",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INTEGER) AS l_year,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS DOUBLE) / 100 AS revenue
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
    "TPC-H Q7-shaped bilateral trade: lineitem resolves its supplier "
    "nation AND (via orders -> customer) its customer nation, keeps the "
    "two directed nation pairs, and rolls revenue up by (supp_nation, "
    "cust_nation, ship year). Supplier and both nation dims broadcast; "
    "the orders join is the one real shuffle, keyed on l_orderkey. The "
    "disjunctive pair predicate is applied AFTER dim resolution on two "
    "tiny equi-joined columns — never a disjunctive join condition (the "
    "J3 decomposition rule). Exact long-cents revenue",
    reference="TPC-H Q7 (public spec) re-shaped to the driver schema; "
    "join family as revenue_by_nation (Q5)",
    tags=("join", "tpch", "A6"),
)
def q_bilateral_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    df = (
        li.join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return df.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("int").alias("l_year"),
    ).agg(
        (
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).cast("double")
            / 100
        ).alias("revenue")
    )


# ===========================================================================
# TPC-H Q8 shape (r6): market share — a conditional-aggregation ratio
# (one nation's revenue over total revenue) within a region's customer
# base, per ship year. The share is two exact long-cents sums and ONE
# IEEE division, so it is bit-deterministic.
# ===========================================================================
@_register(
    "market_share_by_year",
    """
    SELECT CAST(year(l_shipdate) AS INTEGER) AS l_year,
           CAST(SUM(CASE WHEN sn.n_name = 'NATION_3'
                         THEN CAST(round(l_extendedprice * (1 - l_discount)
                                         * 100) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS nation_cents,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS total_cents,
           CAST(SUM(CASE WHEN sn.n_name = 'NATION_3'
                         THEN CAST(round(l_extendedprice * (1 - l_discount)
                                         * 100) AS BIGINT)
                         ELSE 0 END) AS DOUBLE)
             / SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT)) AS mkt_share
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation cn ON cn.n_nationkey = c_nationkey
    JOIN region ON r_regionkey = cn.n_regionkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation sn ON sn.n_nationkey = s_nationkey
    WHERE r_name = 'EUROPE'
    GROUP BY 1
    """,
    "TPC-H Q8-shaped market share: within EUROPE's customer orders, the "
    "fraction of revenue supplied by NATION_3 per ship year — the "
    "conditional-aggregation-ratio pattern (CASE inside SUM, share as "
    "one division of two exact integer sums, no self-join and no "
    "second scan for the denominator). Region/nation/supplier "
    "broadcast; orders/customer shuffle-joined on their keys. The "
    "region filter prunes the customer-nation side before the fact "
    "join (predicate pushdown through the dim chain)",
    reference="TPC-H Q8 (public spec) re-shaped to the driver schema",
    tags=("join", "tpch", "A6"),
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    cn = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
            nation["n_regionkey"] == region["r_regionkey"],
        )
        .select(F.col("n_nationkey").alias("c_nk"))
    )
    sn = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_name")
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    df = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
    )
    agg = df.groupBy(F.year("l_shipdate").cast("int").alias("l_year")).agg(
        F.sum(
            F.when(F.col("supp_name") == "NATION_3", cents).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("nation_cents"),
        F.sum(cents).alias("total_cents"),
    )
    return agg.select(
        "l_year",
        "nation_cents",
        "total_cents",
        (
            F.col("nation_cents").cast("double") / F.col("total_cents")
        ).alias("mkt_share"),
    )


# ===========================================================================
# Partition-level table fingerprinting (r6): the CDC triage ABOVE the row
# diff — order-independent, mergeable content hashes per month, compared
# across two snapshots to locate WHICH partitions changed before any
# row-level full-outer join runs. bit_xor of per-row md5-hashes: XOR is
# commutative/associative (shuffle-order-proof), overflow-free, and
# partially aggregable map-side — the property sum-of-hashes lacks
# cross-engine (Spark wraps long overflow, DuckDB widens to HUGEINT).
# ===========================================================================
@_register(
    "orders_partition_fingerprint",
    f"""
    WITH v1 AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS month
      FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'
    ),
    v2 AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0
                  THEN CAST(round(o_totalprice * 110) AS BIGINT)
                  ELSE CAST(round(o_totalprice * 100) AS BIGINT)
             END AS price_cents,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS month
      FROM orders
    ),
    f1 AS (
      SELECT month, count(*) AS n1,
             bit_xor({_sql_md5_long(
                 "o_orderkey || '|' || o_orderstatus || '|' || price_cents"
             )}) AS fp1
      FROM v1 GROUP BY month
    ),
    f2 AS (
      SELECT month, count(*) AS n2,
             bit_xor({_sql_md5_long(
                 "o_orderkey || '|' || o_orderstatus || '|' || price_cents"
             )}) AS fp2
      FROM v2 GROUP BY month
    )
    SELECT coalesce(f1.month, f2.month) AS month,
           CAST(coalesce(n1, 0) AS BIGINT) AS n_v1,
           CAST(coalesce(n2, 0) AS BIGINT) AS n_v2,
           CAST(fp1 AS BIGINT) AS fp_v1, CAST(fp2 AS BIGINT) AS fp_v2,
           (n1 IS NOT NULL AND n2 IS NOT NULL
            AND n1 = n2 AND fp1 = fp2) AS partitions_match
    FROM f1 FULL OUTER JOIN f2 ON f1.month = f2.month
    """,
    "Snapshot reconciliation at partition grain: each month's content "
    "fingerprint is bit_xor over md5-derived row hashes (row = key | "
    "status | exact cents) — order-independent and map-side combinable, "
    "so at 100 TB each snapshot is fingerprinted in one pass with "
    "shuffle O(months), and only months whose (count, fingerprint) "
    "differ proceed to the row-level orders_snapshot_diff. Same v1/v2 "
    "snapshot convention as that query (v2 bumps every 7th price 10% "
    "and gains post-cutoff inserts). XOR chosen over sum: immune to "
    "the long-overflow semantics split (Spark wraps, DuckDB widens)",
    reference="SURVEY.md §2.7 versioned tables (streaming/pipeline.py "
    "ParquetTable); row tier at orders_snapshot_diff",
    tags=("merge", "cdc", "approx"),
)
def q_orders_partition_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import md5_long

    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    bumped = F.when(
        F.col("o_orderkey") % 7 == 0,
        F.round(F.col("o_totalprice") * 110).cast("long"),
    ).otherwise(cents)
    month = F.to_date(F.date_trunc("month", F.col("o_orderdate")))

    def fp(df: DataFrame, price, n_name: str, fp_name: str) -> DataFrame:
        row_hash = md5_long(
            F.concat_ws(
                "|",
                F.col("o_orderkey"),
                F.col("o_orderstatus"),
                price,
            )
        )
        return df.select(
            month.alias("month"), row_hash.alias("h")
        ).groupBy("month").agg(
            F.count(F.lit(1)).alias(n_name),
            F.bit_xor("h").alias(fp_name),
        )

    f1 = fp(
        orders.filter(F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp")),
        cents,
        "n1",
        "fp1",
    )
    f2 = fp(orders, bumped, "n2", "fp2")
    j = f1.join(f2, "month", "full_outer")
    return j.select(
        "month",
        F.coalesce("n1", F.lit(0)).alias("n_v1"),
        F.coalesce("n2", F.lit(0)).alias("n_v2"),
        F.col("fp1").alias("fp_v1"),
        F.col("fp2").alias("fp_v2"),
        (
            F.col("n1").isNotNull()
            & F.col("n2").isNotNull()
            & (F.col("n1") == F.col("n2"))
            & (F.col("fp1") == F.col("fp2"))
        ).alias("partitions_match"),
    )


# ===========================================================================
# TPC-H Q19 shape (r6): disjunction-of-brackets join. The join key is a
# plain equi key (p_partkey); the OR-of-ANDs bracket predicate is a
# RESIDUAL filter evaluated after the hash join — the planning lesson Q19
# teaches: never encode the disjunction into the join condition (that
# shape degenerates to a nested loop), keep the equi key clean and let
# the brackets prune rows post-join. Brackets adapted to the driver
# schema (brand x part-size band x quantity band).
# ===========================================================================
@_register(
    "bracket_revenue_q19",
    """
    SELECT CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS DOUBLE) / 100 AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 35)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 50)
    """,
    "TPC-H Q19-shaped bracket revenue: lineitem hash-joined to part on "
    "the clean equi key, with the three-way OR-of-ANDs bracket "
    "predicate applied as a residual filter — the part-side conjuncts "
    "common to all brackets (brand IN, size <= max) could push below "
    "the join; the disjunction itself must NOT enter the join "
    "condition or the plan degenerates to a nested loop (the gate "
    "enforces it did not). Exact long-cents revenue, one aggregate row",
    reference="TPC-H Q19 (public spec) re-shaped to the driver schema; "
    "disjunction-decomposition rule as J3",
    tags=("join", "tpch", "A6"),
)
def q_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
    bracket = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 35)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 50)
        )
    )
    return j.filter(bracket).agg(
        (
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).cast("double")
            / 100
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ===========================================================================
# Deterministic per-key sample (r6): k events per user, chosen by hash
# rank — the distributed per-entity downsampler (debug slices, per-user
# training caps, fairness baselines). Hash rank instead of rand(): the
# sample is reproducible across runs/engines and stable under partial
# recomputation, which rand() never is on a cluster.
# ===========================================================================
_PER_KEY_K = 3


@_register(
    "events_sample_per_user",
    f"""
    SELECT user_id, event_id, event_type
    FROM (
      SELECT user_id, event_id, event_type,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY ('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT,
                        event_id
             ) AS rn
      FROM events
    ) WHERE rn <= {_PER_KEY_K}
    """,
    f"Hash-ranked sample of {_PER_KEY_K} events per user: row_number "
    "over a user-partitioned window ordered by the md5-derived rank of "
    "the event key (event_id tie-break) — an unbiased-per-key, fully "
    "deterministic downsample. One shuffle on user_id; window state is "
    "bounded per key, and a bounded-rank window prunes via "
    "TakeOrdered-style limits in each partition rather than sorting "
    "the world. rand()-based sampling cannot give this: it changes "
    "under retries, re-partitioning, and engine choice",
    reference="SURVEY.md §2.11 sampling (absent in reference); "
    "hash-determinism convention as docs_stratified_sample",
    tags=("sampling",),
)
def q_sample_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import md5_long

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy(
        md5_long(F.col("event_id").cast("string")), "event_id"
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _PER_KEY_K)
        .select("user_id", "event_id", "event_type")
    )


# ===========================================================================
# Event transition matrix (r6): first-order Markov view of user behavior —
# the full (prev_type -> next_type) count/probability matrix that funnel
# analysis is a slice of. One user-partitioned lag, one map-combined
# aggregate on O(types^2) cells.
# ===========================================================================
@_register(
    "event_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    pairs AS (
      SELECT prev_type, event_type AS next_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ),
    totals AS (
      SELECT prev_type, CAST(SUM(n) AS BIGINT) AS n_from
      FROM pairs GROUP BY prev_type
    )
    SELECT p.prev_type, p.next_type, CAST(p.n AS BIGINT) AS n,
           CAST(p.n AS DOUBLE) / t.n_from AS p_next
    FROM pairs p JOIN totals t ON t.prev_type = p.prev_type
    """,
    "First-order transition matrix over the event stream: per user, each "
    "event's predecessor type via a user-partitioned lag (ts + event_id "
    "total order), transitions counted into the O(types^2) matrix with "
    "row-normalized probabilities (exact counts, one IEEE division "
    "against the row total — joined back, not re-scanned). The general "
    "form of the funnel family: any path query is a filter over this "
    "matrix's support. One shuffle on user_id, one tiny aggregate",
    reference="SURVEY.md §2.11 sequence analytics; funnel slice at "
    "funnel_view_click_purchase",
    tags=("window", "funnel", "timeseries"),
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    pairs = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = pairs.groupBy("prev_type").agg(F.sum("n").alias("n_from"))
    return pairs.join(totals, "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.col("n_from")).alias("p_next"),
    )


# ===========================================================================
# Inter-arrival statistics (r6): whole-second gaps between consecutive
# events per user, rolled up per event type of the LATER event — the
# latency/engagement-cadence profile. Exact integer seconds.
# ===========================================================================
@_register(
    "event_interarrival_stats",
    """
    WITH seq AS (
      SELECT event_type, ts,
             lag(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    gaps AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT)
               - CAST(floor(epoch(prev_ts)) AS BIGINT) AS gap_s
      FROM seq WHERE prev_ts IS NOT NULL
    )
    SELECT event_type,
           count(*) AS n_gaps,
           CAST(SUM(gap_s) AS BIGINT) AS total_gap_s,
           CAST(SUM(gap_s) AS DOUBLE) / count(*) AS mean_gap_s,
           CAST(MIN(gap_s) AS BIGINT) AS min_gap_s,
           CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
    FROM gaps GROUP BY event_type
    """,
    "Inter-arrival cadence per event type: consecutive-event gaps from a "
    "user-partitioned lag (whole seconds — epoch truncation matches "
    "Spark's timestamp->long cast), aggregated into count / exact total "
    "/ mean / min / max. The engagement-cadence profile sessionization "
    "thresholds are tuned from (sessionize_events hardcodes 30 min; "
    "this query is where that number comes from). One shuffle on "
    "user_id, then a map-combined rollup on O(types) rows",
    reference="SURVEY.md §2.11 sequence analytics; threshold consumer "
    "at sessionize_events",
    tags=("window", "timeseries"),
)
def q_event_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        (
            F.col("ts").cast("long")
            - F.lag("ts").over(w).cast("long")
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return seq.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap_s").alias("total_gap_s"),
        (F.sum("gap_s").cast("double") / F.count(F.lit(1))).alias("mean_gap_s"),
        F.min("gap_s").alias("min_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
    )


# ===========================================================================
# Equi-depth histogram (r6): quartile boundaries from the exact
# partial-aggregate percentile (no global sort), broadcast as one row,
# and every event bucketed by three comparisons — the equal-mass binning
# a cost-based optimizer and drift monitors both want (value_histogram_
# bands is the fixed-width twin).
# ===========================================================================
@_register(
    "events_value_equidepth_hist",
    """
    WITH cents AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS c FROM events
    ),
    b AS (
      SELECT quantile_cont(c, 0.25) AS b1, quantile_cont(c, 0.50) AS b2,
             quantile_cont(c, 0.75) AS b3
      FROM cents
    )
    SELECT CAST(1 + (c > b1)::INT + (c > b2)::INT + (c > b3)::INT
                AS INTEGER) AS bucket,
           count(*) AS n,
           CAST(min(c) AS BIGINT) AS min_cents,
           CAST(max(c) AS BIGINT) AS max_cents
    FROM cents, b
    GROUP BY 1
    """,
    "Equi-depth (equal-mass) histogram: exact quartile boundaries on "
    "integer cents via the single-pass partial-aggregate percentile "
    "(binary-fraction interpolation — bit-identical cross-engine, as "
    "value_quartiles_by_type), then each event lands in a bucket by "
    "three comparisons against the broadcast 1-row boundary relation. "
    "Two scans of the fact (boundaries + binning), zero sorts; the "
    "1-row boundary join is the allowlisted bounded-broadcast shape",
    reference="SURVEY.md §2.11 quantiles/histograms; fixed-width twin "
    "at value_histogram_bands",
    tags=("A6", "quantiles"),
)
def q_equidepth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cents = ev.select(F.round(F.col("value") * 100).cast("long").alias("c"))
    b = cents.agg(
        F.expr("percentile(c, 0.25)").alias("b1"),
        F.expr("percentile(c, 0.50)").alias("b2"),
        F.expr("percentile(c, 0.75)").alias("b3"),
    ).withColumn("k", F.lit(1))
    binned = cents.withColumn("k", F.lit(1)).join(F.broadcast(b), "k")
    bucket = (
        F.lit(1)
        + (F.col("c") > F.col("b1")).cast("int")
        + (F.col("c") > F.col("b2")).cast("int")
        + (F.col("c") > F.col("b3")).cast("int")
    )
    return binned.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("c").alias("min_cents"),
        F.max("c").alias("max_cents"),
    )


# ===========================================================================
# Tolerance-bounded as-of join (r6): the merge_asof(tolerance=...) shape —
# the most recent click counts only if it is FRESH ENOUGH; a stale match
# is a non-match, not a wrong enrichment.
# ===========================================================================
_ASOF_TOL_S = 3600


@_register(
    "asof_click_before_purchase_tolerance",
    f"""
    SELECT p.event_id, p.user_id, p.ts,
           CASE WHEN c.ts IS NOT NULL
                 AND CAST(floor(epoch(p.ts)) AS BIGINT)
                     - CAST(floor(epoch(c.ts)) AS BIGINT) <= {_ASOF_TOL_S}
                THEN c.ts END AS last_click_ts,
           CASE WHEN c.ts IS NOT NULL
                 AND CAST(floor(epoch(p.ts)) AS BIGINT)
                     - CAST(floor(epoch(c.ts)) AS BIGINT) <= {_ASOF_TOL_S}
                THEN CAST(floor(epoch(p.ts)) AS BIGINT)
                     - CAST(floor(epoch(c.ts)) AS BIGINT) END AS gap_s
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    f"As-of join with a {_ASOF_TOL_S}-second tolerance (pandas "
    "merge_asof(tolerance=...) semantics): the most recent click at-or-"
    "before each purchase enriches it ONLY when within the freshness "
    "bound — beyond it the enrichment is NULL, because acting on stale "
    "context is worse than acting on none. Same union+window carry-"
    "forward plan as the unbounded as-of (one shuffle, cost independent "
    "of history depth); the bound is one whole-second comparison "
    "(epoch truncation matches Spark's timestamp->long cast). Oracle: "
    "DuckDB native ASOF JOIN + the same post-filter",
    reference="SURVEY.md §2.11 as-of joins; unbounded twin at "
    "asof_last_click_before_purchase",
    tags=("asof", "J-ext"),
)
def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    out = asof_join(
        purchases, clicks, on=["user_id"], left_ts="ts", right_ts="ts",
        value_cols=["ts"],
    )
    gap = F.col("ts").cast("long") - F.col("asof_ts").cast("long")
    fresh = F.col("asof_ts").isNotNull() & (gap <= _ASOF_TOL_S)
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.when(fresh, F.col("asof_ts")).alias("last_click_ts"),
        F.when(fresh, gap).alias("gap_s"),
    )

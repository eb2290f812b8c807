"""Latest-per-key deduplication — the reference's most load-bearing operator.

The reference expresses it 7x as Postgres ``DISTINCT ON (key) ... ORDER BY
key, ingest_time DESC`` (apps/loader/load_warehouse.py:34-213). Two Spark
forms are provided:

* ``latest_per_key`` — aggregation form: ``max_by(struct(*row), ord)``.
  This is the scale path: partial aggregation reduces each input partition
  to <=1 row per key before the shuffle, so shuffle volume is O(distinct
  keys), not O(rows). Physical note (measured on Spark 4.1): a struct-typed
  aggregation buffer is not hash-aggregable, so this plans as SortAggregate —
  each partition sorts by the *grouping key only* (not by ord) before
  streaming groups. Still strictly cheaper than the window form, which
  shuffles every row and sorts by (key, ord).
* ``latest_per_key_window`` — ``row_number() over (partition by key order by
  ord desc) = 1``. Shuffles and sorts every row; kept for when the caller
  needs rank>1 rows too (e.g. change history).

Both are deterministic given tiebreak columns that make ``ord`` unique per
key (the Postgres form is NOT deterministic on ties; we fix that and
document the divergence).

The module also holds the near-duplicate candidate tier (MinHash-LSH):
``shingle_sets`` -> ``band_rows`` -> ``blocked_pairs`` -> ``jaccard_pairs``.
"""

from __future__ import annotations

import operator
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as TX


def _ord_struct(order_by: Sequence[str | Column]) -> Column:
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    return F.struct(*cols)


def latest_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str | Column],
) -> DataFrame:
    """One row per key: the row whose ``order_by`` tuple is greatest.

    NULL ordering: a NULL inside the ord struct sorts low (Spark struct
    comparison), so rows with a NULL order column lose to any non-NULL row —
    same outcome as Postgres ``ORDER BY ingest_time DESC`` default
    (NULLS LAST under DESC).
    """
    payload = F.struct(*[F.col(c) for c in df.columns])
    picked = df.groupBy(*keys).agg(
        F.max_by(payload, _ord_struct(order_by)).alias("_row")
    )
    return picked.select("_row.*")


def latest_per_key_window(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str | Column],
    rank_col: str | None = None,
) -> DataFrame:
    """Window form; optionally keep the rank column (rank_col) for history."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    w = Window.partitionBy(*keys).orderBy(*[c.desc() for c in cols])
    ranked = df.withColumn("_rn", F.row_number().over(w))
    if rank_col:
        return ranked.withColumnRenamed("_rn", rank_col)
    return ranked.filter(F.col("_rn") == 1).drop("_rn")


def distinct_pairs(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """SELECT DISTINCT over a column subset (reference A2, route discovery).
    dropDuplicates = hash-agg with map-side combine; shuffle is O(distinct)."""
    return df.select(*cols).dropDuplicates()


# ---------------------------------------------------------------------------
# Near-duplicate candidate tier: shingle -> MinHash -> LSH band ->
# blocked pair -> exact Jaccard. One copy, shared by the batch detectors
# (plans/northstar.py), the ingest spec twins (plans/llm_ext.py) and the
# streaming corpus store (streaming/corpus.py), so the accepted-corpus
# invariant of the store is checkable with the batch detector itself.
# Barriers and broadcast choices that differ between callers stay with the
# callers; the barriers below are the ones every caller needs.
# ---------------------------------------------------------------------------
N_MINHASH = 8  # permutations; banded as N_MINHASH // 2 bands x 2 rows
SHINGLE_K = 3  # word-shingle width
JACCARD_THRESHOLD = 0.5  # MinHash-LSH verify threshold


def shingle_sets(df: DataFrame, carry: Sequence[str] = ()) -> DataFrame:
    """(doc_id, *carry, toks) -> (doc_id, *carry, sh): distinct word
    shingles per document, behind a lazy barrier — the set feeds the hash
    pass and both sides of the verify join, and without materialization
    CollapseProject re-derives it per reference (measured 45 s in the
    verify stage alone at sf0.1). ``carry`` names passthrough columns."""
    return df.select(
        "doc_id",
        *carry,
        F.array_distinct(TX.shingles(F.col("toks"), SHINGLE_K)).alias("sh"),
    ).localCheckpoint(eager=False)


def band_rows(shin: DataFrame, carry: Sequence[str] = ()) -> DataFrame:
    """(doc_id, *carry, sh) -> (doc_id, *carry, band_idx, band_key): the
    LSH band table, the unit a persisted dedup index stores (each new
    increment probes it with only its own bands)."""
    # Barrier: keep the single md5 base-hash pass out of the inlined
    # minhash columns (N_MINHASH x md5 otherwise).
    hsh = shin.select(
        "doc_id", *carry, TX.shingle_base_hashes(F.col("sh")).alias("hs")
    ).localCheckpoint(eager=False)
    mh = hsh.select(
        "doc_id",
        *carry,
        *[
            TX.minhash_from_hashes(F.col("hs"), s).alias(f"mh{s}")
            for s in range(N_MINHASH)
        ],
    )
    return mh.select(
        "doc_id",
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.md5(
                            F.concat(
                                F.col(f"mh{2 * b}").cast("string"),
                                F.lit("_"),
                                F.col(f"mh{2 * b + 1}").cast("string"),
                            )
                        ).alias("band_key"),
                    )
                    for b in range(N_MINHASH // 2)
                ]
            )
        ).alias("band"),
    ).select("doc_id", *carry, "band.band_idx", "band.band_key")


def blocked_pairs(
    keys: DataFrame,
    id_col: str,
    block_cols: Sequence[str],
    other: DataFrame | None = None,
) -> DataFrame:
    """Distinct (a_id, b_id) candidate pairs that share a block key.

    Without ``other``: the self-join of ``keys`` on ``block_cols`` with
    ``a.id < b.id``, so a document never pairs with itself and each pair
    appears once. With ``other``: the equi-join of ``keys`` (a side)
    against ``other`` (b side, e.g. accepted history) on ``block_cols``.
    The join shuffles O(colliding candidates), never O(n^2)."""
    a = keys.alias("a")
    b = (keys if other is None else other).alias("b")
    cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in block_cols]
    if other is None:
        cond.append(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    return (
        a.join(b, reduce(operator.and_, cond))
        .select(
            F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id")
        )
        .dropDuplicates()
    )


def jaccard_pairs(
    cand: DataFrame, a_sets: DataFrame, b_sets: DataFrame, threshold: float
) -> DataFrame:
    """(a_id, b_id, jaccard) for the candidates whose exact set Jaccard is
    at least ``threshold``; ``a_sets`` / ``b_sets`` are (doc_id, sh)
    distinct-element sets for the a and b sides. The jaccard column is
    rounded to 6 places; the threshold compares the unrounded value."""
    sa = a_sets.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("a_sh"))
    sb = b_sets.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("b_sh"))
    # Barrier: the threshold filter and the output column both read the
    # set sizes; unmaterialized, the filter is pushed below the projection
    # and array_intersect runs three times per pair.
    verified = (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.size(F.array_intersect("a_sh", "b_sh")).alias("inter"),
            F.size("a_sh").alias("na"),
            F.size("b_sh").alias("nb"),
        )
        .localCheckpoint(eager=False)
    )
    jac = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))
    return verified.filter(jac >= threshold).select(
        "a_id", "b_id", F.round(jac, 6).alias("jaccard")
    )

"""The shared near-duplicate candidate tier (operators/dedup.py) on small
hand-built frames: blocked candidate pairs (self-join and history join)
and the exact-Jaccard verify at its threshold boundary."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_flight_data_pipeline_spark.functions import text as TX
from real_time_flight_data_pipeline_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    N_MINHASH,
    band_rows,
    blocked_pairs,
    jaccard_pairs,
    shingle_sets,
)

_BLOCKS = ("band_idx", "band_key")
_KEYS_SCHEMA = "doc_id long, band_idx int, band_key string"


def _pairs(df):
    return sorted((r.a_id, r.b_id) for r in df.collect())


def test_pair_sharing_two_bands_is_one_candidate(spark):
    keys = spark.createDataFrame(
        [(1, 0, "x"), (1, 1, "y"), (2, 0, "x"), (2, 1, "y"), (3, 0, "z")],
        _KEYS_SCHEMA,
    )
    assert _pairs(blocked_pairs(keys, "doc_id", _BLOCKS)) == [(1, 2)]


def test_self_join_orders_ids_and_never_pairs_a_doc_with_itself(spark):
    keys = spark.createDataFrame(
        # doc 3 repeats its own key in a second band: still no (3, 3)
        [(3, 0, "k"), (3, 1, "k"), (1, 0, "k"), (2, 0, "k"), (4, 1, "k")],
        _KEYS_SCHEMA,
    )
    got = _pairs(blocked_pairs(keys, "doc_id", _BLOCKS))
    assert got == [(1, 2), (1, 3), (2, 3), (3, 4)]
    assert all(a < b for a, b in got)


def test_history_join_pairs_across_sides_only(spark):
    batch = spark.createDataFrame(
        [(10, 0, "k"), (11, 0, "k"), (12, 1, "q")], _KEYS_SCHEMA
    )
    hist = spark.createDataFrame(
        [(1, 0, "k"), (2, 0, "z"), (3, 1, "k")], _KEYS_SCHEMA
    )
    got = _pairs(blocked_pairs(batch, "doc_id", _BLOCKS, other=hist))
    # (10, 11) share a block but are both batch docs; (3) has key k in
    # another band, so it does not collide.
    assert got == [(10, 1), (11, 1)]


def test_jaccard_threshold_is_inclusive(spark):
    sets = spark.createDataFrame(
        [
            (1, ["a", "b", "c"]),
            (2, ["a", "b", "d"]),  # vs 1: 2 / 4 = 0.5 exactly
            (3, [str(i) for i in range(74)]),
            (4, [str(i) for i in range(25, 99)]),  # vs 3: 49 / 99 < 0.5
        ],
        "doc_id long, sh array<string>",
    )
    cand = spark.createDataFrame([(1, 2), (3, 4)], "a_id long, b_id long")
    got = [tuple(r) for r in jaccard_pairs(cand, sets, sets, JACCARD_THRESHOLD).collect()]
    assert got == [(1, 2, 0.5)]
    # The threshold is the caller's: at 0.49 the 49/99 pair is kept too.
    assert len(jaccard_pairs(cand, sets, sets, 0.49).collect()) == 2


def test_identical_texts_share_every_band(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "an entirely different sentence about something else"),
        ],
        "doc_id long, text string",
    )
    toks = docs.select("doc_id", TX.tokens(F.col("text")).alias("toks"))
    shin = shingle_sets(toks)
    bands = band_rows(shin)
    assert bands.filter(F.col("doc_id") == 1).count() == N_MINHASH // 2
    cand = blocked_pairs(bands, "doc_id", _BLOCKS)
    assert _pairs(cand) == [(1, 2)]
    got = jaccard_pairs(cand, shin, shin, JACCARD_THRESHOLD).collect()
    assert [tuple(r) for r in got] == [(1, 2, 1.0)]

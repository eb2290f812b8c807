"""Empty-input robustness: every catalog query must build its plan and
execute without raising over COMPLETELY EMPTY tables (correct schemas,
zero rows). At 100 TB empty partitions, empty date slices, and freshly
truncated tables are routine; an operator that throws on them fails mid-
pipeline at 3am. Zero-row output is fine — raising is not.

Two queries are excluded and documented: embedding_topk_cosine /
embedding_topk_lsh fetch the query VECTOR itself from the corpus
(`.head()[0]`, a testdata convenience standing in for a user-supplied
query); with no corpus there is no query vector, which is an API-contract
violation, not an execution-path fragility (the operators in
operators/similarity.py take the vector as an argument).
"""

from __future__ import annotations

import pytest

from real_time_flight_data_pipeline_spark.plans.catalog import REGISTRY
from real_time_flight_data_pipeline_spark.schemas import TESTDATA_TABLES
from real_time_flight_data_pipeline_spark.sources.parquet import load_table

from .conftest import SF_SMOKE

# Data-as-query-argument convenience lookups; see module docstring.
_NEEDS_SEED_ROW = {
    "embedding_topk_cosine",
    "embedding_topk_lsh",
}


@pytest.fixture(scope="module")
def empty_sf(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("empty_sf")
    for t in TESTDATA_TABLES:
        load_table(spark, SF_SMOKE, t).limit(0).write.mode(
            "overwrite"
        ).parquet(str(root / f"{t}.parquet"))
    return str(root)


@pytest.mark.parametrize("name", sorted(n for n in REGISTRY if n not in _NEEDS_SEED_ROW))
def test_query_survives_empty_tables(spark, empty_sf, name):
    df = REGISTRY[name].builder(spark, empty_sf)
    rows = df.collect()  # must not raise; row count is unconstrained
    assert rows is not None

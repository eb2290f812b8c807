"""Every catalog query must match its DuckDB oracle at sf0.01 (the driver's
correctness gate, replicated locally)."""

from __future__ import annotations

import pytest

from real_time_flight_data_pipeline_spark.plans.catalog import REGISTRY

from .conftest import SF_CORRECT
from .oracle_harness import compare

_WITH_ORACLE = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_oracle_match(spark, built_query, name):
    q = REGISTRY[name]
    ok, msg = compare(
        spark, SF_CORRECT, lambda _, sf: built_query(name, sf), q.oracle
    )
    assert ok, f"{name}: {msg}"


def test_all_queries_run_smoke(built_query):
    for name in REGISTRY:
        df = built_query(name, SF_CORRECT)
        assert df.columns, name

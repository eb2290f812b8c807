"""Bind-time type audit of every oracle SQL: no HUGEINT/DECIMAL output columns.

The driver's hash comparison is type-sensitive — DuckDB HUGEINT (from uncast
sum(int)) and DECIMAL (from numeric literals) hash differently from Spark's
BIGINT/DOUBLE even when every value matches. This test binds each oracle in
DuckDB (no Spark, sub-second) so the whole catalog is audited cheaply.
"""

from __future__ import annotations

import pytest

from real_time_flight_data_pipeline_spark.plans.catalog import REGISTRY

from .conftest import SF_CORRECT
from .oracle_harness import _check_oracle_types, check_spark_output_types, duckdb_conn

_WITH_ORACLE = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)


@pytest.fixture(scope="module")
def con():
    return duckdb_conn(SF_CORRECT)


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_oracle_output_types_driver_safe(con, name):
    problems = _check_oracle_types(con.sql(REGISTRY[name].oracle))
    assert not problems, f"{name}: {problems}"


def test_spark_output_types_driver_safe(built_query):
    """No driver-checked query may emit array/map/struct columns: the driver's
    pandas canonicalizer cannot hash list cells (r2's one red row came from a
    mapInPandas array<int> output that the DuckDB-side audit could not see).
    Schema-only — analysis, no execution — so the whole catalog stays cheap."""
    problems = []
    for name in _WITH_ORACLE:
        df = built_query(name, SF_CORRECT)
        problems += [f"{name}: {p}" for p in check_spark_output_types(df.schema)]
    assert not problems, "\n".join(problems)

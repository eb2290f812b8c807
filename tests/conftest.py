from __future__ import annotations

import pytest

from real_time_flight_data_pipeline_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="flightframe-tests")
    yield s


@pytest.fixture()
def no_broadcast(spark):
    """Auto-broadcast off: only explicit ``F.broadcast`` hints broadcast."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


@pytest.fixture(scope="session")
def built_query(spark):
    """``built_query(name, sf_dir)``: the catalog query's DataFrame, built
    once per (query, scale) and shared by the tests of that scale: the
    oracle match executes it once; the smoke build, the output-type audit
    and the plan gates only read its schema or plan. Building runs each
    query's eager checkpoints, ~0.7 s a query, so rebuilding the catalog
    for every such test cost minutes. Only one scale is held at a time."""
    from real_time_flight_data_pipeline_spark.plans.catalog import REGISTRY  # noqa: PLC0415

    cache: dict[tuple[str, str], object] = {}

    def build(name: str, sf_dir: str):
        if any(sf != sf_dir for _, sf in cache):
            cache.clear()
        key = (name, sf_dir)
        if key not in cache:
            cache[key] = REGISTRY[name].builder(spark, sf_dir)
        return cache[key]

    yield build
    cache.clear()

from __future__ import annotations

import os
from dataclasses import dataclass

import pytest

from data_ingestion_lambda_spark import get_spark

# The session factory's default driver heap (48g) exceeds a small test
# host's memory; pin the heap as the benchmark harness does. An explicit
# SPARK_DRIVER_MEMORY in the environment still wins.
os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=4, extra_conf={"spark.default.parallelism": "4"})
    yield s


SF_SMOKE = "/root/testdata/sf0.001"


@dataclass(frozen=True)
class LanePlan:
    cached_relations: int  # InMemoryRelations in the optimized plan
    executed: str  # the executed plan's string
    released: bool  # CacheManager empty after release_pinned()


@pytest.fixture(scope="session")
def lane_plans(spark) -> dict[str, LanePlan]:
    """One build of every registered lane, shared by the gates that walk
    them all (test_plan_shapes_r9, test_plan_shapes_r12). Both plans are
    taken before ``release_pinned()``; the release is checked after each
    lane."""
    from data_ingestion_lambda_spark.plans import all_specs
    from data_ingestion_lambda_spark.plans.registry import release_pinned

    release_pinned()
    spark.catalog.clearCache()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    plans = {}
    for name, spec in sorted(all_specs().items()):
        qe = spec.builder(spark, SF_SMOKE)._jdf.queryExecution()
        cached = qe.optimizedPlan().toString().count("InMemoryRelation")
        executed = qe.executedPlan().toString()
        release_pinned()
        released = cache_manager.isEmpty()
        if not released:
            spark.catalog.clearCache()  # restore attribution for later lanes
        plans[name] = LanePlan(cached, executed, released)
    return plans

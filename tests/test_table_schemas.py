"""The registry reads its tables with the schemas declared in
``queries.common.TABLE_SCHEMAS``: they must be the schemas Spark infers from
every shipped tier, and building a query must start no Spark job."""

from __future__ import annotations

import pytest
from test_plan_shape import SF_DIR

import __spark_entry__ as em
from audio_feature_extraction_spark.queries.common import TABLE_SCHEMAS, _t
from tools.check_entry import TABLES

# the three shipped tiers, beside the sf0.001 one the plan tests read
TIERS = [SF_DIR.replace("sf0.001", sf) for sf in ("sf0.001", "sf0.01", "sf0.1")]


@pytest.mark.parametrize("sf_dir", TIERS)
def test_declared_schemas_equal_inferred(spark, sf_dir):
    for name in TABLE_SCHEMAS:
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert _t(spark, sf_dir, name).schema == inferred, name


def test_check_entry_tables_are_the_declared_ones():
    assert TABLES == list(TABLE_SCHEMAS)


def _jobs_while(spark, group: str, build) -> list[int]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def test_head_queries_build_without_spark_jobs(spark):
    sf_dir = TIERS[1]
    # the probe sees the job a schema-inferring read starts
    assert _jobs_while(
        spark, "test-infer", lambda: spark.read.parquet(f"{sf_dir}/events.parquet")
    )
    for name in em.ORDER[:15]:
        jobs = _jobs_while(
            spark, f"test-build-{name}", lambda: em.queries()[name](spark, sf_dir)
        )
        assert jobs == [], name

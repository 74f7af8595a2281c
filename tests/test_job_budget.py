"""Job-count gates, pinned like plan shape (tests/test_plans.py): each
connected_components consumer, forced once in its own job group, must stay
within a ceiling of Spark jobs read from ``statusTracker()``.  Job counts
follow from the plan and the driver's actions, not from the host's speed,
so a regression fails here instead of hiding in wall-clock noise.

The ceilings are the counts measured with CC's driver-local finish (the
same at sf0.001, sf0.01 and sf0.1); the star-contraction rounds they
replaced cost 47 / 32 / 32 jobs.  The local finish itself is four jobs:
the edge checkpoint's shuffle and result stages, the bounded collect,
and the caller's own force."""

from __future__ import annotations

import pytest

from thesis_iceberg_spark.queries import REGISTRY, queries
from thesis_iceberg_spark.queries.dedup import connected_components

queries()

JOB_CEILINGS = {
    "dedup_semdedup_centroid_far": 20,
    "dedup_embedding_cluster_canonical": 9,
    "dedup_cluster_canonical": 8,
}


def _jobs_to_force(spark, group, build) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build().write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", sorted(JOB_CEILINGS))
def test_cc_consumer_job_ceiling(spark, sf_dir, name):
    jobs = _jobs_to_force(
        spark, f"job_budget_{name}", lambda: REGISTRY[name].fn(spark, sf_dir)
    )
    assert jobs <= JOB_CEILINGS[name], f"{name}: {jobs} Spark jobs"


def test_local_cc_leaves_no_persisted_rdd(spark):
    """The driver-local finish frees its edge checkpoint before returning:
    no persisted RDD outlives the call."""

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "a BIGINT, b BIGINT")
    before = persisted()
    jobs = _jobs_to_force(
        spark, "job_budget_local_cc", lambda: connected_components(pairs)
    )
    assert persisted() - before == set()
    assert jobs <= 4, f"local connected_components ran {jobs} Spark jobs"

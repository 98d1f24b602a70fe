from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from gasket_spark.session import get_spark

    spark = get_spark("gasket-tests", extra_conf={
        "spark.sql.shuffle.partitions": "8",
        "spark.default.parallelism": "8",
    })
    yield spark
    spark.stop()


def jobs_fired(spark, fn):
    """Run ``fn()`` under a fresh job group; returns (its result, the
    number of Spark jobs it fired)."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-fired-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))

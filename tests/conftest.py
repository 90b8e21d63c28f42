from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clickhouse_data_rebalance_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("cdr-spark-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


def new_job_ids(spark, fn) -> list[int]:
    """Run ``fn()`` under a fresh job group; return the ids of the Spark
    jobs it launched, as the status tracker reports them."""
    sc = spark.sparkContext
    sc.setJobGroup("new_job_ids", "jobs launched by one call")
    try:
        fn()
        return sorted(sc.statusTracker().getJobIdsForGroup("new_job_ids"))
    finally:
        for key in (
            "spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"
        ):
            sc.setLocalProperty(key, None)

import os
import time

import pytest

import sycamore_spark as ss

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def count_jobs(spark, thunk):
    """(result, number of Spark jobs ``thunk`` ran)."""
    sc = spark.sparkContext
    group = f"count-jobs-{time.time_ns()}"
    sc.setJobGroup(group, group)
    try:
        out = thunk()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    spark = ss.init(app_name="sycamore-spark-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR

"""Shared fixtures: one SparkSession per test session, testdata locations."""

from __future__ import annotations

import os

import pytest

from dca_manager_spark.session import get_session

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_CORRECTNESS = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    spark = get_session(app_name="dca-manager-spark-tests", master="local[4]",
                        shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` -> (fn(), number of Spark jobs it ran), counted
    through a job group (pool threads that inherit the caller's local
    properties are counted too)."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"jobs_{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job count")
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run

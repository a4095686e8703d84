"""Shared pytest fixtures: one SparkSession per test session."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CHECK = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from ssg_etl_spark.session import get_spark

    spark = get_spark("ssg-etl-tests", master="local[4]", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture
def jobs_started(spark):
    """``jobs_started(fn)`` calls ``fn()`` under its own Spark job group and
    returns the ids of the jobs it started. A control job (one inferred
    parquet scan) then runs under a second group. The status listener
    handles events in order, so once the control's job shows, every job
    ``fn`` started shows too: an empty result is not a lagging listener."""
    import time
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(fn):
        group = f"jobs-started-{uuid.uuid4().hex}"
        control = f"{group}-control"
        try:
            sc.setJobGroup(group, "jobs_started")
            fn()
            sc.setJobGroup(control, "jobs_started control")
            spark.read.parquet(os.path.join(SF_SMOKE, "region.parquet")).schema
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        deadline = time.monotonic() + 60
        while not tracker.getJobIdsForGroup(control):
            assert time.monotonic() < deadline, "the control scan's job never showed"
            time.sleep(0.05)
        return list(tracker.getJobIdsForGroup(group))

    return run

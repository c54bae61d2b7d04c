from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# The scripts in tools/ are importable by the tests, but appended: a
# script named like a standard-library module must not shadow it.
sys.path.append(os.path.join(REPO, "tools"))

from trading_data_pipeline_spark.session import build_session  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = build_session("tests", master="local[8]", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture()
def jobs_started(spark):
    """``jobs_started(group, action)``: the Spark jobs ``action()``
    starts, counted through a job group."""

    def count(group: str, action) -> int:
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count

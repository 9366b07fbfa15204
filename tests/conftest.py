from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreducer_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="mapreducer-spark-tests",
        master="local[8]",
        shuffle_partitions=8,
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_sf_dir() -> str:
    return SF_DIR_ORACLE


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` under a fresh Spark job group and
    returns ``(fn(), number of Spark jobs it launched)``."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run

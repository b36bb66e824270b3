"""Shared pytest fixtures: one local SparkSession per test session."""

from __future__ import annotations

import os
import sys

import pytest

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


def group_jobs(spark, group: str, action) -> int:
    """Run ``action()`` under Spark job group ``group`` and return how
    many jobs it started, counting those its pool threads submit."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # The status tracker is fed by the listener bus: drain it first.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    from weatherflow_spark.session import get_spark

    import tempfile

    wh = tempfile.mkdtemp(prefix="wf-warehouse-")
    spark = get_spark(
        app_name="weatherflow-tests",
        shuffle_partitions=8,
        # static conf: bucketed saveAsTable targets (tests only)
        extra_conf={"spark.sql.warehouse.dir": wh},
    )
    yield spark
    spark.stop()


@pytest.fixture(params=["mirror"])
def snap_mode(request):
    """The snapshot-retention mode a versioned-table test runs under.

    The hard-linked retention mirror is the only mode, so this has a
    single value; it keeps the mode visible in the test ids."""
    return request.param

from __future__ import annotations

import time
import uuid

import pytest

from data_migration_etl_scripts_spark import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # small local session: tests exercise semantics, not throughput
    s = get_spark(app_name="dmess_tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture()
def jobs_started(spark):
    """``jobs_started(fn)`` runs ``fn()`` under a fresh job group and
    returns the number of Spark jobs it started, from the status
    tracker. A probe action in a second group runs after it: the
    tracker's listener is asynchronous but in order, so once the probe
    job shows, every earlier job has too."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def in_group(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def count(fn) -> int:
        group = f"jobs_started_{uuid.uuid4().hex}"
        in_group(group, fn)
        in_group(group + "_probe", lambda: spark.range(3).count())
        deadline = time.monotonic() + 10
        while (
            not list(tracker.getJobIdsForGroup(group + "_probe"))
            and time.monotonic() < deadline
        ):
            time.sleep(0.05)
        assert list(tracker.getJobIdsForGroup(group + "_probe"))
        return len(tracker.getJobIdsForGroup(group))

    return count

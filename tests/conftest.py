from __future__ import annotations

import contextlib
import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from isp_trace_parser_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="isp-trace-parser-spark-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.files.maxPartitionBytes": "8388608"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark_jobs(spark):
    """Count the Spark jobs a block launches::

        with spark_jobs() as jobs:
            ...
        assert jobs() == 0

    The block runs under its own job group; on exit the listener bus is
    drained, so every job the block started is in the status store
    before ``jobs()`` is read."""
    sc = spark.sparkContext
    ids = itertools.count()

    @contextlib.contextmanager
    def counted():
        group = f"counted-{next(ids)}"
        sc.setJobGroup(group, "job count")
        try:
            yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc._jsc.clearJobGroup()
            sc._jsc.sc().listenerBus().waitUntilEmpty()

    return counted

"""Shared pytest fixtures: one local SparkSession per test session."""

from __future__ import annotations

import gc
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stedi_human_balance_redis_kafka_spark_streaming_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def pytest_collection_modifyitems(config, items):
    """FAST default profile (VERDICT r18 item 1): skip the measured
    slowest tests (tests/_slow_tests.py, ~4 s+ each) so a plain
    ``pytest tests/ -x -q`` finishes inside the driver's verify window
    (~11 min vs the full suite's ~28).  ``SPARK_GRAFT_FULL_TESTS=1``
    disables the profile and runs every test — the builder's own final
    gate uses the full profile."""
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from _slow_tests import SLOW_TESTS

    skip = pytest.mark.skip(
        reason="slow profile: set SPARK_GRAFT_FULL_TESTS=1 to run"
    )
    for item in items:
        if item.nodeid in SLOW_TESTS:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="stedi-tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def assert_drains_to(spark, baseline: int) -> None:
    """Assert the session's persistent RDDs fall back to ``baseline``.

    Every release is synchronous (unpersist(blocking=False) removes the
    RDD from the persistentRdds map at once); the poll only absorbs
    finalizer timing when a reference cycle holds the result.  No JVM
    GC: a block only the ContextCleaner would reclaim, minutes later,
    counts as a leak."""
    for _ in range(50):
        if persistent_rdd_count(spark) <= baseline:
            return
        gc.collect()
        time.sleep(0.2)
    assert persistent_rdd_count(spark) <= baseline

"""Shared Spark fixture: one local session for the whole test run.

local[4] with 4 shuffle partitions keeps unit tests fast; queries are the
same logical plans that run on local[32] / a real cluster — parallelism is
a config, not a code path.
"""

from __future__ import annotations

import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
# Wall-clock budget for any streaming query a test starts; past it the
# watchdog stops the query, so a wait on it cannot hang the suite.
STREAM_DEADLINE_S = 300


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.appName("tests")
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def _stop_active_queries() -> list[str]:
    """Stop every streaming query still running; return their names."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    if SparkContext._active_spark_context is None:
        return []
    left = SparkSession.active().streams.active
    for q in left:
        q.stop()
    return [q.name or q.id for q in left]


@pytest.fixture(autouse=True)
def no_streaming_query_left():
    """Fail a test that leaves a streaming query running (after stopping
    it, so the next test starts clean), and stop a test's queries once
    it has run longer than STREAM_DEADLINE_S."""
    overdue: list[str] = []
    watchdog = threading.Timer(
        STREAM_DEADLINE_S, lambda: overdue.extend(_stop_active_queries())
    )
    watchdog.daemon = True
    watchdog.start()
    yield
    watchdog.cancel()
    watchdog.join()
    left = _stop_active_queries()
    if overdue:
        pytest.fail(f"streaming queries stopped after {STREAM_DEADLINE_S} s: "
                    f"{overdue}")
    if left:
        pytest.fail(f"streaming queries left running: {left}")

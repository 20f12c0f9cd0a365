import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from imagery_utils_spark.session import WORKER_DAEMON_MODULE

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
# a tier-1 test slower than this must justify itself or shrink its input
SLOW_TEST_S = 20.0


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("imagery_utils_spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.python.daemon.module", WORKER_DAEMON_MODULE)
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.path.join(TESTDATA, "sf0.001")


def pytest_terminal_summary(terminalreporter):
    """List every test whose run took over ``SLOW_TEST_S``. It only
    reports: the run's outcome does not change."""
    slow = sorted(
        ((r.duration, r.nodeid) for reports in terminalreporter.stats.values()
         for r in reports if getattr(r, "when", None) == "call"
         and r.duration > SLOW_TEST_S),
        reverse=True,
    )
    if slow:
        terminalreporter.section(f"tests over {SLOW_TEST_S:g} s")
        for duration, nodeid in slow:
            terminalreporter.write_line(f"{duration:7.1f}s {nodeid}")

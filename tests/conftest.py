"""Shared Spark fixture for the test suite."""

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    session = (
        SparkSession.builder.master("local[4]")
        .appName("curies-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    yield session
    session.stop()


#: skip reasons of the tests that need the reference library or corpus
_REFERENCE_GATES = ("reference library unavailable", "reference corpus unavailable")


def _gated(item) -> bool:
    return any(m.kwargs.get("reason") in _REFERENCE_GATES for m in item.iter_markers("skipif"))


def pytest_collection_modifyitems(config, items):
    config._reference_gated = {item.nodeid for item in items if _gated(item)}


def pytest_terminal_summary(terminalreporter, config):
    """Make the reference-gated share of the run visible: with the
    reference absent, parity with it is unverified."""
    gated = getattr(config, "_reference_gated", set())
    stats = terminalreporter.stats
    skipped = sum(
        any(reason in str(r.longrepr) for reason in _REFERENCE_GATES)
        for r in stats.get("skipped", [])
    )
    ran = sum(
        r.nodeid in gated and r.when == "call"
        for outcome in ("passed", "failed")
        for r in stats.get(outcome, [])
    )
    terminalreporter.write_line(f"reference-gated: {ran} ran, {skipped} skipped")

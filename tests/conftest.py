"""Shared fixtures: one SparkSession per test run (local sandbox)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


def pytest_collection_modifyitems(items):
    """Run the tests that need no Spark session first (a stable sort, so
    file order holds within each group): they take seconds, and a suite
    cut by its time limit on a small machine still reports them."""
    items.sort(key=lambda item: "spark" in getattr(item, "fixturenames", ()))


@pytest.fixture(scope="session")
def spark():
    from web_scraper_spark.session import get_spark

    s = get_spark("wss-tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf001_dir():
    return os.path.join(TESTDATA, "sf0.001")


@pytest.fixture(scope="session")
def sf01_dir():
    return os.path.join(TESTDATA, "sf0.01")

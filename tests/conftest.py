import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mydatalake_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="mydatalake-tests",
        master="local[4]",
        shuffle_partitions=4,
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


@pytest.fixture(scope="session")
def orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


@pytest.fixture(scope="session")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="session")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "scaling: two-point scaling-curve gate (slow; needs sf0.1 testdata)",
    )


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    # The default `-m "not scaling"` (pytest.ini) drops the scaling gate
    # silently; say so, and how to run it.
    n = sum(
        1
        for item in terminalreporter.stats.get("deselected", [])
        if item.get_closest_marker("scaling") is not None
    )
    if n:
        terminalreporter.write_line(
            f"{n} scaling test(s) deselected; run them with: "
            "python -m pytest tests/ -m scaling"
        )

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from dataslicer_spark.session import get_spark

    # Small shuffle-partition count keeps the tiny-test latency down; AQE
    # coalesces anyway.
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def lineitem(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))


@pytest.fixture(scope="session")
def orders(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))


@pytest.fixture(scope="session")
def customer(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn) -> (fn(), number of Spark jobs fn ran)``, counted
    by :func:`dataslicer_spark.trace.counted`."""
    from dataslicer_spark.trace import counted

    def run(fn):
        out, n = counted(spark, fn)
        return out, n["jobs"]

    return run

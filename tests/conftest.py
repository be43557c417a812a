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
    with the status tracker under a job group of its own."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"count_jobs.{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the tracker is fed by the listener bus: drain it before reading
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run

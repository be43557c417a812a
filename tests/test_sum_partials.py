"""utils.sum_partials: per-partition int64 vectors summed exactly on the
driver in one job, with a tree level past the driver bound."""

from __future__ import annotations

import numpy as np
import pytest

from dataslicer_spark import utils
from dataslicer_spark.utils import materialize, sum_partials

BIG = 1 << 40  # products past 2^53: float sums would lose units


def _kernel():
    """[rows, Σ x·2^40, Σ x²] of one partition (built inside a function
    so the workers receive it by value, not as an import of this file)."""

    def kernel(batches):
        v = np.zeros(3, dtype=np.int64)
        for pdf in batches:
            x = pdf["id"].to_numpy(dtype=np.int64)
            v += [len(x), (x * BIG).sum(), (x * x).sum()]
        return v

    return kernel


def _reference(n):
    xs = range(n)
    return [n, sum(x * BIG for x in xs), sum(x * x for x in xs)]


@pytest.mark.parametrize("parts", [1, 3, 9])
def test_sum_matches_numpy_reference(spark, count_jobs, parts):
    # 7 rows over 9 partitions leaves some partitions empty
    for n in (0, 7, 500):
        df = materialize(spark.range(0, n, 1, parts))
        got, jobs = count_jobs(lambda: sum_partials(df, _kernel(), 3))
        assert got.dtype == np.int64
        assert got.tolist() == _reference(n)
        assert jobs == 1


def test_tree_level_equals_direct_path(spark, count_jobs, monkeypatch):
    df = materialize(spark.range(0, 500, 1, 9))
    direct = sum_partials(df, _kernel(), 3)
    monkeypatch.setattr(utils, "SUM_PARTIALS_MAX_CELLS", 9 * 3 - 1)
    tree, jobs = count_jobs(lambda: sum_partials(df, _kernel(), 3))
    assert tree.tolist() == direct.tolist() == _reference(500)
    assert jobs > 1  # the √P pre-sum added a shuffle: the tree path ran


def test_partition_probe_on_materialized_frame_runs_no_job(spark, count_jobs):
    df = materialize(spark.range(0, 100, 1, 3).selectExpr("id * 2 AS x"))
    parts, jobs = count_jobs(lambda: df.rdd.getNumPartitions())
    assert (parts, jobs) == (3, 0)


def test_kernel_width_is_checked(spark):
    df = materialize(spark.range(0, 10, 1, 2))
    with pytest.raises(Exception, match="expected \\(4,\\)"):
        sum_partials(df, _kernel(), 4)

"""The scale probe's structural claim at tier-1 scale: kernels from
``scripts/scale_probe.py``'s own table run the same Spark jobs and stages
on 1× and 4× inputs written by its own writer, at sf0.001.

The 4× inputs must keep the sf tables' layout (one file, one row group):
a 4× corpus built as an in-memory union of four scans has four
partitions, so ``utils.spread`` repartitions at 1× but not at 4× on a
4-core host, and the two sizes run different plans (``minhash_lsh`` 11
vs 9 jobs).
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from scripts import scale_probe as sp

# one graph (pagerank) and one temporal (asof_join) kernel among them;
# each read identical 1×/4× counts on every one of repeated full runs
SUBSET = [
    "minhash_lsh", "ngram_jaccard", "kmeans", "bootstrap_ci", "bm25_topk",
    "pagerank", "asof_join",
]


@pytest.fixture(scope="module")
def probe_inputs(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("scale_probe"))
    names = sorted({i for k in SUBSET for i in sp.KERNELS[k].inputs.split()})
    return root, sp.write_inputs(spark, sf_dir, root, names)


@pytest.mark.parametrize("name", SUBSET)
def test_kernel_runs_one_plan_at_1x_and_4x(spark, probe_inputs, name):
    root, paths = probe_inputs
    row = sp.probe(spark, name, paths, root)
    assert row["1x"]["jobs"] == row["4x"]["jobs"], row
    assert row["1x"]["stages"] == row["4x"]["stages"], row
    assert "unexplained" not in row and "bound" not in row, row


def test_writer_puts_four_shifted_replicas_in_one_row_group(spark, tmp_path):
    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    path = sp.write_input(df, str(tmp_path / "x.parquet"), 4, sp._shift(k=1_000))
    meta = pq.ParquetFile(path).metadata
    assert (meta.num_row_groups, meta.num_rows) == (1, 400)
    got = pq.read_table(path).to_pydict()
    # disjoint key spaces, same values in every replica
    assert sorted(got["k"]) == [i * 1_000 + j for i in range(4) for j in range(100)]
    assert sorted(got["v"]) == sorted([j % 7 for j in range(100)] * 4)


def test_table_keeps_44_kernels_and_every_bound_resolves(spark):
    assert len(sp.KERNELS) == 44
    inputs = {i for k in sp.KERNELS.values() for i in k.inputs.split()}
    assert inputs <= set(sp.INPUTS)
    for k in sp.KERNELS.values():
        for b in k.bounds:
            assert sp._bound(spark, b).split("=")[1][0].isdigit(), b

"""Integer PageRank (operators/graph.pagerank), on both of its paths."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataslicer_spark.operators import graph
from dataslicer_spark.operators.graph import pagerank

SCALE = 10**12


def _py_pagerank(edges, n_iter, scale=SCALE, d=(85, 100)):
    """Independent replay of the documented integer algorithm."""
    es = sorted(set(edges))
    nodes = sorted({u for u, _ in es} | {v for _, v in es})
    deg = {}
    for u, _ in es:
        deg[u] = deg.get(u, 0) + 1
    n = len(nodes)
    r = {v: scale // n for v in nodes}
    base = (scale * (d[1] - d[0]) // d[1]) // n
    for _ in range(n_iter):
        nxt = {v: base for v in nodes}
        for u, v in es:
            nxt[v] += (r[u] * d[0] // d[1]) // deg[u]
        r = nxt
    return r


def _spy(monkeypatch):
    """Record every call of the driver rounds; returns the call list."""
    calls = []
    orig = graph._pagerank_driver

    def spy(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(graph, "_pagerank_driver", spy)
    return calls


@pytest.fixture()
def both_paths(monkeypatch):
    """``both_paths(df, **kw) -> {node: rank}`` of ``pagerank(df, **kw)``
    on the driver path (default bound) and on the distributed rounds,
    asserted identical; a spy on the driver rounds checks which one ran.
    The forced bound is −1, not 0: an empty graph fits a bound of 0."""
    calls = _spy(monkeypatch)

    def go(df, **kw):
        def ranks():
            return {r.node: r.rank for r in pagerank(df, **kw).collect()}

        before = len(calls)
        drv = ranks()
        assert len(calls) == before + 1
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(graph, "DRIVER_MAX_EDGES", -1)
            dist = ranks()
        assert len(calls) == before + 1
        assert drv == dist
        return drv
    return go


@pytest.fixture()
def run(spark, both_paths):
    def go(edges, n_iter=3):
        df = spark.createDataFrame(edges, "src long, dst long")
        return both_paths(df, n_iter=n_iter)
    return go


def test_matches_python_replay(run):
    edges = [(1, 2), (2, 1), (1, 3), (3, 1), (2, 3), (4, 1)]
    for it in (1, 3):
        assert run(edges, it) == _py_pagerank(edges, it)


def test_hub_ranks_highest(run):
    # star: everyone points at 0 (and back, so nothing dangles)
    edges = [(i, 0) for i in range(1, 8)] + [(0, i) for i in range(1, 8)]
    got = run(edges)
    assert max(got, key=got.get) == 0


def test_multi_edges_collapse(run):
    ranks_a = run([(1, 2), (2, 1)])
    ranks_b = run([(1, 2), (1, 2), (1, 2), (2, 1)])
    assert ranks_a == ranks_b


def test_dangling_mass_evaporates_deterministically(run):
    # node 2 has no out-edges: its mass is dropped, not redistributed —
    # pinned against the python replay (which implements the same rule)
    edges = [(1, 2)]
    assert run(edges, 3) == _py_pagerank(edges, 3)


def test_partitioning_invariance(spark, both_paths):
    edges = [(i % 13, (i * 7) % 13) for i in range(150) if i % 13 != (i * 7) % 13]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = both_paths(df, n_iter=2)
    b = both_paths(df.repartition(11), n_iter=2)
    assert a == b


def test_empty_graph(spark, both_paths, monkeypatch):
    df = spark.createDataFrame([], "src long, dst long")
    assert both_paths(df) == {}
    for bound in (graph.DRIVER_MAX_EDGES, -1):
        monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", bound)
        out = pagerank(df)
        assert out.schema.simpleString() == "struct<node:bigint,rank:bigint>"


def _ring_with_extras(spark, n=60):
    """A ring plus chords, a multi-edge, a dangling node and NULL ends."""
    edges = [(i, (i + 1) % n) for i in range(n)]
    edges += [(i, (i * 7) % n) for i in range(0, n, 3) if (i * 7) % n != i]
    edges += [(0, 1), (5, n), (None, 3), (4, None)]
    return spark.createDataFrame(edges, "src long, dst long")


def test_ring_with_extras_matches_python_replay(spark, both_paths):
    df = _ring_with_extras(spark)
    edges = [tuple(r) for r in df.dropna().collect()]
    got = both_paths(df, n_iter=4)
    assert len(got) == 61 and got == _py_pagerank(edges, 4)


def test_string_ids_equal_on_both_paths(spark, both_paths):
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a"),
             ("c", "e")]
    df = spark.createDataFrame(edges, "src string, dst string")
    assert pagerank(df).schema.simpleString() == (
        "struct<node:string,rank:bigint>"
    )
    assert both_paths(df) == _py_pagerank(edges, 3)


def test_bound_is_the_distinct_edge_count(spark, monkeypatch):
    """The probe keeps graphs of exactly ``DRIVER_MAX_EDGES`` distinct
    edges on the driver; one more edge than the bound falls back."""
    df = _ring_with_extras(spark)
    n_edges = df.dropna().distinct().count()
    calls = _spy(monkeypatch)
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", n_edges)
    at = sorted(pagerank(df).collect())
    assert len(calls) == 1
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", n_edges - 1)
    below = sorted(pagerank(df).collect())
    assert len(calls) == 1
    assert at == below


def test_driver_path_jobs_are_the_probe_only(spark, count_jobs):
    """On a materialized 2,000-node graph the driver path runs exactly
    the probe's one job (a ``limit`` read through ``toArrow``) and none
    more to build its result, which is one partition (2,000 nodes ≤ one
    Arrow batch)."""
    from dataslicer_spark.utils import materialize

    g = materialize(
        spark.range(2000).select(
            F.col("id").alias("src"),
            ((F.col("id") * 7 + 1) % 2000).alias("dst"),
        )
    )
    e = g.select("src", "dst").filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    ).distinct()
    _, probe_jobs = count_jobs(
        lambda: graph.bounded_arrow(e, graph.DRIVER_MAX_EDGES)
    )
    out, jobs = count_jobs(lambda: pagerank(g))
    assert jobs == probe_jobs == 1
    assert out.rdd.getNumPartitions() == 1
    assert out.count() == 2000


def test_distributed_plan_is_joins_and_hash_aggregates(
    spark, sf_dir, monkeypatch
):
    """Above the driver bound, the rank iterations of ``gr_pagerank`` are
    equi-joins + hash aggregates — state stays distributed, no Python,
    no cartesian."""
    from dataslicer_spark.plans.extension_queries import gr_pagerank

    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", 0)
    plan = (
        gr_pagerank(spark, sf_dir)._jdf.queryExecution().executedPlan()
        .toString()
    )
    assert "HashAggregate" in plan
    for bad in ("Python", "CartesianProduct", "NestedLoop"):
        assert bad not in plan

"""connected_components / resolve_duplicate_groups vs a driver union-find."""

import numpy as np
import pytest

from dataslicer_spark.operators import graph
from dataslicer_spark.operators.dedup import resolve_duplicate_groups
from dataslicer_spark.operators.graph import connected_components


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = sorted((ra, rb))
            parent[hi] = lo
    # path-compress to final min representative
    return {n: find(n) for n in parent}


def _force(monkeypatch, mode, n_edges):
    """Pin ``connected_components``' path through its driver bound and
    spy on the driver union-find: ``'driver'`` keeps the default bound,
    ``'distributed'`` sets it to 0 (every graph falls back), ``'auto'``
    sets it to exactly the graph's undirected edge count (the probe's
    boundary, still the driver path).  Returns the spy's call list."""
    if mode == "distributed":
        monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", 0)
    elif mode == "auto":
        monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", n_edges)
    calls = []
    orig = graph.union_find

    def spy(groups):
        calls.append(1)
        return orig(groups)

    monkeypatch.setattr(graph, "union_find", spy)
    return calls


@pytest.mark.parametrize("mode", ["driver", "distributed", "auto"])
@pytest.mark.parametrize("seed,n_nodes,n_edges", [(0, 30, 20), (1, 200, 150), (2, 500, 700)])
def test_connected_components_matches_union_find(
    spark, monkeypatch, seed, n_nodes, n_edges, mode
):
    rng = np.random.default_rng(seed)
    edges = [
        (int(a), int(b))
        for a, b in zip(
            rng.integers(0, n_nodes, n_edges), rng.integers(0, n_nodes, n_edges)
        )
        if a != b
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    calls = _force(monkeypatch, mode, len({tuple(sorted(e)) for e in edges}))
    got = {r.node: r.rep for r in connected_components(df).collect()}
    assert bool(calls) == (mode != "distributed")
    # reference: min-id representative per component via union-find, but a
    # union-find root is not necessarily the min id — remap by component
    ref_root = _uf_components(edges)
    comp_min = {}
    for n, r in ref_root.items():
        comp_min[r] = min(comp_min.get(r, n), n)
    expect = {n: comp_min[r] for n, r in ref_root.items()}
    assert got == expect


def test_connected_components_long_chain_converges(spark, monkeypatch):
    """A path graph is the worst case for label propagation; pointer
    jumping must converge in O(log n) rounds, well under max_iter."""
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", 0)
    n = 300
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )
    got = connected_components(df, max_iter=20).collect()
    assert len(got) == n + 1
    assert {r.rep for r in got} == {0}


def test_auto_mode_cap_falls_back_to_distributed(spark, monkeypatch):
    """With a tiny driver bound the probe overflows and the distributed
    path must give labels identical to the driver union-find's."""
    pairs = [(i, i + 1) for i in range(50)] + [(100, 101), (101, 102)]
    df = spark.createDataFrame(pairs, "src long, dst long")
    a = {r.node: r.rep for r in connected_components(df).collect()}
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", 5)
    b = {r.node: r.rep for r in connected_components(df).collect()}
    assert a == b


def test_union_find_min_representative():
    """Groups of any size (1-groups only register their vertex); every
    vertex maps to its component's smallest member."""
    got = graph.union_find([("c", "b"), ("e",), ["d", "c", "a"], ("x", "y")])
    assert got == {
        "a": "a", "b": "a", "c": "a", "d": "a", "e": "e", "x": "x", "y": "x",
    }


def test_checkpoint_dir_gives_same_rows(spark, tmp_path):
    """With a checkpoint dir set, ``utils.materialize`` takes the reliable
    ``checkpoint()`` path; connected components (both paths) and
    PageRank must return the same rows as with ``localCheckpoint``."""
    from dataslicer_spark.operators.graph import pagerank

    rng = np.random.default_rng(5)
    edges = spark.createDataFrame(
        [(int(a), int(b)) for a, b in rng.integers(0, 60, (120, 2)) if a != b],
        "src long, dst long",
    )

    def run():
        out = [sorted(connected_components(edges).collect()),
               sorted(pagerank(edges).collect())]
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(graph, "DRIVER_MAX_EDGES", 0)
            out.append(sorted(connected_components(edges).collect()))
        return out

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    plain = run()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        assert sc.getCheckpointDir() is not None
        reliable = run()
    finally:
        # unset the dir again so later tests see the default session
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.empty()
        )
    assert sc.getCheckpointDir() is None
    assert reliable == plain
    assert plain[0] == plain[2]


def test_resolve_duplicate_groups(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "id_a long, id_b long",
    )
    out = {r.doc_id: r for r in resolve_duplicate_groups(pairs).collect()}
    assert set(out) == {1, 2, 3, 10, 11, 20, 21, 22}
    assert all(out[d].keep_id == 1 and out[d].n_members == 3 for d in (1, 2, 3))
    assert all(out[d].keep_id == 10 and out[d].n_members == 2 for d in (10, 11))
    assert all(out[d].keep_id == 20 and out[d].n_members == 3 for d in (20, 21, 22))
    kept = {d for d, r in out.items() if r.is_kept}
    assert kept == {1, 10, 20}


# ------------------------------------------------------------- sssp

def test_sssp_weighted_hand_checked(spark):
    from dataslicer_spark.operators.graph import sssp_weighted

    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (1, 3, 5), (3, 4, 2), (9, 10, 1)],
        "src int, dst int, w int",
    )
    srcs = spark.createDataFrame([(1,)], "node int")
    d = {
        r.node: r.dist
        for r in sssp_weighted(edges, srcs, max_rounds=5).collect()
    }
    # 1->3 goes via 2 (cost 2), not the direct w=5 edge
    assert d == {1: 0, 2: 1, 3: 2, 4: 4}


def test_sssp_unit_weights_equal_bfs(spark):
    import random

    from dataslicer_spark.operators.graph import bfs_hops, sssp_weighted

    random.seed(5)
    E = [
        (random.randint(0, 50), random.randint(0, 50), 1)
        for _ in range(150)
    ]
    edges = spark.createDataFrame(E, "src int, dst int, w int")
    srcs = spark.createDataFrame([(0,), (7,)], "node int")
    a = {
        (r.node, r.dist)
        for r in sssp_weighted(edges, srcs, max_rounds=4).collect()
    }
    b = {
        (r.node, r.dist)
        for r in bfs_hops(edges.drop("w"), srcs, max_hops=4).collect()
    }
    assert a == b


def test_sssp_brute_force_parity(spark):
    """Radius-capped Dijkstra-by-hand on a random weighted graph."""
    import random

    from dataslicer_spark.operators.graph import sssp_weighted

    random.seed(12)
    E = [
        (random.randint(0, 25), random.randint(0, 25),
         random.randint(1, 9))
        for _ in range(80)
    ]
    R = 4
    adj: dict[int, list[tuple[int, int]]] = {}
    for u, v, w in E:
        adj.setdefault(u, []).append((v, w))
        adj.setdefault(v, []).append((u, w))
    # Bellman-Ford ≤R edges, reference implementation
    INF = float("inf")
    ref = {0: 0}
    for _ in range(R):
        nxt = dict(ref)
        for u, du in ref.items():
            for v, w in adj.get(u, []):
                if du + w < nxt.get(v, INF):
                    nxt[v] = du + w
        ref = nxt
    edges = spark.createDataFrame(E, "src int, dst int, w int")
    srcs = spark.createDataFrame([(0,)], "node int")
    got = {
        r.node: r.dist
        for r in sssp_weighted(edges, srcs, max_rounds=R).collect()
    }
    assert got == ref


def test_sssp_directed_and_parallel_edges(spark):
    from dataslicer_spark.operators.graph import sssp_weighted

    edges = spark.createDataFrame(
        [(1, 2, 5), (1, 2, 2), (2, 1, 1)], "src int, dst int, w int"
    )
    srcs = spark.createDataFrame([(1,)], "node int")
    d = {
        r.node: r.dist
        for r in sssp_weighted(
            edges, srcs, max_rounds=3, directed=True
        ).collect()
    }
    assert d == {1: 0, 2: 2}  # parallel edge min wins; 2->1 ignored for 1


def test_sssp_rejects_fractional_and_negative_weights(spark):
    import pytest

    from dataslicer_spark.operators.graph import sssp_weighted

    srcs = spark.createDataFrame([(1,)], "node int")
    frac = spark.createDataFrame(
        [(1, 2, 0.5)], "src int, dst int, w double"
    )
    with pytest.raises(ValueError, match="INTEGER"):
        sssp_weighted(frac, srcs, max_rounds=2)
    neg = spark.createDataFrame([(1, 2, -3)], "src int, dst int, w int")
    with pytest.raises(ValueError, match="non-negative"):
        sssp_weighted(neg, srcs, max_rounds=2)
    # integral doubles are fine (exact long representation)
    ok = spark.createDataFrame(
        [(1, 2, 2.0), (2, 3, 3.0)], "src int, dst int, w double"
    )
    d = {r.node: r.dist for r in sssp_weighted(ok, srcs, max_rounds=3).collect()}
    assert d == {1: 0, 2: 2, 3: 5}

"""Distributed DBSCAN vs a brute-force single-process reference.

Invariants (SURVEY.md §5.3): identical core-point set, identical partition
of core points into clusters, identical noise set; border points must land
in a cluster owning a core point within eps (sklearn leaves border
assignment scan-order-dependent, so only membership-validity is asserted).
"""

from __future__ import annotations

import numpy as np
import pytest

from dataslicer_spark.operators import clustering
from dataslicer_spark.operators.clustering import dbscan


def brute_dbscan(P: np.ndarray, eps: float, min_samples: int):
    """Reference DBSCAN: returns (is_core, labels) with labels −1 for noise;
    border points get the cluster of their nearest core neighbor (tie →
    smallest index), matching the engine's documented deterministic rule."""
    n = len(P)
    d2 = ((P[:, None, :] - P[None, :, :]) ** 2).sum(axis=2)
    within = d2 <= eps * eps
    is_core = within.sum(axis=1) >= min_samples
    labels = np.full(n, -1, dtype=int)
    # connected components over core-core edges
    cur = 0
    for i in np.where(is_core)[0]:
        if labels[i] != -1:
            continue
        stack = [i]
        labels[i] = cur
        while stack:
            j = stack.pop()
            for k in np.where(within[j] & is_core)[0]:
                if labels[k] == -1:
                    labels[k] = cur
                    stack.append(k)
        cur += 1
    for i in np.where(~is_core)[0]:
        cand = np.where(within[i] & is_core)[0]
        if len(cand):
            order = np.lexsort((cand, d2[i][cand]))
            labels[i] = labels[cand[order[0]]]
    return is_core, labels


def _partition(ids, labels):
    out = {}
    for i, l in zip(ids, labels):
        if l != -1:
            out.setdefault(l, set()).add(i)
    return {frozenset(v) for v in out.values()}


@pytest.mark.parametrize("min_samples", [2, 5])
def test_dbscan_planar_matches_bruteforce(spark, min_samples):
    rng = np.random.default_rng(21)
    # clumps + scattered noise, straddling many grid cells
    centers = rng.uniform(0, 100, (12, 2))
    pts = np.concatenate(
        [c + rng.normal(0, 0.4, (rng.integers(2, 15), 2)) for c in centers]
        + [rng.uniform(0, 100, (60, 2))]
    )
    eps = 1.5
    df = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "pid long, x double, y double",
    )
    got = (
        dbscan(df, eps=eps, min_samples=min_samples, id_col="pid",
               x_col="x", y_col="y", coord="planar")
        .select("pid", "clusterID").toPandas().set_index("pid").clusterID
    )
    is_core, expect = brute_dbscan(pts, eps, min_samples)

    # same clusters over all points assigned by the deterministic rule
    assert _partition(got.index, got.to_numpy()) == _partition(
        np.arange(len(pts)), expect
    )
    # identical noise set
    assert set(got.index[got == -1]) == set(np.where(expect == -1)[0])


def test_dbscan_sky_equivalent_to_haversine(spark):
    rng = np.random.default_rng(22)
    # star clumps at different decs incl. near-pole; eps = 3 arcsec
    centers = np.column_stack(
        [rng.uniform(0, 360, 10), np.array([-89.99, -45, -10, 0, 10, 30, 45, 60, 85, 89.99])]
    )
    pts = np.concatenate(
        [c + rng.normal(0, 3e-4, (6, 2)) / [np.cos(np.radians(c[1])), 1.0]
         for c in centers]
        + [np.column_stack([rng.uniform(0, 360, 40), rng.uniform(-89, 89, 40)])]
    )
    eps_arcsec = 3.0
    df = spark.createDataFrame(
        [(int(i), float(r), float(d)) for i, (r, d) in enumerate(pts)],
        "pid long, ra double, dec double",
    )
    got = (
        dbscan(df, eps=eps_arcsec, min_samples=2, id_col="pid", coord="sky")
        .select("pid", "clusterID").toPandas().set_index("pid").clusterID
    )

    # brute force on the sphere via unit vectors + chord threshold
    ra, dec = np.radians(pts[:, 0]), np.radians(pts[:, 1])
    P = np.column_stack(
        [np.cos(dec) * np.cos(ra), np.cos(dec) * np.sin(ra), np.sin(dec)]
    )
    chord = 2 * np.sin(np.radians(eps_arcsec / 3600.0) / 2)
    is_core, expect = brute_dbscan(P, chord, 2)
    assert _partition(got.index, got.to_numpy()) == _partition(
        np.arange(len(pts)), expect
    )
    assert set(got.index[got == -1]) == set(np.where(expect == -1)[0])


def test_dbscan_purge_noise(spark):
    pts = [(0, 0.0, 0.0), (1, 0.1, 0.0), (2, 50.0, 50.0)]
    df = spark.createDataFrame(pts, "pid long, x double, y double")
    out = dbscan(df, eps=1.0, min_samples=2, id_col="pid",
                 x_col="x", y_col="y", coord="planar", purge_noise=True)
    assert sorted(r.pid for r in out.collect()) == [0, 1]


def test_dbscan_labels_deterministic(spark):
    rng = np.random.default_rng(23)
    pts = rng.uniform(0, 20, (150, 2))
    df = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "pid long, x double, y double",
    )
    kw = dict(eps=1.0, min_samples=3, id_col="pid", x_col="x", y_col="y",
              coord="planar")
    a = dbscan(df, **kw).select("pid", "clusterID").toPandas().sort_values("pid")
    b = dbscan(df.repartition(13), **kw).select("pid", "clusterID").toPandas().sort_values("pid")
    # same labels (not just same partition) regardless of input partitioning
    assert (a.clusterID.to_numpy() == b.clusterID.to_numpy()).all()


@pytest.mark.parametrize("merge_mode", ["driver", "distributed"])
def test_dbscan_merge_paths_identical(spark, monkeypatch, merge_mode):
    """Both merge paths must produce byte-identical labels — including a
    long chain cluster threading dozens of grid cells (worst case for the
    iterative merge: component diameter ≈ cell count).  The distributed
    path is forced by a driver bound of 0 key sets, and inside it the
    components by a connected-components edge bound of 0."""
    from dataslicer_spark.operators import graph

    rng = np.random.default_rng(31)
    # chain: points every 0.8 < eps=1 along x → one cluster over ~40 cells
    chain = np.column_stack([np.arange(0, 40, 0.8), np.zeros(50)])
    clumps = np.concatenate(
        [c + rng.normal(0, 0.3, (8, 2)) for c in rng.uniform(0, 60, (6, 2))]
    )
    noise = rng.uniform(0, 60, (25, 2))
    pts = np.concatenate([chain, clumps, noise])
    df = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "pid long, x double, y double",
    )
    kw = dict(eps=1.0, min_samples=2, id_col="pid", x_col="x", y_col="y",
              coord="planar")

    def run():
        return (
            dbscan(df, **kw)
            .select("pid", "clusterID").toPandas().set_index("pid").clusterID
        )

    got = run()
    if merge_mode == "distributed":
        drv = got
        monkeypatch.setattr(clustering, "DRIVER_MERGE_MAX_SETS", 0)
        monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", 0)
        got = run()
        # labels (not just partitions) must match the driver path exactly
        assert (got.sort_index().to_numpy() == drv.sort_index().to_numpy()).all()
    is_core, expect = brute_dbscan(pts, 1.0, 2)
    assert _partition(got.index, got.to_numpy()) == _partition(
        np.arange(len(pts)), expect
    )
    assert set(got.index[got == -1]) == set(np.where(expect == -1)[0])


def test_dbscan_auto_falls_back_to_distributed(spark, monkeypatch):
    """A driver bound of one key set must still be correct: the probe
    overflows and the distributed merge runs."""
    monkeypatch.setattr(clustering, "DRIVER_MERGE_MAX_SETS", 1)
    pts = [(0, 0.0, 0.0), (1, 0.5, 0.0), (2, 1.0, 0.0), (3, 30.0, 30.0),
           (4, 30.5, 30.0), (5, 90.0, 90.0)]
    df = spark.createDataFrame(pts, "pid long, x double, y double")
    out = dbscan(df, eps=1.0, min_samples=2, id_col="pid", x_col="x",
                 y_col="y", coord="planar")
    got = {r.pid: r.clusterID for r in out.collect()}
    assert got[0] == got[1] == got[2] != -1
    assert got[3] == got[4] != -1
    assert got[0] != got[3]
    assert got[5] == -1


@pytest.mark.parametrize("min_samples", [2, 5])
def test_dbscan_dense_single_cell_chunked(spark, min_samples):
    """A pathologically dense cell (4k points inside one eps-ball) must
    come back as one cluster — exercises the chunked distance-matrix
    loop in both kernel passes (4M-element memory cap)."""
    import pandas as pd

    rng = np.random.default_rng(33)
    n = 4000
    pts = rng.uniform(0, 0.4, (n, 2))  # all pairwise dists < eps=1
    df = spark.createDataFrame(
        pd.DataFrame({"pid": range(n), "x": pts[:, 0], "y": pts[:, 1]})
    )
    out = dbscan(
        df, eps=1.0, min_samples=min_samples, id_col="pid",
        x_col="x", y_col="y", coord="planar",
    ).toPandas()
    assert (out.clusterID == out.clusterID.iloc[0]).all()
    assert (out.clusterID != -1).all()
    assert len(out) == n

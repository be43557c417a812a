"""Fixed-point k-means (operators/kmeans.py) and SemDeDup
(operators/dedup.semantic_dedup).

The central claim under test: the ENTIRE Lloyd's trajectory — init,
updates, final assignment — is exact integer math, so an independent
pure-numpy replay must reproduce Spark's centroids and assignments bit
for bit, from any partitioning.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from dataslicer_spark.operators.dedup import semantic_dedup
from dataslicer_spark.operators.kmeans import (
    kmeans,
    kmeans_assign,
    kmeans_fit,
)

FP = 20
SCALE = float(1 << FP)


def _numpy_kmeans(ids, vecs, k, n_iter):
    """Independent replay of the documented algorithm."""
    X = np.floor(np.asarray(vecs, dtype=np.float64) * SCALE).astype(np.int64)
    order = sorted(
        range(len(ids)),
        key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), ids[i]),
    )
    C = X[order[:k]].copy()
    for _ in range(n_iter):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(k):
            sel = X[assign == j]
            if len(sel):
                s = sel.sum(axis=0)
                n = len(sel)
                C[j] = (s - ((s % n) + n) % n) // n
    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    assign = d2.argmin(axis=1)
    return C, assign, d2[np.arange(len(X)), assign]


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.default_rng(7)
    rows = [
        (int(i), [float(x) for x in rng.normal(0, 1, 16)]) for i in range(120)
    ]
    return rows, spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_kmeans_matches_numpy_replay(vecs):
    rows, df = vecs
    ids = [r[0] for r in rows]
    C_np, assign_np, d2_np = _numpy_kmeans(
        ids, [r[1] for r in rows], k=5, n_iter=3
    )
    C_spark = kmeans_fit(df, "vec_id", "embedding", k=5, n_iter=3)
    assert np.array_equal(np.asarray(C_spark, dtype=np.int64), C_np)
    got = {
        r.vec_id: (r.cluster, r.d2)
        for r in kmeans(df, "vec_id", "embedding", k=5, n_iter=3).collect()
    }
    for i, vid in enumerate(ids):
        assert got[vid] == (assign_np[i], d2_np[i])


def test_kmeans_partitioning_invariance(vecs):
    _, df = vecs
    a = kmeans_fit(df, "vec_id", "embedding", k=4, n_iter=2)
    b = kmeans_fit(df.repartition(13), "vec_id", "embedding", k=4, n_iter=2)
    c = kmeans_fit(df.coalesce(1), "vec_id", "embedding", k=4, n_iter=2)
    assert a == b == c


def test_kmeans_fit_runs_one_job_per_iteration(vecs, count_jobs, monkeypatch):
    """Above the driver bound (forced to −1) each Lloyd's update is one
    job: the partition partials reduce on the driver, with no shuffle
    behind them."""
    from dataslicer_spark import utils

    monkeypatch.setattr(utils, "DRIVER_MAX_CELLS", -1)
    _, df = vecs
    _, one = count_jobs(lambda: kmeans_fit(df, "vec_id", "embedding", k=4, n_iter=1))
    _, four = count_jobs(lambda: kmeans_fit(df, "vec_id", "embedding", k=4, n_iter=4))
    assert four - one == 3


def test_kmeans_assign_arrow_kernel_matches_literal_path(vecs):
    """kmeans_assign switches to an Arrow mapInPandas kernel above
    k·d = 512 (the HOF literal expression is interpreted and its n·k·d
    cost superlinearized the scale probe); both paths must be
    bit-identical — same floor-quantize, int64 L2, first-min tie-break."""
    rows, df = vecs
    # k=40, d=16 -> k·d = 640 > 512 -> kernel path; k=8 -> literal path
    cents_big = kmeans_fit(df, "vec_id", "embedding", k=40, n_iter=1)
    from dataslicer_spark.operators.kmeans import _best_cluster, quantize_expr

    lit = (
        df.withColumn("__xq", quantize_expr("embedding"))
        .withColumn("__b", _best_cluster("__xq", cents_big))
        .select(
            "vec_id",
            F.col("__b")["cluster"].alias("cluster"),
            F.col("__b")["d2"].alias("d2"),
        )
        .toPandas().set_index("vec_id").sort_index()
    )
    ker = (
        kmeans_assign(df, cents_big, "embedding")
        .select("vec_id", "cluster", "d2")
        .toPandas().set_index("vec_id").sort_index()
    )
    assert (lit["cluster"].to_numpy() == ker["cluster"].to_numpy()).all()
    assert (
        lit["d2"].to_numpy().astype("int64")
        == ker["d2"].to_numpy().astype("int64")
    ).all()


def test_kmeans_assign_arrow_kernel_null_vectors(spark):
    """Null vectors get null cluster/d2 through the kernel path, like the
    literal path's null propagation."""
    cents = [[0] * 64 for _ in range(9)]  # k·d = 576 -> kernel path
    cents[1] = [1 << 10] * 64
    df = spark.createDataFrame(
        [(1, [0.001] * 64), (2, None)], "id long, embedding array<double>"
    )
    out = {r.id: (r.cluster, r.d2) for r in
           kmeans_assign(df, cents, "embedding").collect()}
    # floor(0.001·2^20) = 1048 sits nearer the 1024-centroid (cluster 1)
    # than the origin centroid
    assert out[1][0] == 1 and out[1][1] is not None
    assert out[2] == (None, None)


def test_kmeans_assign_nonfinite_vectors_null_both_paths(spark):
    """A correct-length vector containing NaN/inf must get null
    cluster/d2 on BOTH physical paths: the Arrow kernel screens with
    np.isfinite, and the literal HOF path guards the struct (non-ANSI
    CAST(floor(NaN*scale) AS LONG) would otherwise silently be 0)."""
    rows = [
        (1, [0.5, 0.5]),
        (2, [float("nan"), 0.5]),
        (3, [float("inf"), 0.5]),
        (4, [-float("inf"), 0.5]),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    # literal path: k·d = 2·2 = 4 ≤ 512
    lit = {r.id: (r.cluster, r.d2) for r in
           kmeans_assign(df, [[0, 0], [1 << 20, 1 << 20]],
                         "embedding").collect()}
    # kernel path: k·d = 288·2 = 576 > 512
    big = [[0, 0] for _ in range(288)]
    big[1] = [1 << 20, 1 << 20]
    ker = {r.id: (r.cluster, r.d2) for r in
           kmeans_assign(df, big, "embedding").collect()}
    for out in (lit, ker):
        assert out[1][0] is not None and out[1][1] is not None
        assert out[2] == (None, None)
        assert out[3] == (None, None)
        assert out[4] == (None, None)
        assert out[5] == (None, None)
    assert lit[1] == ker[1]


def test_kmeans_empty_cluster_keeps_centroid(spark):
    # two far-apart points, k=3: one seed never wins any point and must
    # keep its initial centroid through every update
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.0, 0.0]), (3, [100.0, 100.0])],
        "vec_id long, embedding array<double>",
    )
    cents = kmeans_fit(df, "vec_id", "embedding", k=3, n_iter=3)
    ordered = df.orderBy("vec_id").collect()  # ids+vectors from ONE collect
    C_np, _, _ = _numpy_kmeans(
        [r[0] for r in ordered], [list(r[1]) for r in ordered], 3, 3
    )
    # replay agrees even through the empty-cluster branch
    assert np.array_equal(np.asarray(cents), C_np)


def test_kmeans_assign_ties_break_to_smallest_cluster(spark):
    df = spark.createDataFrame(
        [(1, [0.0])], "vec_id long, embedding array<double>"
    )
    # two identical centroids → equal d2 → cluster 0 must win
    out = kmeans_assign(df, [[5], [5]], "embedding").collect()
    assert out[0].cluster == 0
    assert out[0].d2 == 25


def test_kmeans_empty_frame_raises(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty"):
        kmeans_fit(empty, "vec_id", "embedding", k=2, n_iter=1)


def test_semantic_dedup_drops_planted_near_dups(spark):
    rng = np.random.default_rng(3)
    base = rng.normal(0, 1, (30, 8))
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(30)]
    # plant exact copies of docs 0..4 with higher ids → copies must drop
    rows += [(100 + i, [float(x) for x in base[i]]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    surv, pairs = semantic_dedup(df, threshold=0.999, k=3, n_iter=2)
    surv_ids = {r.vec_id for r in surv.collect()}
    assert {100, 101, 102, 103, 104}.isdisjoint(surv_ids)
    assert {0, 1, 2, 3, 4}.issubset(surv_ids)
    # pair output carries the exact cosine and the shared cluster
    p = pairs.collect()
    assert all(r.cosine >= 0.999 and r.id_a < r.id_b for r in p)


def test_semantic_dedup_join_attach_matches_matrix(spark, monkeypatch):
    """With ``MATRIX_MAX_ROWS`` at 0 the within-cluster pairs attach
    vectors by join instead of the broadcast matrix: same pairs, same
    cosines, same survivors."""
    from dataslicer_spark.operators import dedup

    rng = np.random.default_rng(7)
    base = rng.normal(0, 1, (40, 6))
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(40)]
    rows += [
        (100 + i, [float(x) for x in base[i] + rng.normal(0, 0.05, 6)])
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def run():
        surv, pairs = semantic_dedup(df, threshold=0.6, k=3, n_iter=2)
        return (
            sorted(r.vec_id for r in surv.collect()),
            sorted(tuple(r) for r in pairs.collect()),
        )

    matrix = run()
    monkeypatch.setattr(dedup, "MATRIX_MAX_ROWS", 0)
    joined = run()
    assert len(matrix[1]) > 8
    assert joined == matrix


def test_semantic_dedup_null_vectors_ignored(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    surv, pairs = semantic_dedup(df, threshold=0.99, k=1, n_iter=1)
    assert {r.vec_id for r in surv.collect()} == {1}
    assert [(r.id_a, r.id_b) for r in pairs.collect()] == [(1, 3)]


def test_semantic_dedup_keeps_smallest_id_per_pair(spark):
    # a ~ b ~ c chain with a !~ c under one cluster: b and c both have a
    # smaller-id near neighbor → only a survives (documented one-pass
    # semantics, not transitive closure)
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9239, 0.3827]),  # cos 45°/2 vs both neighbors ≈ 0.924
            (3, [0.7071, 0.7071]),
        ],
        "vec_id long, embedding array<double>",
    )
    surv, _ = semantic_dedup(df, threshold=0.9, k=1, n_iter=1)
    assert {r.vec_id for r in surv.collect()} == {1}


def test_null_vectors_cannot_seed_centroids(spark):
    # a NULL vector with the smallest md5(id) must not become a centroid
    df = spark.createDataFrame(
        [(i, None if i % 2 else [float(i), 0.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    cents = kmeans_fit(df, "vec_id", "embedding", k=3, n_iter=2)
    assert all(all(v is not None for v in c) for c in cents)


def test_semantic_dedup_auto_k_derivation(spark):
    """k=None derives cluster count from corpus size so expected cluster
    occupancy stays ~target_cluster_rows (the paper's 50k-clusters-for-5B
    rule as a default)."""
    import numpy as np

    from dataslicer_spark.operators.dedup import semantic_dedup

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.normal(size=4)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # n=60, target 16 -> ceil(60/16)=4 clusters
    surv, _ = semantic_dedup(
        df, threshold=0.9999, n_iter=1, target_cluster_rows=16
    )
    got = surv.select("cluster").distinct().count()
    assert 1 <= got <= 4  # k-means may leave a derived cluster empty
    # floor clamp: tiny corpus still gets >=4 centroids requested
    surv2, _ = semantic_dedup(
        df.limit(5), threshold=0.9999, n_iter=1, target_cluster_rows=512
    )
    assert surv2.count() == 5


def test_kmeans_assign_quotes_column_names(vecs):
    """Odd column names fit and assign exactly like plain ones: the
    literal-centroid argmin is SQL text, ``init_centroids``/``kmeans_fit``
    quote their columns, and the Arrow kernel (k·d > 512) runs over
    positional names."""
    _, df = vecs

    def assigned(frame, cents, vec):
        # (id, cluster, d2) by position: the names are the point here
        return sorted(
            (r[0], r[2], r[3])
            for r in kmeans_assign(frame, cents, vec).collect()
        )

    cents = kmeans_fit(df, "vec_id", "embedding", k=4, n_iter=1)
    # k=40, d=16 -> k·d = 640 > 512 -> Arrow kernel path
    wide = kmeans_fit(df, "vec_id", "embedding", k=40, n_iter=1)
    want = assigned(df, cents, "embedding")
    want_wide = assigned(df, wide, "embedding")
    for name in ("a b", "x-y", "q`t"):
        odd = df.toDF(f"{name} id", name)
        assert assigned(odd, cents, name) == want
        assert assigned(odd, wide, name) == want_wide
        assert kmeans_fit(odd, f"{name} id", name, k=4, n_iter=1) == cents
        out = kmeans_assign(odd, wide, name)
        assert out.columns == [f"{name} id", name, "cluster", "d2"]


def _probe_spy(mp):
    """Record, per fit, whether the driver probe returned rows."""
    from dataslicer_spark import utils

    probes = []
    orig = utils.bounded_arrow

    def spy(frame, cap):
        out = orig(frame, cap)
        probes.append(out is not None)
        return out

    mp.setattr(utils, "bounded_arrow", spy)
    return probes


def _fit_both_paths(df, **kw):
    """``kmeans_fit(df, "vec_id", "embedding", **kw)`` on the driver
    path (default bound) and the distributed updates (bound −1),
    asserted identical; a spy on the probe checks which path ran."""
    from dataslicer_spark import utils

    with pytest.MonkeyPatch.context() as mp:
        probes = _probe_spy(mp)
        drv = kmeans_fit(df, "vec_id", "embedding", **kw)
        mp.setattr(utils, "DRIVER_MAX_CELLS", -1)
        dist = kmeans_fit(df, "vec_id", "embedding", **kw)
    assert probes == [True, False]
    assert drv == dist
    return drv


def test_kmeans_paths_identical_centroids(spark, vecs):
    """Driver and distributed updates give the numpy replay's centroids,
    through an empty cluster and with fewer rows than k."""
    rows, df = vecs
    C_np, _, _ = _numpy_kmeans(
        [r[0] for r in rows], [r[1] for r in rows], k=5, n_iter=3
    )
    got = _fit_both_paths(df, k=5, n_iter=3)
    assert np.array_equal(np.asarray(got), C_np)

    # duplicate seeds: the second of two equal centroids never wins a
    # point (ties go to the smaller id) and keeps its position
    dup = spark.createDataFrame(
        [(i, [0.0, 0.0] if i < 6 else [100.0, 100.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    got = _fit_both_paths(dup, k=4, n_iter=2)
    ordered = dup.orderBy("vec_id").collect()
    C_np, assign, _ = _numpy_kmeans(
        [r[0] for r in ordered], [list(r[1]) for r in ordered], 4, 2
    )
    assert len(set(assign.tolist())) < 4  # some cluster was empty
    assert np.array_equal(np.asarray(got), C_np)

    few = dup.filter("vec_id IN (1, 6, 7)")
    got = _fit_both_paths(few, k=5, n_iter=2)
    assert len(got) == 3


def test_kmeans_fit_runs_two_jobs(vecs, count_jobs):
    """On the driver path the fit runs the k-row seed collect and the
    probe, whatever ``n_iter`` is."""
    _, df = vecs
    for n_iter in (1, 4):
        _, jobs = count_jobs(
            lambda: kmeans_fit(df, "vec_id", "embedding", k=4, n_iter=n_iter)
        )
        assert jobs == 2


def test_kmeans_driver_bound_is_the_cell_count(vecs, monkeypatch):
    """``DRIVER_MAX_CELLS`` counts rows × d vector cells: a bound equal
    to the input's cell count takes the driver path, one less falls
    back, with the same centroids."""
    from dataslicer_spark import utils

    rows, df = vecs
    cells = len(rows) * len(rows[0][1])
    probes = _probe_spy(monkeypatch)
    monkeypatch.setattr(utils, "DRIVER_MAX_CELLS", cells)
    at = kmeans_fit(df, "vec_id", "embedding", k=4, n_iter=2)
    monkeypatch.setattr(utils, "DRIVER_MAX_CELLS", cells - 1)
    below = kmeans_fit(df, "vec_id", "embedding", k=4, n_iter=2)
    assert probes == [True, False]
    assert at == below


def _clean_seed_rows(bad: dict) -> list:
    """40 two-dim rows whose smallest-md5 id (the k=1 seed) is clean,
    with the vectors of ``bad`` ({position: vector}) placed on other
    ids."""
    ids = sorted(range(40), key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    rows = {i: [float(i % 7), float(i % 5)] for i in range(40)}
    for pos, vec in bad.items():
        rows[ids[pos]] = vec
    return sorted(rows.items())


@pytest.mark.parametrize(
    "bad",
    [
        {3: [1.0, None]},
        {5: [float("nan"), 1.0], 9: [float("inf"), 2.0]},
    ],
    ids=["null-element", "non-finite"],
)
def test_kmeans_irregular_vectors_same_on_both_paths(spark, bad):
    """NULL elements and non-finite values reach the shared kernel the
    same way on both paths (a NULL element arrives as NaN), so the two
    paths give the same centroids."""
    import warnings

    df = spark.createDataFrame(
        _clean_seed_rows(bad), "vec_id long, embedding array<double>"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)  # NaN → int64
        _fit_both_paths(df, k=1, n_iter=2)


def test_kmeans_ragged_vectors_raise_on_both_paths(spark, monkeypatch):
    """A vector shorter than the others fails the fit on either path:
    the Arrow rows are never reshaped past their list offsets."""
    from dataslicer_spark import utils

    df = spark.createDataFrame(
        _clean_seed_rows({4: [1.0]}), "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="same shape"):
        kmeans_fit(df, "vec_id", "embedding", k=1, n_iter=1)
    monkeypatch.setattr(utils, "DRIVER_MAX_CELLS", -1)
    with pytest.raises(Exception, match="same shape"):
        kmeans_fit(df, "vec_id", "embedding", k=1, n_iter=1)

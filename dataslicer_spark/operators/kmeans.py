"""Distributed k-means over an embedding column — engine-deterministic by
construction, so the full iterative trajectory carries a SQL oracle.

The reference has no clustering beyond DBSCAN (cluster.py); k-means is
part of the LLM-data-pipeline extension: coarse semantic partitioning of
an embedding corpus for curation — the clustering stage of SemDeDup
(Abbas et al., arXiv:2303.09540) and the coarse quantizer family used by
IVF ANN indexes.

Why fixed-point: classic float k-means is not reproducible across
engines (float mean is order-dependent), so no external oracle can
replay it.  Here every quantity is an int64:

- coordinates quantize ONCE to ``floor(x · 2^fp_bits)``;
- distances are integer squared-L2 sums (``Σ (x_i − c_i)²``);
- centroid updates are exact integer floor-division means
  (``(s − mod(s, n)) / n`` with a non-negative mod, portable across
  Python / Spark / DuckDB division semantics);
- ties in the argmin break to the smallest cluster id.

Every iteration's state is therefore exactly representable and the whole
trajectory — init, n_iter updates, final assignment — is replayed bit
for bit by the chained-CTE DuckDB oracle (plans/extension_queries.py).

Scale design:

- the corpus never shuffles for assignment: centroids inline as k×d
  literals, the argmin is a ``least``-of-structs over JVM ``zip_with``/
  ``aggregate`` expressions (whole-stage codegen, no Python), built as
  ONE SQL string over a once-projected quantized column — a ``Column``
  tree of k×d ``F.lit`` nodes costs one Py4J round trip per node
  (measured 0.7–1.0 s of driver time at 8×64 before Spark saw a plan);
- the fit picks its update path from the input it sees: vectors of up
  to ``utils.DRIVER_MAX_CELLS`` int64 cells (rows × d, 32 MB) are read
  into the driver by one bounded Arrow probe (``utils.bounded_arrow``)
  and all ``n_iter`` updates run there in numpy — the seed collect and
  the probe are the fit's only two jobs;
- larger inputs ship only partial sums: the same assign-and-accumulate
  kernel reduces each partition to k·(d+1) int64 cells (coordinate sums
  and the count per cluster), one binary row that ``utils.sum_partials``
  sums on the driver — the wire carries ``partitions · k · (d+1)``
  cells, never ``n · d``, and each iteration is ONE job with no
  shuffle; the driver collects at most ``SUM_PARTIALS_MAX_CELLS``
  partial cells at once (a √P tree level pre-sums beyond that), and the
  projected vectors are materialized once, so the iterations re-read
  that checkpoint, not the source;
- the driver holds k·d ints per iteration (microscopic), exactly like
  MLlib's Lloyd's loop.

Overflow bounds: |x| ≤ 2 and fp_bits = 20 give |X| ≤ 2²¹, squared
diffs ≤ 2⁴⁴, and d = 64 sums ≤ 2⁵⁰ — inside int64 with headroom.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import utils
from ..utils import check_col, materialize, spread, sql_ident, sum_partials

FP_BITS_DEFAULT = 20
# k·d cells up to which kmeans_assign inlines the centroids as literals;
# past it the assignment runs as an Arrow kernel
EXPR_MAX_CELLS = 512


def quantize_expr(vec_col: str, fp_bits: int = FP_BITS_DEFAULT) -> Column:
    """``array<long>`` of ``floor(x · 2^fp_bits)`` — the one lossy step;
    everything downstream is exact integer math."""
    scale = float(1 << fp_bits)
    return F.transform(
        F.col(sql_ident(vec_col)),
        lambda x: F.floor(x.cast("double") * F.lit(scale)).cast("long"),
    )


def _best_cluster(xq_col: str, centroids: list[list[int]]) -> Column:
    """struct(d2, cluster) of the nearest centroid to the quantized
    ``array<long>`` column ``xq_col`` — integer squared L2, ties to the
    smallest cluster id (struct comparison does both)."""
    xq = sql_ident(xq_col)
    # named_struct, not struct(alias): `least` strips struct-field
    # aliases down to col1/col2
    cands = [
        f"named_struct('d2', aggregate(zip_with({xq},"
        f" array({', '.join(str(int(v)) for v in cent)}),"
        f" (x, c) -> (x - c) * (x - c)), CAST(0 AS BIGINT),"
        f" (acc, v) -> acc + v), 'cluster', {j})"
        for j, cent in enumerate(centroids)
    ]
    if len(cands) == 1:
        return F.expr(cands[0])
    return F.expr(f"least({', '.join(cands)})")


def init_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    fp_bits: int = FP_BITS_DEFAULT,
) -> list[list[int]]:
    """Deterministic pseudo-random seeds: the k rows with the smallest
    ``md5(cast(id as string))`` (hash order decorrelates from ingest
    order; ties break on the id).  A bounded k-row collect."""
    check_col([id_col, vec_col], df)
    rows = (
        df.filter(F.col(sql_ident(vec_col)).isNotNull())
        .select(
            quantize_expr(vec_col, fp_bits).alias("__xq"),
            F.md5(F.col(sql_ident(id_col)).cast("string")).alias("__h"),
            F.col(sql_ident(id_col)).alias("__id"),
        )
        .orderBy("__h", "__id")
        .limit(k)
        .collect()
    )
    if not rows:
        raise ValueError("cannot initialize k-means on an empty frame")
    return [list(r["__xq"]) for r in rows]


def kmeans_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    n_iter: int = 3,
    fp_bits: int = FP_BITS_DEFAULT,
) -> list[list[int]]:
    """Lloyd's iterations; returns the final centroids (k×d ints in the
    ``fp_bits`` scale).  Empty clusters keep their previous centroid
    (mirrored by the oracle's UNION ALL branch).

    After the k-row seed collect, the fit picks its path from the input
    it sees: one bounded probe (``utils.bounded_arrow``) reads vectors
    of up to ``utils.DRIVER_MAX_CELLS`` int64 cells (rows × d) into the
    driver, and the ``n_iter`` updates run there — two jobs for any
    ``n_iter``.  Larger inputs are materialized once and each update is
    one job.  Both paths call the same assign-and-accumulate kernel, so
    the centroids are identical."""
    check_col([id_col, vec_col], df)
    centroids = np.asarray(
        init_centroids(df, id_col, vec_col, k, fp_bits), dtype=np.int64
    )
    k, dim = centroids.shape  # fewer than k rows → fewer centroids
    scale = float(1 << fp_bits)
    # (chunk × k × dim) int64 distance temporary bounded to ~16 MB
    chunk_rows = max(1, 2_000_000 // max(k * dim, 1))

    # nested, not module-level: a closure ships to the Python workers by
    # value, so they need not import this package.  The identical integer
    # math of the literal HOF argmin (floor-quantize, int64 squared L2,
    # first-min tie-break) in vectorized numpy — HOFs are CodegenFallback
    # (interpreted), measured ~8 s per iteration at 2k×64 — reducing its
    # rows to k × (d + 1) cells: per-cluster coordinate sums, then the
    # count
    def partial_stats(batches: Iterator[pd.DataFrame], C) -> np.ndarray:
        acc = np.zeros((k, dim + 1), dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.floor(
                np.stack(pdf["__v"].to_numpy()).astype(np.float64) * scale
            ).astype(np.int64)
            for lo in range(0, len(X), chunk_rows):
                xb = X[lo : lo + chunk_rows]
                d2 = ((xb[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                assign = d2.argmin(axis=1)  # first min = smallest id
                for j in np.unique(assign):
                    sel = xb[assign == j]
                    acc[j, :dim] += sel.sum(axis=0)
                    acc[j, dim] += len(sel)
        return acc.reshape(-1)

    vecs = df.select(F.col(sql_ident(vec_col)).alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    tbl = utils.bounded_arrow(vecs, utils.DRIVER_MAX_CELLS // max(dim, 1))
    if tbl is not None:
        rows = tbl.to_pandas()

        def stats(C: np.ndarray) -> np.ndarray:
            return partial_stats([rows], C)

    else:
        # materialize the projected vectors once — n_iter jobs read this
        # one column instead of re-scanning the source, and sum_partials
        # probes its partition count without running a job.  spread
        # first (guide §2.5): the per-iteration Arrow kernel runs at this
        # frame's partitioning, and a one-row-group scan is one task —
        # guarded no-op on already-wide inputs
        src = materialize(spread(vecs))
        sc = df.sparkSession.sparkContext

        def stats(C: np.ndarray) -> np.ndarray:
            bc = sc.broadcast(C)
            acc = sum_partials(
                src, lambda batches: partial_stats(batches, bc.value),
                k * (dim + 1),
            )
            bc.unpersist()
            return acc

    for _ in range(n_iter):
        acc = stats(centroids).reshape(k, dim + 1)
        n = acc[:, dim]
        nz = n > 0  # empty clusters keep their position
        # numpy // on int64 is floor division, exact like the oracle's
        # (s − mod(s, n)) / n with a non-negative mod
        centroids[nz] = acc[nz, :dim] // n[nz, None]
    return centroids.tolist()


def kmeans_assign(
    df: DataFrame,
    centroids: list[list[int]],
    vec_col: str,
    fp_bits: int = FP_BITS_DEFAULT,
    cluster_col: str = "cluster",
    dist_col: str = "d2",
) -> DataFrame:
    """Attach (cluster, d2) for fixed centroids — a map-only plan (the
    centroid table rides in the expression as literals; no join, no
    shuffle, no Python).

    Two physical strategies, same integer math, bit-identical output:

    - small ``k·d`` (≤ ``EXPR_MAX_CELLS``, 512): the centroid table
      inlines as literals in a ``least``-of-structs expression — zero
      Python, fine while the expression stays small;
    - large ``k·d``: an Arrow ``mapInPandas`` kernel (still map-only —
      centroids ride a broadcast, the corpus never shuffles).  The HOF
      literal expression is CodegenFallback (interpreted) and its cost
      is n·k·d PER ROW re-evaluation — at k=32,d=64 it was the
      superlinear term in the semantic-dedup scale probe and the IVF
      build path; vectorized numpy runs the identical floor-quantize /
      int64 squared-L2 / first-min math in chunked batches."""
    check_col(vec_col, df)
    # spread below the assignment work (guide §2.5): both strategies are
    # map-only and run at the input's partitioning — one task on a
    # one-row-group scan; guarded no-op when the input is already wide
    # or shuffle-rooted
    df = spread(df)
    k, dim = len(centroids), len(centroids[0])
    if k * dim <= EXPR_MAX_CELLS:
        best = _best_cluster("__xq", centroids)
        # non-finite elements must yield null cluster/d2 (matching the
        # Arrow kernel's isfinite screen): without this, non-ANSI
        # CAST(floor(NaN*scale) AS LONG) silently becomes 0, producing an
        # arbitrary assignment instead of null
        finite = F.forall(
            F.col(sql_ident(vec_col)),
            lambda x: x.isNotNull()
            & ~F.isnan(x.cast("double"))
            & (F.abs(x.cast("double")) != F.lit(float("inf"))),
        )
        # __xq is projected once, below the k references to it
        return (
            df.withColumn("__xq", quantize_expr(vec_col, fp_bits))
            .withColumn("__b", F.when(finite, best))
            .select(
                "*",
                F.col("__b")["cluster"].alias(cluster_col),
                F.col("__b")["d2"].alias(dist_col),
            )
            .drop("__b", "__xq")
        )

    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.int64))
    scale = float(1 << fp_bits)
    # (chunk × k × dim) int64 distance temporary bounded to ~16 MB,
    # matching kmeans_fit
    chunk_rows = max(1, 2_000_000 // max(k * dim, 1))
    # positional names (``__v`` the vectors, ``c{j}`` the rest):
    # mapInPandas cannot address a column named with a backtick; the
    # output is renamed back below
    names = df.columns
    pos = df.select(
        *[
            F.col(sql_ident(c)).alias("__v" if c == vec_col else f"c{j}")
            for j, c in enumerate(names)
        ]
    )
    out_schema = StructType(
        list(pos.schema.fields)
        + [
            StructField("__cl", IntegerType(), True),
            StructField("__d2", LongType(), True),
        ]
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = bc.value
        for pdf in batches:
            pdf = pdf.copy()
            if not len(pdf):
                pdf["__cl"] = pd.Series([], dtype="Int32")
                pdf["__d2"] = pd.Series([], dtype="Int64")
                yield pdf
                continue
            vecs = pdf["__v"]
            # reject null / wrong-length / non-finite vectors: a NaN or
            # inf element would make floor(x*scale).astype(int64)
            # undefined (typically INT64_MIN) where the literal HOF path
            # propagates null — screen them out so they get null
            # cluster/d2 like that path
            ok = vecs.map(
                lambda v: v is not None
                and len(v) == dim
                and bool(np.isfinite(np.asarray(v, dtype=np.float64)).all())
            ).to_numpy()
            cl = np.full(len(pdf), -1, dtype=np.int64)
            d2o = np.zeros(len(pdf), dtype=np.int64)
            if ok.any():
                X = np.floor(
                    np.stack(vecs[ok].to_numpy()).astype(np.float64) * scale
                ).astype(np.int64)
                bi = np.empty(len(X), dtype=np.int64)
                bd = np.empty(len(X), dtype=np.int64)
                for lo in range(0, len(X), chunk_rows):
                    xb = X[lo : lo + chunk_rows]
                    d2 = ((xb[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                    bi[lo : lo + len(xb)] = d2.argmin(axis=1)  # first min
                    bd[lo : lo + len(xb)] = d2.min(axis=1)
                cl[ok] = bi
                d2o[ok] = bd
            pdf["__cl"] = pd.array(
                [int(c) if c >= 0 else None for c in cl], dtype="Int32"
            )
            pdf["__d2"] = pd.array(
                [int(d) if c >= 0 else None for c, d in zip(cl, d2o)],
                dtype="Int64",
            )
            yield pdf

    return pos.mapInPandas(assign, out_schema).toDF(
        *names, cluster_col, dist_col
    )


def kmeans(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    n_iter: int = 3,
    fp_bits: int = FP_BITS_DEFAULT,
) -> DataFrame:
    """fit + final assignment: (input columns…, cluster, d2)."""
    centroids = kmeans_fit(df, id_col, vec_col, k, n_iter, fp_bits)
    return kmeans_assign(df, centroids, vec_col, fp_bits)


__all__ = [
    "FP_BITS_DEFAULT",
    "quantize_expr",
    "init_centroids",
    "kmeans_fit",
    "kmeans_assign",
    "kmeans",
]

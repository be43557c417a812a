"""M1 — distributed DBSCAN (SURVEY.md §2.8).

Reference: ``objtable.cluster_sources`` (objtable.py:116-168) runs sklearn
``DBSCAN(eps=radians(arcsec/3600), min_samples, metric='haversine')`` on the
whole table in one process and stores labels as ``clusterID`` (−1 = noise).

Spark-first design (grid partition → local kernel → border merge; the
MR-DBSCAN / RDD-DBSCAN decomposition):

1. **Project coordinates.**  Planar data is used as-is; sky (ra, dec in
   degrees) is mapped to 3-D unit vectors, and the haversine threshold to
   the equivalent chord length ``2·sin(eps/2)`` — chord and great-circle
   distance are monotonically related, so sphere-DBSCAN ≡ 3-D euclidean
   DBSCAN at the converted threshold (no trig in the hot loop).
2. **Grid cells of size eps.**  Any two points within eps live in adjacent
   cells, so a point's full eps-neighborhood is contained in its home cell
   + the 3^d neighbor cells.
3. **Pass 1 (core flags):** explode each point to its 3^d neighbor cells,
   group by cell, count eps-neighbors of the cell's *home* points →
   ``is_core = count ≥ min_samples`` (count includes the point itself,
   matching sklearn).
4. **Pass 2 (local clusters + merge edges):** same explode with core flags
   attached; per cell, connected components over core–core pairs within
   eps give local labels; border (non-core home) points deterministically
   attach to their nearest core neighbor (tie → smallest id; sklearn's
   border assignment is scan-order-dependent — ours is documented
   deterministic intent).  Every *copy* of a core point reports its
   group's label, so a core point spanning cells yields equivalence edges
   between local labels.
5. **Merge** over the local-cluster graph → global labels.  The cluster
   graph is orders of magnitude smaller than the point set.  A bounded
   Arrow probe (``utils.bounded_arrow``) reads at most
   ``DRIVER_MERGE_MAX_SETS`` key sets into :func:`..graph.union_find`
   (the common case); past the bound the merge runs
   :func:`..graph.connected_components` over the key graph, so the
   driver never holds more than the bound.

Scale notes: both passes shuffle on cell id only; the per-cell kernel is
O(n_cell²) vectorized numpy — cell size equals eps, so density, not data
volume, bounds the group size.  Skewed (dense) cells are AQE-splittable
since the kernel is keyed by cell.

DBSCAN semantics per Ester/Kriegel/Sander/Xu (KDD 1996); the
grid-partition + local-cluster + merge decomposition follows the
MR-DBSCAN / RDD-DBSCAN line (He et al., ICPADS 2011; Cordova &
Moh, HPCS 2015).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..utils import (
    bounded_arrow,
    check_col,
    grouped_map_in_pandas,
    local_df,
    materialize,
)
from .graph import connected_components, union_find

#: Grid cell size in units of eps: larger cells mean fewer, bigger local
#: groups — less per-group (Arrow) overhead for sparse data, more
#: O(n_cell²) work for dense data.  Correctness is unaffected (cells ≥
#: eps keep the 3×3 neighborhood complete).
CELL_FACTOR = 4.0
#: Driver bound of the label merge, in distinct core key sets (≤ the
#: local-cluster count): up to this many are merged in a driver
#: union-find, beyond it by distributed connected components.
DRIVER_MERGE_MAX_SETS = 100_000


def _project(df: DataFrame, x_col: str, y_col: str, coord: str, eps: float):
    """Return (df with distance coords __p*, euclidean eps, n_coord_dims).

    Sky data keeps 3-D unit-vector coordinates for exact chord distances,
    but cells are 2-D (dec band × cos-widened RA cell — see
    ``_explode_sky_cells``), so the neighbor explode is 9×, not 27×.
    """
    if coord == "planar":
        out = df.withColumn("__p0", F.col(x_col).cast("double")).withColumn(
            "__p1", F.col(y_col).cast("double")
        )
        return out, float(eps), 2
    if coord == "sky":
        # (ra, dec) degrees → unit vector; haversine eps (arcsec) → chord
        ra, dec = F.radians(F.col(x_col)), F.radians(F.col(y_col))
        out = (
            df.withColumn("__p0", F.cos(dec) * F.cos(ra))
            .withColumn("__p1", F.cos(dec) * F.sin(ra))
            .withColumn("__p2", F.sin(dec))
        )
        eps_rad = math.radians(eps / 3600.0)
        return out, 2.0 * math.sin(eps_rad / 2.0), 3
    raise ValueError(f"coord must be 'planar' or 'sky', got {coord!r}")


def _explode_planar_cells(pts: DataFrame, cell: float) -> DataFrame:
    """9-copy neighbor explode on a 2-D grid of size ``cell``; ``__home``
    marks the copy in the point's own cell."""
    inv = 1.0 / cell
    arr = F.array(*[F.lit(o) for o in (-1, 0, 1)])
    out = (
        pts.withColumn("__c0", F.floor(F.col("__p0") * inv).cast("long"))
        .withColumn("__c1", F.floor(F.col("__p1") * inv).cast("long"))
        .withColumn("__o0", F.explode(arr))
        .withColumn("__o1", F.explode(arr))
        .withColumn("__g0", F.col("__c0") + F.col("__o0"))
        .withColumn("__g1", F.col("__c1") + F.col("__o1"))
        .withColumn("__home", (F.col("__o0") == 0) & (F.col("__o1") == 0))
    )
    return out.drop("__o0", "__o1", "__c0", "__c1")


def _explode_sky_cells(pts: DataFrame, x_col: str, y_col: str, cell_deg: float) -> DataFrame:
    """9-copy neighbor explode on (dec band × RA cell) with the RA cell
    width divided by cos(dec) per band, so a cell always spans ≥ cell_deg
    of great-circle arc (pole-correct; same scheme as spatial.crossmatch_sky).

    Any two points within cell_deg of arc differ by ≤1 band and, measured
    in the width of either point's band, ≤1 RA cell — so the 3×3
    neighborhood is complete.  RA is treated as an unbounded coordinate
    (no 0/360 wrap): wrap-adjacent data should be pre-rotated.
    """
    ra, dec = F.col(x_col).cast("double"), F.col(y_col).cast("double")

    def width(band: Column) -> Column:
        dec_edge = F.greatest(
            F.abs(band.cast("double") * cell_deg),
            F.abs((band.cast("double") + 1) * cell_deg),
        )
        return cell_deg / F.greatest(F.cos(F.radians(dec_edge)), F.lit(1e-6))

    arr = F.array(*[F.lit(o) for o in (-1, 0, 1)])
    out = (
        pts.withColumn("__band0", F.floor(dec / cell_deg).cast("long"))
        .withColumn("__ob", F.explode(arr))
        .withColumn("__g0", F.col("__band0") + F.col("__ob"))
        .withColumn("__or", F.explode(arr))
        .withColumn(
            "__g1",
            F.floor(ra / width(F.col("__g0"))).cast("long") + F.col("__or"),
        )
        .withColumn("__home", (F.col("__ob") == 0) & (F.col("__or") == 0))
    )
    return out.drop("__ob", "__or", "__band0")


def _merge_map_distributed(key_sets_df: DataFrame, max_iter: int = 50) -> DataFrame:
    """(label_key, __gcid) mapping via DataFrame-only connected components.

    ``key_sets_df`` holds one ``keys: array<string>`` row per distinct
    per-core-point label-key set (sorted).  Sets of size >1 are the
    equivalence edges; connectivity of {(keys[0], k) for k in keys[1:]}
    equals connectivity of the full clique per set.  Components come
    from :func:`..graph.connected_components`, which picks its own path
    from the edge count; singleton keys (in no multi-cell set) are their
    own representative via the left join.  Final dense ids come from
    :func:`..utils.dense_ids` (range-repartition + per-partition
    row_number + cumulative offsets) — NOT a single-partition global
    window, so id assignment scales with component count.  Ids equal the
    global rank of the representative key (rep = lexicographically
    smallest key; ASCII keys, so Python and UTF8-binary orderings
    agree), identical to the union-find path's labels.
    """
    pairs = key_sets_df.filter(F.size("keys") > 1).select(
        F.element_at("keys", 1).alias("src"),
        F.explode(F.slice("keys", 2, F.size("keys") - 1)).alias("dst"),
    )
    cc = connected_components(pairs, src="src", dst="dst", max_iter=max_iter)
    all_keys = key_sets_df.select(F.explode("keys").alias("node")).distinct()
    labels = all_keys.join(cc, "node", "left").select(
        "node", F.coalesce(F.col("rep"), F.col("node")).alias("rep")
    )
    from ..utils import dense_ids

    rep_ids = dense_ids(labels.select("rep"), "rep", "__gcid")
    return labels.join(rep_ids, "rep").select(
        F.col("node").alias("label_key"), "__gcid"
    )


def dbscan(
    df: DataFrame,
    eps: float,
    min_samples: int,
    id_col: str,
    x_col: str = "ra",
    y_col: str = "dec",
    coord: str = "sky",
    out_col: str = "clusterID",
    purge_noise: bool = False,
) -> DataFrame:
    """Distributed DBSCAN; adds ``out_col`` (long; −1 = noise).

    ``coord='sky'``: (x_col, y_col) are (ra, dec) in degrees and ``eps`` is
    in **arcsec** (haversine), matching the reference's
    ``cluster_sources(cluster_size_arcsec, min_samples)``.
    ``coord='planar'``: euclidean in the columns' units.
    ``purge_noise`` mirrors ``purge_df`` (objtable.py:159-162): drop noise
    rows from the result instead of labeling them −1.

    ``id_col`` must be unique per row.  Labels are deterministic: global
    cluster ids are dense ranks of the lexicographically smallest
    (cell, local-label) key in each merged component; both merge paths
    (module docstring, step 5) give identical labels (ASCII keys, so
    Python and UTF8-binary string orderings agree).
    """
    check_col([id_col, x_col, y_col], df)
    pts, eeps, ndim = _project(df, x_col, y_col, coord, eps)
    if coord == "sky":
        pts = pts.select(id_col, x_col, y_col, "__p0", "__p1", "__p2")
        cell_deg = (eps / 3600.0) * CELL_FACTOR
        cells = _explode_sky_cells(pts, x_col, y_col, cell_deg).drop(x_col, y_col)
    else:
        pts = pts.select(id_col, "__p0", "__p1")
        cells = _explode_planar_cells(pts, eeps * CELL_FACTOR)
    # Drop cells with no home points: they yield no pass-1 counts, and every
    # core-core merge edge already appears in each endpoint's home group —
    # for sparse data this prunes ~8/9 of the groups.
    home_cells = cells.filter(F.col("__home")).select("__g0", "__g1").distinct()
    cells = cells.join(home_cells, on=["__g0", "__g1"], how="inner")
    cells = cells.cache()
    group_keys = ["__g0", "__g1"]
    pcols = [f"__p{d}" for d in range(ndim)]
    eps2 = eeps * eeps

    # min_samples == 2 (the reference's own setting, objtable.py:121) is a
    # special structure: a point is core iff it has ANY eps-neighbor, and
    # DBSCAN degenerates to connected components of the eps-graph with
    # isolated points as noise.  Neighborhoods are complete inside each
    # 3×3 cell group, so pass 1 (core counts) and the core-flag join are
    # unnecessary — one grouped pass computes components directly and
    # zero-degree points are globally isolated.  Halves the Python/shuffle
    # stages for the common tight-cluster workload.
    pair_mode = min_samples == 2

    # ---- pass 1: neighbor counts → core flags -----------------------------
    count_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("n_neighbors", T.IntegerType()),
        ]
    )

    def count_batch(pdf: pd.DataFrame, bounds) -> pd.DataFrame | None:
        # one numpy pass over the whole Arrow batch; bounds delimit groups
        P = pdf[pcols].to_numpy(dtype=np.float64)
        home = pdf["__home"].to_numpy(dtype=bool)
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        out_id, out_n = [], []
        for s, e in zip(bounds[:-1], bounds[1:]):
            h = home[s:e]
            if not h.any():
                continue
            Pl = P[s:e]
            H = Pl[h]
            # chunk very dense cells to bound the distance-matrix memory
            counts = np.zeros(len(H), dtype=np.int32)
            step = max(1, 4_000_000 // max(len(Pl), 1))
            for cs in range(0, len(H), step):
                ce = min(cs + step, len(H))
                d2 = ((H[cs:ce, None, :] - Pl[None, :, :]) ** 2).sum(axis=2)
                counts[cs:ce] = (d2 <= eps2).sum(axis=1)
            out_id.append(ids[s:e][h])
            out_n.append(counts)
        if not out_id:
            return None
        return pd.DataFrame(
            {"id": np.concatenate(out_id), "n_neighbors": np.concatenate(out_n)}
        )

    if pair_mode:
        with_core = cells.withColumn("__is_core", F.lit(True))
    else:
        counts = grouped_map_in_pandas(
            cells, group_keys, None, count_schema, batch_fn=count_batch
        )
        core = counts.select(
            F.col("id").alias(id_col),
            (F.col("n_neighbors") >= min_samples).alias("__is_core"),
        )
        # ---- pass 2: local clusters + merge edges -------------------------
        with_core = cells.join(core, on=id_col, how="inner")
    label_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("label_key", T.StringType()),
            T.StructField("is_home", T.BooleanType()),
            T.StructField("is_core", T.BooleanType()),
        ]
    )

    def label_batch(pdf: pd.DataFrame, bounds) -> pd.DataFrame | None:
        P_all = pdf[pcols].to_numpy(dtype=np.float64)
        ids_all = pdf[id_col].to_numpy(dtype=np.int64)
        home_all = pdf["__home"].to_numpy(dtype=bool)
        core_all = pdf["__is_core"].to_numpy(dtype=bool)
        g0 = pdf[group_keys[0]].to_numpy()
        g1 = pdf[group_keys[1]].to_numpy()
        o_id, o_key, o_home, o_core = [], [], [], []

        for s, e in zip(bounds[:-1], bounds[1:]):
            # sort by id inside the group: every derived quantity (local
            # labels, tiebreaks) becomes independent of shuffle row order,
            # so recomputations produce identical label keys
            order = np.argsort(ids_all[s:e], kind="stable")
            idx = s + order
            ids = ids_all[idx]
            P = P_all[idx]
            home = home_all[idx]
            is_core = core_all[idx]
            n = e - s
            cell_tag = f"{g0[s]},{g1[s]}"

            parent = np.arange(n)

            def find(i):
                while parent[i] != i:
                    parent[i] = parent[parent[i]]
                    i = parent[i]
                return i

            core_idx = np.where(is_core)[0]
            C = P[core_idx]
            deg = np.zeros(n, dtype=np.int64)
            step = max(1, 4_000_000 // max(len(C), 1))
            for cs in range(0, len(C), step):
                ce = min(cs + step, len(C))
                d2 = ((C[cs:ce, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                within = d2 <= eps2
                if pair_mode:
                    # self always matches → degree = row sum − 1
                    deg[core_idx[cs:ce]] += within.sum(axis=1) - 1
                for a, b in zip(*np.where(within)):
                    ra_, rb = find(core_idx[cs + a]), find(core_idx[b])
                    if ra_ != rb:
                        parent[max(ra_, rb)] = min(ra_, rb)

            # Label = smallest point id in the component: content-
            # deterministic (row-order independent), unlike a positional
            # root index.
            min_id_of_root: dict = {}
            for i in core_idx:
                r = find(i)
                cur = min_id_of_root.get(r)
                if cur is None or ids[i] < cur:
                    min_id_of_root[r] = int(ids[i])
            root_of = {r: f"{cell_tag}:{m}" for r, m in min_id_of_root.items()}
            for i in core_idx:
                # pair mode: zero-degree points are globally isolated
                # (their full eps-neighborhood is in this group) → noise;
                # emitting nothing makes the final left join label them −1
                if pair_mode and deg[i] == 0:
                    continue
                o_id.append(ids[i])
                o_key.append(root_of[find(i)])
                o_home.append(bool(home[i]))
                o_core.append(True)
            # border home points → nearest core neighbor (tie: smallest id)
            border = np.where(home & ~is_core)[0]
            if len(border) and len(core_idx):
                B = P[border]
                d2 = ((B[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                within = d2 <= eps2
                for bi in range(len(border)):
                    cand = np.where(within[bi])[0]
                    o_id.append(ids[border[bi]])
                    o_home.append(True)
                    o_core.append(False)
                    if len(cand) == 0:
                        o_key.append(None)  # noise
                    else:
                        order2 = np.lexsort((ids[core_idx[cand]], d2[bi][cand]))
                        best = core_idx[cand[order2[0]]]
                        o_key.append(root_of[find(best)])
            elif len(border):
                for bi in border:
                    o_id.append(ids[bi])
                    o_key.append(None)
                    o_home.append(True)
                    o_core.append(False)

        if not o_id:
            return None
        return pd.DataFrame(
            {
                "id": np.asarray(o_id, dtype=np.int64),
                "label_key": o_key,
                "is_home": o_home,
                "is_core": o_core,
            }
        )

    labeled = grouped_map_in_pandas(
        with_core, group_keys, None, label_schema, batch_fn=label_batch
    )
    labeled = labeled.cache()

    # ---- merge: equivalence edges via multi-cell core points --------------
    # The merge input is the distinct per-core-point key *sets*.  Every
    # non-null label key is emitted by at least one core row (border labels
    # reuse their core neighbor's key), so the union of the sets is the key
    # universe, and sets with >1 element are exactly the multi-cell
    # equivalence edges.  Row count ≤ number of local clusters — the point
    # count never appears on the driver.
    key_sets_df = (
        labeled.filter(F.col("is_core"))
        .groupBy("id")
        .agg(F.array_sort(F.collect_set("label_key")).alias("keys"))
        .select("keys")
        .distinct()
    )
    # Materialize the (small) key-set frame ONCE before the bounded
    # probe, so the probe and the distributed fallback (which consumes
    # ``keys`` twice) scan stored blocks instead of re-running the
    # groupBy/distinct.  The probe is one ``bounded_arrow`` job whatever
    # the checkpoint's partition count (a ``limit().collect()`` runs one
    # job per wave of Spark's incremental take: 1 → 4 → 16 → …
    # partitions).
    key_sets_df = materialize(key_sets_df)
    probe = bounded_arrow(key_sets_df, DRIVER_MERGE_MAX_SETS)
    if probe is not None:
        # driver union-find: one bounded action over the local-cluster graph
        rep = union_find(probe.column("keys").to_pylist())
        global_id = {r: i for i, r in enumerate(sorted(set(rep.values())))}
        mapping = [(k, global_id[r]) for k, r in rep.items()]
        map_df = F.broadcast(
            local_df(df.sparkSession, mapping, "label_key string, __gcid long")
        )
    else:
        # the mapping can be large, so the join below is a plain shuffle
        # join (no broadcast)
        map_df = _merge_map_distributed(key_sets_df)

    home_labels = (
        labeled.filter(F.col("is_home"))
        .join(map_df, on="label_key", how="left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("__gcid"), F.lit(-1)).alias(out_col),
        )
    )
    out = df.join(home_labels, on=id_col, how="left").withColumn(
        out_col, F.coalesce(F.col(out_col), F.lit(-1))
    )
    # NB: ``labeled`` stays cached — the returned plan still reads it, and
    # label keys must match the merge map built above.  (They are content-
    # deterministic anyway; the cache is a perf win, LRU-evicted later.)
    if purge_noise:
        out = out.filter(F.col(out_col) != -1)
    return out


__all__ = ["dbscan"]

"""Weighted MinHash via Consistent Weighted Sampling (Ioffe, ICDM'10).

Set-based MinHash (operators/dedup.py) treats a document as a shingle
SET: a document and the same document with a block repeated are nearly
identical (set-Jaccard ≈ 1).  Weighted Jaccard over shingle term
frequencies,

    J_w(A, B) = Σ_s min(w_A(s), w_B(s)) / Σ_s max(w_A(s), w_B(s)),

distinguishes them — the right measure when REPETITION matters:
boilerplate amplification, template spam, copy-paste inflation inside a
page.  CWS produces one sample per hash with the defining property
``P[sample_i(A) = sample_i(B)] = J_w(A, B)`` exactly, so the whole
set-MinHash machinery (banded LSH candidates, match-fraction
estimation) carries over with J replaced by J_w.

Per hash i and shingle s with weight w > 0 (Ioffe's recipe):

    r  ~ Gamma(2,1),  c ~ Gamma(2,1),  β ~ U(0,1)   (seeded by (i, s))
    k  = ⌊ln w / r + β⌋
    ln a = ln c − r·(k − β) − r
    sample_i = (s*, k*) of the argmin-ln-a shingle

All randomness derives from splitmix64 chains over
``seed(shingle) XOR f(i)`` — fully deterministic and partitioning-
independent (production path seeds with JVM ``xxhash64(shingle)``, the
pure-python reference helpers with blake2b; the CWS property holds for
any fixed seeding).

Unit choice (scale-critical): weights are WORD-SHINGLE multiplicities,
not token frequencies.  Raw-token J_w between two random English
documents is ~0.1 (shared stop-word mass), so ANY banding geometry
floods with candidates at corpus scale; shingle counts keep cross-doc
J_w ≈ 0 (shingles are distinctive) while still capturing repetition —
the same reason the set-dedup family shingles first.

Scale design: signatures are a map-only Arrow kernel over the raw text
(shingle counting inside the kernel — the corpus never explodes into a
shingle-level shuffle); candidates and the estimate come from the
shared MinHash LSH pipeline in ``dedup.py`` (``band_buckets`` → band
self-join → ``est_jaccard``; bands of r samples xxhash'd together);
exact verification explodes shingles ONLY for candidate docs
(semi-join first).  Same
candidates-then-verify shape as every other near-dup kernel here.

Reference scope note: the reference has no weighted dedup of any kind
(nearest surface: dataset.py's exact-match joins); this module is part
of the LLM-curation extension.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

from ..functions.text import word_shingles
from ..utils import check_col, materialize, spread
from .dedup import (
    _band_pairs,
    _check_lsh_args,
    _verify_estimate,
    band_buckets,
)

_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """One splitmix64 output step per element (uint64 in/out)."""
    z = (x + _GOLDEN).astype(np.uint64)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _uniform(x: np.ndarray) -> np.ndarray:
    """uint64 → U(0,1) open interval (53-bit mantissa, 0 mapped up)."""
    u = (x >> np.uint64(11)).astype(np.float64) * (2.0**-53)
    return np.maximum(u, 2.0**-53)


def _shingle_seeds(shingles: np.ndarray, cache: dict) -> np.ndarray:
    """Deterministic 64-bit seed per shingle string (blake2b-8)."""
    out = np.empty(len(shingles), dtype=np.uint64)
    for i, t in enumerate(shingles):
        s = cache.get(t)
        if s is None:
            s = int.from_bytes(
                hashlib.blake2b(t.encode("utf-8"), digest_size=8).digest(),
                "little",
            )
            cache[t] = s
        out[i] = s
    return out


def _cws_signature(
    seeds: np.ndarray, weights: np.ndarray, num_hashes: int
) -> np.ndarray:
    """CWS samples for one document: (num_hashes,) int64, each the mixed
    hash of the winning (shingle, k) pair."""
    idx = np.arange(1, num_hashes + 1, dtype=np.uint64)
    # per (hash, shingle) chained splitmix streams: 5 uniforms
    base = seeds[None, :] ^ (idx[:, None] * _GOLDEN)  # (H, n)
    x1 = _splitmix64(base)
    x2 = _splitmix64(x1)
    x3 = _splitmix64(x2)
    x4 = _splitmix64(x3)
    x5 = _splitmix64(x4)
    u1, u2 = _uniform(x1), _uniform(x2)
    u3, u4 = _uniform(x3), _uniform(x4)
    beta = _uniform(x5)
    r = -np.log(u1 * u2)            # Gamma(2,1)
    lnc = np.log(-np.log(u3 * u4))  # ln Gamma(2,1)
    lnw = np.log(weights.astype(np.float64))[None, :]
    k = np.floor(lnw / r + beta)
    ln_a = lnc - r * (k - beta) - r
    win = np.argmin(ln_a, axis=1)   # (H,)
    rows = np.arange(num_hashes)
    kwin = k[rows, win].astype(np.int64).astype(np.uint64)
    mixed = _splitmix64(seeds[win] ^ _splitmix64(kwin ^ (idx * _GOLDEN)))
    return mixed.astype(np.int64)


def _row_shingles(txt: str, n: int) -> list[str]:
    toks = txt.lower().split()
    if len(toks) < n:
        return []
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def weighted_minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
) -> DataFrame:
    """(id, signature array<long>) of CWS weighted-minhash samples over
    word-``n``-gram shingle multiplicities (lowercased, whitespace
    tokens — identical shingle construction to ``functions.text.
    word_shingles``).  Map-only: shingle counting happens inside the
    Arrow kernel, so the corpus never explodes into a shingle shuffle.
    Docs with no shingles (fewer than ``n`` tokens) drop."""
    check_col([id_col, text_col], df)

    @pandas_udf("array<long>")
    def sig_udf(hashes: pd.Series) -> pd.Series:
        # Batch-vectorized CWS (bit-identical to the per-row
        # _cws_signature — pytest-pinned): shingle seeds arrive as JVM
        # xxhash64 values (no string shipping, no per-token python
        # hashing), every row's (seed, weight) pairs flatten into one
        # batch, then one outer loop over the num_hashes hash indices
        # does whole-batch vector ops with segmented argmin via two
        # minimum.reduceat passes.  The original doc-at-a-time form
        # with blake2b string seeds measured 12.9 s for the
        # dd_weighted_minhash row at sf0.1; this shape ~7 s.
        vals: list = []
        for h in hashes:
            if h is None or len(h) == 0:
                vals.append(None)
                continue
            uniq, counts = np.unique(np.asarray(h, dtype=np.int64),
                                     return_counts=True)
            vals.append((uniq.astype(np.uint64), counts.astype(np.int64)))
        out: list = [None] * len(vals)
        live = [i for i, v in enumerate(vals) if v is not None]
        if not live:
            return pd.Series(out)
        flat_seeds = np.concatenate([vals[i][0] for i in live])
        flat_lnw = np.log(
            np.concatenate([vals[i][1] for i in live]).astype(np.float64)
        )
        seg_sizes = np.array([len(vals[i][0]) for i in live], dtype=np.int64)
        offs = np.zeros(len(live), dtype=np.int64)
        np.cumsum(seg_sizes[:-1], out=offs[1:])
        total = len(flat_seeds)
        pos = np.arange(total, dtype=np.int64)
        sig = np.empty((len(live), num_hashes), dtype=np.int64)
        for i in range(num_hashes):
            # Python ints masked to 64 bits: the same wrap-around as
            # uint64 arithmetic, without numpy's scalar-overflow warning
            hx = np.uint64((i + 1) * int(_GOLDEN) & 0xFFFFFFFFFFFFFFFF)
            x1 = _splitmix64(flat_seeds ^ hx)
            x2 = _splitmix64(x1)
            x3 = _splitmix64(x2)
            x4 = _splitmix64(x3)
            x5 = _splitmix64(x4)
            r = -np.log(_uniform(x1) * _uniform(x2))
            lnc = np.log(-np.log(_uniform(x3) * _uniform(x4)))
            beta = _uniform(x5)
            k = np.floor(flat_lnw / r + beta)
            ln_a = lnc - r * (k - beta) - r
            segmin = np.minimum.reduceat(ln_a, offs)
            eq = ln_a == np.repeat(segmin, seg_sizes)
            win = np.minimum.reduceat(
                np.where(eq, pos, total), offs
            )  # first index achieving the min, like argmin
            kwin = k[win].astype(np.int64).astype(np.uint64)
            sig[:, i] = _splitmix64(
                flat_seeds[win] ^ _splitmix64(kwin ^ hx)
            ).astype(np.int64)
        for j, idx in enumerate(live):
            out[idx] = sig[j]
        return pd.Series(out)

    shingle_hashes = F.transform(
        word_shingles(F.col("__t"), n), lambda s: F.xxhash64(s)
    )
    # spread below the kernel (guide §2.5): the CWS kernel runs at the
    # input's partitioning — a one-row-group scan means one core of 32;
    # guarded no-op on already-wide inputs, so the scale plan shape is
    # unchanged (callers no longer need a query-level repartition).
    #
    # Null-skip BEFORE the kernel on the JVM-evaluable shingle array,
    # never after on the UDF output: Catalyst pushes a post-UDF
    # isNotNull below the round-robin exchange, duplicating the whole
    # kernel at scan width (guide §4.4 — measured r11: a second
    # ArrowEvalPython under the Exchange cost a 9.7 s two-task stage
    # whose output was immediately discarded).  For non-empty shingles
    # the kernel never returns null, so the pre-filter is equivalent
    # (same idiom as dedup.minhash_signatures).
    # barrier: the pre-filter's JVM shingle tree would otherwise be
    # pushed below the round-robin Exchange and evaluate at scan width
    # (see utils.spread)
    return (
        spread(
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t")),
            barrier=True,
        )
        .filter(F.size(word_shingles(F.col("__t"), n)) > 0)
        .select("id", sig_udf(shingle_hashes).alias("signature"))
    )


def weighted_minhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
    threshold: float = 0.8,
    verify: bool | str = "exact",
) -> DataFrame:
    """Near-dup pairs under WEIGHTED (shingle-multiplicity) Jaccard ≥
    ``threshold``.

    Banding reuses the set-MinHash geometry (``bands`` bands of
    ``num_hashes/bands`` CWS samples, bucket = xxhash of the band's
    slots): since ``P[sample match] = J_w`` exactly, the set-LSH math
    transfers verbatim — ``P[miss | J_w ≥ t] ≤ (1 − t^r)^bands``,
    < 1e-14 at r=2, bands=32, t=0.8 — and with ``verify="exact"`` the
    output is engine-independent: {pairs with exact J_w ≥ threshold}
    minus those negligible misses, so a SQL oracle computing exact
    weighted Jaccard matches with near-certainty.

    - ``verify="exact"`` → (id_a, id_b, wjaccard): true weighted Jaccard
      (shingle explode ONLY for candidate docs, semi-join first);
    - ``verify=True``    → (id_a, id_b, est_wjaccard): matched-sample
      fraction (unbiased, Var = J_w(1−J_w)/num_hashes);
    - ``verify=False``   → raw candidate pairs.
    """
    check_col([id_col, text_col], df)
    _check_lsh_args(num_hashes, bands, verify)
    # sigs is double-consumed (both sides of the band-bucket self-join;
    # the estimate branch joins it twice more): MATERIALIZE, don't just
    # cache — an unmaterialized cache inside one action can still run
    # the 4 s CWS kernel once per consumer (measured: 14-16 s end-to-end
    # with cache() vs ~8 s materialized at sf0.1)
    sigs = materialize(
        weighted_minhash_signatures(df, id_col, text_col, n, num_hashes)
    )
    cand = _band_pairs(band_buckets(sigs, num_hashes, bands))
    if not verify:
        return cand
    if verify is True:
        return _verify_estimate(
            cand, sigs, num_hashes, 0, threshold, "est_wjaccard"
        )
    # the exact branch consumes cand TWICE (pair relation + the
    # candidate-id semi-join feeding the doc maps) — materialize the
    # pair-sized frame so banding doesn't run twice.  Then spread: the
    # banding join's output is byte-tiny, so AQE coalesces it to ONE
    # partition, and the checkpointed width is inherited by the final
    # map_zip_with verify stage (r11 profile: a 2.2 s one-task save
    # stage).  After materialize the plan is scan-rooted, so the guarded
    # spread applies — and no-ops at scale where the pair table is
    # already wide.
    cand = spread(materialize(cand))
    # Exact weighted Jaccard for candidates only — per-doc
    # (shingle → count) MAPS merged pair-locally with map_zip_with:
    # the pair relation carries two doc-sized maps per row instead of a
    # pairs×shingles exploded join (A/B at sf0.1: exploded-join verify
    # 13.0 s end-to-end vs 7-8 s with the map merge; data moved per
    # pair is |A|+|B| either way, but the map form skips the
    # (id, shingle)-keyed shuffle and its groupBy re-aggregation).
    ids = (
        cand.select(F.col("id_a").alias("id"))
        .unionByName(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # MATERIALIZED: dmap feeds the m_a AND m_b joins; each join side
    # otherwise re-plans the whole explode → two-groupBy derivation
    # (the after-plan carried the map_from_entries subtree twice)
    dmap = materialize(
        # spread the verify-side corpus scan too (guide §2.5): the
        # shingle explode + count otherwise runs at scan width — the
        # 4.7 s two-task stage in the r11 dd_weighted_minhash profile
        spread(
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
        )
        .join(ids, "id", "left_semi")
        .select("id", F.explode(word_shingles(F.col("__t"), n)).alias("s"))
        .groupBy("id", "s")
        .agg(F.count(F.lit(1)).alias("w"))
        .groupBy("id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("s", "w"))
            ).alias("m"),
            F.sum("w").alias("tot"),
        )
    )
    zero = F.lit(0).cast("long")
    out = (
        cand.join(
            dmap.select(F.col("id").alias("id_a"), F.col("m").alias("m_a"),
                        F.col("tot").alias("tot_a")),
            "id_a",
        )
        .join(
            dmap.select(F.col("id").alias("id_b"), F.col("m").alias("m_b"),
                        F.col("tot").alias("tot_b")),
            "id_b",
        )
        .withColumn(
            "s_min",
            F.aggregate(
                F.map_values(
                    F.map_zip_with(
                        # NOT F.least: Spark's least SKIPS nulls, which
                        # would count one-sided shingles at full weight
                        "m_a", "m_b",
                        lambda _, va, vb: F.when(
                            va.isNull() | vb.isNull(), zero
                        ).otherwise(F.least(va, vb)),
                    )
                ),
                zero,
                lambda acc, v: acc + F.coalesce(v, zero),
            ),
        )
        .withColumn(
            "wjaccard",
            F.col("s_min").cast("double")
            / (F.col("tot_a") + F.col("tot_b") - F.col("s_min"))
            .cast("double"),
        )
        .filter(F.col("wjaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "wjaccard")


__all__ = [
    "weighted_minhash_signatures",
    "weighted_minhash_pairs",
]

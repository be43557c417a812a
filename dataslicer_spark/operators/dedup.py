"""Deduplication operators for training-data pipelines (north-star
extensions per BASELINE.json): exact, n-gram Jaccard, shingle
containment, MinHash+LSH (full-width, b-bit and — in
``weighted_minhash.py`` — weighted), SimHash, and embedding-cosine
near-dup.

Scale design notes:

- Exact dedup is a hash-groupBy on a fingerprint — one shuffle of
  (fingerprint, id), never of document bodies.
- Pairwise near-dup never materializes the O(n²) cross join: candidate
  generation goes through inverted-index / banding shuffles (shingle →
  docs, LSH band → docs, simhash chunk → docs), and only candidates are
  verified.  Hot shingles are capped (``max_posting``) — the classic
  stop-shingle guard against quadratic postings blowup.
- All MinHash LSH runs one pipeline: signatures (``minhash_signatures``,
  packed b-bit lanes with ``pack_bits``, or weighted CWS samples) →
  :func:`band_buckets` → ``_band_pairs`` → exact verify
  (``_verify_exact``, true shingle Jaccard) or estimate verify
  (``_verify_estimate`` over :func:`est_jaccard`).  The three pair
  operators and the persistent index (``dedup_index.py``) share
  ``band_buckets`` and ``est_jaccard``, so stored and probe-side keys
  and estimates are computed by the same code at every width.
- All verification math is exact integer/fixed-point arithmetic, so
  results are reproducible across partitionings.
- Operators pick their physical plan from the input, with the bounds as
  module constants: ``PREFIX_MIN_THRESHOLD`` selects the n-gram Jaccard
  plan, ``MATRIX_MAX_ROWS`` the broadcast-matrix cosine scoring.

Algorithms are the classic public constructions: MinHash resemblance
sketches (Broder, "On the resemblance and containment of documents",
1997), banded LSH for Jaccard (Leskovec/Rajaraman/Ullman, *Mining of
Massive Datasets* ch. 3), b-bit MinHash (Li & König, WWW 2010), and
SimHash with pigeonhole chunk search (Charikar 2002; Manku/Jain/Sarma,
WWW 2007).
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import DoubleType

from ..functions.text import normalized_fingerprint, word_shingles
from ..utils import check_col, local_df, materialize, spread

_LOG = logging.getLogger(__name__)

#: ``ngram_jaccard_pairs`` runs the prefix-filtered plan at thresholds
#: from here up and the direct posting join below.  A/B-measured on the
#: sf0.1 corpus (salted 4×): prefix wins 7× at t=0.8 (tiny prefixes, few
#: candidates) and loses at t=0.5 (prefix ≈ half the doc → candidate
#: verify dominates); 0.7 is where the prefix drops below ~1/3 of each doc.
PREFIX_MIN_THRESHOLD = 0.7
#: Largest corpus whose vectors are collected into one numpy matrix and
#: broadcast for cosine scoring (n·dim·8 bytes — 200k×1k ≈ 1.6 GB);
#: larger corpora, and non-integral ids, attach vectors by join.
MATRIX_MAX_ROWS = 200_000


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    key: Column | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Exact duplicate removal by content fingerprint.

    Returns ``(representatives, dup_stats)``: representatives keep the row
    with the smallest id per fingerprint (deterministic); dup_stats is
    (fingerprint, n_copies, kept_id) for observability.
    """
    check_col([id_col, text_col], df)
    k = key if key is not None else normalized_fingerprint(F.col(text_col))
    keyed = df.withColumn("__fp", k)
    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    reps = (
        keyed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__fp")
    )
    stats = keyed.groupBy(F.col("__fp").alias("fingerprint")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min(id_col).alias("kept_id"),
    )
    return reps, stats


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (inverted shingle index, no cross join)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_posting: int | None = 10_000,
) -> DataFrame:
    """Document pairs with n-gram-shingle Jaccard ≥ threshold.

    Two lossless physical plans, identical output, selected by how much
    structural pruning the threshold allows: prefix filtering at
    ``threshold ≥ PREFIX_MIN_THRESHOLD``, direct below.

    **Direct** (low thresholds): distinct shingles per doc → inverted
    index → self-join within posting lists → count common shingles.  At
    t = 0.05 a prefix would still cover ~95% of each doc, so the extra
    prefix machinery (window, candidate distinct, verify join) buys
    nothing — the posting join with its map-side-combined count IS the
    cheapest exact plan.

    **Prefix-filtered** (near-dup thresholds — AllPairs/PPJoin, Bayardo
    et al. WWW'07; Xiao et al. WWW'08): rank each doc's shingles
    RARE-FIRST (df asc, shingle) and join only each doc's prefix of
    length ``|d| − ⌈t·|d|⌉ + 1`` — two docs with Jaccard ≥ t MUST share
    a prefix shingle under any global order, and rare-first prefixes
    have the shortest posting lists, so candidate fanout adapts to
    density instead of growing with the full index (at t = 0.8 the
    prefix is ~20% of each doc and the candidate space collapses).
    Candidates verify exactly via per-doc shingle SETS +
    ``array_intersect`` — only candidate pairs ever move a doc's set.

    Both end with ``jaccard = common / (|A| + |B| − common)`` in exact
    integer arithmetic.  ``max_posting`` drops shingles shared by more
    docs (stop-shingles): they contribute candidates, not
    discrimination, and cap the worst-case fanout; counts then run over
    the filtered sets (documented approximation, both plans identical).
    """
    check_col([id_col, text_col], df)
    # spread before the shingle explode (guide §2.5) — see containment
    # twin below; no-op on already-wide scans
    sh = spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__txt"))
    ).select(
        "id",
        F.explode(F.array_distinct(word_shingles(F.col("__txt"), n))).alias("s"),
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    if threshold < PREFIX_MIN_THRESHOLD:
        inv = sh
        if max_posting is not None:
            posting = sh.groupBy("s").agg(F.count(F.lit(1)).alias("__df"))
            inv = sh.join(
                posting.filter(F.col("__df") <= max_posting).select("s"),
                "s", "inner",
            )
        a = inv.select(F.col("id").alias("id_a"), "s")
        b = inv.select(F.col("id").alias("id_b"), "s")
        common = (
            a.join(b, "s")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        out = (
            common.join(
                sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a")),
                "id_a",
            )
            .join(
                sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b")),
                "id_b",
            )
            .withColumn(
                "jaccard",
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
            )
            .filter(F.col("jaccard") >= threshold)
        )
        return out.select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")
    posting = sh.groupBy("s").agg(F.count(F.lit(1)).alias("__df"))
    if max_posting is not None:
        posting = posting.filter(F.col("__df") <= max_posting)
    inv = sh.join(posting, "s", "inner")
    # ONE per-doc shuffle builds both the rare-first ordering and the
    # verify sets: sort_array over struct(__df, s) orders each doc's
    # shingles globally (df asc, s asc) without a window — the windowed
    # row_number variant shuffled the full index by id a second time
    # cached: this one frame feeds FOUR plan subtrees (prefix a/b sides,
    # verify a/b sides) — uncached, Spark re-runs the whole shingle →
    # posting → join → sort pipeline per subtree (measured 8× the cost);
    # the frame is doc-count-sized (one array row per doc).  cache(),
    # not materialize: the r11 interleaved A/B read cache 8.5 s vs
    # materialize 10.4 s — the eager checkpoint job costs more than the
    # cold-cache duplicate compute for this JVM-side subtree (contrast
    # hamming_pairs/weighted/b-bit, whose heavy Python kernels go the
    # other way)
    docsets = inv.groupBy("id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct(F.col("__df"), F.col("s")))),
            lambda x: x["s"],
        ).alias("sset"),
    ).withColumn("n_f", F.size("sset")).cache()
    # prefix index: the first |d|-ceil(t*|d|)+1 shingles in global
    # (df asc, s) order; the 1e-9 nudge keeps ceil exact when t*|d| is
    # an integer that binary floats overshoot (0.8*5 = 4.0000…01)
    plen = F.greatest(
        F.lit(1),
        F.col("n_f")
        - F.ceil(F.lit(float(threshold)) * F.col("n_f") - F.lit(1e-9))
        + 1,
    ).cast("int")
    prefix = docsets.select(
        "id",
        F.col("n_f"),
        F.posexplode(F.slice(F.col("sset"), F.lit(1), plen)).alias("pos", "s"),
    )
    # PPJoin candidate pruning (both lossless for jaccard ≥ t, which
    # implies overlap ≥ α = ⌈t/(1+t)·(|A|+|B|)⌉ over the filtered sets):
    # - length filter: overlap ≤ min(|A|,|B|), so min must reach α;
    # - positional filter: at the FIRST shared prefix token (positions
    #   p_a, p_b in the rare-first order) the overlap is bounded by
    #   1 + min(|A|−p_a−1, |B|−p_b−1); the max of that bound over all
    #   shared tokens IS the first-token bound (it decreases with
    #   position), so a groupBy-max replaces the candidate distinct at
    #   the same shuffle cost and prunes before any set is shipped.
    tt = float(threshold)
    alpha = F.ceil(
        F.lit(tt / (1.0 + tt)) * (F.col("n_fa") + F.col("n_fb")) - F.lit(1e-9)
    )
    cand = (
        prefix.select(
            F.col("id").alias("id_a"), F.col("n_f").alias("n_fa"),
            F.col("pos").alias("pa"), "s",
        )
        .join(
            prefix.select(
                F.col("id").alias("id_b"), F.col("n_f").alias("n_fb"),
                F.col("pos").alias("pb"), "s",
            ),
            "s",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_fa", "n_fb")
        .agg(
            F.max(
                F.lit(1)
                + F.least(
                    F.col("n_fa") - F.col("pa") - 1,
                    F.col("n_fb") - F.col("pb") - 1,
                )
            ).alias("__ub")
        )
        .filter(
            (F.least(F.col("n_fa"), F.col("n_fb")) >= alpha)
            & (F.col("__ub") >= alpha)
        )
        .select("id_a", "id_b")
    )
    out = (
        cand.join(
            docsets.select(F.col("id").alias("id_a"), F.col("sset").alias("__sa")),
            "id_a",
        )
        .join(
            docsets.select(F.col("id").alias("id_b"), F.col("sset").alias("__sb")),
            "id_b",
        )
        .withColumn(
            "n_common",
            F.size(F.array_intersect(F.col("__sa"), F.col("__sb"))).cast("long"),
        )
        .join(sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_posting: int | None = 10_000,
) -> DataFrame:
    """Ordered document pairs where the SMALLER document's shingle set
    is ≥ ``threshold`` contained in the other: ``containment(A→B) =
    |A∩B| / |A|`` — the asymmetric twin of :func:`ngram_jaccard_pairs`
    that Jaccard structurally misses: a tweet quoted inside an article
    has tiny Jaccard (the union is article-sized) but containment ≈ 1.
    The doc-inside-doc detector for quote/boilerplate/wrapper-page
    dedup (Broder's containment, the ExactSubstr complement at
    shingle granularity).

    Output: one row per (inner_id, outer_id) with ``containment`` =
    |inner ∩ outer| / |inner| where ``n_inner ≤ n_outer`` (ties: both
    directions evaluated via the id order, inner = smaller id).

    Plan: the direct inverted-index pair count, with the same
    ``max_posting`` stop-shingle cap as the Jaccard twin; counts run
    over the filtered sets, sizes stay full (documented approximation).
    There is no prefix-filtered plan: containment bounds only the inner
    side, so the outer index stays unpruned and an SSJoin prefix plan
    measured slower at every threshold from 0.7 to 0.95, with candidate
    fanout superlinear in corpus size (14× vs 3.3× wall on a 4× corpus).
    """
    check_col([id_col, text_col], df)
    # spread before the shingle explode (guide §2.5): the lowercase/
    # split/distinct/explode map work otherwise runs at the scan's
    # partitioning — one task on a one-row-group table — feeding every
    # downstream shuffle single-threaded
    sh = spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__txt"))
    ).select(
        "id",
        F.explode(
            F.array_distinct(word_shingles(F.col("__txt"), n))
        ).alias("s"),
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    inv = sh
    if max_posting is not None:
        posting = sh.groupBy("s").agg(F.count(F.lit(1)).alias("__df"))
        inv = sh.join(
            posting.filter(F.col("__df") <= max_posting).select("s"),
            "s",
            "inner",
        )
    a = inv.select(F.col("id").alias("id_a"), "s")
    b = inv.select(F.col("id").alias("id_b"), "s")
    common = (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sized = common.join(
        sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a")),
        "id_a",
    ).join(
        sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b")),
        "id_b",
    )
    inner_is_a = (F.col("n_a") < F.col("n_b")) | (
        (F.col("n_a") == F.col("n_b")) & (F.col("id_a") < F.col("id_b"))
    )

    def pick(col_a: str, col_b: str) -> Column:
        return F.when(inner_is_a, F.col(col_a)).otherwise(F.col(col_b))

    out = sized.select(
        pick("id_a", "id_b").alias("inner_id"),
        pick("id_b", "id_a").alias("outer_id"),
        "n_common",
        pick("n_a", "n_b").alias("n_inner"),
        pick("n_b", "n_a").alias("n_outer"),
    ).withColumn(
        "containment",
        F.col("n_common").cast("double") / F.col("n_inner").cast("double"),
    ).filter(F.col("containment") >= threshold)
    return out.select(
        "inner_id", "outer_id", "n_common", "n_inner", "n_outer",
        "containment",
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    pack_bits: int | None = None,
) -> DataFrame:
    """Per-doc MinHash signature: one xxhash64 per shingle JVM-side, then
    ``num_perm`` universal-hash permutations ``(aᵢ·h + bᵢ) mod p`` applied
    vectorized in an Arrow pandas UDF (a num_perm × n_shingles numpy matrix
    op — 64 chained HOF passes per row would be ~50× slower).  No shuffle;
    the signature is num_perm·8 bytes regardless of document length.

    ``pack_bits`` (b-bit MinHash, Li & König WWW'10): emit only the
    lowest ``pack_bits`` of each slot, packed ``64/pack_bits`` lanes per
    int64 word — done HERE in the numpy kernel (a mask/shift/or over the
    already-materialized signature matrix, ~free) rather than as a JVM
    expression tree over the UDF output (A/B at sf0.1: expression-tree
    packing 4.1 s vs 1.5 s unpacked; in-kernel ≈ unpacked)."""
    check_col([id_col, text_col], df)
    if pack_bits is not None and pack_bits not in (1, 2, 4, 8, 16, 32):
        raise ValueError(f"pack_bits must divide 64, got {pack_bits}")
    # Spread BEFORE the shingle transform and the Arrow kernel: the
    # kernel runs at the input's partitioning, and a single-row-group
    # table scans as ONE task, so the whole per-doc signature pass held
    # one core of 32 (guide §2.5 input skew; the dd_index ingestion
    # profile showed a 67.8 s one-task stage at sf0.1).  spread() is a
    # guarded no-op on already-wide inputs — the 100 TB plan shape is
    # unchanged.  Project to (id, text) first so the exchange carries
    # only what the kernel needs (guide §2.3).  barrier: the null-skip
    # pre-filter below evaluates the JVM shingle tree, and Catalyst
    # pushes deterministic filters through a round-robin Exchange — the
    # 1.9 s narrow stage in the r11 dd_minhash_lsh profile; the
    # checkpointed RDD root pins every downstream expression above the
    # shuffle (and never fires on already-wide cluster scans).
    src = spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__txt")),
        barrier=True,
    )
    base = F.transform(word_shingles(F.col("__txt"), n), lambda s: F.xxhash64(s))

    p = np.uint64((1 << 61) - 1)  # Mersenne prime
    rng = np.random.default_rng(1234)
    a = rng.integers(1, int(p), num_perm, dtype=np.uint64)
    b = rng.integers(0, int(p), num_perm, dtype=np.uint64)

    def _pack(sig: np.ndarray) -> np.ndarray:
        """rows × num_perm int64 → rows × n_words packed int64."""
        bits = pack_bits
        lanes = 64 // bits
        n_words = (num_perm + lanes - 1) // lanes
        mask = np.uint64((1 << bits) - 1)
        padded = np.zeros((sig.shape[0], n_words * lanes), dtype=np.uint64)
        padded[:, :num_perm] = sig.astype(np.uint64) & mask
        shifts = (np.arange(lanes, dtype=np.uint64) * np.uint64(bits))
        shaped = padded.reshape(sig.shape[0], n_words, lanes) << shifts
        return np.bitwise_or.reduce(shaped, axis=2).astype(np.int64)

    @pandas_udf("array<long>")
    def sig_udf(hashes: pd.Series) -> pd.Series:
        # Batch-vectorized: flatten every row's shingle hashes into one
        # array, apply all permutations as a single (num_perm × total)
        # matrix op, segment-min back per row with minimum.reduceat —
        # no per-row numpy dispatch (~5× over the row-loop form).
        vals = [
            None if h is None or len(h) == 0 else np.asarray(h, dtype=np.int64)
            for h in hashes
        ]
        out: list = [None] * len(vals)
        live = [i for i, v in enumerate(vals) if v is not None]
        # chunk by shingle count from a byte budget: the perm matrix is
        # num_perm × slots uint64 and (a·h+b) % p allocates ~3 same-size
        # temporaries, so a 16 MB matrix keeps peak ≈ 64 MB per worker —
        # with up to 32 concurrent workers that bounds transient numpy
        # allocation at ~2 GB machine-wide (64 MB matrices measured the
        # same throughput but 4× the churn, destabilizing wall time)
        max_slots = max(16_000_000 // (num_perm * 8), 1)
        start = 0
        while start < len(live):
            end, slots = start, 0
            while end < len(live) and (
                slots + len(vals[live[end]]) <= max_slots or end == start
            ):
                slots += len(vals[live[end]])
                end += 1
            idx = live[start:end]
            flat = np.concatenate([vals[i] for i in idx]).astype(np.uint64) % p
            offs = np.zeros(len(idx), dtype=np.int64)
            np.cumsum([len(vals[i]) for i in idx[:-1]], out=offs[1:])
            perm = (a[:, None] * flat[None, :] + b[:, None]) % p
            mins = np.minimum.reduceat(perm, offs, axis=1)  # num_perm × rows
            sig = mins.T.astype(np.int64)
            if pack_bits is not None:
                sig = _pack(sig)
            for j, i in enumerate(idx):
                out[i] = sig[j]
            start = end
        return pd.Series(out)

    # Null-skip BEFORE the UDF, on the JVM-evaluable shingle array — not
    # after on the UDF output: a post-UDF isNotNull collapses into a
    # Filter whose predicate contains the PythonUDF, and when the input
    # expression is itself a deep lambda tree (e.g. the span-dedup scrub
    # feeding straight into this), Spark fails to extract the UDF from
    # the predicate and dies with INTERNAL_ERROR "Cannot evaluate
    # expression: sig_udf(...)" at runtime.  For non-empty input the
    # kernel never returns null, so the pre-filter is equivalent.
    return (
        src.select("id", base.alias("__sh"))
        .filter(F.size("__sh") > 0)
        .select("id", sig_udf(F.col("__sh")).alias("signature"))
    )


def _slot(sig: Column, i: int, bits: int) -> Column:
    """Signature slot ``i``: the element itself at full width; at
    ``bits`` > 0, lane ``i mod (64/bits)`` of packed word
    ``i // (64/bits)`` (JVM shift/mask)."""
    if not bits:
        return sig[i]
    lanes = 64 // bits
    return F.shiftrightunsigned(sig[i // lanes], (i % lanes) * bits).bitwiseAND(
        F.lit((1 << bits) - 1)
    )


def band_buckets(
    sigs: DataFrame, num_perm: int, bands: int, bits: int = 0
) -> DataFrame:
    """(id, band, bucket) keys of a signature frame (column
    ``signature``): ``bands`` bands of ``num_perm/bands`` slots, each
    hashed to one bucket key (multi-arg xxhash64 over the band's slots
    directly — string concat per band was measurably slower).  ``bits``
    > 0 reads a ``minhash_signatures(pack_bits=bits)`` frame, slot by
    packed lane.  Shared by every LSH pair operator and the persistent
    index (``operators/dedup_index.py``), so stored and probe-side
    buckets are always computed identically."""
    r = num_perm // bands
    sig = F.col("signature")
    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[_slot(sig, b * r + j, bits) for j in range(r)]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def est_jaccard(
    sig_a: Column, sig_b: Column, num_perm: int, bits: int = 0
) -> Column:
    """Signature-only Jaccard estimate.  Full width: the fraction of
    equal slots.  b-bit (Li & König eq. 4, large-universe form): the
    matched-lane fraction E satisfies ``E = C + (1−C)·J`` with collision
    floor ``C = 2^−bits``, so ``Ĵ = max(0, (E − C)/(1 − C))`` — static
    per-lane integer shift/mask comparisons, codegen-friendly and
    SQL-replayable."""
    if not bits:
        return F.size(
            F.filter(
                F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        ).cast("double") / F.lit(float(num_perm))
    match_terms = [
        F.when(_slot(sig_a, i, bits) == _slot(sig_b, i, bits), F.lit(1))
        .otherwise(F.lit(0))
        for i in range(num_perm)
    ]
    e = sum(match_terms[1:], match_terms[0]).cast("double") / F.lit(
        float(num_perm)
    )
    c = 1.0 / float(1 << bits)
    return F.greatest((e - F.lit(c)) / F.lit(1.0 - c), F.lit(0.0))


def _check_lsh_args(num_perm: int, bands: int, verify: bool | str) -> None:
    if num_perm % bands != 0:
        raise ValueError(
            f"signature length {num_perm} must be divisible by bands={bands}"
        )
    if verify not in (True, False, "exact"):
        raise ValueError(
            f"verify must be True, False or 'exact', got {verify!r}"
        )


def _band_pairs(bucketed: DataFrame) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing any band bucket."""
    a = bucketed.select(F.col("id").alias("id_a"), "band", "bucket")
    b = bucketed.select(F.col("id").alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates()
    )


def _verify_exact(
    cand: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
) -> DataFrame:
    """(id_a, id_b, jaccard ≥ threshold): true shingle-set Jaccard,
    recomputed for the candidate pairs only."""
    # spread the verify-side scan too (guide §2.5): the shingle
    # derivation feeding the candidate joins otherwise runs at scan
    # width (see the dd_weighted_minhash r11 profile).  MATERIALIZE it:
    # the frame feeds BOTH candidate joins, and each join side plans as
    # its own broadcast/shuffle subtree, so an unmaterialized sh
    # re-derives every doc's shingle set once per side (r11
    # dd_minhash_bbit profile: two ~3 s narrow subtree jobs for one
    # logical derivation)
    sh = materialize(
        spread(
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__vt")),
            barrier=True,
        ).select(
            "id",
            F.array_distinct(word_shingles(F.col("__vt"), n)).alias("sh"),
        ).filter(F.size("sh") > 0)
    )
    out = (
        cand.join(
            sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")),
            "id_a",
        )
        .join(
            sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")),
            "id_b",
        )
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")).cast(
                "double"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "jaccard")


def _verify_estimate(
    cand: DataFrame,
    sigs: DataFrame,
    num_perm: int,
    bits: int,
    threshold: float,
    out_col: str,
) -> DataFrame:
    """(id_a, id_b, ``out_col`` ≥ threshold): :func:`est_jaccard` over
    the candidates' signatures — no shingle re-join."""
    sa = sigs.select(F.col("id").alias("id_a"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("signature").alias("sig_b"))
    est = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            out_col,
            est_jaccard(F.col("sig_a"), F.col("sig_b"), num_perm, bits),
        )
        .filter(F.col(out_col) >= threshold)
    )
    return est.select("id_a", "id_b", out_col)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    verify: bool | str = True,
) -> DataFrame:
    """Near-dup pairs via MinHash banding.

    ``bands`` bands of ``num_perm/bands`` rows; docs sharing any band
    bucket are candidates (P[candidate] ≈ 1−(1−j^r)^b).  Verification of
    candidates, filtered at ``threshold``:

    - ``verify=True`` — estimated Jaccard = fraction of equal signature
      slots (cheap, signature-only; output col ``est_jaccard``);
    - ``verify="exact"`` — true shingle-set Jaccard recomputed for the
      candidate pairs only (output col ``jaccard``).  The output is then
      engine-independent: it equals {pairs with exact J ≥ threshold}
      minus LSH misses, and P[miss | J ≥ t] ≤ (1−t^r)^b — with r=2,
      b=32, t=0.8 that is < 1e-14 per pair, so a SQL oracle computing
      the exact-Jaccard pair set matches with near-certainty;
    - ``verify=False`` — raw candidates.

    Scale: the only shuffles are (band-bucket → ids), candidate-pair
    dedup, and (exact mode) two id-joins carrying doc-length-bounded
    shingle arrays for candidates only; signatures are fixed-size
    regardless of document length.
    """
    _check_lsh_args(num_perm, bands, verify)
    # cache(), not materialize: a cold lazy cache does run this kernel
    # once per concurrent consumer, but the plain minhash kernel is
    # cheap (xxhash shingles + one numpy matmul) and the r11 interleaved
    # A/B measured cache 6.6 s vs materialize 8.4 s on the exact-verify
    # shape — the extra eager job + checkpoint costs more than the
    # duplicated kernel.  The EXPENSIVE kernels (md5-mode simhash,
    # weighted CWS, b-bit) materialize instead (hamming_pairs,
    # weighted_minhash_pairs, bbit_minhash_lsh_pairs), where the same
    # A/B goes the other way (14-16 s cache vs ~8 s materialized).
    sigs = minhash_signatures(df, id_col, text_col, n, num_perm).cache()
    cand = _band_pairs(band_buckets(sigs, num_perm, bands))
    if not verify:
        return cand
    if verify == "exact":
        return _verify_exact(cand, df, id_col, text_col, n, threshold)
    return _verify_estimate(cand, sigs, num_perm, 0, threshold, "est_jaccard")


def bbit_minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 32,
    bits: int = 8,
    threshold: float = 0.8,
    verify: bool | str = "exact",
) -> DataFrame:
    """Near-dup pairs via b-bit MinHash banding (Li & König, WWW'10) —
    the storage-optimal form of :func:`minhash_lsh_pairs` for a
    PERSISTED index: signatures keep only the lowest ``bits`` bits of
    each slot, packed ``64/bits`` lanes per int64 word
    (``minhash_signatures(pack_bits=bits)``), so the stored index is
    ``num_perm·bits/8`` bytes per doc (8× smaller at bits=8) and buckets
    are computed from the packed lanes only.

    Candidate-set guarantee: equal full minhash slots imply equal b-bit
    lanes, so the candidate set is a SUPERSET of full-width MinHash
    banding at the same (num_perm, bands) — misses can only DECREASE
    (P[miss | J ≥ t] ≤ (1−t^r)^bands, < 1e-14 at r=2, bands=32, t=0.8),
    while the extra random collisions (≈2^−(r·bits) per band per pair)
    only add exact-verify work, never wrong output.  With
    ``verify="exact"`` the result is therefore engine-independent and
    carries the same exact-Jaccard SQL oracle as the full-width form.

    Sizing rule for scale: random band collisions cost
    ``n²·bands/2^(r·bits)`` candidate verifies, so keep
    ``r·bits ≥ log2(n_docs) + ~10``.  bits=8 at r=2 (16-bit buckets) is
    fine to ~10⁵ docs; corpus-scale runs want bits=16 at r=2 (32-bit
    buckets, still a 4× storage win) or bits=8 with r=4 and
    proportionally more bands for the same miss bound.

    ``verify=True`` returns the b-bit ESTIMATED Jaccard
    (:func:`est_jaccard` with ``bits``) — signature-only, no shingle
    re-join; its higher variance (σ ≈ √(J(1−J)/num_perm)/(1−2^−bits))
    is pinned by pytest, not an oracle.
    """
    _check_lsh_args(num_perm, bands, verify)
    # sigs feeds both sides of the band self-join (and twice more in the
    # estimate branch): MATERIALIZE, not cache — an unmaterialized cache
    # inside one action can re-run the signature kernel per consumer
    # (measured on the weighted form: 14-16 s with cache() vs ~8 s
    # materialized at sf0.1)
    sigs = materialize(
        minhash_signatures(df, id_col, text_col, n, num_perm, pack_bits=bits)
    )
    cand = _band_pairs(band_buckets(sigs, num_perm, bands, bits))
    if not verify:
        return cand
    if verify == "exact":
        return _verify_exact(cand, df, id_col, text_col, n, threshold)
    return _verify_estimate(cand, sigs, num_perm, bits, threshold, "est_jaccard")


# ---------------------------------------------------------------------------
# SimHash near-dup
# ---------------------------------------------------------------------------

def simhash64(text: Column, n: int = 2, hash_mode: str = "xxhash64") -> Column:
    """64-bit SimHash over word n-gram hash values: bit k of the result
    is the majority vote of shingle-hash bit k.

    Shingle hashing stays JVM-side (codegen); the 64-way bit majority
    runs as an Arrow pandas UDF over the hash arrays — a single
    (n_shingles × 64) numpy reduction per row, versus 64 chained HOF
    filter passes in pure expressions (~50× slower measured).

    ``hash_mode``: ``'xxhash64'`` (default, fastest) is Spark-specific;
    ``'md5'`` derives a 60-bit hash from the first 15 hex chars of
    ``md5(shingle)`` — slower, but every engine with md5 reproduces it
    bit-for-bit (the DuckDB oracle replays the full fingerprint), and the
    fingerprint stays below 2⁶⁰ so all bit ops remain in signed-64 range.
    The pigeonhole chunking in ``simhash_pairs`` is width-agnostic.
    """
    if hash_mode == "xxhash64":
        hashes = F.transform(word_shingles(text, n), lambda s: F.xxhash64(s))
    elif hash_mode == "md5":
        hashes = F.transform(
            word_shingles(text, n),
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
        )
    else:
        raise ValueError(
            f"hash_mode must be 'xxhash64' or 'md5', got {hash_mode!r}"
        )

    @pandas_udf("long")
    def simhash_udf(hs: pd.Series) -> pd.Series:
        # Batch-vectorized bit-majority: one (total × 64) bit matrix per
        # chunk, per-row sums via add.reduceat (see sig_udf).
        shifts = np.arange(64, dtype=np.uint64)
        vals = [
            None if h is None or len(h) == 0 else np.asarray(h, dtype=np.int64)
            for h in hs
        ]
        out: list = [None] * len(vals)
        live = [i for i, v in enumerate(vals) if v is not None]
        # slots × 64 uint64 bit matrix: 125k slots ≈ 64 MB (plus the
        # shift/compare temporaries) keeps peak well under 256 MB
        max_slots = 125_000
        start = 0
        while start < len(live):
            end, slots = start, 0
            while end < len(live) and (
                slots + len(vals[live[end]]) <= max_slots or end == start
            ):
                slots += len(vals[live[end]])
                end += 1
            idx = live[start:end]
            lens = np.array([len(vals[i]) for i in idx], dtype=np.int64)
            flat = np.concatenate([vals[i] for i in idx]).astype(np.uint64)
            offs = np.zeros(len(idx), dtype=np.int64)
            np.cumsum(lens[:-1], out=offs[1:])
            bits = (flat[:, None] >> shifts[None, :]) & np.uint64(1)
            sums = np.add.reduceat(bits, offs, axis=0)  # rows × 64
            maj = (sums * 2 > lens[:, None]).astype(np.uint64)
            vals64 = (maj << shifts[None, :]).sum(axis=1).astype(np.int64)
            for j, i in enumerate(idx):
                out[i] = int(vals64[j])
            start = end
        return pd.Series(out, dtype="object")

    return simhash_udf(hashes)


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 2,
    max_hamming: int = 3,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Pairs with SimHash Hamming distance ≤ max_hamming.

    Candidate generation by chunk banding (pigeonhole: split 64 bits into
    ``max_hamming+1`` chunks — any pair within the distance agrees on at
    least one full chunk), then exact popcount verification.
    ``hash_mode='md5'`` makes the whole pipeline engine-reproducible (see
    ``simhash64``).
    """
    check_col([id_col, text_col], df)
    # spread BELOW the kernel column (guide §2.5): the simhash UDF (and
    # its md5-mode shingle hashing) runs at the input's partitioning —
    # on a one-row-group scan that was a 17 s two-task stage at sf0.1
    # (dd_simhash profile); a post-UDF exchange would not help
    src = spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__txt"))
    )
    return hamming_pairs(
        src.select(
            "id",
            simhash64(F.col("__txt"), n, hash_mode=hash_mode).alias("sh"),
        ),
        "id",
        "sh",
        max_hamming,
    )


def hamming_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int,
) -> DataFrame:
    """Pairs of 64-bit hashes within ``max_hamming`` — the shared
    pigeonhole kernel behind :func:`simhash_pairs` (text) and
    ``sources/multimodal.image_near_dup`` (perceptual image hashes):
    split 64 bits into ``max_hamming+1`` chunks (any pair within the
    distance agrees on at least one full chunk), hash-join candidates
    per (chunk, value), verify with one exact popcount.  NULL hashes are
    dropped.  Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b``.
    """
    check_col([id_col, hash_col], df)
    if not (0 <= int(max_hamming) < 64):
        raise ValueError("max_hamming must be in [0, 64)")
    chunks = max_hamming + 1
    width = 64 // chunks
    # Materialize BEFORE the null filter, then filter the stored column:
    # (a) the hash is usually a pandas-UDF kernel (simhash64/phash), and
    # a filter on the UDF's output column makes Catalyst evaluate the
    # UDF twice — once below the pushed filter, once in the project
    # (guide §4.4: two ArrowEvalPython nodes per scan, measured in the
    # r11 dd_simhash before-plan); (b) the frame feeds both sides of the
    # chunk self-join, and a cold lazy cache() runs the kernel once per
    # concurrent consumer (r10 b-bit A/B: 14-16 s vs ~8 s materialized).
    hashed = materialize(
        df.select(F.col(id_col).alias("id"), F.col(hash_col).alias("sh"))
    ).filter(F.col("sh").isNotNull())
    bucketed = hashed.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("sh"), c * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("val"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("cb"),
    ).select("id", "sh", "cb.chunk", "cb.val")
    a = bucketed.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), "chunk", "val")
    b = bucketed.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), "chunk", "val")
    cand = (
        a.join(b, ["chunk", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand.withColumn(
        "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    ).filter(F.col("hamming") <= max_hamming).select("id_a", "id_b", "hamming")


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------

FP_DOT_BITS = 30  # fixed-point bits for deterministic dot products


def fp_dot(a: Column, b: Column, bits: int = FP_DOT_BITS) -> Column:
    """Deterministic dot product of two float arrays: per-element products
    in double (exact given identical inputs), quantized by floor(x·2^k)
    into int64, integer-summed (order-independent), rescaled."""
    m = float(2**bits)
    q = F.zip_with(
        a, b,
        lambda x, y: F.floor(x.cast("double") * y.cast("double") * F.lit(m)).cast(
            "long"
        ),
    )
    return (
        F.aggregate(q, F.lit(0).cast("long"), lambda acc, v: acc + v).cast("double")
        / m
    )


@pandas_udf(DoubleType())
def _fp_cosine_udf(
    va: pd.Series, vb: pd.Series, na: pd.Series, nb: pd.Series
) -> pd.Series:
    """Arrow-batched fixed-point cosine: floor(x·y·2^30) int64 sums —
    numpy doubles run the identical IEEE ops as the zip_with/aggregate
    expression form, so results are bit-identical to fp_dot (and to the
    DuckDB oracle).  Justification for leaving the JVM: measured 2×
    faster than the 64-element interpreted-HOF re-rank on 800k candidate
    pairs at sf0.1 (2.5 s vs 5.4 s warm)."""
    if len(va) == 0:
        return pd.Series([], dtype="float64")
    # cast BEFORE multiplying: float32 inputs must promote to double per
    # element (as fp_dot's x.cast("double") does), not after the product
    A = np.stack(va.to_numpy()).astype(np.float64)
    B = np.stack(vb.to_numpy()).astype(np.float64)
    m = float(2**FP_DOT_BITS)
    dot = np.floor(A * B * m).astype(np.int64).sum(axis=1).astype(np.float64) / m
    denom = na.to_numpy() * nb.to_numpy()
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = dot / denom
    # NULL (not NaN) on zero norms, matching try_divide semantics
    return pd.Series(np.where(denom == 0.0, np.nan, cos))


# Filters on this UDF's output would otherwise make Catalyst evaluate it
# TWICE per row — once below the pushed-down threshold filter, once in
# the output projection (guide §4.4; two ArrowEvalPython nodes measured
# in the r11 dd_embedding_cosine before-plan, each shipping both vectors
# across Arrow).  The function is pure; the marker only pins it to a
# single evaluation site.
_fp_cosine_nd = _fp_cosine_udf.asNondeterministic()


def _is_integral_id(df: DataFrame, id_col: str) -> bool:
    from pyspark.sql import types as T

    return isinstance(
        df.schema[id_col].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    )


def _matrix_cosine_attach(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Attach exact fixed-point cosines to an id-pair frame by gathering
    vectors from a driver-collected numpy matrix broadcast inside an
    Arrow pandas UDF (guide §8: decide with small rows, move heavy bytes
    once — here the heavy vectors never enter the pair shuffle at all).

    The arithmetic is bit-identical to :func:`fp_dot` /
    :func:`_fp_cosine_udf` (floor(x·y·2^30) int64 sums, NULL on zero
    norms), so swapping the join-attach plan for this one cannot change
    results.  Valid while the matrix fits in executor memory; callers
    gate on ``MATRIX_MAX_ROWS`` and integral ids.
    """
    rows = df.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    order = np.argsort(ids)
    ids = ids[order]
    M = np.array([list(rows[i][1]) for i in order], dtype=np.float64)
    m30 = float(2**FP_DOT_BITS)
    fp_self = np.floor(M * M * m30).astype(np.int64).sum(axis=1)
    norms = np.sqrt(fp_self.astype(np.float64) / m30)

    @pandas_udf("double")
    def cos_udf(ia: pd.Series, ib: pd.Series) -> pd.Series:
        xa = np.searchsorted(ids, ia.to_numpy())
        xb = np.searchsorted(ids, ib.to_numpy())
        prod = np.floor(M[xa] * M[xb] * m30).astype(np.int64).sum(axis=1)
        dot = prod.astype(np.float64) / m30
        denom = norms[xa] * norms[xb]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = dot / denom
        return pd.Series(np.where(denom == 0.0, np.nan, cos))

    return pairs.withColumn(
        "cosine",
        cos_udf.asNondeterministic()(F.col(a_col), F.col(b_col)),
    ).filter(F.col("cosine") >= threshold)


def _matrix_pairwise_cosine(
    df: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """All-pairs cosine with the vector matrix broadcast to executors as a
    numpy array: the pair join carries only (id_a, id_b); an Arrow pandas
    UDF gathers rows from the matrix and computes fixed-point cosines with
    the exact arithmetic of :func:`fp_dot` (floor(x·y·2^30) int sums —
    numpy doubles follow the same IEEE ops, so results are bit-identical
    to the expression/DuckDB form).

    ~50× faster than per-pair interpreted HOF evaluation; valid while the
    matrix fits in executor memory (n·dim·8 bytes — 200k×1k ≈ 1.6 GB).
    """
    a = df.select(F.col(id_col).alias("id_a"))
    b = df.select(F.col(id_col).alias("id_b"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    return _matrix_cosine_attach(
        pairs, df, id_col, vec_col, threshold
    ).select("id_a", "id_b", "cosine")


def derive_n_planes(
    n_rows: int,
    target_bucket_rows: int = 256,
    lo: int = 4,
    hi: int = 24,
) -> int:
    """Corpus-size-aware sign-LSH width: ``k = ceil(log2(n/target))``.

    With balanced sign bits, expected bucket occupancy ≈ ``target`` and
    candidate volume grows ~linearly (≈ n·target·L/2 pairs) as the corpus
    grows — a FIXED k instead makes candidates ~n²·L/2^k, silently
    quadratic once n ≫ 2^k (the round-4/5 verdict's `n_planes=4` trap:
    16 buckets/table goes all-pairs beyond ~10⁶ rows).  Clamped to
    [lo, hi]: ≥lo keeps tiny fixtures from degenerating to one bucket's
    worth of bits, ≤hi (16 M buckets) caps per-row hashing cost."""
    import math

    if n_rows <= target_bucket_rows:
        return lo
    return max(lo, min(hi, math.ceil(math.log2(n_rows / target_bucket_rows))))


def _lsh_candidate_pairs(
    norms: DataFrame, n_planes: int, n_tables: int, seed: int, dim: int
) -> DataFrame:
    """Multi-table sign-LSH candidate pairs over ``(id, v, norm)``.

    Standard (k, L) construction (Charikar STOC'02; Indyk-Motwani):
    L independent tables of k sign bits; a pair is a candidate iff it
    shares a bucket in ≥1 table.  Each row explodes to L (table, bucket)
    keys, the self equi-join shuffles on (table, bucket) — never all
    pairs — and candidates dedup before the (expensive) exact cosine.
    Recall for a pair at cosine c is 1-(1-p^k)^L with p = 1-arccos(c)/π,
    tunable via ``n_tables``; planes are seeded literals, so buckets are
    engine-reproducible (the DuckDB oracle replays them exactly).
    """
    from .similarity import _hyperplanes

    tables = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed + t)
        bucket = F.lit(0).cast("long")
        for i, plane in enumerate(planes):
            p = F.array(*[F.lit(float(x)) for x in plane])
            bit = (fp_dot(F.col("v"), p) >= 0).cast("long")
            bucket = bucket.bitwiseOR(F.shiftleft(bit, i))
        tables.append(
            F.struct(F.lit(t).alias("t"), bucket.alias("bucket"))
        )
    e = norms.select(
        "id", F.explode(F.array(*tables)).alias("tb")
    ).select(
        "id", F.col("tb.t").alias("t"), F.col("tb.bucket").alias("bucket")
    )
    a = e.select(F.col("id").alias("id_a"), "t", "bucket")
    b = e.select(F.col("id").alias("id_b"), "t", "bucket")
    # candidates dedup on bare (id_a, id_b) — 16 B/row through the
    # shuffle instead of 2 vectors/row; callers re-join vectors after
    return (
        a.join(b, ["t", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def embedding_near_dup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int | None = None,
    n_tables: int = 8,
    seed: int = 42,
    dim: int | None = None,
    exact: bool = False,
) -> DataFrame:
    """Pairs with cosine similarity ≥ threshold.

    Default: multi-table sign-LSH candidate generation (k=``n_planes``
    bits × L=``n_tables`` tables) + exact fixed-point cosine re-rank —
    the 100 TB path: the corpus shuffles on (table, bucket), never all
    pairs.  ``n_planes=None`` (the default) derives k from the corpus
    size via :func:`derive_n_planes` (one extra ``count()``), so bucket
    occupancy — and with it candidate volume per row — stays bounded as
    the corpus grows; pass an explicit k to pin buckets (e.g. for an
    engine-replaying oracle).  Probabilistic recall (see
    :func:`_lsh_candidate_pairs`); raise ``n_tables`` to push recall
    toward 1.

    ``exact=True``: exhaustive all-pairs (id_a < id_b) — recall 1, O(n²),
    a verification baseline for modest n only.  When the corpus fits in
    ``MATRIX_MAX_ROWS`` the matrix-broadcast numpy kernel runs it
    vectorized; beyond that an (intentionally unscalable) crossJoin.

    Cosines use fixed-point arithmetic → cross-engine exact either way.
    """
    check_col([id_col, vec_col], df)
    # NULL vectors can't be scored (np.stack in the fixed-point kernel
    # would raise); drop them up front like the join paths drop unmatched
    df = df.filter(F.col(vec_col).isNotNull())
    if exact and df.count() <= MATRIX_MAX_ROWS:
        return _matrix_pairwise_cosine(df, id_col, vec_col, threshold)
    # spread below the per-row work (guide §2.5): the LSH bucket
    # expression evaluates n_planes x n_tables fixed-point dots per row
    # (CodegenFallback HOFs) at the scan's partitioning — one task on a
    # one-row-group table; guarded no-op on wide inputs
    norms = spread(df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.sqrt(fp_dot(F.col(vec_col), F.col(vec_col))).alias("norm"),
    ))
    if exact:
        a = norms.select(
            F.col("id").alias("id_a"), F.col("v").alias("v_a"),
            F.col("norm").alias("norm_a"),
        )
        b = norms.select(
            F.col("id").alias("id_b"), F.col("v").alias("v_b"),
            F.col("norm").alias("norm_b"),
        )
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    else:
        if dim is None:
            probe = df.select(vec_col).first()
            if probe is None:
                # empty corpus → no pairs (schema-stable, id type preserved)
                return norms.select(
                    F.col("id").alias("id_a"),
                    F.col("id").alias("id_b"),
                    F.lit(0.0).alias("cosine"),
                ).limit(0)
            dim = len(probe[0])
        n_rows = None
        if n_planes is None:
            n_rows = df.count()
            n_planes = derive_n_planes(n_rows)
            _LOG.info(
                "embedding_near_dup: n=%d -> k=%d planes x L=%d tables "
                "(expected bucket occupancy ~%d)",
                n_rows, n_planes, n_tables,
                max(1, n_rows >> n_planes),
            )
        cand = _lsh_candidate_pairs(norms, n_planes, n_tables, seed, dim)
        # Re-rank plan choice (guide §8): the candidate pairs only need
        # vectors ATTACHED for scoring — joining them back ships two
        # dim-sized arrays per candidate through the plan (at sf0.1:
        # ~600k candidates × 2×64 doubles ≈ 600 MB vs 10 MB of bare id
        # pairs).  When the corpus fits the documented matrix bound the
        # broadcast-matrix gather scores bare id pairs instead (bit-
        # identical arithmetic); past the bound — the 100 TB shape — the
        # join-attach plan below remains the scalable path.
        if _is_integral_id(df, id_col):
            if n_rows is None:
                n_rows = df.count()
            if n_rows <= MATRIX_MAX_ROWS:
                return _matrix_cosine_attach(
                    cand, df, id_col, vec_col, threshold
                ).select("id_a", "id_b", "cosine")
        pairs = cand.join(
            norms.select(
                F.col("id").alias("id_a"), F.col("v").alias("v_a"),
                F.col("norm").alias("norm_a"),
            ),
            "id_a",
        ).join(
            norms.select(
                F.col("id").alias("id_b"), F.col("v").alias("v_b"),
                F.col("norm").alias("norm_b"),
            ),
            "id_b",
        )
    out = pairs.withColumn(
        "cosine",
        _fp_cosine_nd(
            F.col("v_a"), F.col("v_b"), F.col("norm_a"), F.col("norm_b")
        ),
    ).filter(F.col("cosine") >= threshold)
    return out.select("id_a", "id_b", "cosine")


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    k: int | None = None,
    n_iter: int = 3,
    fp_bits: int | None = None,
    target_cluster_rows: int = 512,
) -> tuple[DataFrame, DataFrame]:
    """SemDeDup (Abbas et al., arXiv:2303.09540): k-means-cluster the
    embedding corpus, then drop every document that has a smaller-id
    neighbor with cosine ≥ ``threshold`` **within its cluster**.

    The clustering is the scale device: candidate pairs form only inside
    a cluster, so the quadratic term is bounded by the largest cluster,
    not the corpus — pick ``k`` so clusters fit the pair budget (the
    paper runs 50k clusters over 5 B images for exactly this reason).
    ``k=None`` (the default) derives it from the corpus:
    ``k = clamp(ceil(n / target_cluster_rows), 4, 65536)`` — expected
    cluster size stays ≈ ``target_cluster_rows`` as the corpus grows, so
    the within-cluster pair join stays ~linear in n (n·target/2 pairs)
    instead of silently quadratic at a fixed k.  Costs one ``count()``.

    Keep rule: the smallest id of any near-pair survives — one
    deterministic pass, no transitive closure (a chain a~b~c with
    a≁c keeps {a}, dropping b and c, like the paper's ε-dedup; use
    :func:`resolve_groups` on the returned pairs when full
    connected-component semantics are wanted).

    Determinism end to end: fixed-point k-means (operators/kmeans.py —
    integer centroids, exact trajectory) + fixed-point cosines, so the
    whole operator replays bit-identically in the DuckDB oracle.

    Returns ``(survivors, pairs)``: survivors = input rows + ``cluster``
    (+``d2``), pairs = (cluster, id_a, id_b, cosine) above threshold.
    """
    from .kmeans import FP_BITS_DEFAULT, kmeans_assign, kmeans_fit

    check_col([id_col, vec_col], df)
    fp = FP_BITS_DEFAULT if fp_bits is None else fp_bits
    df = df.filter(F.col(vec_col).isNotNull())
    n_rows = None
    if k is None:
        n_rows = df.count()
        k = max(4, min(65_536, -(-n_rows // target_cluster_rows)))
        _LOG.info(
            "semantic_dedup: n=%d -> k=%d clusters "
            "(target occupancy ~%d)", n_rows, k, target_cluster_rows,
        )
    centroids = kmeans_fit(df, id_col, vec_col, k=k, n_iter=n_iter, fp_bits=fp)
    assigned = kmeans_assign(df, centroids, vec_col, fp_bits=fp)
    int_id = _is_integral_id(df, id_col)
    if int_id and n_rows is None:
        n_rows = df.count()
    use_matrix = int_id and n_rows is not None and n_rows <= MATRIX_MAX_ROWS
    if use_matrix:
        # guide §8: the within-cluster pair join only needs ids — gather
        # vectors from the broadcast matrix at scoring time instead of
        # shipping two dim-sized arrays per candidate pair (bit-identical
        # fixed-point arithmetic; see _matrix_cosine_attach).  Past the
        # matrix bound the join-attach plan below stays the 100 TB path.
        ids_only = assigned.select("cluster", F.col(id_col).alias("id"))
        a = ids_only.select("cluster", F.col("id").alias("id_a"))
        b = ids_only.select("cluster", F.col("id").alias("id_b"))
        cand = a.join(b, "cluster").filter(F.col("id_a") < F.col("id_b"))
        pairs = _matrix_cosine_attach(
            cand, df, id_col, vec_col, threshold
        ).select("cluster", "id_a", "id_b", "cosine")
    else:
        base = assigned.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            F.col("cluster"),
            F.sqrt(fp_dot(F.col(vec_col), F.col(vec_col))).alias("norm"),
        )
        a = base.select(
            "cluster", F.col("id").alias("id_a"), F.col("v").alias("v_a"),
            F.col("norm").alias("norm_a"),
        )
        b = base.select(
            "cluster", F.col("id").alias("id_b"), F.col("v").alias("v_b"),
            F.col("norm").alias("norm_b"),
        )
        pairs = (
            a.join(b, "cluster")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn(
                "cosine",
                _fp_cosine_nd(
                    F.col("v_a"), F.col("v_b"),
                    F.col("norm_a"), F.col("norm_b"),
                ),
            )
            .filter(F.col("cosine") >= threshold)
            .select("cluster", "id_a", "id_b", "cosine")
        )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    survivors = assigned.join(dropped, id_col, "left_anti")
    return survivors, pairs


def dedup_against(
    new_df: DataFrame,
    ref_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    key: Column | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Cross-corpus exact dedup: drop new documents whose content
    fingerprint already exists in a reference corpus (incremental-crawl
    ingestion — the corpus-vs-corpus twin of :func:`exact_dedup`).

    Returns ``(fresh, dropped)``: ``fresh`` = new docs with no fingerprint
    match in the reference (left-anti join), ``dropped`` = the
    complement (left-semi).  Only (fingerprint) keys shuffle — document
    bodies never move — and the reference side reduces to its DISTINCT
    fingerprints before the join, so a heavily duplicated reference adds
    no join fanout.
    """
    check_col([id_col, text_col], new_df)
    check_col(text_col, ref_df)
    k = key if key is not None else normalized_fingerprint(F.col(text_col))
    new_keyed = new_df.withColumn("__fp", k)
    ref_keys = ref_df.select(k.alias("__fp")).distinct()
    fresh = new_keyed.join(ref_keys, "__fp", "left_anti").drop("__fp")
    dropped = new_keyed.join(ref_keys, "__fp", "left_semi").drop("__fp")
    return fresh, dropped


def resolve_duplicate_groups(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Pair mining → purge list: the dedup pipeline's final stage.

    Near-dup pairs (from any of the miners above) form a similarity
    graph; each connected component is one duplicate group and its
    smallest id is the canonical survivor.  Returns one row per document
    that appears in any pair:

    ``(doc_id, keep_id, n_members, is_kept)``

    ``is_kept`` FALSE rows are the purge list.  Documents in no pair are
    trivially kept and not emitted (anti-join the purge list to filter a
    corpus).  Components come from ``graph.connected_components``: a
    driver union-find when the pair graph fits its bounded probe, else
    O(log diameter) label-propagation shuffles — so a 100 TB corpus with
    millions of duplicate groups never collects more than the bound —
    plus one component-size aggregation.
    """
    from .graph import connected_components

    check_col([id_a, id_b], pairs)
    labels = connected_components(pairs, src=id_a, dst=id_b)
    sizes = labels.groupBy("rep").agg(F.count(F.lit(1)).alias("n_members"))
    return labels.join(sizes, "rep").select(
        F.col("node").alias("doc_id"),
        F.col("rep").alias("keep_id"),
        "n_members",
        (F.col("node") == F.col("rep")).alias("is_kept"),
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 -- the MOSS plagiarism-detector algorithm): hash every
    word k-gram, slide a window of ``window`` consecutive k-gram hashes,
    select each FULL window's minimum hash (rightmost position on ties),
    and emit the distinct selected ``(id, pos, h)`` triples.

    The winnowing guarantee: any token run of at least ``k + window - 1``
    shared between two documents contributes at least one IDENTICAL
    selected fingerprint to both -- bounded-density local sampling that
    plain every-Nth or mod-p fingerprint sampling cannot promise (they
    can miss arbitrarily long overlaps).  Density is ~2/(window+1).

    Plan: posexplode k-grams -> md5-derived 60-bit hash (engine-portable,
    same construction as the MinHash oracle) -> ONE doc-keyed window
    pass selecting per-window minima by lexicographic struct order
    (hash asc, position desc -- the canonical rightmost-tie rule) ->
    distinct.  Documents shorter than ``k + window - 1`` tokens emit
    nothing.
    """
    check_col([id_col, text_col], df)
    if k < 1 or window < 1:
        raise ValueError("k and window must be >= 1")
    # spread before the gram explode + per-gram md5 (guide §2.5);
    # guarded no-op on wide inputs
    grams = spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__txt"))
    ).select(
        "id",
        F.posexplode(word_shingles(F.col("__txt"), k)).alias("pos", "s"),
    ).select(
        "id",
        "pos",
        F.conv(F.substring(F.md5("s"), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    w = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    picked = grams.select(
        "id",
        F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))).over(w)
        .alias("__pick"),
        F.count(F.lit(1)).over(w).alias("__cnt"),
    ).filter(F.col("__cnt") == window)
    return picked.select(
        "id",
        F.col("__pick.h").alias("h"),
        (-F.col("__pick.np")).alias("pos"),
    ).distinct()


def winnowing_matches(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
    min_common: int = 2,
    max_posting: int | None = 10_000,
) -> DataFrame:
    """Document pairs sharing >= ``min_common`` winnowing fingerprints,
    with ``overlap = n_common / min(n_a, n_b)`` -- the MOSS match score.
    Same inverted-index + stop-fingerprint plan as
    :func:`ngram_jaccard_pairs` (the pair space is bounded by posting
    lists, never all-pairs); winnowing keeps the index ~2/(window+1)
    the size of the full shingle index at the same detection guarantee
    for runs >= k+window-1 tokens.
    """
    fp = winnowing_fingerprints(df, id_col, text_col, k, window).select(
        "id", "h"
    ).distinct()
    sizes = fp.groupBy("id").agg(F.count(F.lit(1)).alias("n_fp"))
    inv = fp
    if max_posting is not None:
        posting = fp.groupBy("h").agg(F.count(F.lit(1)).alias("__df"))
        inv = fp.join(
            posting.filter(F.col("__df") <= max_posting).select("h"),
            "h",
            "inner",
        )
    a = inv.select(F.col("id").alias("id_a"), "h")
    b = inv.select(F.col("id").alias("id_b"), "h")
    common = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= int(min_common))
    )
    return (
        common.join(
            sizes.select(F.col("id").alias("id_a"),
                         F.col("n_fp").alias("n_a")), "id_a")
        .join(
            sizes.select(F.col("id").alias("id_b"),
                         F.col("n_fp").alias("n_b")), "id_b")
        .withColumn(
            "overlap",
            F.col("n_common").cast("double")
            / F.least("n_a", "n_b").cast("double"),
        )
        .select("id_a", "id_b", "n_common", "n_a", "n_b", "overlap")
    )


def dedup_threshold_sweep(
    pairs: DataFrame,
    thresholds,
    id_a: str = "id_a",
    id_b: str = "id_b",
    score_col: str = "jaccard",
) -> DataFrame:
    """Dedup tuning curve: for each candidate similarity threshold, how
    many pairs survive and how many distinct documents are implicated —
    the sweep you run ONCE on a sample to pick the production threshold
    (the marginal-pairs elbow), instead of re-mining pairs per guess.

    Takes an already-mined pair table (:func:`ngram_jaccard_pairs`,
    :func:`minhash_lsh_pairs`, :func:`simhash_pairs`, ...) mined at the
    LOWEST threshold under consideration; the sweep itself is one
    broadcast nested-loop join against the tiny threshold list (pair ×
    threshold rows, bounded by len(thresholds)·|pairs|) and two
    threshold-keyed aggregates — the expensive candidate mining is not
    repeated.

    Output: ``threshold`` + ``n_pairs`` + ``n_docs`` (distinct ids in
    any surviving pair), one row per threshold.
    """
    check_col([id_a, id_b, score_col], pairs)
    ts = sorted(float(t) for t in thresholds)
    if not ts:
        raise ValueError("thresholds must be non-empty")
    spark = pairs.sparkSession
    thr = local_df(spark, [(t,) for t in ts], "threshold double")
    hits = pairs.join(
        F.broadcast(thr), F.col(score_col) >= F.col("threshold")
    )
    n_pairs = hits.groupBy("threshold").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    n_docs = (
        hits.select(
            "threshold",
            F.explode(F.array(F.col(id_a), F.col(id_b))).alias("__d"),
        )
        .groupBy("threshold")
        .agg(F.countDistinct("__d").alias("n_docs"))
    )
    return n_pairs.join(n_docs, "threshold")


__all__ = [
    "exact_dedup",
    "ngram_jaccard_pairs",
    "minhash_signatures",
    "band_buckets",
    "est_jaccard",
    "minhash_lsh_pairs",
    "bbit_minhash_lsh_pairs",
    "containment_pairs",
    "simhash64",
    "simhash_pairs",
    "fp_dot",
    "derive_n_planes",
    "embedding_near_dup",
    "semantic_dedup",
    "dedup_against",
    "resolve_duplicate_groups",
    "dedup_threshold_sweep",
    "hamming_pairs",
    "winnowing_fingerprints",
    "winnowing_matches",
]

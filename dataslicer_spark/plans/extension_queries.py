"""Driver-contract queries for the north-star extensions: text analysis,
dedup, similarity search, and event-time windows — each with a DuckDB
oracle where SQL-expressible (engine-specific hashes → rows-only).

Same cross-engine determinism rules as star_queries.py: integer counts,
fixed-point dot products, md5 (identical in both engines), and epoch-long
timestamps instead of raw timestamp columns.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    BPE_ISH,
    LANG_MARKERS,
    STOPWORDS_EN,
    add_language_id,
    add_text_quality,
    normalized_fingerprint,
    token_count_bpe_ish,
    token_count_ws,
)
from ..operators.dedup import (
    dedup_against,
    embedding_near_dup,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    resolve_duplicate_groups,
    simhash_pairs,
)
from ..operators.asof import asof_join
from ..operators.sampling import split_thresholds
from ..operators.similarity import cosine_topk, hyperplane_lsh_topk, ivf_topk
from ..operators.windows import largest_wins
from ..streaming.events import (
    _epoch_us,
    load_events,
    session_stats,
    sliding_window_stats,
    tumbling_window_stats,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


FP30 = repr(float(2**30))


def _sql_fp_dot(a: str, b: str) -> str:
    """DuckDB mirror of dedup.fp_dot (floor(x·y·2^30) int sums)."""
    return (
        f"CAST(list_sum(list_transform(list_zip({a}, {b}), "
        f"x -> CAST(FLOOR(CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE) "
        f"* CAST({FP30} AS DOUBLE)) AS BIGINT))) AS DOUBLE) / CAST({FP30} AS DOUBLE)"
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def txt_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) aggregated per language."""
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return (
        docs.withColumn("n_ws", token_count_ws(t))
        .withColumn("n_bpe", token_count_bpe_ish(t))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_ws").alias("sum_ws_tokens"),
            F.sum("n_bpe").alias("sum_bpe_tokens"),
            F.max("n_ws").alias("max_ws_tokens"),
        )
    )


TXT_TOKEN_STATS_SQL = rf"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_ws) AS BIGINT) AS sum_ws_tokens,
       CAST(SUM(n_bpe) AS BIGINT) AS sum_bpe_tokens,
       MAX(n_ws) AS max_ws_tokens
FROM (
  SELECT lang,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_ws,
         len(regexp_extract_all(text, '{BPE_ISH}')) AS n_bpe
  FROM documents)
GROUP BY lang
"""


def txt_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality signals + composite score (all exact arithmetic)."""
    docs = _t(spark, sf_dir, "documents")
    out = add_text_quality(docs)
    return out.select(
        "doc_id", "n_tokens", "punct_ratio", "digit_ratio",
        "stopword_ratio", "quality_score",
    )


_STOP_PATT = r"\b(" + "|".join(STOPWORDS_EN) + r")\b"
TXT_QUALITY_SQL = rf"""
SELECT doc_id, n_tokens,
       punct / NULLIF(n_chars_m, 0) AS punct_ratio,
       digits / NULLIF(n_chars_m, 0) AS digit_ratio,
       stops / NULLIF(n_tokens, 0) AS stopword_ratio,
       CASE WHEN n_tokens > 0 THEN
         LEAST(stops / NULLIF(n_tokens, 0) * 2.5, 1.0) * 0.4
         + CASE WHEN mtl >= 2 AND mtl <= 12 THEN 1.0 ELSE 0.0 END * 0.3
         + (1 - LEAST(digits / NULLIF(n_chars_m, 0) * 5, 1.0)) * 0.15
         + (1 - LEAST(punct / NULLIF(n_chars_m, 0) * 5, 1.0)) * 0.15
       ELSE 0.0 END AS quality_score
FROM (
  SELECT *, (n_chars_m - (n_tokens - 1)) / NULLIF(n_tokens, 0) AS mtl
  FROM (
    SELECT doc_id, length(text) AS n_chars_m,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
           len(regexp_extract_all(text, '[.,!?;:]')) AS punct,
           len(regexp_extract_all(text, '[0-9]')) AS digits,
           len(regexp_extract_all(text, '(?i){_STOP_PATT}')) AS stops
    FROM documents))
"""


def txt_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition ratios (dup-word / top-word / top-bigram
    fractions) — the quality-filter family for machine-generated or
    boilerplate text."""
    from ..functions.text import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(docs, "doc_id")


TXT_REPETITION_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents WHERE trim(text) <> ''),
words AS (
  SELECT doc_id, u.w FROM toks, UNNEST(t) AS u(w)),
wc AS (
  SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY doc_id, w),
wagg AS (
  SELECT doc_id, SUM(c) AS n_words, MAX(c) AS top_word_count,
         COUNT(*) AS n_distinct_words
  FROM wc GROUP BY doc_id),
bigrams AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS g
  FROM toks, UNNEST(range(1, len(t))) AS u(i)),
bc AS (
  SELECT doc_id, g, COUNT(*) AS c FROM bigrams GROUP BY doc_id, g),
bagg AS (
  SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_bigram_count
  FROM bc GROUP BY doc_id)
SELECT w.doc_id,
       CAST(w.n_words AS BIGINT) AS n_words,
       CAST(w.n_distinct_words AS BIGINT) AS n_distinct_words,
       CAST(w.n_words - w.n_distinct_words AS DOUBLE)
         / CAST(w.n_words AS DOUBLE) AS dup_word_frac,
       CAST(w.top_word_count AS DOUBLE)
         / CAST(w.n_words AS DOUBLE) AS top_word_frac,
       CAST(b.top_bigram_count AS DOUBLE)
         / CAST(b.n_bigrams AS DOUBLE) AS top_bigram_frac
FROM wagg w LEFT JOIN bagg b USING (doc_id)
"""


def txt_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID; compared against the heuristic's own SQL
    mirror (the ground-truth ``lang`` column is a separate accuracy test)."""
    docs = _t(spark, sf_dir, "documents")
    return add_language_id(docs).select("doc_id", "lang", "lang_pred")


def _langid_sql() -> str:
    scores = {
        lang: rf"len(regexp_extract_all(lower(text), '\b({'|'.join(words)})\b'))"
        for lang, words in LANG_MARKERS.items()
    }
    langs = sorted(scores)
    # fold identical to add_language_id: earlier lang wins ties
    best, best_score = "'und'", "0"
    for lang in langs:
        s = f"s_{lang}"
        best = f"CASE WHEN {s} > {best_score} THEN '{lang}' ELSE {best} END"
        best_score = f"CASE WHEN {s} > {best_score} THEN {s} ELSE {best_score} END"
    inner = ", ".join(f"{expr} AS s_{lang}" for lang, expr in scores.items())
    return (
        f"SELECT doc_id, lang, {best} AS lang_pred "
        f"FROM (SELECT doc_id, lang, text, {inner} FROM documents)"
    )


TXT_LANGID_SQL = _langid_sql()


def txt_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word trigrams — explode → count → top-k window
    (partial aggregation map-side; the explode never leaves the executor
    it ran on until the count shuffle of (ngram, partial_count))."""
    from ..functions.text import word_shingles

    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(word_shingles(F.col("text"), 3)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # top-k via orderBy+limit → distributed TakeOrdered (per-partition
    # heaps merged on the driver), NOT a single-partition global window —
    # distinct-ngram cardinality is corpus-sized at scale.  Rank is
    # assigned by a window over the 20 surviving rows only.
    top = counts.orderBy(F.col("n").desc(), F.col("ngram").asc()).limit(20)
    w = Window.partitionBy().orderBy(F.col("n").desc(), F.col("ngram").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "ngram", "n"
    )


TXT_TOP_NGRAMS_SQL = r"""
SELECT rank, ngram, n FROM (
  SELECT ngram, n,
         ROW_NUMBER() OVER (ORDER BY n DESC, ngram ASC) AS rank
  FROM (
    SELECT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS ngram, COUNT(*) AS n
    FROM (
      SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents WHERE trim(text) <> ''),
      UNNEST(range(1, len(t) - 1)) AS u(i)
    GROUP BY 1))
WHERE rank <= 20
"""


def txt_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 fingerprint of normalized text (cross-engine identical)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", normalized_fingerprint(F.col("text")).alias("fingerprint")
    )


TXT_FINGERPRINT_SQL = r"""
SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
FROM documents
"""


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def dd_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over a doubled corpus (simulated re-crawl): fingerprint
    stats with deterministic representative choice."""
    docs = _t(spark, sf_dir, "documents")
    doubled = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + 100000))
    _reps, stats = exact_dedup(doubled, "doc_id")
    return stats.select("fingerprint", "n_copies", "kept_id")


DD_EXACT_SQL = r"""
SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint,
       COUNT(*) AS n_copies, MIN(doc_id) AS kept_id
FROM (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents)
GROUP BY 1
"""


def dd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram shingle Jaccard pairs ≥ 0.05 via inverted index (no cross
    join); exact integer set arithmetic."""
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", n=3, threshold=0.05)


DD_NGRAM_JACCARD_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents WHERE trim(text) <> ''),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
       CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE)
         AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE)
      >= 0.05
"""


def dd_ngram_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PPJoin prefix-filtered plan at a genuine near-dup threshold
    (0.8): rare-first prefix index + length/positional candidate filters
    + array_intersect verify (operators/dedup.ngram_jaccard_pairs takes
    it from t=PREFIX_MIN_THRESHOLD=0.7 up).  Prefix filtering is
    lossless, so the oracle is the SAME naive pair SQL at the higher
    threshold —
    the twin to ``dd_ngram_jaccard``, which certifies the direct
    posting-join plan at t=0.05."""
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", n=3, threshold=0.8)


DD_NGRAM_JACCARD_PREFIX_SQL = DD_NGRAM_JACCARD_SQL.replace(">= 0.05", ">= 0.8")


def emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 embedding quantization summarized per vector with exact
    integer statistics (sum/sumsq/min/max of the quantized values), so
    the DuckDB oracle checks every quantized element's contribution
    without comparing array columns."""
    from ..operators.similarity import quantize_embeddings

    emb = _t(spark, sf_dir, "embeddings")
    out = quantize_embeddings(emb, "vec_id")
    q = F.col("q_embedding")
    zero = F.lit(0).cast("long")
    return out.select(
        "vec_id",
        F.size("embedding").alias("n_dims"),
        F.col("embedding_scale").alias("scale"),
        F.aggregate(q, zero, lambda a, x: a + x).alias("q_sum"),
        F.aggregate(q, zero, lambda a, x: a + (x * x).cast("long")).alias(
            "q_sumsq"
        ),
        F.array_min(q).alias("q_min"),
        F.array_max(q).alias("q_max"),
    )


EMB_QUANTIZE_SQL = """
WITH a AS (
  SELECT vec_id, embedding AS e,
         list_max(list_transform(embedding, x -> abs(x))) AS amax
  FROM embeddings),
q AS (
  SELECT vec_id,
         CAST(len(e) AS INTEGER) AS n_dims,
         127.0 / NULLIF(CAST(amax AS DOUBLE), 0.0) AS scale,
         list_transform(e, x ->
           CAST(round(CAST(x AS DOUBLE)
                      * (127.0 / NULLIF(CAST(amax AS DOUBLE), 0.0)))
                AS INTEGER)) AS qv
  FROM a)
SELECT vec_id, n_dims, scale,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS q_sumsq,
       CAST(list_min(qv) AS INTEGER) AS q_min,
       CAST(list_max(qv) AS INTEGER) AS q_max
FROM q
"""


def samp_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count stratified sample: 50 events per event_type, chosen by
    content hash (engine/partitioning/row-order independent, unlike
    ``sampleBy``'s Bernoulli draw)."""
    from ..operators.sampling import stratified_sample

    ev = load_events(spark, sf_dir)
    out = stratified_sample(ev, "event_type", 50, key_col="event_id")
    return out.select("event_id", "event_type", "user_id", "value")


SAMP_STRATIFIED_SQL = """
SELECT event_id, event_type, user_id, value
FROM (
  SELECT event_id, event_type, user_id, value,
         ROW_NUMBER() OVER (
           PARTITION BY event_type
           ORDER BY md5(CAST(event_id AS VARCHAR))
         ) AS rk
  FROM events)
WHERE rk <= 50
"""


def dd_resolve_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup pipeline final stage: near-dup pairs → connected components →
    canonical survivor + purge list.  Distributed min-label propagation
    (O(log diameter) shuffles, no driver collect); the DuckDB oracle
    computes the same components via a recursive transitive-closure CTE
    with MIN-id representatives."""
    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", n=3, threshold=0.05)
    return resolve_duplicate_groups(pairs)


# Same pair derivation as DD_NGRAM_JACCARD_SQL, then components via
# recursive reachability: reach(node, r) holds every node reachable from
# `node`; MIN(r) per node is the component representative — identical to
# the Spark side's min-label fixed point.
DD_RESOLVE_SQL = r"""
WITH RECURSIVE toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents WHERE trim(text) <> ''),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE)
        >= 0.05),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs),
reach(node, r) AS (
  SELECT u, u FROM edges
  UNION
  SELECT reach.node, e.v FROM reach JOIN edges e ON reach.r = e.u),
lab AS (SELECT node, MIN(r) AS rep FROM reach GROUP BY node),
csize AS (SELECT rep, COUNT(*) AS n_members FROM lab GROUP BY rep)
SELECT l.node AS doc_id, l.rep AS keep_id, c.n_members,
       l.node = l.rep AS is_kept
FROM lab l JOIN csize c USING (rep)
"""


def dd_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs with exact-Jaccard verification.

    The xxhash64 signatures/buckets are engine-specific, but with
    ``verify="exact"`` the OUTPUT is the exact-Jaccard pair set minus LSH
    misses, and at r=2, b=32, t=0.8 the per-pair miss probability is
    (1−0.64)^32 < 1e-14 — so the DuckDB oracle (exact shingle Jaccard
    over the same planted corpus) matches with near-certainty, turning
    the former rows-only check into a full value-hash oracle."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    near = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.greatest(F.size(toks) - 3, F.lit(1)))
        ).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(near)
    return minhash_lsh_pairs(
        corpus, "doc_id", num_perm=64, bands=32, threshold=0.8, verify="exact"
    )


DD_MINHASH_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents WHERE trim(text) <> ''),
corpus AS (
  SELECT doc_id, t FROM toks
  UNION ALL
  SELECT doc_id + 100000, t[1:greatest(len(t)-3, 1)] AS t FROM toks),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM corpus, UNNEST(range(1, len(t) - 1)) AS u(i)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       CAST(n_common AS DOUBLE)
         / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE)
        / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.8
"""


def dd_minhash_bbit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit MinHash near-dup pairs (operators/dedup.
    bbit_minhash_lsh_pairs, Li & König WWW'10): banding over PACKED
    16-bit lanes — the persisted index stores 128 B/doc instead of
    512 B (4×) with candidate recall ≥ the full-width twin (equal full
    slots imply equal lanes).  bits=16 at r=2 gives 32-bit band
    buckets, so random collisions (n²·bands/2³²) stay negligible at
    corpus scale — the sizing rule in the operator docstring; bits=8 is
    exercised by pytest.  Planted corpus: each doc re-enters with its
    FIRST 3 tokens dropped (ids +300000) — the head-mutation twin of
    dd_minhash_lsh's tail mutation.  Exact-Jaccard verification makes
    the output engine-independent (miss probability < 1e-14 at r=2,
    bands=32, t=0.8), so the DuckDB oracle computes the exact pair set
    directly."""
    from ..operators.dedup import bbit_minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    start = F.least(F.lit(4), F.size(toks))
    mutated = docs.select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, start, F.size(toks) - start + F.lit(1))
        ).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(mutated)
    return bbit_minhash_lsh_pairs(
        corpus, "doc_id", num_perm=64, bands=32, bits=16, threshold=0.8,
        verify="exact",
    )


DD_MINHASH_BBIT_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents WHERE trim(text) <> ''),
corpus AS (
  SELECT doc_id, t FROM toks
  UNION ALL
  SELECT doc_id + 300000, t[least(4, len(t)):len(t)] AS t FROM toks),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM corpus, UNNEST(range(1, len(t) - 1)) AS u(i)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       CAST(n_common AS DOUBLE)
         / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE)
        / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.8
"""


def dd_weighted_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-Jaccard near-dup via Consistent Weighted Sampling
    (operators/weighted_minhash.weighted_minhash_pairs, Ioffe ICDM'10):
    planted corpus re-enters each doc with its first 15% of tokens
    APPENDED (ids +700000) — shingle-count weighted Jaccard ≈ 1/1.15 ≈
    0.87 while SET Jaccard ≈ 1: repetition amplification, the pair
    class the set-MinHash family structurally cannot grade.  CWS gives
    P[sample match] = J_w exactly, so set-LSH banding math transfers
    (miss < 1e-14 at r=2, bands=32, t=0.8) and exact verification makes
    the output engine-independent — the DuckDB oracle computes exact
    shingle-count weighted Jaccard directly."""
    from ..operators.weighted_minhash import weighted_minhash_pairs

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    m = F.greatest(F.floor((F.size(toks) * 3) / 20).cast("int"), F.lit(3))
    mutated = docs.select(
        (F.col("doc_id") + 700000).alias("doc_id"),
        F.concat_ws(" ", F.concat(toks, F.slice(toks, 1, m))).alias("text"),
    )
    # single-file demo table → 2 scan partitions; the CWS operator now
    # spreads its own input (utils.spread, scale-guarded no-op on wide
    # scans), so the hard-coded query-level repartition(32) is gone
    corpus = docs.select("doc_id", "text").unionByName(mutated)
    return weighted_minhash_pairs(
        corpus, "doc_id", n=3, num_hashes=64, bands=32, threshold=0.8,
        verify="exact",
    )


DD_WEIGHTED_MINHASH_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents WHERE trim(text) <> ''),
corpus AS (
  SELECT doc_id, t FROM toks
  UNION ALL
  SELECT doc_id + 700000,
         t || t[1:greatest(CAST(floor((len(t)*3)/20) AS INT), 3)] AS t
  FROM toks),
sh AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM corpus, UNNEST(range(1, len(t) - 1)) AS u(i)),
tf AS (SELECT doc_id, s, COUNT(*) AS w FROM sh GROUP BY 1, 2),
tots AS (SELECT doc_id, SUM(w) AS tot FROM tf GROUP BY 1),
smin AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(LEAST(a.w, b.w)) AS s_min
  FROM tf a JOIN tf b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       CAST(s_min AS DOUBLE)
         / CAST(ta.tot + tb.tot - s_min AS DOUBLE) AS wjaccard
FROM smin
JOIN tots ta ON ta.doc_id = id_a
JOIN tots tb ON tb.doc_id = id_b
WHERE CAST(s_min AS DOUBLE)
        / CAST(ta.tot + tb.tot - s_min AS DOUBLE) >= 0.8
"""


def dd_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistent MinHash/LSH index INGESTION (operators/dedup_index.py)
    — the build shape: construct the signature+band index from the
    document table (bodies never stored), then near-dup a batch of
    planted mutations against it WITHOUT rescanning the corpus (the
    stored band table map-side hash-joins the broadcast batch keys).
    This row deliberately re-pays the one-time build every rep — it
    benches ingestion; steady-state query latency is the separate
    ``dd_index_probe`` row against a session-cached index.
    Matches are exact-Jaccard verified against the source-of-truth
    table, so the output is engine-independent (= exact cross-pair set
    minus LSH misses; at r=2, b=32, t=0.8 the per-pair miss probability
    is < 1e-14) and the DuckDB oracle computes it directly."""
    import atexit
    import hashlib
    import os
    import shutil
    import tempfile

    from ..operators.dedup_index import (
        build_minhash_index,
        dedup_against_minhash_index,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    batch = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.greatest(F.size(toks) - 3, F.lit(1)))
        ).alias("text"),
    )
    # deterministic per-(process, sf_dir) path, overwritten on every
    # invocation and removed at interpreter exit: bench reps and
    # correctness runs reuse ONE directory instead of leaking a full
    # signature+band index per rep (mkdtemp leaked ~8 copies/bench)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = os.path.join(
        tempfile.gettempdir(), f"dslicer_mhidx_{os.getpid()}_{tag}"
    )
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    build_minhash_index(docs, path, "doc_id", num_perm=64, bands=32)
    _surv, matches = dedup_against_minhash_index(
        batch, path, "doc_id", threshold=0.8,
        append_survivors=False, exact_verify_with=docs,
    )
    return matches.select(
        F.col("index_id").alias("id_a"),
        F.col("new_id").alias("id_b"),
        "jaccard",
    )


DD_INDEX_INCREMENTAL_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents WHERE trim(text) <> ''),
corpus AS (
  SELECT doc_id, t FROM toks
  UNION ALL
  SELECT doc_id + 100000, t[1:greatest(len(t)-3, 1)] AS t FROM toks),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM corpus, UNNEST(range(1, len(t) - 1)) AS u(i)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s
  WHERE a.doc_id < 100000 AND b.doc_id >= 100000
  GROUP BY 1, 2)
SELECT id_a, id_b,
       CAST(n_common AS DOUBLE)
         / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE)
        / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.8
"""


def _session_index_path(kind: str, sf_dir: str) -> str:
    """Deterministic per-(process, sf_dir) path for a probe-only
    persistent index — built at most once per session and removed at
    interpreter exit.  Separate from the ``*_incremental``/``*_search``
    build rows' paths, so the ingestion-shaped queries (which rebuild
    every invocation — that IS what they measure) never interfere with
    the probe rows' cached index."""
    import atexit
    import hashlib
    import os
    import shutil
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = os.path.join(
        tempfile.gettempdir(), f"dslicer_{kind}_probe_{os.getpid()}_{tag}"
    )
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def dd_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-only twin of ``dd_index_incremental``: near-dup an
    incoming batch (mutations of every 16th document — a batch SMALL
    relative to the index, the steady-state serving shape) against a
    PRE-BUILT session-cached MinHash index — pure query-time latency,
    separated from the one-time build/ingest cost that
    ``dd_index_incremental`` measures (bench reps after the first reuse
    the on-disk index; the reported plateau-min is probe-only)."""
    import os

    from ..operators.dedup_index import (
        build_minhash_index,
        dedup_against_minhash_index,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    batch = docs.filter(F.col("doc_id") % 16 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.greatest(F.size(toks) - 3, F.lit(1)))
        ).alias("text"),
    )
    path = _session_index_path("mhidx", sf_dir)
    if not os.path.exists(os.path.join(path, "meta")):
        build_minhash_index(docs, path, "doc_id", num_perm=64, bands=32)
    _surv, matches = dedup_against_minhash_index(
        batch, path, "doc_id", threshold=0.8,
        append_survivors=False, exact_verify_with=docs,
    )
    return matches.select(
        F.col("index_id").alias("id_a"),
        F.col("new_id").alias("id_b"),
        "jaccard",
    )


DD_INDEX_PROBE_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents WHERE trim(text) <> ''),
corpus AS (
  SELECT doc_id, t FROM toks
  UNION ALL
  SELECT doc_id + 100000, t[1:greatest(len(t)-3, 1)] AS t FROM toks
  WHERE doc_id % 16 = 0),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM corpus, UNNEST(range(1, len(t) - 1)) AS u(i)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s
  WHERE a.doc_id < 100000 AND b.doc_id >= 100000
  GROUP BY 1, 2)
SELECT id_a, id_b,
       CAST(n_common AS DOUBLE)
         / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE)
        / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.8
"""


def dd_index_bbit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistent MinHash index in b-bit storage mode (Li & König
    WWW'10; ``dedup_index.build_minhash_index(bits=16)``): same
    build-then-probe ingestion shape as ``dd_index_incremental``, but
    the persisted signature table stores 16-bit packed lanes — 4× fewer
    on-disk signature bytes, the index's dominant storage cost at
    corpus scale.  bits=16 at r=2 keeps 32-bit band buckets, so random
    collisions stay ≈ n²·bands/2³² (the sizing rule
    ``r·bits ≥ log2(n_docs)+10``).  Equal full-width slots imply equal
    lanes, so the candidate set is a superset of full-width banding and
    the exact-Jaccard verification makes the output engine-independent
    — the DuckDB oracle computes the exact cross-pair set directly."""
    import atexit
    import hashlib
    import os
    import shutil
    import tempfile

    from ..operators.dedup_index import (
        build_minhash_index,
        dedup_against_minhash_index,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    batch = docs.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(1)))
        ).alias("text"),
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = os.path.join(
        tempfile.gettempdir(), f"dslicer_bbidx_{os.getpid()}_{tag}"
    )
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    build_minhash_index(
        docs, path, "doc_id", num_perm=64, bands=32, bits=16
    )
    _surv, matches = dedup_against_minhash_index(
        batch, path, "doc_id", threshold=0.8,
        append_survivors=False, exact_verify_with=docs,
    )
    return matches.select(
        F.col("index_id").alias("id_a"),
        F.col("new_id").alias("id_b"),
        "jaccard",
    )


DD_INDEX_BBIT_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents WHERE trim(text) <> ''),
corpus AS (
  SELECT doc_id, t FROM toks
  UNION ALL
  SELECT doc_id + 100000, t[1:greatest(len(t)-2, 1)] AS t FROM toks
  WHERE doc_id % 4 = 0),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM corpus, UNNEST(range(1, len(t) - 1)) AS u(i)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s
  WHERE a.doc_id < 100000 AND b.doc_id >= 100000
  GROUP BY 1, 2)
SELECT id_a, id_b,
       CAST(n_common AS DOUBLE)
         / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE)
        / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.8
"""


def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-≤k pairs over the near-dup corpus.

    ``hash_mode='md5'`` makes the 60-bit shingle hashes (first 15 hex
    chars of md5) — and therefore the fingerprints, the pigeonhole
    buckets, AND the surviving pair set — bit-identical across engines,
    so the DuckDB oracle replays the entire pipeline in SQL."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    near = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(1)))
        ).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(near)
    # max_hamming=3 → 4 chunks of 16 bits: 64k bucket values keep the
    # candidate join sparse (6-bit-wide chunks at max_hamming=6 put ~100
    # docs per bucket → tens of millions of candidate pairs)
    return simhash_pairs(corpus, "doc_id", n=2, max_hamming=3, hash_mode="md5")


DD_SIMHASH_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents WHERE trim(text) <> ''),
corpus AS (
  SELECT doc_id, t FROM toks
  UNION ALL
  SELECT doc_id + 100000, t[1:greatest(len(t)-2, 1)] AS t FROM toks),
sh AS (  -- word bigrams, duplicates kept (majority vote is weighted)
  SELECT doc_id, t[i] || ' ' || t[i+1] AS s
  FROM corpus, UNNEST(range(1, len(t))) AS u(i)),
hs AS (  -- 60-bit hash: first 15 hex chars of md5, as in simhash64('md5')
  SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM sh),
bitsum AS (
  SELECT doc_id, i, SUM((h >> i) & 1) AS n1, COUNT(*) AS n
  FROM hs, UNNEST(range(0, 60)) AS u(i)
  GROUP BY doc_id, i),
fp AS (  -- strict majority per bit, matching the numpy kernel
  SELECT doc_id,
         CAST(SUM(CASE WHEN 2*n1 > n THEN (CAST(1 AS BIGINT) << i)
                       ELSE 0 END) AS BIGINT) AS f
  FROM bitsum GROUP BY doc_id),
ch AS (
  SELECT doc_id, f, c, (f >> CAST(c*16 AS INTEGER)) & 65535 AS val
  FROM fp, UNNEST(range(0, 4)) AS u(c)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.f AS fa, b.f AS fb
  FROM ch a JOIN ch b ON a.c = b.c AND a.val = b.val AND a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(fa, fb)) <= 3
"""


def dd_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via multi-table sign-LSH
    (explicitly pinned at 4 bits × 8 tables, seed 42 — the static DuckDB
    oracle bakes in these plane literals) + exact fixed-point re-rank.
    The planes are seeded literals, so the DuckDB oracle replays the
    identical buckets → the probabilistic candidate set is bit-identical
    cross-engine.  Production callers leave ``n_planes=None`` and get
    the corpus-size-derived width (``derive_n_planes``) instead."""
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup(emb, threshold=0.35, n_planes=4, dim=64)


def _lsh_planes_values(dim: int, n_planes: int, n_tables: int, seed: int) -> str:
    """(table, bit, plane) VALUES rows matching _lsh_candidate_pairs'
    seeded hyperplanes; %.17e literals parse as exact DOUBLEs (decimal
    literals would go through DECIMAL and lose ulps)."""
    from ..operators.similarity import _hyperplanes

    rows = []
    for t in range(n_tables):
        for i, plane in enumerate(_hyperplanes(dim, n_planes, seed + t)):
            lit = "[" + ", ".join(f"{x:.17e}" for x in plane) + "]"
            rows.append(f"({t}, {i}, {lit})")
    return ",\n".join(rows)


DD_EMBEDDING_COSINE_SQL = f"""
WITH vecs AS (
  SELECT vec_id, embedding,
         sqrt({_sql_fp_dot('embedding', 'embedding')}) AS norm
  FROM embeddings),
buckets AS (
  SELECT v.vec_id, p.t,
         CAST(SUM(CASE WHEN ({_sql_fp_dot('v.embedding', 'p.plane')}) >= 0
                  THEN 1 << p.bit ELSE 0 END) AS BIGINT) AS bucket
  FROM vecs v CROSS JOIN (VALUES
{_lsh_planes_values(64, 4, 8, 42)}) p(t, bit, plane)
  GROUP BY 1, 2),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM buckets a
  JOIN buckets b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
SELECT c.id_a, c.id_b,
       ({_sql_fp_dot('va.embedding', 'vb.embedding')}) / (va.norm * vb.norm)
         AS cosine
FROM cand c
JOIN vecs va ON va.vec_id = c.id_a
JOIN vecs vb ON vb.vec_id = c.id_b
WHERE cosine >= 0.35
"""


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified retrieval (operators/similarity.mmr_rerank,
    Carbonell & Goldstein SIGIR'98): integer-dot top-20 candidates per
    query (vec_id % 100 == 1 rows are the query set), then the greedy
    rerank picks 5 with score = 7·rel − 3·max-dot-to-selected.  Every
    quantity is an exact int64 (once-quantized floor(x·2¹²) vectors →
    |dot| ≤ 2³², inside DuckDB's exact-double window), so the ENTIRE
    greedy trajectory replays as unrolled chained CTEs — selection
    order, winning scores and all."""
    from ..operators.similarity import integer_dot_topn, mmr_rerank

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 100 == 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cand = integer_dot_topn(emb, qs, n=20, fp_bits=12)
    cand_v = cand.join(emb.select("vec_id", "embedding"), "vec_id")
    return mmr_rerank(
        cand_v, k=5, lam_num=7, lam_den=3, fp_bits=12
    ).select("query_id", "pick", "vec_id", "rel_q", "score_q")


def _sql_mmr_chain(k: int = 5, n: int = 20, lam_num: int = 7,
                   lam_den: int = 3, qid_res: int = 1,
                   cand_by: str = "rel") -> str:
    """Unrolled greedy-MMR oracle: sel_i CTEs replay the selection round
    by round — maxdot to the selected set via the pair-dot relation,
    argmax with (score desc, id asc) ties, NOT EXISTS to drop already
    selected.  Same generated-chain style as the k-means/BPE trajectory
    oracles.

    ``cand_by`` selects the candidate stage: ``"rel"`` = top-n by the
    integer dot itself (the :func:`sim_mmr_rerank` pipeline, self
    included like integer_dot_topn); ``"cosine"`` = top-n by the
    fixed-point cosine EXCLUDING self — exactly what the full-probe IVF
    stage (n_probe = n_lists) provably returns, making this the exact
    oracle for :func:`sim_mmr_ivf`.  The greedy replay is identical in
    both: rel_q is always the integer dot."""
    if cand_by == "rel":
        cand_head = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE)*4096.0) AS BIGINT))
           AS v
  FROM embeddings WHERE embedding IS NOT NULL),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = {qid_res}),
rel AS (
  SELECT qid, e.vec_id AS did,
         CAST(list_inner_product(qv, e.v) AS BIGINT) AS rel_q, e.v AS dv
  FROM q, e),
cand AS (
  SELECT qid, did, rel_q, dv FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
                                 ORDER BY rel_q DESC, did) AS rn
    FROM rel) WHERE rn <= {n}),"""
    else:
        cand_head = f"""
WITH e AS (
  SELECT vec_id, embedding,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE)*4096.0) AS BIGINT))
           AS v,
         sqrt({_sql_fp_dot('embedding', 'embedding')}) AS norm
  FROM embeddings WHERE embedding IS NOT NULL),
q AS (SELECT vec_id AS qid, embedding AS qe, v AS qv, norm AS qn
      FROM e WHERE vec_id % 100 = {qid_res}),
rel AS (
  SELECT qid, c.vec_id AS did,
         ({_sql_fp_dot('c.embedding', 'q.qe')}) / (c.norm * q.qn)
           AS cosine,
         CAST(list_inner_product(q.qv, c.v) AS BIGINT) AS rel_q, c.v AS dv
  FROM e c JOIN q ON c.vec_id <> q.qid),
cand AS (
  SELECT qid, did, rel_q, dv FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
                                 ORDER BY cosine DESC, did) AS rn
    FROM rel) WHERE rn <= {n}),"""
    head = cand_head + f"""
pdot AS (
  SELECT a.qid, a.did AS ia, b.did AS ib,
         CAST(list_inner_product(a.dv, b.dv) AS BIGINT) AS dot
  FROM cand a JOIN cand b ON a.qid = b.qid),
sel1 AS (
  SELECT qid, did, rel_q, {lam_num}*rel_q AS score_q FROM (
    SELECT qid, did, rel_q,
           row_number() OVER (PARTITION BY qid
                              ORDER BY {lam_num}*rel_q DESC, did) AS rn
    FROM cand) WHERE rn = 1),
selall1 AS (SELECT qid, did FROM sel1)"""
    parts = [head]
    for i in range(2, k + 1):
        parts.append(f""",
m{i} AS (
  SELECT c.qid, c.did, c.rel_q, MAX(p.dot) AS maxdot
  FROM cand c
  JOIN pdot p ON p.qid = c.qid AND p.ia = c.did
  JOIN selall{i-1} s ON s.qid = p.qid AND s.did = p.ib
  WHERE NOT EXISTS (SELECT 1 FROM selall{i-1} x
                    WHERE x.qid = c.qid AND x.did = c.did)
  GROUP BY 1, 2, 3),
sel{i} AS (
  SELECT qid, did, rel_q, score_q FROM (
    SELECT qid, did, rel_q,
           {lam_num}*rel_q - {lam_den}*maxdot AS score_q,
           row_number() OVER (
             PARTITION BY qid
             ORDER BY {lam_num}*rel_q - {lam_den}*maxdot DESC, did) AS rn
    FROM m{i}) WHERE rn = 1),
selall{i} AS (SELECT qid, did FROM selall{i-1}
              UNION ALL SELECT qid, did FROM sel{i})""")
    unions = "\nUNION ALL\n".join(
        f"SELECT qid AS query_id, {i} AS pick, did AS vec_id, rel_q, score_q "
        f"FROM sel{i}" for i in range(1, k + 1)
    )
    return "".join(parts) + "\n" + unions


SIM_MMR_RERANK_SQL = _sql_mmr_chain(k=5, n=20, lam_num=7, lam_den=3)


def sim_mmr_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified rerank fed from the IVF ANN probe path
    (operators/similarity.ivf_topk → mmr_rerank): the bounded-candidates
    contract proven end-to-end from an ANN stage — the IVF probe returns
    ≤20 candidates per query, the greedy O(N²) pair-dot matrix stays
    local to one applyInPandas group, and nothing beyond candidate rows
    shuffles.  With ``n_probe = n_lists`` the probe provably equals the
    brute-force fixed-point-cosine top-20 (same argument as
    sim_topk_ivf), so the candidate stage carries an exact SQL twin and
    the ENTIRE pipeline — probe, integer relevance, greedy trajectory —
    hash-checks against the unrolled-CTE oracle.  Pruned probing
    (n_probe < n_lists) is covered by the recall pytest."""
    from ..operators.similarity import ivf_topk, mmr_rerank

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 100 == 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cand = ivf_topk(emb, qs, k=20, n_lists=16, n_probe=16)
    cand_v = cand.select("query_id", "vec_id").join(
        emb.select("vec_id", "embedding"), "vec_id"
    )
    # integer relevance for the rerank stage: once-quantized
    # floor(x·2¹²) int64 dot of (query, candidate) — same recipe as
    # integer_dot_topn, attached via a broadcast join (queries are the
    # small side by contract)
    scale = float(1 << 12)
    quant = lambda c: F.transform(  # noqa: E731
        c, lambda x: F.floor(x.cast("double") * F.lit(scale)).cast("long")
    )
    qv = qs.select(
        F.col("query_id").alias("__qid"), quant(F.col("embedding")).alias("__qq")
    )
    cand_rel = (
        cand_v.join(F.broadcast(qv), F.col("query_id") == F.col("__qid"))
        .withColumn(
            "rel_q",
            F.aggregate(
                F.zip_with(
                    quant(F.col("embedding")), F.col("__qq"),
                    lambda a, b: a * b,
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ),
        )
        .select("query_id", "vec_id", "rel_q", "embedding")
    )
    return mmr_rerank(
        cand_rel, k=5, lam_num=7, lam_den=3, fp_bits=12
    ).select("query_id", "pick", "vec_id", "rel_q", "score_q")


SIM_MMR_IVF_SQL = _sql_mmr_chain(
    k=5, n=20, lam_num=7, lam_den=3, qid_res=3, cand_by="cosine"
)


def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for the first 10 vectors."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(emb, queries, k=5)


SIM_TOPK_SQL = f"""
SELECT query_id, rank, vec_id, cosine FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         ({_sql_fp_dot('c.embedding', 'q.embedding')})
           / (sqrt({_sql_fp_dot('c.embedding', 'c.embedding')})
              * sqrt({_sql_fp_dot('q.embedding', 'q.embedding')})) AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY ({_sql_fp_dot('c.embedding', 'q.embedding')})
             / (sqrt({_sql_fp_dot('c.embedding', 'c.embedding')})
                * sqrt({_sql_fp_dot('q.embedding', 'q.embedding')})) DESC,
             c.vec_id ASC) AS rank
  FROM embeddings c
  JOIN (SELECT * FROM embeddings WHERE vec_id < 10) q
    ON c.vec_id <> q.vec_id)
WHERE rank <= 5
"""


def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k driven end-to-end (k-means index build, list assignment,
    probed-list collect, exact re-rank) with ``n_probe = n_lists``: probing
    every list removes only the approximation, so the result provably
    equals brute-force top-k and the brute-force SQL is a full oracle for
    the whole IVF machinery.  Pruned probing (n_probe < n_lists) is
    covered by recall pytests and the partition-pruning plan audit."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, queries, k=5, n_lists=16, n_probe=16)


def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-k.  The sign buckets come from
    seeded plane literals, so the DuckDB oracle replays bucketing,
    multi-probe, and re-rank exactly — full value-hash check despite the
    approximate candidate set."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return hyperplane_lsh_topk(emb, queries, k=5, n_planes=8, multiprobe_bits=1)


SIM_TOPK_LSH_SQL = f"""
WITH vecs AS (
  SELECT vec_id, embedding,
         sqrt({_sql_fp_dot('embedding', 'embedding')}) AS norm
  FROM embeddings),
buckets AS (
  SELECT v.vec_id,
         CAST(SUM(CASE WHEN ({_sql_fp_dot('v.embedding', 'p.plane')}) >= 0
                  THEN 1 << p.bit ELSE 0 END) AS BIGINT) AS bucket
  FROM vecs v CROSS JOIN (VALUES
{_lsh_planes_values(64, 8, 1, 42)}) p(t, bit, plane)
  GROUP BY 1),
qprobe AS (
  SELECT b.vec_id AS query_id,
         CASE WHEN u.i = 8 THEN b.bucket
              ELSE xor(b.bucket, CAST(1 << u.i AS BIGINT)) END AS bucket
  FROM buckets b, UNNEST(range(0, 9)) AS u(i)
  WHERE b.vec_id < 10),
cand AS (
  SELECT DISTINCT p.query_id, cb.vec_id
  FROM qprobe p
  JOIN buckets cb ON cb.bucket = p.bucket AND cb.vec_id <> p.query_id),
scored AS (
  SELECT c.query_id, c.vec_id,
         ({_sql_fp_dot('cv.embedding', 'qv.embedding')})
           / (cv.norm * qv.norm) AS cosine
  FROM cand c
  JOIN vecs cv ON cv.vec_id = c.vec_id
  JOIN vecs qv ON qv.vec_id = c.query_id)
SELECT query_id, rank, vec_id, cosine FROM (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored)
WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# event-time windows (batch; streaming twin in streaming/events.py)
# ---------------------------------------------------------------------------

def ev_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_events(spark, sf_dir)
    return tumbling_window_stats(events, "1 hour")


EV_TUMBLING_SQL = """
SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * CAST(1048576.0 AS DOUBLE)) AS BIGINT))
            AS DOUBLE) / CAST(1048576.0 AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


def ev_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window trending top-3 event types (streaming/events.
    trending_topk): counts shuffle once with map-side combine; the
    ranking window runs over per-window COUNTS, not events."""
    from ..streaming.events import load_events, trending_topk

    return trending_topk(load_events(spark, sf_dir), "1 hour", k=3)


EV_TRENDING_SQL = """
SELECT window_start, rank, event_type, n_events FROM (
  SELECT window_start, event_type, n_events,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY window_start
           ORDER BY n_events DESC, event_type ASC) AS INTEGER) AS rank
  FROM (
    SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP)))
             AS window_start,
           event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2))
WHERE rank <= 3
"""


def ev_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h windows every 15min — each event lands in 4 windows."""
    events = load_events(spark, sf_dir)
    return sliding_window_stats(events, width="1 hour", slide="15 minutes")


EV_SLIDING_SQL = """
SELECT epoch_us(win_start) AS window_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * CAST(1048576.0 AS DOUBLE)) AS BIGINT))
            AS DOUBLE) / CAST(1048576.0 AS DOUBLE) AS sum_value
FROM (
  SELECT time_bucket(INTERVAL 15 MINUTE, CAST(ts AS TIMESTAMP))
           - TO_MINUTES(15 * i) AS win_start,
         event_type, value
  FROM events, UNNEST(range(0, 4)) AS u(i))
GROUP BY 1, 2
"""


def ev_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click matched to the user's most recent prior (or
    simultaneous) purchase.  Right side pre-deduplicated per (user, ts)
    so both engines resolve timestamp ties identically."""
    events = load_events(spark, sf_dir)
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = largest_wins(
        events.filter(F.col("event_type") == "purchase").select(
            "user_id",
            "ts",
            F.col("value").alias("purchase_value"),
            F.col("event_id").alias("purchase_event"),
        ),
        ["user_id", "ts"],
        "purchase_event",
    )
    out = asof_join(
        clicks,
        purchases,
        ts_col="ts",
        by_cols=["user_id"],
        value_cols=["purchase_value", "purchase_event"],
    )
    return out.select(
        "event_id",
        "user_id",
        _epoch_us(F.col("ts")).alias("ts_us"),
        _epoch_us(F.col("matched_ts")).alias("matched_ts"),
        "purchase_value",
        "purchase_event",
    )


EV_ASOF_SQL = """
WITH l AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'click'),
r0 AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS rts, value AS purchase_value,
         event_id AS purchase_event,
         ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS TIMESTAMP)
                            ORDER BY event_id DESC) AS rn
  FROM events WHERE event_type = 'purchase'),
r AS (SELECT user_id, rts, purchase_value, purchase_event FROM r0 WHERE rn = 1)
SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
       epoch_us(r.rts) AS matched_ts, r.purchase_value, r.purchase_event
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.rts
"""


def ev_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly forward-filled resample of each user's purchase value —
    time grid + as-of join composition (operators/resample.py).  Exact:
    integer epoch-microsecond grid, tie-deduped observations."""
    from ..operators.resample import resample_ffill

    events = load_events(spark, sf_dir)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        _epoch_us(F.col("ts")).alias("ts_us"),
        F.col("value").alias("obs_value"),
        "event_id",
    )
    deduped = largest_wins(purchases, ["user_id", "ts_us"], "event_id")
    out = resample_ffill(
        deduped, "ts_us", ["user_id"], ["obs_value"], step_us=3_600_000_000
    )
    return out.select("user_id", "grid_ts", "obs_ts", "obs_value")


EV_RESAMPLE_SQL = """
WITH obs0 AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(CAST(ts AS TIMESTAMP))
                            ORDER BY event_id DESC) AS rn
  FROM events WHERE event_type = 'purchase'),
obs AS (SELECT user_id, ts_us, value AS obs_value FROM obs0 WHERE rn = 1),
spans AS (
  SELECT user_id,
         MIN(ts_us) - (((MIN(ts_us) % 3600000000) + 3600000000)
                       % 3600000000) AS lo,
         MAX(ts_us) - (((MAX(ts_us) % 3600000000) + 3600000000)
                       % 3600000000) AS hi
  FROM obs GROUP BY user_id),
grid AS (
  SELECT user_id, g.grid_ts
  FROM spans, LATERAL (SELECT UNNEST(generate_series(lo, hi, 3600000000))
                       AS grid_ts) g)
SELECT grid.user_id, grid.grid_ts, obs.ts_us AS obs_ts, obs.obs_value
FROM grid ASOF LEFT JOIN obs
  ON grid.user_id = obs.user_id AND grid.grid_ts >= obs.ts_us
"""


def ev_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history of each user's event_type from the event log
    (operators/scd.py): one row per run of equal consecutive types, with
    validity interval."""
    from ..operators.scd import scd2_history

    events = load_events(spark, sf_dir).select(
        "user_id",
        _epoch_us(F.col("ts")).alias("ts_us"),
        "event_type",
        "event_id",
    )
    out = scd2_history(
        events, ["user_id"], "ts_us", ["event_type"], tiebreak_col="event_id"
    )
    return out.select("user_id", "event_type", "valid_from", "valid_to")


EV_SCD2_SQL = """
WITH log AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type, event_id
  FROM events),
flagged AS (
  SELECT *,
         LAG(ts_us) OVER w IS NULL
           OR event_type IS DISTINCT FROM LAG(event_type) OVER w AS new_version
  FROM log
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
vers AS (SELECT user_id, event_type, ts_us, event_id FROM flagged WHERE new_version)
SELECT user_id, event_type, ts_us AS valid_from,
       LEAD(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS valid_to
FROM vers
"""


def ev_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_events(spark, sf_dir)
    return session_stats(events, gap="30 minutes")


EV_SESSION_SQL = """
SELECT user_id,
       epoch_us(MIN(ts_us)) AS session_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * CAST(1048576.0 AS DOUBLE)) AS BIGINT))
            AS DOUBLE) / CAST(1048576.0 AS DOUBLE) AS sum_value
FROM (
  SELECT *, SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts_us, event_id
           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM (
    SELECT user_id, event_id, value, ts_us,
           CASE WHEN prev_ts IS NULL
                     OR ts_us - prev_ts >= INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_session
    FROM (
      SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts_us,
             LAG(CAST(ts AS TIMESTAMP)) OVER (
               PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
               AS prev_ts
      FROM events)))
GROUP BY user_id, session_id
"""


def ev_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour rolling count/sum/max of each user's purchase
    values — native RANGE window over integer epoch-µs (one key shuffle,
    no time-range self-join fanout; operators/timeseries.py)."""
    from ..operators.timeseries import rolling_window_stats

    events = load_events(spark, sf_dir)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", _epoch_us(F.col("ts")).alias("ts_us"), "value"
    )
    out = rolling_window_stats(
        purchases, "ts_us", ["user_id"], "value", width_us=3_600_000_000
    )
    return out.select(
        "event_id", "user_id", "ts_us", "roll_n", "roll_sum", "roll_max"
    )


EV_ROLLING_SQL = """
SELECT event_id, user_id, ts_us,
       COUNT(*) OVER w AS roll_n,
       CAST(SUM(CAST(FLOOR(value * CAST(1048576.0 AS DOUBLE)) AS BIGINT))
            OVER w AS DOUBLE) / CAST(1048576.0 AS DOUBLE) AS roll_sum,
       MAX(value) OVER w AS roll_max
FROM (
  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
  FROM events WHERE event_type = 'purchase')
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


def ev_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-statistics anomaly detection: events whose value deviates
    >2σ from the user's trailing-7-day mean (window of ≥5 events).
    Pure composition of rolling_window_stats — one key shuffle; the
    fixed-point moment sums make mean/σ bit-identical across engines."""
    from ..operators.timeseries import rolling_window_stats

    events = load_events(spark, sf_dir)
    base = events.select(
        "event_id", "user_id", _epoch_us(F.col("ts")).alias("ts_us"), "value"
    )
    out = rolling_window_stats(
        base, "ts_us", ["user_id"], "value", width_us=7 * 86_400_000_000
    )
    return out.filter(
        (F.col("roll_n") >= 5)
        & (F.abs(F.col("value") - F.col("roll_mean")) > 2 * F.col("roll_std"))
    ).select("user_id", "event_id", "ts_us", "value", "roll_mean", "roll_std")


EV_ANOMALY_SQL = """
SELECT user_id, event_id, ts_us, value, roll_mean, roll_std
FROM (
  SELECT user_id, event_id, ts_us, value, roll_n,
         s1 / roll_n AS roll_mean,
         SQRT(GREATEST(s2 / roll_n - (s1 / roll_n) * (s1 / roll_n), 0.0))
           AS roll_std
  FROM (
    SELECT user_id, event_id, ts_us, value,
           COUNT(*) OVER w AS roll_n,
           CAST(SUM(CAST(FLOOR(value * CAST(1048576.0 AS DOUBLE)) AS BIGINT))
                OVER w AS DOUBLE) / CAST(1048576.0 AS DOUBLE) AS s1,
           CAST(SUM(CAST(FLOOR(value * value * CAST(16384.0 AS DOUBLE))
                         AS BIGINT))
                OVER w AS DOUBLE) / CAST(16384.0 AS DOUBLE) AS s2
    FROM (
      SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             value
      FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                 RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)))
WHERE roll_n >= 5 AND ABS(value - roll_mean) > 2 * roll_std
"""


def ev_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase within 7 days of the first
    view (operators/timeseries.py: chained window minima over one
    exchange)."""
    from ..operators.timeseries import funnel_conversion

    events = load_events(spark, sf_dir).select(
        "user_id", _epoch_us(F.col("ts")).alias("ts_us"), "event_type"
    )
    return funnel_conversion(
        events,
        steps=["view", "click", "purchase"],
        ts_us_col="ts_us",
        user_col="user_id",
        type_col="event_type",
        horizon_us=7 * 86_400_000_000,
    )


EV_FUNNEL_SQL = """
WITH base AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type
  FROM events),
w1 AS (
  SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts_us END)
              OVER (PARTITION BY user_id) AS t1 FROM base),
w2 AS (
  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts_us >= t1 THEN ts_us END)
              OVER (PARTITION BY user_id) AS t2 FROM w1),
w3 AS (
  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts_us >= t2 THEN ts_us END)
              OVER (PARTITION BY user_id) AS t3 FROM w2),
u AS (
  SELECT user_id, MAX(t1) AS t1, MAX(t2) AS t2, MAX(t3) AS t3
  FROM w3 GROUP BY user_id),
c AS (
  SELECT
    COUNT(CASE WHEN t1 IS NOT NULL THEN 1 END) AS n1,
    COUNT(CASE WHEN t2 IS NOT NULL AND t2 - t1 <= 604800000000 THEN 1 END) AS n2,
    COUNT(CASE WHEN t3 IS NOT NULL AND t3 - t1 <= 604800000000 THEN 1 END) AS n3
  FROM u)
SELECT CAST(1 AS INT) AS step_index, 'view' AS step, n1 AS n_users FROM c
UNION ALL
SELECT CAST(2 AS INT), 'click', n2 FROM c
UNION ALL
SELECT CAST(3 AS INT), 'purchase', n3 FROM c
"""


def ev_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: distinct active users per (first-seen
    week, week offset) — two high-cardinality shuffles
    (operators/timeseries.py)."""
    from ..operators.timeseries import retention_cohorts

    events = load_events(spark, sf_dir).select(
        "user_id", _epoch_us(F.col("ts")).alias("ts_us")
    )
    return retention_cohorts(
        events, "ts_us", "user_id", period_us=7 * 86_400_000_000
    )


EV_RETENTION_SQL = """
WITH base AS (
  SELECT user_id,
         epoch_us(CAST(ts AS TIMESTAMP))
           - (((epoch_us(CAST(ts AS TIMESTAMP)) % 604800000000)
               + 604800000000) % 604800000000) AS bucket
  FROM events),
c AS (
  SELECT user_id, bucket,
         MIN(bucket) OVER (PARTITION BY user_id) AS cohort
  FROM base)
SELECT cohort AS cohort_start,
       CAST((bucket - cohort) / 604800000000 AS BIGINT) AS period_offset,
       COUNT(DISTINCT user_id) AS n_users
FROM c GROUP BY 1, 2
"""


def ev_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly linear-interpolation resample of each user's purchase value
    (np.interp semantics, edge-clamped) — union + one window sort per
    key resolves both endpoints (operators/timeseries.py)."""
    from ..operators.timeseries import interpolate_linear

    events = load_events(spark, sf_dir)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        _epoch_us(F.col("ts")).alias("ts_us"),
        F.col("value").alias("obs_value"),
        "event_id",
    )
    deduped = largest_wins(purchases, ["user_id", "ts_us"], "event_id").select(
        "user_id", "ts_us", "obs_value"
    )
    return interpolate_linear(
        deduped, "ts_us", ["user_id"], "obs_value", step_us=3_600_000_000
    )


EV_INTERPOLATE_SQL = """
WITH obs0 AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(CAST(ts AS TIMESTAMP))
                            ORDER BY event_id DESC) AS rn
  FROM events WHERE event_type = 'purchase'),
obs AS (SELECT user_id, ts_us, value AS obs_value FROM obs0 WHERE rn = 1),
spans AS (
  SELECT user_id,
         MIN(ts_us) - (((MIN(ts_us) % 3600000000) + 3600000000)
                       % 3600000000) AS lo,
         MAX(ts_us) - (((MAX(ts_us) % 3600000000) + 3600000000)
                       % 3600000000) AS hi
  FROM obs GROUP BY user_id),
grid AS (
  SELECT user_id, g.grid_ts
  FROM spans, LATERAL (SELECT UNNEST(generate_series(lo, hi, 3600000000))
                       AS grid_ts) g),
u AS (
  SELECT user_id, ts_us AS t, 0 AS side, ts_us AS ots,
         CAST(obs_value AS DOUBLE) AS oval
  FROM obs
  UNION ALL
  SELECT user_id, grid_ts, 1, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
  FROM grid),
ann AS (
  SELECT user_id, t, side,
         LAST_VALUE(ots IGNORE NULLS) OVER wb AS pts,
         LAST_VALUE(oval IGNORE NULLS) OVER wb AS pval,
         FIRST_VALUE(ots IGNORE NULLS) OVER wf AS nts,
         FIRST_VALUE(oval IGNORE NULLS) OVER wf AS nval
  FROM u
  WINDOW wb AS (PARTITION BY user_id ORDER BY t, side
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY t, side
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
SELECT user_id, t AS grid_ts,
       CASE WHEN pts = t THEN pval
            WHEN pts IS NOT NULL AND nts IS NOT NULL
              THEN pval + (nval - pval)
                   * (CAST(t - pts AS DOUBLE) / CAST(nts - pts AS DOUBLE))
            WHEN pts IS NOT NULL THEN pval
            ELSE nval END AS obs_value_interp
FROM ann WHERE side = 1
"""


def ev_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic range join (operators/joins.interval_join): each error
    event matched to the session interval it falls into — bucketed
    big×big point-in-interval join (hash equi-join on (user, bucket) +
    residual range filter; a naive inequality join would plan as a
    nested loop)."""
    from ..operators.joins import interval_join
    from ..operators.timeseries import sessionize

    events = load_events(spark, sf_dir).select(
        "user_id", _epoch_us(F.col("ts")).alias("ts_us"),
        "event_id", "event_type",
    )
    labeled = sessionize(
        events, "ts_us", "user_id", gap_us=1_800_000_000,
        tiebreak_col="event_id",
    )
    sessions = labeled.groupBy("user_id", "session_seq").agg(
        F.min("ts_us").alias("s_lo"), F.max("ts_us").alias("s_hi")
    )
    errors = events.filter(F.col("event_type") == "error").select(
        "user_id", "ts_us", "event_id"
    )
    out = interval_join(
        errors, sessions, "ts_us", "s_lo", "s_hi",
        by_cols=["user_id"], bucket_width=1_800_000_000,
    )
    return out.select(
        "user_id", "event_id", "ts_us", "session_seq", "s_lo", "s_hi"
    )


EV_INTERVAL_JOIN_SQL = """
WITH base AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
         event_id, event_type
  FROM events),
labeled AS (
  SELECT user_id, ts_us,
         CAST(SUM(new_sess) OVER (
           PARTITION BY user_id ORDER BY ts_us, event_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM (
    SELECT user_id, event_id, ts_us,
           CASE WHEN prev_ts IS NULL OR ts_us - prev_ts >= 1800000000
                THEN 1 ELSE 0 END AS new_sess
    FROM (
      SELECT user_id, event_id, ts_us,
             LAG(ts_us) OVER (PARTITION BY user_id
                              ORDER BY ts_us, event_id) AS prev_ts
      FROM base))),
sessions AS (
  SELECT user_id, session_seq,
         MIN(ts_us) AS s_lo, MAX(ts_us) AS s_hi
  FROM labeled GROUP BY user_id, session_seq),
errors AS (
  SELECT user_id, ts_us, event_id FROM base WHERE event_type = 'error')
SELECT e.user_id, e.event_id, e.ts_us, s.session_seq, s.s_lo, s.s_hi
FROM errors e JOIN sessions s
  ON e.user_id = s.user_id AND e.ts_us BETWEEN s.s_lo AND s.s_hi
"""


def ev_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join (operators/joins.
    interval_overlap_join): user sessions × GLOBAL incident windows
    (±10 min around sampled error events), no by-key — the big×big
    two-interval-table shape.  Bucketed exactly-once pair assignment
    (a pair meets only in its intersection-start bucket), so no dedup
    shuffle; a naive double-inequality join would plan as a nested
    loop."""
    from ..operators.joins import interval_overlap_join
    from ..operators.timeseries import sessionize

    events = load_events(spark, sf_dir).select(
        "user_id", _epoch_us(F.col("ts")).alias("ts_us"),
        "event_id", "event_type",
    )
    labeled = sessionize(
        events, "ts_us", "user_id", gap_us=1_800_000_000,
        tiebreak_col="event_id",
    )
    sessions = labeled.groupBy("user_id", "session_seq").agg(
        F.min("ts_us").alias("s_lo"), F.max("ts_us").alias("s_hi")
    )
    incidents = events.filter(
        (F.col("event_type") == "error") & (F.col("event_id") % 17 == 0)
    ).select(
        F.col("event_id").alias("incident_id"),
        (F.col("ts_us") - 600_000_000).alias("i_lo"),
        (F.col("ts_us") + 600_000_000).alias("i_hi"),
    )
    out = interval_overlap_join(
        sessions, incidents, ("s_lo", "s_hi"), ("i_lo", "i_hi"),
        bucket_width=1_800_000_000,
    )
    return out.select(
        "user_id", "session_seq", "incident_id",
        (
            F.least(F.col("s_hi"), F.col("i_hi"))
            - F.greatest(F.col("s_lo"), F.col("i_lo"))
        ).alias("overlap_us"),
    )


EV_OVERLAP_JOIN_SQL = """
WITH base AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
         event_id, event_type
  FROM events),
labeled AS (
  SELECT user_id, ts_us,
         CAST(SUM(new_sess) OVER (
           PARTITION BY user_id ORDER BY ts_us, event_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM (
    SELECT user_id, event_id, ts_us,
           CASE WHEN prev_ts IS NULL OR ts_us - prev_ts >= 1800000000
                THEN 1 ELSE 0 END AS new_sess
    FROM (
      SELECT user_id, event_id, ts_us,
             LAG(ts_us) OVER (PARTITION BY user_id
                              ORDER BY ts_us, event_id) AS prev_ts
      FROM base))),
sessions AS (
  SELECT user_id, session_seq,
         MIN(ts_us) AS s_lo, MAX(ts_us) AS s_hi
  FROM labeled GROUP BY user_id, session_seq),
incidents AS (
  SELECT event_id AS incident_id,
         ts_us - 600000000 AS i_lo, ts_us + 600000000 AS i_hi
  FROM base WHERE event_type = 'error' AND event_id % 17 = 0)
SELECT s.user_id, s.session_seq, i.incident_id,
       LEAST(s.s_hi, i.i_hi) - GREATEST(s.s_lo, i.i_lo) AS overlap_us
FROM sessions s JOIN incidents i
  ON s.s_lo <= i.i_hi AND i.i_lo <= s.s_hi
"""


def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling (operators/quality.py): per-column row/null/exact
    distinct counts in ONE aggregate pass (map-side expand + partial
    combine — no per-column scans)."""
    from ..operators.quality import profile_table

    return profile_table(_t(spark, sf_dir, "orders"))


_DQ_ORDERS_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority",
]
DQ_PROFILE_SQL = "\nUNION ALL\n".join(
    f"SELECT '{c}' AS col_name, COUNT(*) AS n_rows, "
    f"COUNT(*) - COUNT({c}) AS n_nulls, "
    f"COUNT(DISTINCT {c}) AS n_distinct FROM orders"
    for c in _DQ_ORDERS_COLS
)


def dq_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint validation report (operators/quality.py): uniqueness +
    referential integrity across the star schema, one count per
    constraint (anti-joins broadcast the dimension side)."""
    from ..operators.quality import (
        constraint_report,
        referential_orphans,
        uniqueness_violations,
    )

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return constraint_report([
        ("unique:customer.c_custkey",
         uniqueness_violations(cust, ["c_custkey"])),
        ("unique:orders.o_custkey",
         uniqueness_violations(orders, ["o_custkey"])),
        ("unique:lineitem.(l_orderkey,l_linenumber)",
         uniqueness_violations(li, ["l_orderkey", "l_linenumber"])),
        ("fk:orders.o_custkey->customer.c_custkey",
         referential_orphans(orders, cust, ["o_custkey"], ["c_custkey"])),
        ("fk:lineitem.l_orderkey->orders.o_orderkey",
         referential_orphans(li, orders, ["l_orderkey"], ["o_orderkey"])),
    ])


DQ_CONSTRAINTS_SQL = """
SELECT 'unique:customer.c_custkey' AS constraint, COUNT(*) AS n_violations
FROM (SELECT c_custkey FROM customer GROUP BY 1 HAVING COUNT(*) > 1)
UNION ALL
SELECT 'unique:orders.o_custkey', COUNT(*)
FROM (SELECT o_custkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1)
UNION ALL
SELECT 'unique:lineitem.(l_orderkey,l_linenumber)', COUNT(*)
FROM (SELECT l_orderkey, l_linenumber FROM lineitem
      GROUP BY 1, 2 HAVING COUNT(*) > 1)
UNION ALL
SELECT 'fk:orders.o_custkey->customer.c_custkey', COUNT(*)
FROM orders o WHERE o.o_custkey IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'fk:lineitem.l_orderkey->orders.o_orderkey', COUNT(*)
FROM lineitem l WHERE l.l_orderkey IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
"""


def dd_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity resolution (operators/fuzzy.py): customer-name pairs
    within edit distance 1 via symmetric-deletion blocking — candidates
    from an inverted variant index (one equi-join shuffle, no cartesian),
    exact ``levenshtein`` verification JVM-side."""
    from ..operators.fuzzy import edit_distance_self_join

    cust = _t(spark, sf_dir, "customer")
    return edit_distance_self_join(cust, "c_custkey", "c_name", max_dist=1)


DD_FUZZY_SQL = """
WITH v AS (
  SELECT c_custkey AS id, c_name AS s,
         unnest(list_prepend(c_name,
           list_transform(range(1, len(c_name) + 1),
             i -> substr(c_name, 1, i - 1) || substr(c_name, i + 1)))) AS var
  FROM customer),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                  a.s AS name_a, b.s AS name_b
  FROM v a JOIN v b ON a.var = b.var AND a.id < b.id)
SELECT id_a, id_b, name_a, name_b,
       CAST(levenshtein(name_a, name_b) AS INT) AS dist
FROM cand
WHERE levenshtein(name_a, name_b) <= 1
"""


def ev_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-level sessionization (operators/timeseries.sessionize): each
    user's events labeled with a 1-based session ordinal (30-min gap
    rule), then rolled up per session with ordinal and duration — the
    session-grain surface ``session_window`` can't expose."""
    from ..operators.timeseries import sessionize

    events = load_events(spark, sf_dir).select(
        "user_id", _epoch_us(F.col("ts")).alias("ts_us"), "event_id"
    )
    labeled = sessionize(
        events, "ts_us", "user_id", gap_us=1_800_000_000,
        tiebreak_col="event_id",
    )
    return labeled.groupBy("user_id", "session_seq").agg(
        F.min("ts_us").alias("session_start"),
        F.max("ts_us").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
    )


EV_SESSIONIZE_SQL = """
SELECT user_id, session_seq,
       MIN(ts_us) AS session_start,
       MAX(ts_us) AS session_end,
       COUNT(*) AS n_events,
       MAX(ts_us) - MIN(ts_us) AS duration_us
FROM (
  SELECT user_id, ts_us,
         CAST(SUM(new_sess) OVER (
           PARTITION BY user_id ORDER BY ts_us, event_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM (
    SELECT user_id, event_id, ts_us,
           CASE WHEN prev_ts IS NULL OR ts_us - prev_ts >= 1800000000
                THEN 1 ELSE 0 END AS new_sess
    FROM (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS prev_ts
      FROM events)))
GROUP BY user_id, session_seq
"""


def ev_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Throttled dedup (operators/timeseries.debounce): per user, keep a
    purchase only if ≥1h after the last KEPT one — the deterministic
    batch twin of the streaming ``dropDuplicatesWithinWatermark``
    contract.  Anchor selection is sequential per key (a grouped
    stateful kernel); the DuckDB oracle replays it with a recursive
    anchor-chasing CTE."""
    from ..operators.timeseries import debounce

    events = load_events(spark, sf_dir)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        _epoch_us(F.col("ts")).alias("ts_us"),
        "event_id",
        "value",
    )
    deduped = largest_wins(purchases, ["user_id", "ts_us"], "event_id")
    return debounce(deduped, "ts_us", ["user_id"], window_us=3_600_000_000)


EV_DEBOUNCE_SQL = """
WITH RECURSIVE obs0 AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(CAST(ts AS TIMESTAMP))
                            ORDER BY event_id DESC) AS rn
  FROM events WHERE event_type = 'purchase'),
obs AS (SELECT user_id, ts_us, event_id, value FROM obs0 WHERE rn = 1),
anchors AS (
  SELECT user_id, MIN(ts_us) AS ts_us FROM obs GROUP BY user_id
  UNION ALL
  SELECT o.user_id, MIN(o.ts_us)
  FROM anchors a JOIN obs o
    ON o.user_id = a.user_id AND o.ts_us >= a.ts_us + 3600000000
  GROUP BY o.user_id)
SELECT o.user_id, o.ts_us, o.event_id, o.value
FROM anchors a JOIN obs o
  ON o.user_id = a.user_id AND o.ts_us = a.ts_us
"""


def ev_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props handling: JSON path extraction stays
    JVM-side (``get_json_object`` inside whole-stage codegen — no UDF),
    then one partial+final aggregate per event_type."""
    events = load_events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        events.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


EV_JSON_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(k) AS n_with_k,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       MIN(k) AS min_k,
       MAX(k) AS max_k
FROM (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events)
GROUP BY event_type
"""


def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in long (label, dim) form — posexplode
    then one partial+final aggregate on (label, dim); fixed-point sums for
    cross-engine bit-identity.  The shuffle carries n_labels·dim rows per
    partition regardless of corpus size."""
    emb = _t(spark, sf_dir, "embeddings")
    fp30 = float(2**30)
    ex = emb.select(
        "label", F.posexplode("embedding").alias("dim0", "x")
    )
    return (
        ex.groupBy(
            "label", (F.col("dim0") + 1).cast("int").alias("dim")
        )
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            (
                F.sum(
                    F.floor(F.col("x").cast("double") * F.lit(fp30)).cast(
                        "long"
                    )
                ).cast("double")
                / F.lit(fp30)
                / F.count(F.lit(1))
            ).alias("centroid"),
        )
    )


EMB_CENTROIDS_SQL = f"""
SELECT label, CAST(dim AS INT) AS dim, COUNT(*) AS n_vecs,
       CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * CAST({FP30} AS DOUBLE))
                     AS BIGINT)) AS DOUBLE)
         / CAST({FP30} AS DOUBLE) / COUNT(*) AS centroid
FROM (
  SELECT label, generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS x
  FROM embeddings)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# training-set assembly: deterministic split + sequence packing
# ---------------------------------------------------------------------------

def txt_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash train/val/test assignment (md5-stable — identical in
    any engine / partitioning / row order), summarized per split."""
    from ..operators.sampling import add_split

    docs = _t(spark, sf_dir, "documents")
    out = add_split(docs, "doc_id", salt="r2")
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


_T1, _T2 = split_thresholds((0.9, 0.05, 0.05))

TXT_TRAIN_SPLIT_SQL = f"""
SELECT split, COUNT(*) AS n_docs, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
FROM (
  SELECT doc_id,
         CASE WHEN h < {_T1} THEN 'train'
              WHEN h < {_T2} THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT doc_id,
           ('0x' || substr(md5('r2' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
    FROM documents))
GROUP BY split
"""


def txt_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-then-chunk packing of the corpus into 2048-token
    sequences, sharded by ``lang`` (each language is its own packing
    stream — doc_id order inside a shard): pack_id = chunk each document
    starts in.  Sharding keeps the cumsum window partitioned, so the plan
    has no single-partition exchange and scales with shard count."""
    from ..operators.sampling import pack_documents

    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens", token_count_ws(F.col("text"))
    )
    out = pack_documents(
        docs, "doc_id", "n_tokens", max_tokens=2048, partition_cols=["lang"]
    )
    return out.select("lang", "doc_id", "n_tokens", "pack_id")


TXT_PACK_SQL = r"""
SELECT lang, doc_id, n_tokens,
       CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id
FROM (
  SELECT lang, doc_id, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM (
    SELECT lang, doc_id,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
    FROM documents))
"""


# ---------------------------------------------------------------------------
# sketch aggregates (Spark DataSketches HLL ≠ DuckDB's sketches →
# rows-only; error bounds pytest-verified against the exact operators)
# ---------------------------------------------------------------------------

def sk_hll_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch SCALE path, nothing else: DataSketches HLL distinct
    counts + GK approx quartiles per returnflag — ONE groupBy, one scan,
    no shuffle of raw values (partial sketches merge map-side).  This is
    the query a 100 TB lake actually runs; its exact twins live in
    ``sk_hll_certify`` so the bench measures sketch cost, not the
    countDistinct Expand that sketches exist to avoid (that twin was
    ~14× the sketch cost at sf0.1).  Estimates are engine-specific →
    rows-only driver check; the value-hash oracle rides on
    sk_hll_certify, and pytest pins the error bounds."""
    from ..utils import spread

    # guide §2.5: the single-row-group demo scan serializes the sketch
    # partials on 1-3 cores; guarded no-op on wide cluster scans
    li = spread(_t(spark, sf_dir, "lineitem"))
    # Quartiles come back as ONE array-typed aggregate (single GK sketch
    # per group) but are emitted as three scalar columns: the driver's
    # canonicalizer sorts cell values, and top-level array cells are
    # unsortable there (registry contract, tests/test_registry_plans.py).
    agg = li.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col("l_orderkey"), F.lit(12))
        ).alias("n_l_orderkey"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col("l_partkey"), F.lit(12))
        ).alias("n_l_partkey"),
        F.percentile_approx(
            F.col("l_extendedprice"),
            F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
            F.lit(10_000),
        ).alias("q_l_extendedprice"),
    )
    qv = F.col("q_l_extendedprice")
    return agg.select(
        "l_returnflag",
        "n_l_orderkey",
        "n_l_partkey",
        qv[0].alias("q25_l_extendedprice"),
        qv[1].alias("q50_l_extendedprice"),
        qv[2].alias("q75_l_extendedprice"),
    )


def sk_hll_certify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch certification twin of ``sk_hll_stats``: runs the sketches
    AND exact aggregates, outputs engine-independent values — the exact
    distinct counts plus booleans asserting each estimate sits within its
    published bound (HLL lgK=12 → |est/exact−1| ≤ 5% ≈ 3·RSE;
    percentile_approx accuracy=10⁴ → value between the exact p∓2·10⁻⁴
    quantiles).  The booleans are TRUE by contract, so the DuckDB oracle
    verifies with a full value-hash.

    Plan note: sketch estimates, approx quantiles, and the exact twins
    are ONE groupBy — a single scan of the fact table (calling the
    modular helpers separately cost two extra full scans + two joins —
    at 100 TB that is 300 TB read instead of 100).  The two
    COUNT(DISTINCT)s plan as one Expand, still one pass over the data."""
    from ..utils import spread

    # guide §2.5: the exact-twin aggregates (countDistinct Expand +
    # exact percentiles) ran in a 5.9 s THREE-task partial stage on the
    # single-row-group demo scan; spread widens the partials to cluster
    # width (no-op on wide scans; every aggregate here is partition-
    # independent: exact counts/percentiles, order-insensitive HLL
    # registers, and percentile_approx feeds only its guaranteed-bound
    # booleans)
    li = spread(_t(spark, sf_dir, "lineitem"))
    eps = 2.0 / 10_000
    probes = [p + s * eps for p in (0.25, 0.50, 0.75) for s in (-1, 1)]
    out = li.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col("l_orderkey"), F.lit(12))
        ).alias("n_l_orderkey"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col("l_partkey"), F.lit(12))
        ).alias("n_l_partkey"),
        F.percentile_approx(
            F.col("l_extendedprice"),
            F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
            F.lit(10_000),
        ).alias("q_l_extendedprice"),
        F.countDistinct("l_orderkey").alias("n_orderkey_exact"),
        F.countDistinct("l_partkey").alias("n_partkey_exact"),
        F.percentile(
            F.col("l_extendedprice"), F.array(*[F.lit(p) for p in probes])
        ).alias("qx"),
    )
    qv = F.col("q_l_extendedprice")

    def _within(i: int) -> F.Column:
        return (qv[i] >= F.col("qx")[2 * i]) & (qv[i] <= F.col("qx")[2 * i + 1])

    return out.select(
        "l_returnflag",
        "n_orderkey_exact",
        "n_partkey_exact",
        (
            F.abs(F.col("n_l_orderkey") / F.col("n_orderkey_exact") - 1.0) <= 0.05
        ).alias("hll_orderkey_ok"),
        (
            F.abs(F.col("n_l_partkey") / F.col("n_partkey_exact") - 1.0) <= 0.05
        ).alias("hll_partkey_ok"),
        _within(0).alias("p25_ok"),
        _within(1).alias("p50_ok"),
        _within(2).alias("p75_ok"),
    )


def sk_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The storable-sketch rollup pattern as a driver query: HLL partial
    sketches per (returnflag, linestatus) cell, merged up to returnflag
    WITHOUT rescanning the fact data (functions/sketches
    hll_partial_sketches → hll_merge) — exactly how a 100 TB lake
    answers distinct-count rollups from per-partition sketches.
    Self-certified like sk_hll_stats: exact distinct counts + a boolean
    asserting the merged estimate lands within 5% (lgK=12 → ~1.6% RSE;
    sketch union is loss-free)."""
    from ..functions.sketches import hll_merge, hll_partial_sketches

    li = _t(spark, sf_dir, "lineitem")
    parts = hll_partial_sketches(
        li, "l_orderkey", ["l_returnflag", "l_linestatus"]
    )
    rolled = hll_merge(
        parts, "hll_l_orderkey", ["l_returnflag"], out_col="n_est"
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_exact")
    )
    return rolled.join(exact, "l_returnflag").select(
        "l_returnflag",
        "n_exact",
        (
            F.abs(F.col("n_est").cast("double") / F.col("n_exact") - 1.0)
            <= 0.05
        ).alias("est_ok"),
    )


SK_HLL_ROLLUP_SQL = """
SELECT l_returnflag,
       COUNT(DISTINCT l_orderkey) AS n_exact,
       TRUE AS est_ok
FROM lineitem
GROUP BY l_returnflag
"""


def ev_funnel_by_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped funnel: view → click → purchase completed inside
    ONE session (sessionize ordinals compose with funnel_conversion by
    partitioning on the session key instead of the user)."""
    from ..operators.timeseries import funnel_conversion, sessionize

    events = load_events(spark, sf_dir).select(
        "user_id", _epoch_us(F.col("ts")).alias("ts_us"),
        "event_id", "event_type",
    )
    labeled = sessionize(
        events, "ts_us", "user_id", gap_us=1_800_000_000,
        tiebreak_col="event_id",
    ).withColumn(
        "sess_key",
        F.concat_ws("#", F.col("user_id"), F.col("session_seq")),
    )
    out = funnel_conversion(
        labeled, ["view", "click", "purchase"], "ts_us", "sess_key",
        "event_type",
    )
    return out.select(
        "step_index", "step", F.col("n_users").alias("n_sessions")
    )


EV_FUNNEL_SESSION_SQL = """
WITH base AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
         event_id, event_type
  FROM events),
labeled AS (
  SELECT user_id, ts_us, event_type,
         CAST(SUM(new_sess) OVER (
           PARTITION BY user_id ORDER BY ts_us, event_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM (
    SELECT user_id, event_id, ts_us, event_type,
           CASE WHEN prev_ts IS NULL OR ts_us - prev_ts >= 1800000000
                THEN 1 ELSE 0 END AS new_sess
    FROM (
      SELECT user_id, event_id, ts_us, event_type,
             LAG(ts_us) OVER (PARTITION BY user_id
                              ORDER BY ts_us, event_id) AS prev_ts
      FROM base))),
keyed AS (
  SELECT user_id || '#' || session_seq AS sess_key, ts_us, event_type
  FROM labeled),
w1 AS (
  SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts_us END)
              OVER (PARTITION BY sess_key) AS t1 FROM keyed),
w2 AS (
  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts_us >= t1 THEN ts_us END)
              OVER (PARTITION BY sess_key) AS t2 FROM w1),
w3 AS (
  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts_us >= t2
                     THEN ts_us END)
              OVER (PARTITION BY sess_key) AS t3 FROM w2),
u AS (
  SELECT sess_key, MAX(t1) AS t1, MAX(t2) AS t2, MAX(t3) AS t3
  FROM w3 GROUP BY sess_key),
c AS (
  SELECT COUNT(t1) AS n1, COUNT(t2) AS n2, COUNT(t3) AS n3 FROM u)
SELECT CAST(1 AS INT) AS step_index, 'view' AS step, n1 AS n_sessions FROM c
UNION ALL
SELECT CAST(2 AS INT), 'click', n2 FROM c
UNION ALL
SELECT CAST(3 AS INT), 'purchase', n3 FROM c
"""


def sk_theta_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra (functions/sketches.theta_set_counts),
    self-certified like sk_hll_stats: |A|/|B|/|A∪B|/|A∩B|/|A\\B| of
    orderkeys across two returnflag segments, output as the exact counts
    plus booleans asserting each sketch estimate lands within 5% (theta
    lgK=12 → ~1.6% RSE; set operations compound it, measured ≤2.3% on
    this data).  HLL can union but never intersect — theta sketches are
    the mergeable scale path for audience-overlap questions."""
    from ..functions.sketches import theta_set_counts

    li = _t(spark, sf_dir, "lineitem")
    est = theta_set_counts(li, "l_orderkey", "l_returnflag", "A", "R")
    k, fl = F.col("l_orderkey"), F.col("l_returnflag")
    exact = li.agg(
        F.countDistinct(F.when(fl == "A", k)).alias("x_a"),
        F.countDistinct(F.when(fl == "R", k)).alias("x_b"),
        F.countDistinct(F.when(fl.isin("A", "R"), k)).alias("x_union"),
    ).withColumns(
        {
            "x_intersection": F.col("x_a") + F.col("x_b") - F.col("x_union"),
            "x_diff": F.col("x_union") - F.col("x_b"),
        }
    )

    def ok(name: str) -> F.Column:
        return (
            F.abs(
                F.col(f"n_{name}").cast("double")
                / F.col(f"x_{name}") - 1.0
            )
            <= 0.05
        ).alias(f"{name}_ok")

    return est.crossJoin(exact).select(
        F.col("x_a").alias("exact_a"),
        F.col("x_b").alias("exact_b"),
        F.col("x_union").alias("exact_union"),
        F.col("x_intersection").alias("exact_intersection"),
        F.col("x_diff").alias("exact_diff"),
        ok("a"), ok("b"), ok("union"), ok("intersection"), ok("diff"),
    )


SK_THETA_SQL = """
SELECT exact_a, exact_b, exact_union,
       exact_a + exact_b - exact_union AS exact_intersection,
       exact_union - exact_b AS exact_diff,
       TRUE AS a_ok, TRUE AS b_ok, TRUE AS union_ok,
       TRUE AS intersection_ok, TRUE AS diff_ok
FROM (
  SELECT COUNT(DISTINCT CASE WHEN l_returnflag = 'A' THEN l_orderkey END)
           AS exact_a,
         COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_orderkey END)
           AS exact_b,
         COUNT(DISTINCT CASE WHEN l_returnflag IN ('A','R') THEN l_orderkey
                        END) AS exact_union
  FROM lineitem)
"""


SK_HLL_SQL = """
SELECT l_returnflag,
       COUNT(DISTINCT l_orderkey) AS n_orderkey_exact,
       COUNT(DISTINCT l_partkey) AS n_partkey_exact,
       TRUE AS hll_orderkey_ok,
       TRUE AS hll_partkey_ok,
       TRUE AS p25_ok,
       TRUE AS p50_ok,
       TRUE AS p75_ok
FROM lineitem
GROUP BY l_returnflag
"""


# Replays sha_cycle_decoder + extract_image_features exactly: pixel j of
# the 8x8x3 fake image is digest byte j%32, so each of the 32 sha256
# bytes appears 6 times; s = 6*s32, ssq = 6*ssq32, n = 192.  The feature
# math uses the same fixed IEEE op sequence as the Python kernel
# (mean = s/n; var = (ssq - s*s/n)/n; std = sqrt(var) if var > 0) so the
# doubles agree bit-for-bit — no rounding needed.
MM_IMAGE_FEATURES_SQL = """
WITH b AS (
  SELECT doc_id,
         list_transform(range(0, 32), i ->
           (strpos('0123456789abcdef', h[2*i+1]) - 1) * 16
           + (strpos('0123456789abcdef', h[2*i+2]) - 1)) AS bytes
  FROM (SELECT doc_id, sha256(text) AS h FROM documents)
), s AS (
  SELECT doc_id,
         6 * list_sum(bytes) AS s,
         6 * list_sum(list_transform(bytes, x -> x * x)) AS ssq
  FROM b
)
SELECT doc_id,
       CAST(s AS DOUBLE) / 192 AS mean_intensity,
       CASE WHEN (CAST(ssq AS DOUBLE) - CAST(s * s AS DOUBLE) / 192) / 192 > 0
            THEN sqrt((CAST(ssq AS DOUBLE) - CAST(s * s AS DOUBLE) / 192) / 192)
            ELSE 0.0 END AS std_intensity
FROM s
"""


# ---------------------------------------------------------------------------
# multimodal plumbing (documents' bytes as stand-in blobs; deterministic
# fake codec — real codecs are one-argument swaps, see sources/multimodal)
# ---------------------------------------------------------------------------

def mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column decode → feature-extraction plumbing end-to-end:
    blobs (document bytes) → mapInPandas decode → per-image intensity
    features.  Uses the SQL-replayable ``sha_cycle_decoder`` (pixel j =
    digest byte j%32), so DuckDB reproduces the full decode + exact-sum
    feature math bit-for-bit — a value-hash oracle for the multimodal
    path, not just a rows-only check."""
    from ..sources.multimodal import (
        decode_media,
        extract_image_features,
        sha_cycle_decoder,
    )

    docs = _t(spark, sf_dir, "documents")
    blobs = docs.select(
        F.col("doc_id").cast("string").alias("path"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )
    decoded = decode_media(blobs, decoder=sha_cycle_decoder)
    feats = extract_image_features(decoded)
    return feats.select(
        F.col("path").cast("long").alias("doc_id"),
        F.col("mean_intensity"),
        F.col("std_intensity"),
    )


def mm_bmp_codec_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec twin of ``mm_image_features``: the same sha-cycle
    pixel derivation, but every image is round-tripped through genuine
    24-bit BMP bytes — ``bmp_encode`` in an Arrow kernel, then
    ``decode_media``'s default ``auto_decoder`` PARSES the file format
    (headers, padding, bottom-up rows) before features.  The round trip
    is identity on pixels, so the value-hash oracle is the same SQL:
    a DuckDB-verified check that the real codec path is lossless."""
    import numpy as np
    import pandas as pd

    from ..sources.multimodal import (
        bmp_encode,
        decode_media,
        extract_image_features,
        sha_cycle_decoder,
    )

    docs = _t(spark, sf_dir, "documents")
    blobs = docs.select(
        F.col("doc_id").cast("string").alias("path"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )

    def enc(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "path": pdf["path"],
                    "content": [
                        bmp_encode(
                            sha_cycle_decoder(bytes(raw)).astype(np.uint8)
                        )
                        for raw in pdf["content"]
                    ],
                }
            )

    bmp = blobs.mapInPandas(enc, "path string, content binary")
    feats = extract_image_features(decode_media(bmp))
    return feats.select(
        F.col("path").cast("long").alias("doc_id"),
        F.col("mean_intensity"),
        F.col("std_intensity"),
    )


def mm_wav_codec_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio analogue of ``mm_bmp_codec_features``: 16 int16 PCM samples
    derived from each document's sha256 digest (sample j = byte[2j]·256
    + byte[2j+1] − 32768, 8 kHz mono), round-tripped through genuine
    RIFF/WAVE bytes (``wav_encode`` → ``decode_audio`` parses the chunk
    list), then loudness/activity features.  Every feature is
    integer-exact until one division (mean of 16 int64 squares is a
    divide-by-2⁴ — exact) or a correctly-rounded ``sqrt``, so DuckDB
    replays the full decode + feature math bit-for-bit."""
    import hashlib

    import numpy as np
    import pandas as pd

    from ..sources.multimodal import (
        decode_audio,
        extract_audio_features,
        wav_encode,
    )

    docs = _t(spark, sf_dir, "documents")
    blobs = docs.select(
        F.col("doc_id").cast("string").alias("path"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )

    def enc(batches):
        for pdf in batches:
            out = []
            for raw in pdf["content"]:
                d = np.frombuffer(
                    hashlib.sha256(bytes(raw)).digest(), dtype=np.uint8
                ).astype(np.int32)
                s = (d[0::2] * 256 + d[1::2] - 32768).astype(np.int16)
                out.append(wav_encode(s, 8000))
            yield pd.DataFrame({"path": pdf["path"], "content": out})

    wav = blobs.mapInPandas(enc, "path string, content binary")
    feats = extract_audio_features(decode_audio(wav))
    return feats.select(
        F.col("path").cast("long").alias("doc_id"),
        "duration_ms",
        "rms",
        "peak",
        "zero_crossing_rate",
    )


MM_WAV_FEATURES_SQL = """
WITH b AS (
  SELECT doc_id,
         list_transform(range(0, 32), i ->
           (strpos('0123456789abcdef', h[2*i+1]) - 1) * 16
           + (strpos('0123456789abcdef', h[2*i+2]) - 1)) AS bytes
  FROM (SELECT doc_id, sha256(text) AS h FROM documents)
), s AS (
  SELECT doc_id,
         list_transform(range(0, 16), j ->
           bytes[2*j+1] * 256 + bytes[2*j+2] - 32768) AS smp
  FROM b
), f AS (
  SELECT doc_id, smp,
         list_sum(list_transform(smp, x -> CAST(x AS BIGINT) * x)) AS ssq,
         list_max(list_transform(smp, x -> abs(x))) AS peak,
         list_sum(list_transform(range(0, 15), j ->
           CASE WHEN (smp[j+1] < 0) <> (smp[j+2] < 0) THEN 1 ELSE 0 END))
           AS zc
  FROM s
)
SELECT doc_id,
       CAST(2 AS BIGINT) AS duration_ms,
       sqrt(CAST(ssq AS DOUBLE) / 16) AS rms,
       CAST(peak AS INTEGER) AS peak,
       CAST(zc AS DOUBLE) / 15 AS zero_crossing_rate
FROM f
"""


# ---------------------------------------------------------------------------
# decontamination / resampling / quality-CDF filtering
# ---------------------------------------------------------------------------

def emb_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination (operators/decontam.
    semantic_decontaminate): flag training vectors whose embedding is
    cosine-≥ 0.99 to any eval-set embedding — catches the paraphrased
    benchmark leaks the n-gram pass (``txt_decontaminate``) structurally
    misses.  Eval set = every 50th vector (distinct id space); matches
    are per-CORPUS-row argmax inside the broadcast Arrow kernel
    (map-only, no shuffle, ≤1 row out per corpus row), fixed-point
    cosine so DuckDB replays the threshold decision bit for bit."""
    from ..operators.decontam import semantic_decontaminate

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ev = emb.filter(F.col("vec_id") % 50 == 7).select(
        (F.col("vec_id") + 1_000_000).alias("eval_id"), "embedding"
    )
    _clean, flagged = semantic_decontaminate(
        emb, ev, threshold=0.99,
        corpus_id="vec_id", eval_id="eval_id",
    )
    return flagged.select("vec_id", "nearest_eval_id", "cosine")


EMB_SEMANTIC_DECONTAM_SQL = f"""
WITH ev AS (
  SELECT vec_id + 1000000 AS eval_id, embedding
  FROM embeddings WHERE vec_id % 50 = 7),
scored AS (
  SELECT c.vec_id, e.eval_id,
         ({_sql_fp_dot('c.embedding', 'e.embedding')})
           / (sqrt({_sql_fp_dot('c.embedding', 'c.embedding')})
              * sqrt({_sql_fp_dot('e.embedding', 'e.embedding')})) AS cosine
  FROM embeddings c CROSS JOIN ev e),
best AS (
  SELECT vec_id, eval_id AS nearest_eval_id, cosine,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY cosine DESC, eval_id ASC) AS rn
  FROM scored)
SELECT vec_id, nearest_eval_id, cosine
FROM best WHERE rn = 1 AND cosine >= 0.99
"""


def txt_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontam.py): md5-split the
    corpus into train (80%) / eval (20%), flag train docs sharing ≥ 2
    distinct 3-gram shingles with any eval doc, and summarize per train
    doc.  Eval shingles broadcast; the corpus never shuffles by shingle."""
    from ..operators.decontam import decontaminate
    from ..operators.sampling import add_split

    docs = _t(spark, sf_dir, "documents")
    split = add_split(
        docs, "doc_id", weights=(0.8, 0.2), names=("train", "eval"), salt="dc"
    )
    train = split.filter(F.col("split") == "train").select("doc_id", "text")
    ev = split.filter(F.col("split") == "eval").select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    _clean, stats = decontaminate(
        train, ev, "doc_id", "eval_id", n=3, min_common=2
    )
    return stats.select(
        "doc_id", "n_eval_matches", "max_common", "max_coverage"
    )


_DC_T1 = split_thresholds((0.8, 0.2))[0]
TXT_DECONTAM_SQL = rf"""
WITH split AS (
  SELECT doc_id, text,
         CASE WHEN ('0x' || substr(md5('dc' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   < {_DC_T1}
              THEN 'train' ELSE 'eval' END AS split
  FROM documents),
toks AS (
  SELECT doc_id, split, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM split WHERE trim(text) <> ''),
sh AS (
  SELECT DISTINCT doc_id, split, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)),
ev_sizes AS (
  SELECT doc_id AS eval_id, COUNT(*) AS n_eval_sh
  FROM sh WHERE split = 'eval' GROUP BY 1),
pairs AS (
  SELECT c.doc_id, e.doc_id AS eval_id, COUNT(*) AS n_common
  FROM sh c JOIN sh e ON c.s = e.s
  WHERE c.split = 'train' AND e.split = 'eval'
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2)
SELECT p.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_eval_matches,
       CAST(MAX(n_common) AS BIGINT) AS max_common,
       MAX(CAST(n_common AS DOUBLE) / CAST(n_eval_sh AS DOUBLE))
         AS max_coverage
FROM pairs p JOIN ev_sizes USING (eval_id)
GROUP BY p.doc_id
"""


def samp_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature resampling (α = 0.5) of the corpus source mix
    (operators/sampling.py): per-source keep probability ∝ √n_s / n_s,
    selected by content hash — summarized per source with an id-sum so
    the oracle certifies exact row membership."""
    from ..operators.sampling import temperature_resample

    docs = _t(spark, sf_dir, "documents")
    kept = temperature_resample(
        docs, "source", "doc_id", alpha=0.5, target_fraction=0.5, salt="tr3"
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("sum_ids"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


# mirrors temperature_resample exactly: integer weights w_s = floor(√n_s·2²⁰)
# (integer Σ — order-free), p = LEAST(1, floor(0.5·N)·w_s/W/n_s) evaluated
# with the identical IEEE op order, threshold = floor(p·2³²)
SAMP_TEMPERATURE_SQL = """
WITH c AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
w AS (
  SELECT source, n_s,
         CAST(FLOOR(SQRT(CAST(n_s AS DOUBLE)) * 1048576.0) AS BIGINT) AS w_s
  FROM c),
t AS (
  SELECT CAST(SUM(w_s) AS BIGINT) AS big_w, CAST(SUM(n_s) AS BIGINT) AS n
  FROM w),
thr AS (
  SELECT source,
         CAST(FLOOR(LEAST(1.0,
                FLOOR(0.5 * CAST(n AS DOUBLE))
                * CAST(w_s AS DOUBLE) / CAST(big_w AS DOUBLE)
                / CAST(n_s AS DOUBLE)) * 4294967296.0) AS BIGINT) AS thr
  FROM w, t)
SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
FROM documents d JOIN thr USING (source)
WHERE ('0x' || substr(md5('tr3' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      < thr
GROUP BY d.source
"""


def txt_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality-CDF cut (operators/sampling.py): keep the top
    25% of documents per lang by composite quality score, rank-based
    (exact integer cutoff — no float percentile interpolation)."""
    from ..functions.text import add_text_quality
    from ..operators.sampling import quantile_filter_by_group

    docs = _t(spark, sf_dir, "documents")
    scored = add_text_quality(docs)
    kept = quantile_filter_by_group(
        scored, "lang", "quality_score", keep_fraction=0.25, tiebreak_col="doc_id"
    )
    return kept.select("doc_id", "lang", "quality_score")


TXT_QUANTILE_FILTER_SQL = rf"""
WITH scored AS (
  SELECT doc_id, lang,
         CASE WHEN n_tokens > 0 THEN
           LEAST(stops / NULLIF(n_tokens, 0) * 2.5, 1.0) * 0.4
           + CASE WHEN mtl >= 2 AND mtl <= 12 THEN 1.0 ELSE 0.0 END * 0.3
           + (1 - LEAST(digits / NULLIF(n_chars_m, 0) * 5, 1.0)) * 0.15
           + (1 - LEAST(punct / NULLIF(n_chars_m, 0) * 5, 1.0)) * 0.15
         ELSE 0.0 END AS quality_score
  FROM (
    SELECT *, (n_chars_m - (n_tokens - 1)) / NULLIF(n_tokens, 0) AS mtl
    FROM (
      SELECT doc_id, lang, length(text) AS n_chars_m,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+'))
             END AS n_tokens,
             len(regexp_extract_all(text, '[.,!?;:]')) AS punct,
             len(regexp_extract_all(text, '[0-9]')) AS digits,
             len(regexp_extract_all(text, '(?i){_STOP_PATT}')) AS stops
      FROM documents))),
ranked AS (
  SELECT doc_id, lang, quality_score,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY quality_score DESC, doc_id ASC) AS rk,
         COUNT(*) OVER (PARTITION BY lang) AS n_g
  FROM scored)
SELECT doc_id, lang, quality_score
FROM ranked
WHERE rk <= CEIL(0.25 * CAST(n_g AS DOUBLE))
"""


def txt_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (functions/text.py chunk_documents):
    32-token windows, stride 24; chunk text emitted as an md5 so the
    oracle certifies exact window content without hashing megabytes."""
    from ..functions.text import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    out = chunk_documents(docs, "doc_id", chunk_tokens=32, stride_tokens=24)
    return out.select(
        "doc_id",
        "chunk_id",
        "chunk_start",
        "n_chunk_tokens",
        F.md5(F.col("chunk_text")).alias("chunk_fp"),
    )


TXT_CHUNK_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
  FROM documents WHERE trim(text) <> ''),
spans AS (
  SELECT doc_id, t, len(t) AS n,
         1 + CASE WHEN len(t) <= 32 THEN 0
                  ELSE (len(t) - 32 + 24 - 1) // 24 END AS n_chunks
  FROM toks)
SELECT doc_id,
       CAST(u.i AS INTEGER) AS chunk_id,
       CAST(u.i * 24 AS INTEGER) AS chunk_start,
       CAST(len(t[u.i * 24 + 1 : u.i * 24 + 32]) AS INTEGER)
         AS n_chunk_tokens,
       md5(array_to_string(t[u.i * 24 + 1 : u.i * 24 + 32], ' '))
         AS chunk_fp
FROM spans, UNNEST(range(0, n_chunks)) AS u(i)
"""


def txt_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction audit (functions/text.py scrub_pii) over documents
    with deterministically injected emails / IPs / long numbers (the
    synthetic corpus contains none); outputs per-doc match counts and
    the scrubbed-text fingerprint."""
    from ..functions.text import scrub_pii

    docs = _t(spark, sf_dir, "documents")
    injected = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@mail.example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" id 90210"),
                    F.col("doc_id").cast("string"),
                    F.lit("77 from 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".1"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    out = scrub_pii(injected)
    return out.select(
        "doc_id",
        "n_email",
        "n_ip",
        "n_number",
        F.md5(F.col("scrubbed")).alias("scrubbed_fp"),
    )


TXT_PII_SQL = r"""
WITH injected AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 5 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@mail.example.com' ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN ' id 90210' || CAST(doc_id AS VARCHAR)
                      || '77 from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                      || '.1' ELSE '' END AS text
  FROM documents)
SELECT doc_id,
       len(regexp_extract_all(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
       len(regexp_extract_all(text,
           '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ip,
       len(regexp_extract_all(text, '\b[0-9]{9,}\b')) AS n_number,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
           '\b[0-9]{9,}\b', '<NUMBER>', 'g')) AS scrubbed_fp
FROM injected
"""


def dd_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl dedup (operators/dedup.py dedup_against): the
    'new crawl' = docs 250+ plus re-crawled copies of the first 100 docs
    under fresh ids; everything fingerprint-matching the reference
    corpus (docs < 250) is dropped.  Output = surviving new docs."""
    docs = _t(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") < 250)
    recrawl = docs.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text"
    )
    new = docs.filter(F.col("doc_id") >= 250).select("doc_id", "text").unionByName(
        recrawl
    )
    fresh, _dropped = dedup_against(new, ref, "doc_id")
    return fresh.select(
        "doc_id",
        F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))).alias(
            "fingerprint"
        ),
    )


DD_CROSS_CORPUS_SQL = r"""
WITH fp AS (
  SELECT doc_id,
         md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
  FROM documents),
ref AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id < 250),
new AS (
  SELECT doc_id, fingerprint FROM fp WHERE doc_id >= 250
  UNION ALL
  SELECT doc_id + 500000, fingerprint FROM fp WHERE doc_id < 100)
SELECT n.doc_id, n.fingerprint
FROM new n ANTI JOIN ref r ON n.fingerprint = r.fingerprint
"""


def txt_materialize_packs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed training sequences (operators/sampling.materialize_packs):
    512-token packing in doc_id order, then one row per pack with the
    concatenated text emitted as an md5 fingerprint (the oracle certifies
    every byte of every sequence without shipping megabytes)."""
    from ..operators.sampling import materialize_packs, pack_documents

    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens", token_count_ws(F.col("text"))
    )
    packed = pack_documents(
        docs, "doc_id", "n_tokens", max_tokens=512, partition_cols=["lang"]
    )
    out = materialize_packs(
        packed, "doc_id", "n_tokens", "text", partition_cols=["lang"]
    )
    return out.select(
        "lang",
        "pack_id",
        "n_docs",
        F.col("total_tokens").cast("long").alias("total_tokens"),
        F.md5(F.col("pack_text")).alias("pack_fp"),
    )


TXT_MATERIALIZE_PACKS_SQL = r"""
WITH packed AS (
  SELECT lang, doc_id, text, n_tokens,
         CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_id
  FROM (
    SELECT lang, doc_id, text, n_tokens,
           SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum
    FROM (
      SELECT lang, doc_id, text,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+'))
             END AS n_tokens
      FROM documents)))
SELECT lang, pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       md5(string_agg(text, ' <eos> ' ORDER BY doc_id)) AS pack_fp
FROM packed
GROUP BY lang, pack_id
"""


def emb_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN pseudo-labeling (operators/similarity.knn_classify): vectors
    with ``vec_id % 20 = 7`` play the unlabeled batch; each takes the
    majority label of its 5 nearest labeled neighbors by exact cosine."""
    from ..operators.similarity import knn_classify

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 7).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") % 20 != 7)
    return knn_classify(corpus, queries, "label", k=5)


EMB_KNN_SQL = f"""
WITH nn AS (
  SELECT query_id, vec_id, rank FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ({_sql_fp_dot('c.embedding', 'q.embedding')})
               / (sqrt({_sql_fp_dot('c.embedding', 'c.embedding')})
                  * sqrt({_sql_fp_dot('q.embedding', 'q.embedding')})) DESC,
               c.vec_id ASC) AS rank
    FROM (SELECT * FROM embeddings WHERE vec_id % 20 <> 7) c
    JOIN (SELECT * FROM embeddings WHERE vec_id % 20 = 7) q
      ON c.vec_id <> q.vec_id)
  WHERE rank <= 5),
votes AS (
  SELECT nn.query_id, e.label AS lbl,
         CAST(COUNT(*) AS BIGINT) AS n_votes,
         CAST(MIN(nn.rank) AS INTEGER) AS best_rank
  FROM nn JOIN embeddings e ON e.vec_id = nn.vec_id
  GROUP BY 1, 2)
SELECT query_id, lbl AS pred_label, n_votes, best_rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id
    ORDER BY n_votes DESC, best_rank ASC, lbl ASC) AS rn
  FROM votes)
WHERE rn = 1
"""


def llm_data_pipeline(
    spark: SparkSession, sf_dir: str, return_stages: bool = False
):
    """The end-to-end LLM training-data pipeline, composed purely from the
    repo's operators — the training-data twin of the astro flagship, but
    every stage is SQL-expressible, so the WHOLE chain carries a DuckDB
    value-hash oracle (the astro flagship is rows-only by necessity).

    exact dedup → per-lang quality CDF cut (keep top 50%) → heldout
    split + decontamination (≥2 shared 3-grams vs the 10% eval split) →
    temperature resampling (α=0.5, keep 75%) → train/val/test split →
    512-token sequence packing per split → per-split summary.

    Scale shape: stages 1–2 shuffle on (fingerprint)/(lang); stage 3
    broadcasts eval shingles; stage 4 broadcasts per-source thresholds;
    stage 5 is row-local; packing shuffles once on the split key.  The
    corpus body never fans out.
    """
    from ..functions.text import add_text_quality
    from ..operators.decontam import decontaminate
    from ..operators.sampling import (
        add_split,
        pack_documents,
        quantile_filter_by_group,
        temperature_resample,
    )

    docs = _t(spark, sf_dir, "documents")
    s1, _stats = exact_dedup(docs, "doc_id")
    s2 = quantile_filter_by_group(
        add_text_quality(s1), "lang", "quality_score", 0.5, "doc_id"
    ).select("doc_id", "text", "lang", "source")
    sp = add_split(
        s2, "doc_id", weights=(0.9, 0.1), names=("pretrain", "eval"), salt="lp"
    )
    pre = sp.filter(F.col("split") == "pretrain").drop("split")
    ev = sp.filter(F.col("split") == "eval").select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    s3, _contam = decontaminate(pre, ev, "doc_id", "eval_id", n=3, min_common=2)
    s4 = temperature_resample(
        s3, "source", "doc_id", alpha=0.5, target_fraction=0.75, salt="lp2"
    )
    s5 = add_split(s4, "doc_id", salt="lp3").withColumn(
        "n_tokens", token_count_ws(F.col("text"))
    )
    packed = pack_documents(
        s5, "doc_id", "n_tokens", max_tokens=512, partition_cols=["split"]
    )
    summary = (
        packed.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("pack_id").alias("n_packs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("doc_id").alias("sum_ids"),
        )
        .orderBy("split")
    )
    if return_stages:
        return summary, {"s1": s1, "s2": s2, "s3": s3, "s4": s4, "s5": s5}
    return summary


_LP_T1 = split_thresholds((0.9, 0.1))[0]
LLM_PIPELINE_SQL = rf"""
WITH fp AS (
  SELECT doc_id, text, lang, source,
         md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
  FROM documents),
s1 AS (
  SELECT doc_id, text, lang, source FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM fp) WHERE rn = 1),
scored AS (
  SELECT doc_id, text, lang, source,
         CASE WHEN n_tokens > 0 THEN
           LEAST(stops / NULLIF(n_tokens, 0) * 2.5, 1.0) * 0.4
           + CASE WHEN mtl >= 2 AND mtl <= 12 THEN 1.0 ELSE 0.0 END * 0.3
           + (1 - LEAST(digits / NULLIF(n_chars_m, 0) * 5, 1.0)) * 0.15
           + (1 - LEAST(punct / NULLIF(n_chars_m, 0) * 5, 1.0)) * 0.15
         ELSE 0.0 END AS quality_score
  FROM (
    SELECT *, (n_chars_m - (n_tokens - 1)) / NULLIF(n_tokens, 0) AS mtl
    FROM (
      SELECT doc_id, text, lang, source, length(text) AS n_chars_m,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+'))
             END AS n_tokens,
             len(regexp_extract_all(text, '[.,!?;:]')) AS punct,
             len(regexp_extract_all(text, '[0-9]')) AS digits,
             len(regexp_extract_all(text, '(?i){_STOP_PATT}')) AS stops
      FROM s1))),
s2 AS (
  SELECT doc_id, text, lang, source FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                 ORDER BY quality_score DESC, doc_id ASC) AS rk,
           COUNT(*) OVER (PARTITION BY lang) AS n_g
    FROM scored)
  WHERE rk <= CEIL(0.5 * CAST(n_g AS DOUBLE))),
sp AS (
  SELECT *, CASE WHEN ('0x' || substr(md5('lp' || CAST(doc_id AS VARCHAR)),
                       1, 8))::BIGINT < {_LP_T1}
                 THEN 'pretrain' ELSE 'eval' END AS split
  FROM s2),
toks AS (
  SELECT doc_id, split, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM sp WHERE trim(text) <> ''),
sh AS (
  SELECT DISTINCT doc_id, split, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)),
contam AS (
  SELECT DISTINCT c.doc_id
  FROM sh c JOIN sh e ON c.s = e.s
  WHERE c.split = 'pretrain' AND e.split = 'eval'
  GROUP BY c.doc_id, e.doc_id
  HAVING COUNT(*) >= 2),
s3 AS (
  SELECT p.doc_id, p.text, p.lang, p.source
  FROM sp p ANTI JOIN contam x ON p.doc_id = x.doc_id
  WHERE p.split = 'pretrain'),
srcc AS (SELECT source, COUNT(*) AS n_s FROM s3 GROUP BY source),
srcw AS (
  SELECT source, n_s,
         CAST(FLOOR(SQRT(CAST(n_s AS DOUBLE)) * 1048576.0) AS BIGINT) AS w_s
  FROM srcc),
srct AS (
  SELECT CAST(SUM(w_s) AS BIGINT) AS big_w, CAST(SUM(n_s) AS BIGINT) AS n
  FROM srcw),
thr AS (
  SELECT source,
         CAST(FLOOR(LEAST(1.0,
                FLOOR(0.75 * CAST(n AS DOUBLE))
                * CAST(w_s AS DOUBLE) / CAST(big_w AS DOUBLE)
                / CAST(n_s AS DOUBLE)) * 4294967296.0) AS BIGINT) AS thr
  FROM srcw, srct),
s4 AS (
  SELECT d.doc_id, d.text, d.source FROM s3 d JOIN thr USING (source)
  WHERE ('0x' || substr(md5('lp2' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        < thr),
s5 AS (
  SELECT doc_id,
         CASE WHEN h < {_T1} THEN 'train'
              WHEN h < {_T2} THEN 'val'
              ELSE 'test' END AS split,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
  FROM (
    SELECT *, ('0x' || substr(md5('lp3' || CAST(doc_id AS VARCHAR)),
               1, 8))::BIGINT AS h
    FROM s4)),
packed AS (
  SELECT doc_id, split, n_tokens,
         CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_id
  FROM (
    SELECT *, SUM(n_tokens) OVER (PARTITION BY split ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS cum
    FROM s5))
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT pack_id) AS BIGINT) AS n_packs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM packed
GROUP BY split
ORDER BY split
"""


def ev_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through Spark 4's VariantType: ``parse_json``
    once into the binary variant encoding, then ``variant_get`` per field
    — the scale path for repeated multi-field extraction (the JSON text
    is parsed once per row, not once per path as with repeated
    ``get_json_object``).  Shares ev_json_extract's oracle: the variant
    route must produce byte-identical aggregates to the JSON-path
    route."""
    events = load_events(spark, sf_dir)
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (
        events.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def samp_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-mixture curation (operators/sampling.mixture_resample):
    the largest subsample of four sources with expected shares
    50/25/12.5/12.5% — deterministic md5 thinning, corpus never
    shuffles.  Dyadic targets keep the share arithmetic bit-exact in
    both engines."""
    from ..operators.sampling import mixture_resample

    docs = _t(spark, sf_dir, "documents")
    out = mixture_resample(
        docs,
        "source",
        "doc_id",
        {"src0": 0.5, "src1": 0.25, "src2": 0.125, "src3": 0.125},
        salt="mx",
    )
    return out.select("source", "doc_id", "lang")


SAMP_MIXTURE_SQL = r"""
WITH tgt(source, t) AS (
  VALUES ('src0', 0.5), ('src1', 0.25), ('src2', 0.125), ('src3', 0.125)),
counts AS (
  SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
jt AS (SELECT c.source, n_s, CAST(t AS DOUBLE) AS t
       FROM counts c JOIN tgt USING (source)),
cap AS (SELECT MIN(FLOOR(CAST(n_s AS DOUBLE) / t)) AS tot_cap FROM jt),
thr AS (
  SELECT source,
         CAST(FLOOR(LEAST(1.0,
                          CAST(tot_cap AS DOUBLE) * t / CAST(n_s AS DOUBLE))
                    * 4294967296.0) AS BIGINT) AS thr
  FROM jt, cap)
SELECT d.source, d.doc_id, d.lang
FROM documents d JOIN thr USING (source)
WHERE ('0x' || substr(md5('mx' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      < thr
"""


def txt_trigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram LM quality scoring (functions/text.trigram_model
    + trigram_lm_scores): the frequency form of the CCNet/KenLM
    perplexity filter.  The model trains on the train split only (same
    md5 'r2' assignment as txt_train_split — no held-out leakage), is
    alphabet-bounded so it broadcasts at any corpus scale, and every doc
    gets the mean training frequency of its trigrams — integer-exact, so
    the DuckDB oracle certifies every score.  Both sides score the first
    512 normalized chars: the trigram explode is the dominant cost and a
    bounded prefix carries the same filtering power (26 s → ~2 s at
    sf0.1)."""
    from ..functions.text import trigram_lm_scores, trigram_model
    from ..operators.sampling import add_split

    docs = _t(spark, sf_dir, "documents")
    train = add_split(docs, "doc_id", salt="r2").filter(
        F.col("split") == "train"
    )
    model = trigram_model(train, "text", max_chars=512)
    return trigram_lm_scores(docs, model, "doc_id", "text", max_chars=512)


_TRIGRAM_SCORES_CHAIN = f"""norm AS (
  SELECT doc_id,
         substr(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                1, 512) AS t
  FROM documents),
tri AS MATERIALIZED (
  SELECT doc_id, substr(t, CAST(i AS INTEGER), 3) AS g
  FROM norm, UNNEST(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3),
model AS MATERIALIZED (
  SELECT g, COUNT(*) AS c3 FROM tri
  WHERE ('0x' || substr(md5('r2' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        < {_T1}
  GROUP BY g),
lm_scores AS MATERIALIZED (
  SELECT tri.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tri,
         CAST(SUM(COALESCE(c3, 0)) AS BIGINT) AS sum_c3,
         CAST(SUM(COALESCE(c3, 0)) // COUNT(*) AS BIGINT) AS score
  FROM tri LEFT JOIN model USING (g)
  GROUP BY tri.doc_id)"""

TXT_TRIGRAM_LM_SQL = f"""
WITH
{_TRIGRAM_SCORES_CHAIN}
SELECT doc_id, n_tri, sum_c3, score FROM lm_scores
"""


def samp_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al., LREC 2020): docs
    split into head/middle/tail terciles of the trigram-LM quality score,
    then sampled per bucket — head kept whole, middle at 50%, tail at
    20% (hash-Bernoulli, the map-only zero-shuffle device from
    temperature_resample).  Tercile cutpoints are ONE exact-percentile
    aggregate broadcast back (integer scores compare safely against
    interpolated cutpoints in both engines: a flip would need an integer
    within one ulp of a non-integer cutpoint, and exact-integer
    cutpoints are computed exactly by both).  Scale: after the scoring
    aggregate everything is map-only."""
    from ..functions.text import trigram_lm_scores, trigram_model
    from ..operators.sampling import add_split, split_thresholds

    docs = _t(spark, sf_dir, "documents")
    train = add_split(docs, "doc_id", salt="r2").filter(
        F.col("split") == "train"
    )
    model = trigram_model(train, "text", max_chars=512)
    scores = trigram_lm_scores(docs, model, "doc_id", "text", max_chars=512)
    cuts = scores.agg(
        F.percentile(F.col("score"), F.lit(1.0 / 3)).alias("c1"),
        F.percentile(F.col("score"), F.lit(2.0 / 3)).alias("c2"),
    )
    t20 = split_thresholds((0.2, 0.8))[0]
    t50 = split_thresholds((0.5, 0.5))[0]
    b = scores.join(F.broadcast(cuts))
    bucket = (
        F.when(F.col("score") <= F.col("c1"), F.lit(1))
        .when(F.col("score") <= F.col("c2"), F.lit(2))
        .otherwise(F.lit(3))
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("pb"), F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    out = b.withColumn("bucket", bucket).withColumn("__h", h)
    keep = (
        ((F.col("bucket") == 1) & (F.col("__h") < F.lit(t20)))
        | ((F.col("bucket") == 2) & (F.col("__h") < F.lit(t50)))
        | (F.col("bucket") == 3)
    )
    return out.filter(keep).select("doc_id", "bucket", "score")


def _samp_perplexity_sql() -> str:
    from ..operators.sampling import split_thresholds

    t20 = split_thresholds((0.2, 0.8))[0]
    t50 = split_thresholds((0.5, 0.5))[0]
    return f"""
WITH
{_TRIGRAM_SCORES_CHAIN},
cuts AS (
  SELECT QUANTILE_CONT(score, 1.0 / 3) AS c1,
         QUANTILE_CONT(score, 2.0 / 3) AS c2
  FROM lm_scores)
SELECT doc_id, bucket, score FROM (
  SELECT s.doc_id, s.score,
         CASE WHEN s.score <= c.c1 THEN 1
              WHEN s.score <= c.c2 THEN 2
              ELSE 3 END AS bucket,
         ('0x' || substr(md5('pb' || CAST(s.doc_id AS VARCHAR)), 1, 8))::BIGINT
           AS h
  FROM lm_scores s CROSS JOIN cuts c)
WHERE (bucket = 1 AND h < {t20})
   OR (bucket = 2 AND h < {t50})
   OR bucket = 3
"""


SAMP_PERPLEXITY_SQL = _samp_perplexity_sql()


def emb_pca_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA, stage 1 (operators/pca.embedding_gram): the
    upper-triangle second-moment matrix of the 64-dim embedding column as
    exact fixed-point int64 sums.  Each partition reduces to d(d+1)/2
    cells before the shuffle — the wire cost is O(partitions·d²), not
    O(rows); the driver-side eigendecomposition (pca_fit) consumes this
    d×d object and is pytest-verified against numpy."""
    from ..operators.pca import embedding_gram

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_gram(emb, "embedding", dim=64)


EMB_PCA_GRAM_SQL = f"""
SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
       CAST(SUM(CAST(FLOOR(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
                           * CAST(embedding[CAST(j AS INTEGER)] AS DOUBLE)
                           * {FP30}) AS BIGINT)) AS BIGINT) AS s_fp
FROM embeddings, range(1, 65) t1(i), range(1, 65) t2(j)
WHERE j >= i
GROUP BY 1, 2
"""


def samp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (operators/sampling.
    weighted_sample): 20 documents per language, inclusion probability
    proportional to ``n_chars`` — the Efraimidis–Spirakis A-ES key
    ``u^(1/w)`` with ``u`` drawn from md5, replayable in ANSI SQL."""
    from ..operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample(
        docs, "n_chars", k=20, id_col="doc_id", group_cols=["lang"], salt="ws"
    )
    return out.select("lang", "doc_id", "n_chars", "sample_rank")


SAMP_WEIGHTED_SQL = r"""
SELECT lang, doc_id, n_chars, sample_rank FROM (
  SELECT lang, doc_id, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY pow(u, 1.0 / w) DESC, doc_id ASC) AS sample_rank
  FROM (
    SELECT lang, doc_id, n_chars,
           (('0x' || substr(md5('ws' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
            + 0.5) / 4294967296.0 AS u,
           CAST(n_chars AS DOUBLE) AS w
    FROM documents
    WHERE CAST(n_chars AS DOUBLE) > 0))
WHERE sample_rank <= 20
"""


def skw_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key aggregation through the salted two-stage plan
    (operators/skew.salted_group_agg): lineitem grouped by the 3-value
    ``l_returnflag`` — exactly the shape where one reducer per key
    straggles at scale.  The salted rewrite is algebraically identical to
    the plain GROUP BY (which is the DuckDB oracle), only the
    partitioning differs: stage 1 spreads each key over 16 sub-keys,
    stage 2 merges 3·16 partials."""
    from ..operators.skew import salted_group_agg

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "qty_fp",
        F.floor(F.col("l_quantity") * F.lit(float(1 << 20))).cast("long"),
    )
    out = salted_group_agg(
        li,
        ["l_returnflag"],
        {
            "n_rows": ("count", "qty_fp"),
            "sum_qty_fp": ("sum", "qty_fp"),
            "max_price": ("max", "l_extendedprice"),
        },
        n_salts=16,
    )
    return out.select("l_returnflag", "n_rows", "sum_qty_fp", "max_price")


SKW_SALTED_AGG_SQL = r"""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(FLOOR(l_quantity * 1048576.0) AS BIGINT)) AS BIGINT)
         AS sum_qty_fp,
       MAX(l_extendedprice) AS max_price
FROM lineitem
GROUP BY l_returnflag
"""


def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed fixed-point k-means (operators/kmeans.py): 3 Lloyd's
    iterations, k=8, over the 64-dim embedding column.  Every quantity is
    an int64 (quantized coordinates, integer squared distances, exact
    floor-division centroid means), so the DuckDB oracle replays the full
    iterative trajectory as chained CTEs — init, three updates, final
    assignment — bit for bit.  The returned plan is map-only (centroids
    inline as literals after the fit's bounded k×d driver collects)."""
    from ..operators.kmeans import kmeans

    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    out = kmeans(emb, "vec_id", "embedding", k=8, n_iter=3)
    return out.select("vec_id", "cluster", "d2")


def _sql_kmeans_chain(
    k: int,
    n_iter: int,
    fp_bits: int,
    dim: int,
    xv_sql: str | None = None,
    ids_from: str = "embeddings WHERE embedding IS NOT NULL",
) -> str:
    """CTE chain (no leading WITH) replaying operators/kmeans.py exactly,
    ending in ``fin(vec_id, cluster, d2)`` — the assignment against the
    post-``n_iter``-update centroids.  Empty clusters keep their previous
    centroid via the UNION ALL branch, mirroring kmeans_fit.

    ``xv_sql`` overrides the feature CTE (must be a full ``xv AS ...``
    producing ``(vec_id, dim INTEGER, val BIGINT)`` DENSE in dim);
    ``ids_from`` is the seeds' FROM clause (a relation with ``vec_id``).
    Defaults replay the embeddings table."""
    scale = repr(float(1 << fp_bits))
    ctes = [
        xv_sql
        if xv_sql is not None
        else f"""xv AS MATERIALIZED (
  SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
         CAST(FLOOR(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
                    * CAST({scale} AS DOUBLE)) AS BIGINT) AS val
  FROM embeddings, range(1, {dim + 1}) t(i)
  WHERE embedding IS NOT NULL)""",
        f"""seeds AS MATERIALIZED (
  SELECT vec_id,
         CAST(ROW_NUMBER() OVER (
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INTEGER)
           AS cluster
  FROM {ids_from}
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT {k})""",
        """cent0 AS MATERIALIZED (
  SELECT s.cluster, x.dim, x.val AS c
  FROM seeds s JOIN xv x USING (vec_id))""",
    ]
    for i in range(1, n_iter + 1):
        p = f"cent{i - 1}"
        ctes.append(
            f"""assign{i} AS MATERIALIZED (
  SELECT vec_id, cluster FROM (
    SELECT x.vec_id, c.cluster,
           ROW_NUMBER() OVER (
             PARTITION BY x.vec_id
             ORDER BY SUM((x.val - c.c) * (x.val - c.c)) ASC,
                      c.cluster ASC) AS rn
    FROM xv x JOIN {p} c USING (dim)
    GROUP BY x.vec_id, c.cluster)
  WHERE rn = 1)""",
        )
        ctes.append(
            f"""sums{i} AS MATERIALIZED (
  SELECT a.cluster, x.dim, CAST(SUM(x.val) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM xv x JOIN assign{i} a USING (vec_id)
  GROUP BY a.cluster, x.dim)""",
        )
        ctes.append(
            f"""cent{i} AS MATERIALIZED (
  SELECT cluster, dim,
         CAST((s - ((s % n) + n) % n) / n AS BIGINT) AS c
  FROM sums{i}
  UNION ALL
  SELECT p.cluster, p.dim, p.c FROM {p} p
  WHERE p.cluster NOT IN (SELECT cluster FROM sums{i}))""",
        )
    ctes.append(
        f"""fin AS MATERIALIZED (
  SELECT vec_id, cluster, d2 FROM (
    SELECT x.vec_id, c.cluster,
           CAST(SUM((x.val - c.c) * (x.val - c.c)) AS BIGINT) AS d2,
           ROW_NUMBER() OVER (
             PARTITION BY x.vec_id
             ORDER BY SUM((x.val - c.c) * (x.val - c.c)) ASC,
                      c.cluster ASC) AS rn
    FROM xv x JOIN cent{n_iter} c USING (dim)
    GROUP BY x.vec_id, c.cluster)
  WHERE rn = 1)""",
    )
    return ",\n".join(ctes)


EMB_KMEANS_SQL = f"""
WITH
{_sql_kmeans_chain(k=8, n_iter=3, fp_bits=20, dim=64)}
SELECT vec_id, cluster, d2 FROM fin
"""


def emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/dedup.semantic_dedup): fixed-point k-means
    partitions the corpus (k=8, 3 iterations); within each cluster any
    vector with a smaller-id neighbor at cosine ≥ 0.35 is dropped.  The
    cluster bound is the scale device — candidate pairs never cross
    clusters.  Fully deterministic (integer k-means trajectory +
    fixed-point cosines) → the oracle replays clustering AND the pair
    threshold bit for bit."""
    from ..operators.dedup import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    survivors, _pairs = semantic_dedup(
        emb, threshold=0.35, k=8, n_iter=3
    )
    return survivors.select("vec_id", "cluster")


EMB_SEMANTIC_DEDUP_SQL = f"""
WITH
{_sql_kmeans_chain(k=8, n_iter=3, fp_bits=20, dim=64)},
nrms AS (
  SELECT vec_id, embedding,
         sqrt({_sql_fp_dot('embedding', 'embedding')}) AS nrm
  FROM embeddings WHERE embedding IS NOT NULL),
dropped AS (
  SELECT DISTINCT f2.vec_id
  FROM fin f1
  JOIN fin f2 ON f1.cluster = f2.cluster AND f1.vec_id < f2.vec_id
  JOIN nrms a ON a.vec_id = f1.vec_id
  JOIN nrms b ON b.vec_id = f2.vec_id
  WHERE a.nrm * b.nrm > 0
    AND ({_sql_fp_dot('a.embedding', 'b.embedding')}) / (a.nrm * b.nrm)
        >= 0.35)
SELECT f.vec_id, f.cluster FROM fin f
WHERE f.vec_id NOT IN (SELECT vec_id FROM dropped)
"""


#: classifier fixture: (feature name, literal substring) counted in both
#: engines via the replace-all length identity.  The weak label is a
#: teacher rule linear in these features (y = +1 iff the text mentions
#: "fast" more often than "slow"), so training must RECOVER the rule —
#: a teacher-student setup that certifies the distributed trainer
#: converges, which the synthetic corpus's random metadata labels can't.
_CLF_FEATURES = [
    ("f_the", " the "),
    ("f_fast", "fast"),
    ("f_slow", "slow"),
    ("f_big", "big"),
    ("f_small", "small"),
]
_CLF_LR = [16, 8, 4, 2, 1, 1]  # integer decay damps the batch zigzag


def txt_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed quality-classifier training (operators/classifier.py):
    a batch perceptron over five substring-count features with a decaying
    integer lr schedule, weak-labeled by a linear teacher rule it must
    recover (reaches ~0.97 on the training set).  Integer-exact end to
    end — per-epoch gradients are int64 sums of ``y·x`` over the
    misclassified set, weights update once per epoch — so the DuckDB
    oracle replays the full 6-epoch trajectory AND the final scores as
    chained CTEs.  Epoch plans are pure JVM scan→filter→aggregate with
    literal weights (no Python; only the d-column aggregate merge crosses
    the wire); prediction is map-only."""
    from ..operators.classifier import (
        batch_perceptron_fit,
        perceptron_predict,
        substring_count,
    )
    from ..utils import materialize

    docs = _t(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        *[
            substring_count(F.col("text"), pat).alias(name)
            for name, pat in _CLF_FEATURES
        ],
    ).withColumn(
        "y",
        F.when(F.col("f_fast") > F.col("f_slow"), F.lit(1)).otherwise(
            F.lit(-1)
        ),
    )
    fcols = [name for name, _ in _CLF_FEATURES]
    feats = materialize(feats)
    w = batch_perceptron_fit(
        feats, fcols, "y", n_epochs=len(_CLF_LR), lr=_CLF_LR
    )
    out = perceptron_predict(feats, fcols, w)
    return out.select("doc_id", "y", "score", "pred")


def _sql_perceptron_chain() -> str:
    """CTE chain replaying classifier.batch_perceptron_fit on the
    documents table (teacher-rule labels, substring-count features,
    decaying lr schedule), ending in ``ep{n}(w0…)``."""
    n_feat = len(_CLF_FEATURES)
    fdefs = ",\n         ".join(
        f"CAST((length(text) - length(regexp_replace(text, '{pat}', '', 'g')))"
        f" / {len(pat)} AS BIGINT) AS {name}"
        for name, pat in _CLF_FEATURES
    )
    fnames = [name for name, _ in _CLF_FEATURES]
    feats = f"""feats0 AS MATERIALIZED (
  SELECT doc_id,
         {fdefs}
  FROM documents),
feats AS (
  SELECT doc_id,
         CASE WHEN f_fast > f_slow THEN 1 ELSE -1 END AS y, *
         EXCLUDE (doc_id)
  FROM feats0),
clean AS (
  SELECT * FROM feats
  WHERE {' AND '.join(f'{c} IS NOT NULL' for c in fnames)}),
ep0 AS (
  SELECT {', '.join(f'CAST(0 AS BIGINT) AS w{j}' for j in range(n_feat + 1))})"""
    dot = "(e.w0 + " + " + ".join(
        f"e.w{j + 1} * c.{c}" for j, c in enumerate(fnames)
    ) + ")"
    terms = ["c.y"] + [f"c.y * c.{c}" for c in fnames]
    ctes = [feats]
    for i, lr in enumerate(_CLF_LR, start=1):
        gs = ",\n         ".join(
            f"CAST(COALESCE(SUM(CASE WHEN c.y * {dot} <= 0 THEN {t} "
            f"ELSE 0 END), 0) AS BIGINT) AS g{j}"
            for j, t in enumerate(terms)
        )
        ctes.append(
            f"""upd{i} AS MATERIALIZED (
  SELECT {gs}
  FROM clean c CROSS JOIN ep{i - 1} e)"""
        )
        ws = ", ".join(
            f"e.w{j} + {lr} * u.g{j} AS w{j}" for j in range(n_feat + 1)
        )
        ctes.append(
            f"""ep{i} AS MATERIALIZED (
  SELECT {ws} FROM ep{i - 1} e CROSS JOIN upd{i} u)"""
        )
    return ",\n".join(ctes)


def _sql_clf_score(prefix: str = "f") -> str:
    return "e.w0 + " + " + ".join(
        f"e.w{j + 1} * {prefix}.{c}"
        for j, c in enumerate(n for n, _ in _CLF_FEATURES)
    )


TXT_QUALITY_CLASSIFIER_SQL = f"""
WITH
{_sql_perceptron_chain()}
SELECT f.doc_id, f.y,
       CAST({_sql_clf_score()} AS BIGINT) AS score,
       CASE WHEN {_sql_clf_score()} > 0 THEN 1 ELSE -1 END AS pred
FROM feats f CROSS JOIN ep{len(_CLF_LR)} e
"""


def j10_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning (operators/bloomjoin.py): lineitem joins
    the high-value orders slice; the dim keys aggregate into a Bloom
    bitmap (bit_or word aggregate — map-side partial ORs, wire cost =
    the bitmap) that rides the fact-side predicate as one array literal,
    so non-joining fact rows are discarded map-only BEFORE the join's
    exchange — the "runtime filter" / sideways-information-passing shape
    for dims too big to broadcast whole.  False positives are cleaned by
    the real join, so the result — and the DuckDB oracle — is exactly
    the plain join's aggregate, independent of the hash function."""
    from ..operators.bloomjoin import bloom_prune_join
    from .star_queries import dsum

    li = _t(spark, sf_dir, "lineitem")
    dim = _t(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 450_000.0
    ).select("o_orderkey", "o_orderdate")
    joined = bloom_prune_join(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), dim, "o_orderkey"
    )
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_orderkey").alias("n_orders"),
        dsum("l_quantity", "sum_qty"),
    )


J10_BLOOM_JOIN_SQL = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(FLOOR(l_quantity * 1048576.0) AS BIGINT)) AS DOUBLE)
         / 1048576.0 AS sum_qty
FROM lineitem
JOIN (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000.0)
  ON l_orderkey = o_orderkey
GROUP BY l_returnflag
"""


def samp_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-site cap (operators/sampling.quota_sample): at most 40 docs
    per source, survivors chosen by content hash md5('q7'‖doc_id) with
    id tiebreak — deterministic in the data, so the DuckDB oracle
    replays the exact kept set (one window per engine)."""
    from ..operators.sampling import quota_sample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return quota_sample(docs, "source", "doc_id", cap=40, salt="q7")


SAMP_DOMAIN_QUOTA_SQL = """
SELECT doc_id, source, n_chars FROM (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5('q7' || CAST(doc_id AS VARCHAR)),
                     1, 8))::BIGINT ASC, doc_id ASC) AS rk
  FROM documents)
WHERE rk <= 40
"""


def txt_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + registrable-domain blocklist
    (functions/urls.py): synthetic crawl URLs derived from doc_id
    (mixed-case hosts, default ports, utm/fbclid tracking params,
    fragments, co.uk/com.au multi-label suffixes) are normalized,
    domain-extracted, and flagged against a blocklist — every step a
    JVM expression with an exact DuckDB twin."""
    from ..functions.urls import normalize_url, registrable_domain

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    scheme = F.when(d % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https"))
    host = (
        F.when(d % 5 == 0, F.lit("WWW.Example.COM"))
        .when(d % 5 == 1, F.lit("News.Example.co.uk"))
        .when(d % 5 == 2, F.lit("cdn.Spam-Site.com"))
        .when(d % 5 == 3, F.lit("Shop.Example.com.au"))
        .otherwise(F.lit("blog.example.org"))
    )
    port = F.when(
        d % 3 == 0,
        F.when(d % 2 == 0, F.lit(":80")).otherwise(F.lit(":443")),
    ).otherwise(F.lit(""))
    q = (
        F.when(d % 4 == 0, F.concat(F.lit("?utm_source=feed&id="), d))
        .when(d % 4 == 1, F.concat(F.lit("?id="), d))
        .otherwise(F.lit(""))
    )
    frag = F.when(d % 6 == 0, F.lit("#top")).otherwise(F.lit(""))
    url = F.concat(
        scheme, F.lit("://"), host, port, F.lit("/p/"), d, q, frag
    )
    tagged = docs.select(
        "doc_id",
        normalize_url(url).alias("url_norm"),
        registrable_domain(url).alias("domain"),
    )
    return tagged.withColumn(
        "blocked",
        F.coalesce(F.col("domain").isin("spam-site.com"), F.lit(False)),
    )


TXT_URL_FILTER_SQL = r"""
WITH built AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)
         || '://'
         || (CASE doc_id % 5 WHEN 0 THEN 'WWW.Example.COM'
                             WHEN 1 THEN 'News.Example.co.uk'
                             WHEN 2 THEN 'cdn.Spam-Site.com'
                             WHEN 3 THEN 'Shop.Example.com.au'
                             ELSE 'blog.example.org' END)
         || (CASE WHEN doc_id % 3 = 0
                  THEN CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END
                  ELSE '' END)
         || '/p/' || doc_id
         || (CASE doc_id % 4
               WHEN 0 THEN '?utm_source=feed&id=' || doc_id
               WHEN 1 THEN '?id=' || doc_id ELSE '' END)
         || (CASE WHEN doc_id % 6 = 0 THEN '#top' ELSE '' END) AS url
  FROM documents),
defrag AS (
  SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM built),
parts AS (
  SELECT doc_id, u,
         regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*)', 1)
           AS prefix
  FROM defrag),
lowp AS (
  SELECT doc_id, u, lower(prefix) AS low,
         substr(u, length(prefix) + 1) AS rest
  FROM parts),
noport AS (
  SELECT doc_id, rest,
         CASE WHEN low LIKE 'http://%' AND low LIKE '%:80'
                THEN substr(low, 1, length(low) - 3)
              WHEN low LIKE 'https://%' AND low LIKE '%:443'
                THEN substr(low, 1, length(low) - 4)
              ELSE low END AS low
  FROM lowp),
tails AS (
  SELECT doc_id, low,
         regexp_replace(rest, '\?.*$', '') AS path,
         CASE WHEN contains(rest, '?')
              THEN array_to_string(list_filter(
                     string_split(regexp_replace(rest, '^[^?]*\?', ''), '&'),
                     p -> NOT (starts_with(p, 'utm_')
                               OR starts_with(p, 'fbclid')
                               OR starts_with(p, 'gclid')
                               OR starts_with(p, 'mc_cid')
                               OR starts_with(p, 'mc_eid'))), '&')
              ELSE '' END AS clean_q
  FROM noport),
norm AS (
  SELECT doc_id,
         low || (CASE WHEN clean_q = '' THEN path
                      ELSE path || '?' || clean_q END) AS url_norm,
         nullif(regexp_replace(regexp_replace(regexp_replace(low,
                  '^[a-z][a-z0-9+.\-]*://', ''), '^[^@]*@', ''),
                  ':\d+$', ''), '') AS host
  FROM tails),
dom AS (
  SELECT doc_id, url_norm,
         CASE WHEN host IS NULL THEN NULL
              ELSE nullif(CASE WHEN regexp_extract(host,
                       '([^.]+\.[^.]+)$', 1) IN
                       ('co.uk','org.uk','ac.uk','gov.uk','me.uk',
                        'com.au','net.au','org.au','co.jp','ne.jp',
                        'or.jp','com.br','net.br','org.br','co.in',
                        'co.nz','co.za','com.cn','com.mx','com.tr')
                     AND regexp_extract(host,
                       '([^.]+\.[^.]+\.[^.]+)$', 1) <> ''
                   THEN regexp_extract(host, '([^.]+\.[^.]+\.[^.]+)$', 1)
                   ELSE regexp_extract(host, '([^.]+\.[^.]+)$', 1) END, '')
              END AS domain
  FROM norm)
SELECT doc_id, url_norm, domain,
       COALESCE(domain = 'spam-site.com', FALSE) AS blocked
FROM dom
"""


def txt_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode canonicalization (functions/normalize.py): docs
    ``doc_id % 3 == 0`` get a planted DEcomposed prefix (``e`` +
    combining acute, NFD form of ``café résumé``) plus a control char
    and doubled spaces; the pipeline NFC-normalizes, strips controls,
    and collapses whitespace.  The oracle replays it with DuckDB's
    ``nfc_normalize`` — byte-level agreement between two independent
    Unicode implementations, certified per doc by md5."""
    from ..functions.normalize import clean_text

    # 'cafe' + combining-acute, twice-spaced, with a BEL control char
    dirty = "café  résumé\x07"
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(dirty + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = clean_text(corpus, "text", form="NFC")
    return out.select(
        "doc_id",
        F.md5("text").alias("clean_fp"),
        F.length("text").alias("n_chars"),
        "was_changed",
    )


TXT_NORMALIZE_SQL = """
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN 'cafe' || chr(769) || '  re' || chr(769) || 'sume'
                   || chr(769) || chr(7) || ' ' || text
              ELSE text END AS text
  FROM documents),
cleaned AS (
  SELECT doc_id, text,
         trim(regexp_replace(
           regexp_replace(nfc_normalize(text),
                          '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f-\\x9f]',
                          '', 'g'),
           '\\s+', ' ', 'g')) AS clean
  FROM base)
SELECT doc_id,
       md5(clean) AS clean_fp,
       CAST(length(clean) AS INTEGER) AS n_chars,
       clean IS DISTINCT FROM text AS was_changed
FROM cleaned
"""


def src_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingestion end to end (sources/warc.py): the documents table
    is exported as 4 gzipped WARC shards (JVM-rendered records, text
    writer) and re-ingested through the binaryFile + Content-Length
    parser; output proves byte-exact payload round-trip (md5 + octet
    length per doc) against the DuckDB oracle reading the original
    parquet.
    One scan task per shard — the Common Crawl ingestion shape."""
    import atexit
    import hashlib
    import os as _os
    import shutil
    import tempfile

    from ..sources.warc import read_warc, write_warc

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = _os.path.join(
        tempfile.gettempdir(), f"dslicer_warc_{_os.getpid()}_{tag}"
    )
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    write_warc(
        docs.select(
            F.concat(
                F.lit("http://corpus.local/doc/"), F.col("doc_id")
            ).alias("uri"),
            "text",
        ),
        path, "uri", "text", n_shards=4,
    )
    return (
        read_warc(spark, path)
        .filter(F.col("warc_type") == "response")
        .select(
            F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("content_length").alias("n_bytes"),
            F.md5("payload").alias("payload_fp"),
        )
    )


SRC_WARC_ROUNDTRIP_SQL = """
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       md5(text) AS payload_fp
FROM documents WHERE text IS NOT NULL
"""


def j11_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exchange-free fact-to-fact join via bucketed storage
    (sources/bucketed.py): orders and lineitem are written as
    catalog-managed tables hash-bucketed on the order key, then joined
    with ZERO Exchange operators — bucket b only ever meets bucket b,
    so the repeated-join shuffle is paid once at write time (the 100 TB
    layout for orders⋈lineitem-every-query workloads).  The plan audit
    asserts no Exchange and no broadcast; the result — and the DuckDB
    oracle — is exactly the plain join's aggregate, independent of the
    physical layout."""
    import atexit
    import os as _os

    from ..sources.bucketed import bucketed_join, write_bucketed
    from .star_queries import dsum

    tag = _os.getpid()
    t_ord, t_li = f"j11_orders_b{tag}", f"j11_lineitem_b{tag}"
    write_bucketed(
        _t(spark, sf_dir, "orders")
        .withColumnRenamed("o_orderkey", "okey")
        .select("okey", "o_orderpriority"),
        t_ord, ["okey"], 8,
    )
    write_bucketed(
        _t(spark, sf_dir, "lineitem")
        .withColumnRenamed("l_orderkey", "okey")
        .select("okey", "l_extendedprice", "l_quantity"),
        t_li, ["okey"], 8,
    )

    def _drop(names=(t_ord, t_li)):
        from pyspark.sql import SparkSession as _S

        s = _S.getActiveSession()
        if s is not None:
            for n in names:
                try:
                    s.sql(f"DROP TABLE IF EXISTS {n}")
                except Exception:
                    pass

    atexit.register(_drop)
    return (
        bucketed_join(spark, t_ord, t_li, ["okey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("okey").alias("n_orders"),
            dsum("l_extendedprice", "sum_price"),
        )
    )


J11_BUCKETED_JOIN_SQL = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 1048576.0) AS BIGINT))
            AS DOUBLE) / 1048576.0 AS sum_price
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
"""


_BPE_MERGES = 4
_BPE_MAX_CHARS = 256


def txt_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training + tokenization
    (operators/bpe.py): 4 merge rounds learned over the corpus — each
    round one pair-frequency aggregate (map-side partial counts; the
    wire carries pair frequencies, never token streams) and one LIMIT-1
    driver collect — then a map-only tokenize with the learned table.
    Exact string/integer math throughout, so the DuckDB oracle replays
    training AND tokenization bit for bit as chained CTEs."""
    from ..operators.bpe import bpe_apply, bpe_fit

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    merges = bpe_fit(
        docs, "text", n_merges=_BPE_MERGES, max_chars=_BPE_MAX_CHARS
    )
    out = bpe_apply(docs, merges, "text", max_chars=_BPE_MAX_CHARS)
    return out.select(
        "doc_id",
        "n_bpe_tokens",
        F.md5(F.concat_ws(" ", "bpe_tokens")).alias("tok_fp"),
    )


def _sql_bpe_chain(n_merges: int, max_chars: int) -> str:
    """CTE chain replaying operators/bpe.py: prep, n merge rounds (pair
    counts → argmax merge → replace), ending in ``s{n}(doc_id, s)``."""
    ctes = [
        f"""s0 AS MATERIALIZED (
  SELECT doc_id,
         ' ' || regexp_replace(
                  replace(substring(text, 1, {max_chars}), ' ', '▁'),
                  '(?s)(.)', '\\1 ', 'g') AS s
  FROM documents WHERE text IS NOT NULL)"""
    ]
    for i in range(1, n_merges + 1):
        p = f"s{i - 1}"
        ctes.append(
            f"""pc{i} AS MATERIALIZED (
  SELECT p[1] || ' ' || p[2] AS pair, COUNT(*) AS cnt
  FROM (
    SELECT unnest(list_zip(l[1:len(l) - 1], l[2:len(l)])) AS p
    FROM (SELECT string_split(trim(s), ' ') AS l FROM {p}))
  GROUP BY 1)""",
        )
        ctes.append(
            f"""m{i} AS MATERIALIZED (
  SELECT pair,
         ' ' || pair || ' ' AS pat,
         ' ' || replace(pair, ' ', '') || ' ' AS sub
  FROM pc{i} ORDER BY cnt DESC, pair ASC LIMIT 1)""",
        )
        ctes.append(
            f"""s{i} AS MATERIALIZED (
  SELECT doc_id, replace(s, m.pat, m.sub) AS s
  FROM {p} CROSS JOIN m{i} m)""",
        )
    return ",\n".join(ctes)


TXT_BPE_SQL = f"""
WITH
{_sql_bpe_chain(_BPE_MERGES, _BPE_MAX_CHARS)}
SELECT doc_id,
       CAST(len(string_split(trim(s), ' ')) AS INTEGER) AS n_bpe_tokens,
       md5(trim(s)) AS tok_fp
FROM s{_BPE_MERGES}
"""


_HBOW_DIM = 64
_HBOW_LR = [16, 8, 4, 2, 1, 1, 1, 1]


def txt_hashed_bow_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style text classification end to end: hashed
    bag-of-words features (classifier.hashed_bow_features, 64 md5
    buckets, map-only) + batch-perceptron training against the
    same teacher rule as ``txt_quality_classifier`` — but the model sees
    ONLY the hashed counts, so it must discover the signal-carrying
    buckets through hash collisions (reaches ≈0.92 train accuracy; the
    collisions are why it is not 1.0 — the honest hashing-trick
    trade-off).  Training remains integer-exact, so the oracle replays
    featurization AND all 8 epochs as chained CTEs."""
    from ..operators.classifier import (
        batch_perceptron_fit,
        hashed_bow_features,
        perceptron_predict,
        substring_count,
    )
    from ..utils import materialize

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    y = F.when(
        substring_count(F.col("text"), "fast")
        > substring_count(F.col("text"), "slow"),
        F.lit(1),
    ).otherwise(F.lit(-1)).alias("y")
    # label and features in one projection of the scan, derived once:
    # the epochs and the final write read the checkpoint
    feats = materialize(
        hashed_bow_features(
            docs.select("doc_id", "text", y), "doc_id", "text", dim=_HBOW_DIM
        ).drop("text")
    )
    fcols = [f"f{j}" for j in range(_HBOW_DIM)]
    w = batch_perceptron_fit(
        feats, fcols, "y", n_epochs=len(_HBOW_LR), lr=_HBOW_LR
    )
    out = perceptron_predict(feats, fcols, w)
    return out.select("doc_id", "y", "score", "pred")


def _sql_hashed_perceptron() -> str:
    """CTE chain: hashed-BoW featurization + the 8-epoch perceptron
    replay (margin computed once per row per epoch, so the SQL stays
    compact at 64 features)."""
    d = _HBOW_DIM
    fcols = [f"f{j}" for j in range(d)]
    fdefs = ",\n         ".join(
        f"CAST(COALESCE(SUM(CASE WHEN slot = {j} THEN 1 END), 0) AS BIGINT)"
        f" AS f{j}"
        for j in range(d)
    )
    ctes = [
        r"""toks AS MATERIALIZED (
  SELECT doc_id, t FROM (
    SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS t
    FROM documents WHERE text IS NOT NULL)
  WHERE t <> '')""",
        f"""slots AS MATERIALIZED (
  SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT % {d} AS slot
  FROM toks)""",
        f"""bow AS MATERIALIZED (
  SELECT doc_id,
         {fdefs}
  FROM slots GROUP BY doc_id)""",
        f"""clean AS MATERIALIZED (
  SELECT dd.doc_id,
         CASE WHEN (length(dd.text)
                    - length(regexp_replace(dd.text, 'fast', '', 'g'))) / 4
                 > (length(dd.text)
                    - length(regexp_replace(dd.text, 'slow', '', 'g'))) / 4
              THEN 1 ELSE -1 END AS y,
         {', '.join(f'COALESCE(b.f{j}, 0) AS f{j}' for j in range(d))}
  FROM documents dd LEFT JOIN bow b USING (doc_id)
  WHERE dd.text IS NOT NULL)""",
        f"""ep0 AS (
  SELECT {', '.join(f'CAST(0 AS BIGINT) AS w{j}' for j in range(d + 1))})""",
    ]
    dot = "(e.w0 + " + " + ".join(
        f"e.w{j + 1} * c.{c}" for j, c in enumerate(fcols)
    ) + ")"
    for i, lr in enumerate(_HBOW_LR, start=1):
        gsums = ",\n         ".join(
            ["CAST(COALESCE(SUM(CASE WHEN mis THEN y END), 0) AS BIGINT)"
             " AS g0"]
            + [
                f"CAST(COALESCE(SUM(CASE WHEN mis THEN y * {c} END), 0)"
                f" AS BIGINT) AS g{j + 1}"
                for j, c in enumerate(fcols)
            ]
        )
        ctes.append(
            f"""upd{i} AS MATERIALIZED (
  SELECT {gsums}
  FROM (SELECT c.*, c.y * {dot} <= 0 AS mis
        FROM clean c CROSS JOIN ep{i - 1} e))""",
        )
        ws = ", ".join(
            f"e.w{j} + {lr} * u.g{j} AS w{j}" for j in range(d + 1)
        )
        ctes.append(
            f"""ep{i} AS MATERIALIZED (
  SELECT {ws} FROM ep{i - 1} e CROSS JOIN upd{i} u)""",
        )
    return ",\n".join(ctes)


TXT_HASHED_BOW_SQL = f"""
WITH
{_sql_hashed_perceptron()}
SELECT f.doc_id, f.y,
       CAST(e.w0 + {' + '.join(f'e.w{j + 1} * f.f{j}' for j in range(_HBOW_DIM))}
            AS BIGINT) AS score,
       CASE WHEN e.w0 + {' + '.join(f'e.w{j + 1} * f.f{j}' for j in range(_HBOW_DIM))}
              > 0 THEN 1 ELSE -1 END AS pred
FROM clean f CROSS JOIN ep{len(_HBOW_LR)} e
"""


def gr_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer PageRank (operators/graph.pagerank) over the bidirected
    customer↔supplier purchase graph (distinct lineitem⋈orders pairs;
    node = 2·custkey / 2·suppkey+1).  The iterative JOIN-shaped scale
    pattern: per round one shuffle of ranks on the join key, one of
    contributions on the destination — state stays fully distributed.
    Fixed-point int64 ranks make the 3-round trajectory exact, so the
    DuckDB oracle replays it as chained CTEs."""
    from ..operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    cs = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    edges = cs.unionByName(
        cs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return pagerank(edges, n_iter=3)


def _sql_pagerank_chain(n_iter: int, scale: int = 10**12) -> str:
    """CTE chain replaying graph.pagerank on the purchase graph, ending
    in ``r{n_iter}(node, rank)``."""
    ctes = [
        """e AS MATERIALIZED (
  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  UNION
  SELECT DISTINCT l_suppkey * 2 + 1 AS src, o_custkey * 2 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)""",
        """nodes AS MATERIALIZED (
  SELECT src AS node FROM e UNION SELECT dst FROM e)""",
        """outdeg AS MATERIALIZED (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src)""",
        """nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes)""",
        f"""r0 AS (
  SELECT node, CAST(({scale} - ({scale} % n)) / n AS BIGINT) AS rank
  FROM nodes CROSS JOIN nn)""",
    ]
    for i in range(1, n_iter + 1):
        p = f"r{i - 1}"
        base_num = scale * 15 // 100
        ctes.append(
            f"""c{i} AS MATERIALIZED (
  SELECT e.dst AS node,
         CAST(SUM(CAST((sh - (sh % deg)) / deg AS BIGINT)) AS BIGINT) AS cin
  FROM (
    SELECT e.src, e.dst, d.deg,
           CAST((r.rank * 85 - ((r.rank * 85) % 100)) / 100 AS BIGINT) AS sh
    FROM e JOIN outdeg d ON e.src = d.src JOIN {p} r ON r.node = e.src
  ) e
  GROUP BY e.dst)""",
        )
        ctes.append(
            f"""r{i} AS MATERIALIZED (
  SELECT nodes.node,
         CAST(({base_num} - ({base_num} % n)) / n AS BIGINT)
           + COALESCE(c{i}.cin, 0) AS rank
  FROM nodes CROSS JOIN nn LEFT JOIN c{i} ON nodes.node = c{i}.node)""",
        )
    return ",\n".join(ctes)


GR_PAGERANK_SQL = f"""
WITH
{_sql_pagerank_chain(3)}
SELECT node, CAST(rank AS BIGINT) AS rank FROM r3
"""


_RIDGE_LAM = 1


def txt_ridge_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed ridge regression (operators/ridge.py): model
    ``n_chars ~ 1 + f_spaces + f_the + f_fast`` over the documents
    table.  One aggregate job builds the integer normal matrix
    (map-side partial sums — d² cells per partition cross the wire);
    the driver solves by Cramer's rule in exact integer arithmetic;
    prediction is a map-only fixed-order double expression.  The DuckDB
    oracle rebuilds the same cells, expands the same 4×4 determinants
    (int128), performs the same contractual double conversion, and
    matches every prediction bit for bit."""
    from ..operators.classifier import substring_count
    from ..operators.ridge import (
        ridge_fit_exact,
        ridge_predict,
        ridge_weights,
    )
    from ..utils import materialize

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    t = F.col("text")
    feats = materialize(docs.select(
        "doc_id",
        F.col("n_chars").alias("y"),
        (F.length(t) - F.length(F.regexp_replace(t, " ", ""))).cast(
            "long"
        ).alias("f_spaces"),
        substring_count(t, " the ").alias("f_the"),
        substring_count(t, "fast").alias("f_fast"),
    ))
    det, nums = ridge_fit_exact(
        feats, ["f_spaces", "f_the", "f_fast"], "y", lam=_RIDGE_LAM
    )
    w = ridge_weights(det, nums)
    out = ridge_predict(feats, ["f_spaces", "f_the", "f_fast"], w)
    return out.select("doc_id", "y", "pred")


def _sql_leibniz(cell: "callable") -> str:
    """24-term Leibniz expansion of a 4×4 determinant; ``cell(i, j)``
    returns the SQL expression for entry (i, j)."""
    from itertools import permutations

    terms = []
    for perm in permutations(range(4)):
        inv = sum(
            1
            for a in range(4)
            for b in range(a + 1, 4)
            if perm[a] > perm[b]
        )
        sign = "-" if inv % 2 else "+"
        prod = " * ".join(cell(i, perm[i]) for i in range(4))
        terms.append(f"{sign} {prod}")
    return " ".join(terms)


def _sql_ridge() -> str:
    lam = _RIDGE_LAM
    xs = ["1", "f_spaces", "f_the", "f_fast"]

    def a_cell(i: int, j: int) -> str:
        lo, hi = min(i, j), max(i, j)
        base = f"c.xx_{lo}_{hi}"
        if i == j and i > 0:
            return f"({base} + {lam})"
        return base

    def num_cell(col: int):
        def cell(i: int, j: int) -> str:
            if j == col:
                return f"c.xy_{i}"
            return a_cell(i, j)
        return cell

    cell_defs = []
    for i in range(4):
        for j in range(i, 4):
            cell_defs.append(
                f"SUM(CAST({xs[i]} AS HUGEINT) * CAST({xs[j]} AS HUGEINT))"
                f" AS xx_{i}_{j}"
            )
        cell_defs.append(
            f"SUM(CAST({xs[i]} AS HUGEINT) * CAST(y AS HUGEINT)) AS xy_{i}"
        )
    dets = [f"({_sql_leibniz(a_cell)}) AS det"] + [
        f"({_sql_leibniz(num_cell(j))}) AS num_{j}" for j in range(4)
    ]
    ws = ", ".join(
        f"CAST(num_{j} AS DOUBLE) / CAST(det AS DOUBLE) AS w{j}"
        for j in range(4)
    )
    return f"""feats AS MATERIALIZED (
  SELECT doc_id, n_chars AS y,
         CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT)
           AS f_spaces,
         CAST((length(text) - length(regexp_replace(text, ' the ', '', 'g')))
              / 5 AS BIGINT) AS f_the,
         CAST((length(text) - length(regexp_replace(text, 'fast', '', 'g')))
              / 4 AS BIGINT) AS f_fast
  FROM documents WHERE text IS NOT NULL),
cells AS MATERIALIZED (
  SELECT {", ".join(cell_defs)}
  FROM feats
  WHERE y IS NOT NULL AND f_spaces IS NOT NULL AND f_the IS NOT NULL
    AND f_fast IS NOT NULL),
solved AS MATERIALIZED (
  SELECT {", ".join(dets)} FROM cells c),
wts AS MATERIALIZED (
  SELECT {ws} FROM solved)"""


TXT_RIDGE_SQL = f"""
WITH
{_sql_ridge()}
SELECT f.doc_id, f.y,
       w.w0 + w.w1 * CAST(f.f_spaces AS DOUBLE)
            + w.w2 * CAST(f.f_the AS DOUBLE)
            + w.w3 * CAST(f.f_fast AS DOUBLE) AS pred
FROM feats f CROSS JOIN wts w
"""


def mb_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (operators/basket.py): part pairs
    co-purchased within an order, pair count ≥ 3.  Pair space forms only
    within a basket (self-join on the order key, skew-guarded); all
    counts exact ints, each metric ONE double division — bit-exact
    against the SQL twin."""
    from ..operators.basket import association_rules

    li = _t(spark, sf_dir, "lineitem")
    # max_basket_size=None: the oracle counts ALL baskets, so the skew
    # guard must be off here (TPC-H orders hold ≤7 lines anyway); the
    # guard's behavior is pinned by its own pytest instead
    return association_rules(
        li, "l_orderkey", "l_partkey", min_pair_count=3,
        max_basket_size=None,
    )


MB_ASSOCIATION_SQL = """
WITH items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i
  FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
nn AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n FROM items),
pairs AS MATERIALIZED (
  SELECT a.i AS item_a, b2.i AS item_b, CAST(COUNT(*) AS BIGINT) AS pair_cnt
  FROM items a JOIN items b2 ON a.b = b2.b AND a.i < b2.i
  GROUP BY 1, 2
  HAVING COUNT(*) >= 3),
cnts AS MATERIALIZED (
  SELECT i, CAST(COUNT(*) AS BIGINT) AS cnt FROM items GROUP BY i)
SELECT p.item_a, p.item_b, p.pair_cnt,
       ca.cnt AS cnt_a, cb.cnt AS cnt_b,
       CAST(p.pair_cnt AS DOUBLE) / CAST(nn.n AS DOUBLE) AS support,
       CAST(p.pair_cnt AS DOUBLE) / CAST(ca.cnt AS DOUBLE) AS confidence,
       CAST(p.pair_cnt * nn.n AS DOUBLE)
         / CAST(ca.cnt * cb.cnt AS DOUBLE) AS lift
FROM pairs p
JOIN cnts ca ON ca.i = p.item_a
JOIN cnts cb ON cb.i = p.item_b
CROSS JOIN nn
"""


def lk_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (sources/lake.snapshot_diff): orders vs a simulated
    v2 (every 97th key removed, every 10th repriced ×2, every 113th
    re-added under a shifted key) — the CDC-validation primitive: ONE
    co-partitioned full-outer join classifies every key as
    added/removed/changed/unchanged with null-safe compares."""
    from ..sources.lake import snapshot_diff

    orders = _t(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    old = orders.select("o_orderkey", "o_totalprice")
    v2 = (
        old.filter(key % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(key % 10 == 0, F.col("o_totalprice") * 2.0).otherwise(
                F.col("o_totalprice")
            ),
        )
        .unionByName(
            old.filter(key % 113 == 0).select(
                (key + 100_000_000).alias("o_orderkey"), "o_totalprice"
            )
        )
    )
    diff = snapshot_diff(old, v2, ["o_orderkey"], ["o_totalprice"])
    return diff.select(
        "o_orderkey",
        "change",
        F.col("old_row")["o_totalprice"].alias("old_price"),
        F.col("new_row")["o_totalprice"].alias("new_price"),
    )


LK_SNAPSHOT_DIFF_SQL = """
WITH old AS MATERIALIZED (
  SELECT o_orderkey, o_totalprice FROM orders),
v2 AS MATERIALIZED (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2.0
              ELSE o_totalprice END AS o_totalprice
  FROM old WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT o_orderkey + 100000000, o_totalprice
  FROM old WHERE o_orderkey % 113 = 0)
SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'added'
            WHEN n.o_orderkey IS NULL THEN 'removed'
            WHEN o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
              THEN 'unchanged'
            ELSE 'changed' END AS change,
       o.o_totalprice AS old_price,
       n.o_totalprice AS new_price
FROM old o FULL OUTER JOIN v2 n ON o.o_orderkey = n.o_orderkey
"""


def a15_group_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS (operators/aggregates.group_ols): price-per-quantity
    slope and intercept per returnflag — fully distributed exact closed
    form (one hash aggregate; integer moment cells; no driver solve),
    the per-group complement of the global Cramer ridge."""
    from ..operators.aggregates import group_ols

    li = _t(spark, sf_dir, "lineitem")
    return group_ols(
        li, ["l_returnflag"], "l_quantity", "l_extendedprice"
    )


A15_GROUP_OLS_SQL = """
WITH cells AS MATERIALIZED (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM (
    SELECT l_returnflag,
           CAST(FLOOR(CAST(l_quantity AS DOUBLE) * 1.0) AS BIGINT) AS x,
           CAST(FLOOR(CAST(l_extendedprice AS DOUBLE) * 1.0) AS BIGINT) AS y
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL)
  GROUP BY l_returnflag),
solved AS (
  SELECT l_returnflag, n,
         n * sxy - sx * sy AS b_num,
         n * sxx - sx * sx AS b_den,
         sx, sy
  FROM cells)
SELECT l_returnflag, n, b_num, b_den,
       CASE WHEN b_den = 0 THEN NULL
            ELSE CAST(b_num AS DOUBLE) / CAST(b_den AS DOUBLE) END AS slope,
       CASE WHEN n = 0 OR b_den = 0 THEN NULL
            ELSE (CAST(sy AS DOUBLE)
                  - (CAST(b_num AS DOUBLE) / CAST(b_den AS DOUBLE))
                    * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE) END AS intercept
FROM solved
"""


def txt_salient_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document salient terms — keyword extraction via an integer
    TF-IDF surrogate: ``salience = tf · (N // df)`` (term frequency ×
    integer inverse document frequency).  The ln-free form is the
    cross-engine device: ``ln`` is transcendental and Java/DuckDB may
    disagree in the last ulp, while integer floor-division ranks
    identically everywhere and preserves the tf·idf ORDER for ranking
    purposes.  Shape: one (doc, term) count aggregate, one term-level df
    aggregate joined back (term dictionary ≪ corpus), one per-doc top-3
    window over counts — tokens cross the wire once."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.col("text"), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.count()
    scored = tf.join(df_, "term").withColumn(
        "salience", F.col("tf") * F.floor(F.lit(int(n_docs)) / F.col("df")).cast("long")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("salience").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "rank", "term", "tf", "df", "salience")
    )


TXT_SALIENT_SQL = """
WITH toks AS MATERIALIZED (
  SELECT doc_id, t AS term FROM (
    SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS t
    FROM documents WHERE text IS NOT NULL)
  WHERE t <> ''),
tf AS MATERIALIZED (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, term),
dfreq AS MATERIALIZED (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n
       FROM documents WHERE text IS NOT NULL)
SELECT doc_id, rank, term, tf, df, salience FROM (
  SELECT tf.doc_id, tf.term, tf.tf, d.df,
         tf.tf * CAST(FLOOR(CAST(nn.n AS DOUBLE) / CAST(d.df AS DOUBLE))
                      AS BIGINT) AS salience,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY tf.doc_id
           ORDER BY tf.tf * CAST(FLOOR(CAST(nn.n AS DOUBLE)
                                       / CAST(d.df AS DOUBLE)) AS BIGINT)
                    DESC,
                    tf.term ASC) AS INTEGER) AS rank
  FROM tf JOIN dfreq d USING (term) CROSS JOIN nn)
WHERE rank <= 3
"""


def a13_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ROLLUP (grouping sets): per-(returnflag, linestatus)
    aggregates plus per-flag subtotals plus the grand total in ONE scan —
    Catalyst's Expand feeds a single hash aggregate with map-side
    partials, the OLAP-cube primitive.  ``grouping_id`` disambiguates
    subtotal rows from genuine NULL group values."""
    from .star_queries import dsum

    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("l_quantity", "sum_qty"),
            F.grouping_id().alias("gid"),
        )
        .select(
            "l_returnflag", "l_linestatus", "gid", "n_rows", "sum_qty"
        )
    )


A13_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
         AS gid,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(FLOOR(l_quantity * 1048576.0) AS BIGINT)) AS DOUBLE)
         / 1048576.0 AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def a14_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native UNPIVOT (melt): the four lineitem measures as long-form
    (key, metric, value) rows — a map-only Expand, no shuffle, the
    wide→long reshape every metrics store ingests."""
    li = _t(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "value",
    )


A14_UNPIVOT_SQL = """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
       l_quantity AS value FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
"""


def txt_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact model evaluation (operators/evaluation.py) closing the
    train → predict → evaluate loop: the ``txt_quality_classifier``
    perceptron is retrained (same integer trajectory) and graded against
    its teacher labels — confusion counts, accuracy/precision/recall/F1,
    and an **exact ROC-AUC** via the rank-sum identity computed off the
    score *histogram* (one corpus scan; the global rank never requires a
    global sort — mid-ranks are derived from per-distinct-score counts,
    aggregate-sized).  Counts stay int64; each metric is a single IEEE
    double division, so the DuckDB oracle replays training AND the
    metrics bit for bit."""
    from ..operators.classifier import (
        batch_perceptron_fit,
        perceptron_predict,
        substring_count,
    )
    from ..operators.evaluation import binary_classification_report
    from ..utils import materialize

    docs = _t(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        *[
            substring_count(F.col("text"), pat).alias(name)
            for name, pat in _CLF_FEATURES
        ],
    ).withColumn(
        "y",
        F.when(F.col("f_fast") > F.col("f_slow"), F.lit(1)).otherwise(
            F.lit(-1)
        ),
    )
    fcols = [name for name, _ in _CLF_FEATURES]
    feats = materialize(feats)
    w = batch_perceptron_fit(
        feats, fcols, "y", n_epochs=len(_CLF_LR), lr=_CLF_LR
    )
    scored = perceptron_predict(feats, fcols, w)
    return binary_classification_report(scored, "y", "score")


TXT_CLASSIFIER_EVAL_SQL = f"""
WITH
{_sql_perceptron_chain()},
scored AS (
  SELECT f.y, CAST({_sql_clf_score()} AS BIGINT) AS sc
  FROM feats f CROSS JOIN ep{len(_CLF_LR)} e
  WHERE ({_sql_clf_score()}) IS NOT NULL),
hist AS (
  SELECT sc, CAST(COUNT(*) AS BIGINT) AS n_s,
         CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS p_s
  FROM scored GROUP BY sc),
h AS (
  SELECT sc, n_s, p_s,
         CAST(COALESCE(SUM(n_s) OVER (
           ORDER BY sc
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cless
  FROM hist),
agg AS (
  SELECT CAST(SUM(p_s) AS BIGINT) AS p,
         CAST(SUM(n_s) - SUM(p_s) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN sc > 0 THEN p_s ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN sc > 0 THEN n_s - p_s ELSE 0 END) AS BIGINT)
           AS fp,
         CAST(SUM(p_s * (2 * cless + n_s + 1)) AS BIGINT) AS two_rank_pos
  FROM h)
SELECT p, n, tp, fp,
       CAST(n - fp AS BIGINT) AS tn,
       CAST(p - tp AS BIGINT) AS fn,
       CASE WHEN p + n = 0 THEN NULL
            ELSE CAST(tp + (n - fp) AS DOUBLE) / CAST(p + n AS DOUBLE)
       END AS accuracy,
       CASE WHEN tp + fp = 0 THEN NULL
            ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
       END AS precision,
       CASE WHEN p = 0 THEN NULL
            ELSE CAST(tp AS DOUBLE) / CAST(p AS DOUBLE)
       END AS recall,
       CASE WHEN 2 * tp + fp + (p - tp) = 0 THEN NULL
            ELSE CAST(2 * tp AS DOUBLE)
                 / CAST(2 * tp + fp + (p - tp) AS DOUBLE)
       END AS f1,
       CASE WHEN p = 0 OR n = 0 THEN NULL
            ELSE CAST(two_rank_pos - p * (p + 1) AS DOUBLE)
                 / CAST(2 * p * n AS DOUBLE)
       END AS auc
FROM agg
"""


def ev_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new + cumulative distinct users — the classic "running
    COUNT(DISTINCT)" that naive window queries make O(n²).  Here it's
    first-seen decomposition: min(day) per user (ONE shuffle keyed by
    user_id — high cardinality, no skew), a per-day count, and a running
    sum over the DAY HISTOGRAM (calendar-sized — the single-partition
    window never sees event rows)."""
    events = load_events(spark, sf_dir)
    first = (
        events.filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("day"))
    )
    per_day = first.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    cum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # DATE serializes engine-specifically in the compare harness — ship
    # the ISO string (identical 'yyyy-MM-dd' rendering in both engines)
    return per_day.select(
        F.col("day").cast("string").alias("day"),
        "new_users",
        F.sum("new_users").over(cum).cast("long").alias("cum_users"),
    )


EV_RUNNING_DISTINCT_SQL = """
WITH f AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS day
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
  GROUP BY user_id),
d AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users FROM f GROUP BY day)
SELECT CAST(day AS VARCHAR) AS day, new_users,
       CAST(SUM(new_users) OVER (
         ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_users
FROM d
"""


def ev_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase credits the
    user's most recent prior-or-simultaneous touch (click/view/signup)
    within a 7-day window; revenue rolls up per channel, with NULL
    channel = organic/unattributed.  Composes the single-shuffle as-of
    join (operators/asof.py — union + one window pass, never an
    inequality-join fanout) with a fixed-point revenue aggregate;
    touches pre-deduplicated per (user, ts) so both engines resolve
    timestamp ties identically."""
    from ..operators.asof import asof_join
    from ..operators.windows import largest_wins
    from .star_queries import dsum

    events = load_events(spark, sf_dir)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    touches = largest_wins(
        events.filter(
            F.col("event_type").isin("click", "view", "signup")
        ).select(
            "user_id",
            "ts",
            F.col("event_type").alias("channel"),
            F.col("event_id").alias("touch_event"),
        ),
        ["user_id", "ts"],
        "touch_event",
    )
    m = asof_join(
        purchases,
        touches,
        ts_col="ts",
        by_cols=["user_id"],
        value_cols=["channel", "touch_event"],
        tolerance=F.expr("INTERVAL 7 DAYS"),
    )
    return m.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        dsum("value", "revenue"),
    )


EV_ATTRIBUTION_SQL = """
WITH p AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
  FROM events WHERE event_type = 'purchase'),
t0 AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS rts, event_type AS channel,
         event_id AS touch_event,
         ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS TIMESTAMP)
                            ORDER BY event_id DESC) AS rn
  FROM events WHERE event_type IN ('click', 'view', 'signup')),
t AS (SELECT user_id, rts, channel, touch_event FROM t0 WHERE rn = 1),
m AS (
  SELECT p.event_id, p.value,
         CASE WHEN p.ts - t.rts <= INTERVAL 7 DAY THEN t.channel END
           AS channel
  FROM p ASOF LEFT JOIN t ON p.user_id = t.user_id AND p.ts >= t.rts)
SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(CAST(FLOOR(value * 1048576.0) AS BIGINT)) AS DOUBLE)
         / 1048576.0 AS revenue
FROM m GROUP BY channel
"""


def dq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot drift report (operators/drift.py): week-1 events vs the
    rest of the month, per event_type — exact integer cross-multiplied
    total-variation distance over value histograms (floats enter once,
    in the final division).  The distribution-shift monitor every
    recurring-crawl pipeline needs."""
    from ..operators.drift import histogram_drift

    events = load_events(spark, sf_dir)
    cut = F.lit("2024-01-08").cast("timestamp")
    week1 = events.filter(F.col("ts") < cut)
    rest = events.filter(F.col("ts") >= cut)
    out = histogram_drift(
        week1, rest, ["event_type"], "value", bucket_width=5.0
    )
    return out.select("event_type", "n_a", "n_b", "l1_cross", "tvd")


DQ_DRIFT_SQL = """
WITH u AS (
  SELECT event_type,
         CAST(FLOOR(CAST(value AS DOUBLE) / 5.0) AS BIGINT) AS bucket,
         CASE WHEN ts < TIMESTAMP '2024-01-08' THEN 0 ELSE 1 END AS side
  FROM events),
hist AS (
  SELECT event_type, bucket,
         CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b
  FROM u GROUP BY event_type, bucket),
h AS (
  SELECT event_type, a, b,
         SUM(a) OVER (PARTITION BY event_type) AS na,
         SUM(b) OVER (PARTITION BY event_type) AS nb
  FROM hist)
SELECT event_type,
       CAST(MAX(na) AS BIGINT) AS n_a,
       CAST(MAX(nb) AS BIGINT) AS n_b,
       CAST(SUM(ABS(a * nb - b * na)) AS BIGINT) AS l1_cross,
       CASE WHEN MAX(na) = 0 OR MAX(nb) = 0 THEN NULL
            ELSE CAST(SUM(ABS(a * nb - b * na)) AS DOUBLE)
                 / CAST(2 * MAX(na) * MAX(nb) AS DOUBLE)
       END AS tvd
FROM h GROUP BY event_type
"""


def ev_dwell_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event dwell time (gap to the user's next event) aggregated by
    event type — one user-keyed window (lead over epoch-µs integers,
    event_id tiebreak for simultaneous events), then a tiny per-type
    aggregate.  Gaps are int64 microseconds end to end; the mean enters
    floats once (sum_µs / (n·10⁶), a single division)."""
    events = load_events(spark, sf_dir)
    e = events.select(
        "user_id", "event_id", "event_type", _epoch_us(F.col("ts")).alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    d = e.withColumn("dwell", F.lead("ts_us").over(w) - F.col("ts_us"))
    return d.groupBy("event_type").agg(
        F.count("dwell").cast("long").alias("n_gaps"),
        F.sum("dwell").cast("long").alias("total_dwell_us"),
        F.try_divide(
            F.sum("dwell").cast("double"),
            (F.count("dwell") * F.lit(1_000_000)).cast("double"),
        ).alias("mean_dwell_s"),
    )


EV_DWELL_SQL = """
WITH e AS (
  SELECT user_id, event_id, event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
  FROM events),
d AS (
  SELECT event_type,
         LEAD(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
           - ts_us AS dwell
  FROM e)
SELECT event_type, CAST(COUNT(dwell) AS BIGINT) AS n_gaps,
       CAST(SUM(dwell) AS BIGINT) AS total_dwell_us,
       CASE WHEN COUNT(dwell) = 0 THEN NULL
            ELSE CAST(SUM(dwell) AS DOUBLE)
                 / CAST(COUNT(dwell) * 1000000 AS DOUBLE)
       END AS mean_dwell_s
FROM d GROUP BY event_type
"""


def a16_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer spend deciles — the rank-based decile (every decile
    boundary is a RANK cut, not an interpolated value, so there is no
    percentile float to disagree on).  The global rank comes from
    ``utils.dense_ids`` (range-repartition + per-partition row_number +
    offsets), NOT a single-partition window — the scale-safe ranking
    primitive.  Equal spends share a rank and therefore a decile
    (dense-rank semantics, deterministic in both engines); all spend
    math is fixed-point int64 until the final /2²⁰ display casts."""
    from ..utils import dense_ids

    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * F.lit(1048576.0)).cast("long")
        ).alias("sp")
    )
    dv = dense_ids(spend.select("sp"), "sp", "rk")
    nd = dv.count()
    per_cust = spend.join(dv, "sp").withColumn(
        "decile", F.expr(f"CAST((rk * 10) DIV {nd} AS BIGINT)")
    )
    return (
        per_cust.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            (F.sum("sp").cast("double") / F.lit(1048576.0)).alias(
                "total_spend"
            ),
            (F.min("sp").cast("double") / F.lit(1048576.0)).alias(
                "min_spend"
            ),
            (F.max("sp").cast("double") / F.lit(1048576.0)).alias(
                "max_spend"
            ),
        )
    )


A16_SPEND_DECILES_SQL = """
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(FLOOR(o_totalprice * 1048576.0) AS BIGINT))
              AS BIGINT) AS sp
  FROM orders GROUP BY o_custkey),
dv AS (
  SELECT sp, CAST(DENSE_RANK() OVER (ORDER BY sp) - 1 AS BIGINT) AS rk
  FROM (SELECT DISTINCT sp FROM spend)),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM dv)
SELECT CAST((d.rk * 10) // n.n AS BIGINT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(s.sp) AS DOUBLE) / 1048576.0 AS total_spend,
       CAST(MIN(s.sp) AS DOUBLE) / 1048576.0 AS min_spend,
       CAST(MAX(s.sp) AS DOUBLE) / 1048576.0 AS max_spend
FROM spend s JOIN dv d ON s.sp = d.sp CROSS JOIN nd n
GROUP BY 1
"""


def txt_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage per source: the share of token occurrences
    whose term is NOT in the corpus vocabulary (terms appearing in at
    least 0.5% of documents — a relative, scale-free cutoff kept as the
    integer comparison ``df·200 ≥ N``).  The tokenizer-coverage /
    domain-shift check every corpus refresh runs.  Tokens cross the
    wire once, pre-collapsed: the join against the term dictionary is
    over (source, term) COUNTS, never the raw token stream; the rate is
    one double division per source."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(F.split(F.col("text"), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    st = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    dfreq = (
        toks.select("doc_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = docs.count()
    vocab = dfreq.filter(F.col("df") * 200 >= F.lit(int(n_docs))).select(
        "term", F.lit(1).alias("__v")
    )
    joined = st.join(vocab, "term", "left")
    oov = F.sum(F.when(F.col("__v").isNull(), F.col("cnt")).otherwise(0))
    return joined.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        oov.cast("long").alias("oov_tokens"),
        F.try_divide(
            oov.cast("double"), F.sum("cnt").cast("double")
        ).alias("oov_rate"),
    )


TXT_OOV_SQL = """
WITH toks AS MATERIALIZED (
  SELECT doc_id, source, t AS term FROM (
    SELECT doc_id, source,
           unnest(regexp_split_to_array(text, '\\s+')) AS t
    FROM documents WHERE text IS NOT NULL)
  WHERE t <> ''),
st AS (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM toks GROUP BY source, term),
dfreq AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM toks GROUP BY term),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n
       FROM documents WHERE text IS NOT NULL),
vocab AS (SELECT term FROM dfreq CROSS JOIN nn WHERE df * 200 >= n)
SELECT s.source, CAST(SUM(s.cnt) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.term IS NULL THEN s.cnt ELSE 0 END) AS BIGINT)
         AS oov_tokens,
       CASE WHEN SUM(s.cnt) = 0 THEN NULL
            ELSE CAST(SUM(CASE WHEN v.term IS NULL THEN s.cnt ELSE 0 END)
                      AS DOUBLE) / CAST(SUM(s.cnt) AS DOUBLE)
       END AS oov_rate
FROM st s LEFT JOIN vocab v ON s.term = v.term
GROUP BY s.source
"""


def gr_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census (operators/graph.triangle_count) of the part
    co-occurrence graph: parts are linked when they appear in the same
    high-value order (within-basket pair join — pairs form only inside
    an order, the standard basket bound).  Degree orientation keeps the
    wedge space at Σ C(outdeg,2) with outdeg ≤ O(√E) — hub-proof — and
    the closure test is one hash equi-join.  Returns the one-row census
    (vertices, edges, wedges, triangles, global clustering coefficient;
    the coefficient is the single double division)."""
    from ..operators.graph import triangle_count

    return triangle_count(_part_edges(spark, sf_dir))


def _part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part co-occurrence edges (src < dst, distinct): parts sharing a
    high-value order.  Pairs form only WITHIN an order (basket-bounded
    self-equi-join on the order key — never a cross join)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    hi = _t(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 450_000.0
    ).select("o_orderkey")
    liw = li.join(
        hi, li["l_orderkey"] == hi["o_orderkey"], "left_semi"
    )
    a = liw.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa")
    )
    b = liw.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb")
    )
    return (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .distinct()
    )


GR_TRIANGLES_SQL = """
WITH hi AS (
  SELECT o_orderkey FROM orders WHERE o_totalprice > 450000.0),
li AS (
  SELECT l.l_orderkey, l.l_partkey
  FROM lineitem l JOIN hi ON l.l_orderkey = hi.o_orderkey),
e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
deg AS (
  SELECT x, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
  GROUP BY x),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS t
  FROM e e1
  JOIN e e2 ON e1.v = e2.u
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
summ AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_vertices,
         CAST(SUM(d * (d - 1)) / 2 AS BIGINT) AS n_wedges,
         CAST(SUM(d) / 2 AS BIGINT) AS n_edges
  FROM deg)
SELECT n_vertices, n_edges, n_wedges, t AS n_triangles,
       CASE WHEN n_wedges = 0 THEN NULL
            ELSE CAST(3 * t AS DOUBLE) / CAST(n_wedges AS DOUBLE)
       END AS clustering_coeff
FROM summ CROSS JOIN tri
"""


def gr_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS reachability profile (operators/graph.bfs_hops): hop-distance
    histogram from the smallest part in the co-occurrence graph, radius
    3.  Frontier propagation — per round ONE hash join of the current
    frontier against the edge list plus an anti-join against settled
    nodes; first-discovery round = distance, so the trajectory is pure
    set algebra and replays exactly as chained CTEs with EXCEPT.  The
    source is itself a 1-row aggregate (no driver round-trip)."""
    from ..operators.graph import bfs_hops

    edges = _part_edges(spark, sf_dir)
    sources = edges.agg(F.min("src").alias("node"))
    d = bfs_hops(edges, sources, max_hops=3)
    return d.groupBy("dist").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )


GR_BFS_SQL = """
WITH hi AS (
  SELECT o_orderkey FROM orders WHERE o_totalprice > 450000.0),
li AS (
  SELECT l.l_orderkey, l.l_partkey
  FROM lineitem l JOIN hi ON l.l_orderkey = hi.o_orderkey),
e0 AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
e AS (
  SELECT u AS src, v AS dst FROM e0
  UNION
  SELECT v AS src, u AS dst FROM e0),
s AS (SELECT MIN(src) AS node FROM e),
d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM s),
f1 AS (
  SELECT DISTINCT e.dst AS node FROM e JOIN d0 ON e.src = d0.node
  EXCEPT SELECT node FROM d0),
d1 AS (SELECT * FROM d0
       UNION ALL SELECT node, CAST(1 AS BIGINT) FROM f1),
f2 AS (
  SELECT DISTINCT e.dst AS node FROM e JOIN f1 ON e.src = f1.node
  EXCEPT SELECT node FROM d1),
d2 AS (SELECT * FROM d1
       UNION ALL SELECT node, CAST(2 AS BIGINT) FROM f2),
f3 AS (
  SELECT DISTINCT e.dst AS node FROM e JOIN f2 ON e.src = f2.node
  EXCEPT SELECT node FROM d2),
d3 AS (SELECT * FROM d2
       UNION ALL SELECT node, CAST(3 AS BIGINT) FROM f3)
SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM d3 GROUP BY dist
"""


def txt_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the quality classifier: documents ranked
    into 10 score buckets (rank-cut via ``utils.dense_ids`` — the
    scale-safe ranking device, dense-rank semantics so equal scores
    share a bucket), each bucket reporting its empirical positive rate
    against its mean score.  A well-calibrated filter's pos_rate should
    rise monotonically with the bucket — THE standard check before a
    quality threshold is chosen.  Integer counts/score sums; pos_rate
    and mean_score are each a single double division."""
    from ..operators.classifier import (
        batch_perceptron_fit,
        perceptron_predict,
        substring_count,
    )
    from ..utils import dense_ids, materialize

    docs = _t(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        *[
            substring_count(F.col("text"), pat).alias(name)
            for name, pat in _CLF_FEATURES
        ],
    ).withColumn(
        "y",
        F.when(F.col("f_fast") > F.col("f_slow"), F.lit(1)).otherwise(
            F.lit(-1)
        ),
    )
    fcols = [name for name, _ in _CLF_FEATURES]
    feats = materialize(feats)
    w = batch_perceptron_fit(
        feats, fcols, "y", n_epochs=len(_CLF_LR), lr=_CLF_LR
    )
    sc = perceptron_predict(feats, fcols, w).filter(
        F.col("score").isNotNull()
    )
    dv = dense_ids(sc.select("score"), "score", "rk")
    nd = dv.count()
    per = sc.join(dv, "score").withColumn(
        "bucket", F.expr(f"CAST((rk * 10) DIV {nd} AS BIGINT)")
    )
    pos = F.sum(F.when(F.col("y") == 1, 1).otherwise(0))
    return per.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        pos.cast("long").alias("n_pos"),
        F.try_divide(
            pos.cast("double"), F.count(F.lit(1)).cast("double")
        ).alias("pos_rate"),
        F.try_divide(
            F.sum("score").cast("double"),
            F.count(F.lit(1)).cast("double"),
        ).alias("mean_score"),
    )


TXT_CALIBRATION_SQL = f"""
WITH
{_sql_perceptron_chain()},
scored AS (
  SELECT f.y, CAST({_sql_clf_score()} AS BIGINT) AS score
  FROM feats f CROSS JOIN ep{len(_CLF_LR)} e
  WHERE ({_sql_clf_score()}) IS NOT NULL),
dv AS (
  SELECT score,
         CAST(DENSE_RANK() OVER (ORDER BY score) - 1 AS BIGINT) AS rk
  FROM (SELECT DISTINCT score FROM scored)),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM dv)
SELECT CAST((d.rk * 10) // n.n AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN s.y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       CASE WHEN COUNT(*) = 0 THEN NULL
            ELSE CAST(SUM(CASE WHEN s.y = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE)
       END AS pos_rate,
       CASE WHEN COUNT(*) = 0 THEN NULL
            ELSE CAST(SUM(s.score) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       END AS mean_score
FROM scored s JOIN dv d ON s.score = d.score CROSS JOIN nd n
GROUP BY 1
"""


#: corr-matrix fixture: lineitem measures, quantized at 2 decimals
_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def a17_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Pearson correlation matrix (operators/stats.corr_matrix)
    over the four lineitem measures — ONE scan, ONE aggregate carrying
    15 exact cells (int64 linear, decimal(38,0) quadratic: partitioning
    cannot change a digit), floats entering once per pair in a pinned
    num / (sqrt·sqrt) order the DuckDB HUGEINT oracle mirrors
    bit for bit."""
    from ..operators.stats import corr_matrix

    li = _t(spark, sf_dir, "lineitem")
    return corr_matrix(li, _CORR_COLS, scale=100.0)


def _sql_corr_matrix() -> str:
    cs = _CORR_COLS
    quant = ",\n         ".join(
        f"CAST(FLOOR(CAST({c} AS DOUBLE) * 100.0) AS BIGINT) AS v{i}"
        for i, c in enumerate(cs)
    )
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in cs)
    cells = ["CAST(COUNT(*) AS HUGEINT) AS n"]
    for i in range(len(cs)):
        cells.append(f"CAST(SUM(v{i}) AS HUGEINT) AS s{i}")
        cells.append(
            f"SUM(CAST(v{i} AS HUGEINT) * v{i}) AS p{i}{i}"
        )
    from itertools import combinations

    for i, j in combinations(range(len(cs)), 2):
        cells.append(
            f"SUM(CAST(v{i} AS HUGEINT) * v{j}) AS p{i}{j}"
        )
    rows = []
    for i, j in combinations(range(len(cs)), 2):
        num = f"(n * p{i}{j} - s{i} * s{j})"
        va = f"(n * p{i}{i} - s{i} * s{i})"
        vb = f"(n * p{j}{j} - s{j} * s{j})"
        rows.append(
            f"""SELECT '{cs[i]}' AS var_x, '{cs[j]}' AS var_y,
       CAST(n AS BIGINT) AS n,
       CASE WHEN {va} = 0 OR {vb} = 0 THEN NULL
            ELSE CAST({num} AS DOUBLE)
                 / (sqrt(CAST({va} AS DOUBLE)) * sqrt(CAST({vb} AS DOUBLE)))
       END AS corr
FROM cells"""
        )
    body = "\nUNION ALL\n".join(rows)
    return f"""
WITH q AS (
  SELECT {quant}
  FROM lineitem WHERE {notnull}),
cells AS (
  SELECT {', '.join(cells)}
  FROM q)
{body}
"""


A17_CORR_SQL = _sql_corr_matrix()


def a18_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag quantity-weighted median price
    (operators/aggregates.weighted_median): weights ride int64 after one
    quantization, the cumulative-weight window walks DISTINCT VALUES per
    group (not rows), and the median itself is only ordered, never
    arithmetic'd — the robust central-tendency aggregate with zero float
    accumulation."""
    from ..operators.aggregates import weighted_median

    li = _t(spark, sf_dir, "lineitem")
    return weighted_median(
        li, ["l_returnflag"], "l_extendedprice", "l_quantity"
    )


A18_WEIGHTED_MEDIAN_SQL = """
WITH base AS (
  SELECT l_returnflag AS g, l_extendedprice AS v,
         CAST(FLOOR(CAST(l_quantity AS DOUBLE) * 1.0) AS BIGINT) AS w
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL),
pv AS (
  SELECT g, v, CAST(SUM(w) AS BIGINT) AS wsum
  FROM base WHERE w > 0 GROUP BY g, v),
h AS (
  SELECT g, v, wsum,
         CAST(SUM(wsum) OVER (
           PARTITION BY g ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum,
         CAST(SUM(wsum) OVER (PARTITION BY g) AS BIGINT) AS tot
  FROM pv)
SELECT g AS l_returnflag,
       CAST(MAX(tot) AS BIGINT) AS total_weight,
       MIN(v) AS weighted_median
FROM h WHERE 2 * cum >= tot
GROUP BY g
"""


def samp_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic distributed bootstrap (operators/bootstrap.py): a
    ~94% percentile CI for the mean event value from 64 hash-derived
    Poisson(1) replicates — no RNG, no coordination, ONE corpus scan
    with a map-only replicate explosion feeding partial aggregates.
    The whole resampling procedure replays bit for bit in DuckDB (same
    md5, same integer inverse-CDF thresholds, same fixed-point sums)."""
    from ..operators.bootstrap import bootstrap_mean_ci

    events = load_events(spark, sf_dir)
    return bootstrap_mean_ci(
        events, "value", "event_id", n_replicates=64, trim=2
    )


def _sql_bootstrap_ci() -> str:
    from ..operators.bootstrap import PER_DIGEST, poisson1_thresholds

    ts = poisson1_thresholds()
    case = (
        "CASE "
        + " ".join(f"WHEN u < {t} THEN {k}" for k, t in enumerate(ts))
        + f" ELSE {len(ts)} END"
    )
    n_blocks = -(-64 // PER_DIGEST)
    return f"""
WITH base AS MATERIALIZED (
  SELECT CAST(event_id AS VARCHAR) AS id,
         CAST(FLOOR(CAST(value AS DOUBLE) * 1048576.0) AS BIGINT) AS vq
  FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL),
full_m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CASE WHEN COUNT(*) = 0 THEN NULL
              ELSE CAST(SUM(vq) AS DOUBLE)
                   / CAST(COUNT(*) * 1048576 AS DOUBLE)
         END AS mean
  FROM base),
cells AS (
  SELECT vq, {PER_DIGEST} * g + j AS b,
         ('0x' || substr(md5('bs' || id || ':' || CAST(g AS VARCHAR)),
                         1 + 10 * j, 10))::BIGINT AS u
  FROM base CROSS JOIN range(0, {n_blocks}) t(g)
            CROSS JOIN range(0, {PER_DIGEST}) s(j)
  WHERE {PER_DIGEST} * g + j < 64),
rep AS (
  SELECT b, CAST(SUM(w * vq) AS BIGINT) AS sw,
         CAST(SUM(w) AS BIGINT) AS cnt
  FROM (SELECT vq, b, {case} AS w FROM cells)
  GROUP BY b),
means AS (
  SELECT b, CAST(sw AS DOUBLE) / CAST(cnt * 1048576 AS DOUBLE) AS m
  FROM rep WHERE cnt > 0),
ranked AS (
  SELECT m,
         ROW_NUMBER() OVER (ORDER BY m ASC, b ASC) AS ra,
         ROW_NUMBER() OVER (ORDER BY m DESC, b DESC) AS rd
  FROM means),
ci AS (
  SELECT MAX(CASE WHEN ra = 3 THEN m END) AS ci_lo,
         MAX(CASE WHEN rd = 3 THEN m END) AS ci_hi,
         CAST(COUNT(*) AS BIGINT) AS n_replicates
  FROM ranked)
SELECT f.n_rows, f.mean, c.ci_lo, c.ci_hi, c.n_replicates
FROM full_m f CROSS JOIN ci c
"""


SAMP_BOOTSTRAP_SQL = _sql_bootstrap_ci()


def gr_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community structure of the part co-occurrence graph
    (operators/graph.label_propagation, 3 synchronous rounds,
    ties → smallest label): community-size histogram.  The synchronous +
    totally-ordered-argmax contract is what lets an iterative community
    algorithm carry an exact SQL oracle at all — textbook asynchronous
    LPA is irreproducible by construction."""
    from ..operators.graph import label_propagation

    labels = label_propagation(_part_edges(spark, sf_dir), n_iter=3)
    return labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )


def _sql_lpa_chain(n_iter: int) -> str:
    ctes = [
        """hi AS (
  SELECT o_orderkey FROM orders WHERE o_totalprice > 450000.0)""",
        """li AS (
  SELECT l.l_orderkey, l.l_partkey
  FROM lineitem l JOIN hi ON l.l_orderkey = hi.o_orderkey)""",
        """e0 AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)""",
        """e AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM e0
  UNION
  SELECT v AS src, u AS dst FROM e0)""",
        """l0 AS (
  SELECT DISTINCT src AS node, src AS label FROM e)""",
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"""c{i} AS MATERIALIZED (
  SELECT e.src AS u, l.label, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM e JOIN l{i - 1} l ON e.dst = l.node
  GROUP BY e.src, l.label)"""
        )
        ctes.append(
            f"""l{i} AS (
  SELECT u AS node, label FROM (
    SELECT u, label,
           ROW_NUMBER() OVER (
             PARTITION BY u ORDER BY cnt DESC, label ASC) AS rn
    FROM c{i})
  WHERE rn = 1)"""
        )
    return ",\n".join(ctes)


GR_COMMUNITIES_SQL = f"""
WITH
{_sql_lpa_chain(3)}
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM l3 GROUP BY label
"""


def emb_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation as a first-class query: recall@5 of the
    hyperplane-LSH index against exact brute force — the measurement
    every approximate-index deployment signs off on.  Both sides are
    themselves oracled queries (seeded-plane LSH replay + exact top-k),
    so even the RECALL is value-exact cross-engine: hit counting is a
    semi-join on (query, neighbor), recall one division."""
    bf = sim_topk_bruteforce(spark, sf_dir).select("query_id", "vec_id")
    lsh = sim_topk_lsh(spark, sf_dir).select(
        "query_id", "vec_id", F.lit(1).alias("__h")
    )
    j = bf.join(lsh, ["query_id", "vec_id"], "left")
    hits = F.sum(F.when(F.col("__h").isNotNull(), 1).otherwise(0))
    return j.agg(
        F.countDistinct("query_id").cast("long").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_expected"),
        hits.cast("long").alias("n_hits"),
        F.try_divide(
            hits.cast("double"), F.count(F.lit(1)).cast("double")
        ).alias("recall"),
    )


EMB_RECALL_SQL = f"""
WITH bf AS (
{SIM_TOPK_SQL}
), lsh AS (
{SIM_TOPK_LSH_SQL}
)
SELECT CAST(COUNT(DISTINCT b.query_id) AS BIGINT) AS n_queries,
       CAST(COUNT(*) AS BIGINT) AS n_expected,
       CAST(SUM(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       CASE WHEN COUNT(*) = 0 THEN NULL
            ELSE CAST(SUM(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       END AS recall
FROM bf b LEFT JOIN lsh l
  ON b.query_id = l.query_id AND b.vec_id = l.vec_id
"""


def ev_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue report per event type — the
    period-over-period lag pattern: fixed-point weekly sums (bit-stable
    doubles), one lag window per type, delta and percent change each a
    single deterministic float op."""
    from .star_queries import dsum

    events = load_events(spark, sf_dir)
    wk = F.date_trunc("week", F.col("ts"))
    rev = (
        events.filter(F.col("ts").isNotNull())
        .groupBy("event_type", wk.cast("date").cast("string").alias("week"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            dsum("value", "revenue"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("week")
    prev = F.lag("revenue").over(w)
    return rev.select(
        "event_type",
        "week",
        "n_events",
        "revenue",
        prev.alias("prev_revenue"),
        (F.col("revenue") - prev).alias("wow_abs"),
        F.try_divide(F.col("revenue") - prev, prev).alias("wow_pct"),
    )


EV_WOW_SQL = """
WITH rev AS (
  SELECT event_type,
         CAST(CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE)
              AS VARCHAR) AS week,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(FLOOR(value * 1048576.0) AS BIGINT)) AS DOUBLE)
           / 1048576.0 AS revenue
  FROM events WHERE ts IS NOT NULL
  GROUP BY event_type, 2)
SELECT event_type, week, n_events, revenue,
       LAG(revenue) OVER w AS prev_revenue,
       revenue - LAG(revenue) OVER w AS wow_abs,
       CASE WHEN LAG(revenue) OVER w = 0 THEN NULL
            ELSE (revenue - LAG(revenue) OVER w) / LAG(revenue) OVER w
       END AS wow_pct
FROM rev
WINDOW w AS (PARTITION BY event_type ORDER BY week)
"""


def a19_gini_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language source diversity as Gini impurity — the ln-free
    diversity measure (entropy needs a transcendental; Gini is pure
    arithmetic): gini = (N² − Σnᵢ²) / N², integer numerator via
    cross-multiplication, ONE double division per group.  Two tiny
    aggregates ((lang, source) counts, then per-lang cells) — the
    corpus is scanned once.  Int64 budget: N < 3·10⁹ rows per group."""
    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n")
    )
    cells = per.groupBy("lang").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("__ssq"),
    )
    n = F.col("n_docs")
    return cells.select(
        "lang",
        "n_docs",
        "n_sources",
        F.try_divide(
            (n * n - F.col("__ssq")).cast("double"), (n * n).cast("double")
        ).alias("gini"),
    )


A19_GINI_SQL = """
WITH per AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY lang, source),
cells AS (
  SELECT lang, CAST(SUM(n) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_sources,
         CAST(SUM(n * n) AS BIGINT) AS ssq
  FROM per GROUP BY lang)
SELECT lang, n_docs, n_sources,
       CASE WHEN n_docs = 0 THEN NULL
            ELSE CAST(n_docs * n_docs - ssq AS DOUBLE)
                 / CAST(n_docs * n_docs AS DOUBLE)
       END AS gini
FROM cells
"""


def txt_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval: global top-10 documents by BM25 for a fixed
    3-term query — the keyword first stage next to the dense ANN stack
    (`sim_topk_*`).  One explode + one conditional-count aggregate (|Q|+1
    integer cells per doc, tokens never shuffle), one-row corpus-stats
    broadcast, map-only scoring, distributed TakeOrdered top-k.  The IDF
    is the log-free Robertson odds ratio and per-term scores combine via
    binary fixed point, so Spark and DuckDB agree bit for bit (see
    ``operators/retrieval.py``)."""
    from ..operators.retrieval import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, ["spark", "vector", "fast"], k=10)


TXT_BM25_SQL = """
WITH toks AS MATERIALIZED (
  SELECT doc_id, t AS term FROM (
    SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS t
    FROM documents WHERE text IS NOT NULL)
  WHERE t <> ''),
per_doc AS MATERIALIZED (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS dl,
         CAST(COUNT(*) FILTER (WHERE term = 'spark') AS BIGINT) AS tf_0,
         CAST(COUNT(*) FILTER (WHERE term = 'vector') AS BIGINT) AS tf_1,
         CAST(COUNT(*) FILTER (WHERE term = 'fast') AS BIGINT) AS tf_2
  FROM toks GROUP BY doc_id),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS sum_dl,
         CAST(COUNT(*) FILTER (WHERE tf_0 > 0) AS BIGINT) AS df_0,
         CAST(COUNT(*) FILTER (WHERE tf_1 > 0) AS BIGINT) AS df_1,
         CAST(COUNT(*) FILTER (WHERE tf_2 > 0) AS BIGINT) AS df_2
  FROM per_doc),
scored AS (
  SELECT p.doc_id,
         CAST(
           CAST(FLOOR(((CAST(s.n_docs - s.df_0 AS DOUBLE) + 0.5)
                        / (CAST(s.df_0 AS DOUBLE) + 0.5))
             * ((CAST(p.tf_0 AS DOUBLE) * (1.2 + 1.0))
                / (CAST(p.tf_0 AS DOUBLE)
                   + 1.2 * (0.25 + 0.75 * (CAST(p.dl AS DOUBLE)
                       / (CAST(s.sum_dl AS DOUBLE)
                          / CAST(s.n_docs AS DOUBLE))))))
             * 1048576.0) AS BIGINT)
           + CAST(FLOOR(((CAST(s.n_docs - s.df_1 AS DOUBLE) + 0.5)
                        / (CAST(s.df_1 AS DOUBLE) + 0.5))
             * ((CAST(p.tf_1 AS DOUBLE) * (1.2 + 1.0))
                / (CAST(p.tf_1 AS DOUBLE)
                   + 1.2 * (0.25 + 0.75 * (CAST(p.dl AS DOUBLE)
                       / (CAST(s.sum_dl AS DOUBLE)
                          / CAST(s.n_docs AS DOUBLE))))))
             * 1048576.0) AS BIGINT)
           + CAST(FLOOR(((CAST(s.n_docs - s.df_2 AS DOUBLE) + 0.5)
                        / (CAST(s.df_2 AS DOUBLE) + 0.5))
             * ((CAST(p.tf_2 AS DOUBLE) * (1.2 + 1.0))
                / (CAST(p.tf_2 AS DOUBLE)
                   + 1.2 * (0.25 + 0.75 * (CAST(p.dl AS DOUBLE)
                       / (CAST(s.sum_dl AS DOUBLE)
                          / CAST(s.n_docs AS DOUBLE))))))
             * 1048576.0) AS BIGINT)
         AS DOUBLE) / 1048576.0 AS bm25,
         (CASE WHEN p.tf_0 > 0 THEN 1 ELSE 0 END
          + CASE WHEN p.tf_1 > 0 THEN 1 ELSE 0 END
          + CASE WHEN p.tf_2 > 0 THEN 1 ELSE 0 END) AS n_matched
  FROM per_doc p CROSS JOIN stats s)
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INTEGER)
         AS rank,
       bm25,
       CAST(n_matched AS INTEGER) AS n_matched
FROM scored WHERE n_matched > 0
ORDER BY bm25 DESC, doc_id ASC
LIMIT 10
"""


def samp_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (arXiv:2302.03169, integer-surrogate
    variant): score every document in the multilingual pool by its
    hashed-unigram+bigram importance w.r.t. the ``lang='en'`` target
    slice and keep the global top-50.  Gram construction is map-only
    (array ops — tokens never shuffle), the 256-bucket model is one
    conditional-count aggregate broadcast back, the top-k a distributed
    TakeOrdered.  See ``operators/dsir.py``."""
    from ..operators.dsir import dsir_select

    docs = _t(spark, sf_dir, "documents")
    return dsir_select(
        docs,
        F.col("lang") == "en",
        k=50,
        n_buckets=256,
        carry_cols=["lang"],
    )


SAMP_DSIR_SQL = """
WITH base AS MATERIALIZED (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(text, '\\s+'),
                     t -> t <> '') AS toks
  FROM documents WHERE text IS NOT NULL),
grams AS MATERIALIZED (
  SELECT doc_id, lang,
         ('0x' || substr(md5(gram), 1, 8))::BIGINT % 256 AS bucket
  FROM (
    SELECT doc_id, lang, unnest(toks) AS gram FROM base
    UNION ALL
    SELECT doc_id, lang, toks[i] || ' ' || toks[i + 1] AS gram
    FROM (SELECT doc_id, lang, toks,
                 unnest(range(1, len(toks))) AS i
          FROM base))),
model AS MATERIALIZED (
  SELECT bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt_r,
         CAST(COUNT(*) FILTER (WHERE lang = 'en') AS BIGINT) AS cnt_t
  FROM grams GROUP BY bucket),
wts AS (
  SELECT bucket, ((cnt_t + 1) * 1048576) // (cnt_r + 1) AS s_b
  FROM model),
scored AS (
  SELECT g.doc_id, g.lang, CAST(SUM(w.s_b) AS BIGINT) AS importance
  FROM grams g JOIN wts w USING (bucket)
  GROUP BY g.doc_id, g.lang)
SELECT doc_id, lang, importance,
       CAST(ROW_NUMBER() OVER (ORDER BY importance DESC, doc_id ASC)
            AS INTEGER) AS rank
FROM scored
ORDER BY importance DESC, doc_id ASC
LIMIT 50
"""


def txt_bm25_multiquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch retrieval: top-5 documents for each of three queries in ONE
    corpus pass (``bm25_topk_multi``) — the corpus tokenizes once, the
    exploded query-term table broadcasts onto the token stream, and only
    matching (doc, qid, term) counts cross the wire.  Same bit-exact
    arithmetic contract as ``txt_bm25_topk``."""
    from ..operators.retrieval import bm25_topk_multi

    docs = _t(spark, sf_dir, "documents")
    from ..utils import local_df

    queries = local_df(
        spark,
        [
            ("q_engine", ["spark", "vector", "fast"]),
            ("q_storage", ["parquet", "table"]),
            ("q_join", ["join", "merge", "key"]),
        ],
        "qid string, terms array<string>",
    )
    return bm25_topk_multi(docs, queries, k=5)


TXT_BM25_MULTI_SQL = """
WITH q(qid, term) AS (
  VALUES ('q_engine', 'spark'), ('q_engine', 'vector'),
         ('q_engine', 'fast'),
         ('q_storage', 'parquet'), ('q_storage', 'table'),
         ('q_join', 'join'), ('q_join', 'merge'), ('q_join', 'key')),
toks AS MATERIALIZED (
  SELECT doc_id, t AS term FROM (
    SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS t
    FROM documents WHERE text IS NOT NULL)
  WHERE t <> ''),
dl AS MATERIALIZED (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
  FROM toks GROUP BY doc_id),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
tf AS MATERIALIZED (
  SELECT t.doc_id, q.qid, q.term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks t JOIN q ON t.term = q.term
  GROUP BY t.doc_id, q.qid, q.term),
dfreq AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM tf GROUP BY term),
scored AS (
  SELECT tf.qid, tf.doc_id,
         CAST(SUM(CAST(FLOOR(
           (((CAST(s.n_docs - d.df AS DOUBLE) + 0.5)
             / (CAST(d.df AS DOUBLE) + 0.5))
            * ((CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
               / (CAST(tf.tf AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * (CAST(l.dl AS DOUBLE)
                      / (CAST(s.sum_dl AS DOUBLE)
                         / CAST(s.n_docs AS DOUBLE)))))))
           * 1048576.0) AS BIGINT)) AS BIGINT) AS fp,
         CAST(COUNT(*) AS INTEGER) AS n_matched
  FROM tf
  JOIN dl l ON l.doc_id = tf.doc_id
  JOIN dfreq d ON d.term = tf.term
  CROSS JOIN stats s
  GROUP BY tf.qid, tf.doc_id)
SELECT qid, doc_id, rank, bm25, n_matched FROM (
  SELECT qid, doc_id,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY qid
           ORDER BY CAST(fp AS DOUBLE) / 1048576.0 DESC, doc_id ASC)
           AS INTEGER) AS rank,
         CAST(fp AS DOUBLE) / 1048576.0 AS bm25,
         n_matched
  FROM scored)
WHERE rank <= 5
"""


def txt_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-20 (lexical) ∪ exact-cosine top-20
    (dense, query = vector 0) fused with Reciprocal Rank Fusion into one
    top-10 (``operators/retrieval.rrf_fuse``; vec_id ≡ doc_id in the
    synthetic corpus).  Both input rankings are already value-hash
    oracled queries; the fusion adds only integer rank arithmetic, so
    the combined pipeline stays bit-exact in DuckDB."""
    from ..operators.retrieval import bm25_topk, rrf_fuse
    from ..operators.similarity import cosine_topk

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, ["spark", "vector", "fast"], k=20).select(
        "doc_id", "rank"
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dense = cosine_topk(emb, q, k=20).select(
        F.col("vec_id").alias("doc_id"), "rank"
    )
    return rrf_fuse([lex, dense], "doc_id", k=10)


TXT_HYBRID_RRF_SQL = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, t AS term FROM (
    SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS t
    FROM documents WHERE text IS NOT NULL)
  WHERE t <> ''),
per_doc AS MATERIALIZED (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS dl,
         CAST(COUNT(*) FILTER (WHERE term = 'spark') AS BIGINT) AS tf_0,
         CAST(COUNT(*) FILTER (WHERE term = 'vector') AS BIGINT) AS tf_1,
         CAST(COUNT(*) FILTER (WHERE term = 'fast') AS BIGINT) AS tf_2
  FROM toks GROUP BY doc_id),
st AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS sum_dl,
         CAST(COUNT(*) FILTER (WHERE tf_0 > 0) AS BIGINT) AS df_0,
         CAST(COUNT(*) FILTER (WHERE tf_1 > 0) AS BIGINT) AS df_1,
         CAST(COUNT(*) FILTER (WHERE tf_2 > 0) AS BIGINT) AS df_2
  FROM per_doc),
lex_scored AS (
  SELECT p.doc_id,
         CAST(FLOOR(((CAST(s.n_docs - s.df_0 AS DOUBLE) + 0.5)
                      / (CAST(s.df_0 AS DOUBLE) + 0.5))
           * ((CAST(p.tf_0 AS DOUBLE) * (1.2 + 1.0))
              / (CAST(p.tf_0 AS DOUBLE)
                 + 1.2 * (0.25 + 0.75 * (CAST(p.dl AS DOUBLE)
                     / (CAST(s.sum_dl AS DOUBLE)
                        / CAST(s.n_docs AS DOUBLE))))))
           * 1048576.0) AS BIGINT)
         + CAST(FLOOR(((CAST(s.n_docs - s.df_1 AS DOUBLE) + 0.5)
                      / (CAST(s.df_1 AS DOUBLE) + 0.5))
           * ((CAST(p.tf_1 AS DOUBLE) * (1.2 + 1.0))
              / (CAST(p.tf_1 AS DOUBLE)
                 + 1.2 * (0.25 + 0.75 * (CAST(p.dl AS DOUBLE)
                     / (CAST(s.sum_dl AS DOUBLE)
                        / CAST(s.n_docs AS DOUBLE))))))
           * 1048576.0) AS BIGINT)
         + CAST(FLOOR(((CAST(s.n_docs - s.df_2 AS DOUBLE) + 0.5)
                      / (CAST(s.df_2 AS DOUBLE) + 0.5))
           * ((CAST(p.tf_2 AS DOUBLE) * (1.2 + 1.0))
              / (CAST(p.tf_2 AS DOUBLE)
                 + 1.2 * (0.25 + 0.75 * (CAST(p.dl AS DOUBLE)
                     / (CAST(s.sum_dl AS DOUBLE)
                        / CAST(s.n_docs AS DOUBLE))))))
           * 1048576.0) AS BIGINT) AS fp,
         (CASE WHEN p.tf_0 > 0 THEN 1 ELSE 0 END
          + CASE WHEN p.tf_1 > 0 THEN 1 ELSE 0 END
          + CASE WHEN p.tf_2 > 0 THEN 1 ELSE 0 END) AS n_matched
  FROM per_doc p CROSS JOIN st s),
lex AS (
  SELECT doc_id, rank FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY CAST(fp AS DOUBLE) / 1048576.0 DESC,
                              doc_id ASC) AS rank
    FROM lex_scored WHERE n_matched > 0)
  WHERE rank <= 20),
dense AS (
  SELECT doc_id, rank FROM (
    SELECT c.vec_id AS doc_id,
           ROW_NUMBER() OVER (
             ORDER BY ({_sql_fp_dot('c.embedding', 'q.embedding')})
               / (sqrt({_sql_fp_dot('c.embedding', 'c.embedding')})
                  * sqrt({_sql_fp_dot('q.embedding', 'q.embedding')})) DESC,
               c.vec_id ASC) AS rank
    FROM embeddings c
    JOIN (SELECT * FROM embeddings WHERE vec_id = 0) q
      ON c.vec_id <> q.vec_id)
  WHERE rank <= 20),
fused AS (
  SELECT doc_id,
         CAST(SUM(1099511627776 // (60 + rank)) AS BIGINT) AS rrf,
         CAST(COUNT(*) AS INTEGER) AS n_lists
  FROM (SELECT * FROM lex UNION ALL SELECT * FROM dense)
  GROUP BY doc_id)
SELECT doc_id, rrf, n_lists,
       CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id ASC) AS INTEGER)
         AS rank
FROM fused
ORDER BY rrf DESC, doc_id ASC
LIMIT 10
"""


#: 12-token boilerplate planted into every 7th document — the synthetic
#: corpus is i.i.d. word salad with no natural verbatim repeats, so the
#: ExactSubstr query injects the duplication mode it exists to remove
#: (same planted-mutation device as the dd_* family).
_SPAN_BOILER = (
    "terms of service apply all rights reserved "
    "do not redistribute this content"
)


def txt_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring dedup (operators/span_dedup.py — the
    ExactSubstr pass of Lee et al. 2022, arXiv:2107.06499): every
    repeated k=8-token passage is located via windowed md5 fingerprints
    + a global first-occurrence rank, merged into maximal spans per
    document, and scrubbed keeping exactly one corpus-wide copy.

    Output per doc: span stats (count, tokens covered, fraction) from
    the stats path AND the md5 of the scrubbed text from the removal
    path — the oracle replays both, so the two independent pipelines
    cross-certify.  Docs ``doc_id % 7 == 0`` carry the planted
    boilerplate prefix; the smallest such doc_id keeps it, every other
    copy must be detected and removed."""
    from ..operators.span_dedup import (
        remove_duplicated_spans,
        span_dedup_stats,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(_SPAN_BOILER + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    stats = span_dedup_stats(corpus, "doc_id", k=8)
    clean = remove_duplicated_spans(corpus, "doc_id", k=8).select(
        "doc_id",
        F.md5(
            F.concat_ws(" ", F.split(F.trim(F.col("text")), r"\s+"))
        ).alias("clean_fp"),
    )
    return stats.join(clean, "doc_id").select(
        "doc_id", "n_tokens", "dup_spans", "dup_tokens", "dup_frac",
        "clean_fp",
    )


TXT_SPAN_DEDUP_SQL = rf"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN '{_SPAN_BOILER} ' || text
              ELSE text END AS text
  FROM documents),
toks AS MATERIALIZED (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
  FROM base WHERE trim(text) <> ''),
wins AS (
  SELECT doc_id, CAST(u.i AS INTEGER) AS pos,
         md5(array_to_string(t[u.i + 1 : u.i + 8], ' ')) AS fp
  FROM toks, UNNEST(range(0, len(t) - 8 + 1)) AS u(i)
  WHERE len(t) >= 8),
ranked AS (
  SELECT doc_id, pos,
         ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rk
  FROM wins),
dup AS (SELECT doc_id, pos AS s, pos + 7 AS e FROM ranked WHERE rk > 1),
isl AS (
  SELECT doc_id, s, e,
         CASE WHEN s > COALESCE(MAX(e) OVER (
                PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
              THEN 1 ELSE 0 END AS ni
  FROM dup),
isl2 AS (
  SELECT doc_id, s, e,
         SUM(ni) OVER (PARTITION BY doc_id ORDER BY s
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl),
spans AS MATERIALIZED (
  SELECT doc_id, island, MIN(s) AS span_start, MAX(e) AS span_end
  FROM isl2 GROUP BY 1, 2),
perdoc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_spans,
         CAST(SUM(span_end - span_start + 1) AS BIGINT) AS dup_tokens
  FROM spans GROUP BY 1),
kept AS (
  SELECT k.doc_id, u.i AS pos, t[u.i + 1] AS tok
  FROM toks k, UNNEST(range(0, len(t))) AS u(i)
  WHERE NOT EXISTS (SELECT 1 FROM spans s
                    WHERE s.doc_id = k.doc_id
                      AND u.i BETWEEN s.span_start AND s.span_end)),
clean AS (
  SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_fp
  FROM kept GROUP BY doc_id),
ntok AS (
  SELECT b.doc_id,
         CASE WHEN trim(b.text) = '' THEN 0 ELSE len(t.t) END AS n_tokens
  FROM base b LEFT JOIN toks t USING (doc_id))
SELECT n.doc_id,
       CAST(n.n_tokens AS INTEGER) AS n_tokens,
       COALESCE(p.dup_spans, 0) AS dup_spans,
       COALESCE(p.dup_tokens, 0) AS dup_tokens,
       CASE WHEN n.n_tokens > 0
            THEN CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE)
                   / CAST(n.n_tokens AS DOUBLE)
            ELSE 0.0 END AS dup_frac,
       COALESCE(c.clean_fp, md5('')) AS clean_fp
FROM ntok n
LEFT JOIN perdoc p USING (doc_id)
LEFT JOIN clean c USING (doc_id)
"""


def txt_topic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document topic clustering, auditable end to end: hashed token
    counts (md5 mod 8 slots, dense integer vectors — the hashing-trick
    featurization) → fixed-point k-means (k=4, 3 Lloyd iterations) →
    per-doc cluster assignment with cluster sizes.  Because both stages
    are integer-exact, the ENTIRE pipeline — featurization + the full
    clustering trajectory — replays bit for bit in DuckDB: a topic
    model an external engine can verify."""
    from ..operators.kmeans import kmeans

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), r"\s+")).alias("term")
    ).filter(F.col("term") != "")
    slot = (
        F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10).cast("long")
        % 8
    )
    per = toks.withColumn("__slot", slot).groupBy("doc_id").agg(
        *[
            F.count(F.when(F.col("__slot") == i, 1)).alias(f"c{i}")
            for i in range(8)
        ]
    )
    feat = per.select(
        F.col("doc_id").alias("vec_id"),
        F.array(*[F.col(f"c{i}").cast("double") for i in range(8)]).alias(
            "embedding"
        ),
    )
    out = kmeans(feat, "vec_id", "embedding", k=4, n_iter=3)
    sizes = out.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return out.join(F.broadcast(sizes), "cluster").select(
        F.col("vec_id").alias("doc_id"), "cluster", "d2", "cluster_size"
    )


_TOPIC_XV = """xv AS MATERIALIZED (
  SELECT d.vec_id, CAST(t.i AS INTEGER) AS dim,
         CAST(COALESCE(c.cnt, 0) * 1048576 AS BIGINT) AS val
  FROM (SELECT DISTINCT doc_id AS vec_id FROM ttoks) d
  CROSS JOIN range(0, 8) t(i)
  LEFT JOIN (
    SELECT doc_id AS vec_id,
           ('0x' || substr(md5(term), 1, 8))::BIGINT % 8 AS dim,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM ttoks GROUP BY 1, 2) c
    ON c.vec_id = d.vec_id AND c.dim = t.i)"""

TXT_TOPIC_SQL = f"""
WITH ttoks AS MATERIALIZED (
  SELECT doc_id, t AS term FROM (
    SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS t
    FROM documents WHERE text IS NOT NULL)
  WHERE t <> ''),
{_sql_kmeans_chain(k=4, n_iter=3, fp_bits=20, dim=8, xv_sql=_TOPIC_XV,
                   ids_from="(SELECT DISTINCT doc_id AS vec_id FROM ttoks) u")},
sizes AS (
  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM fin GROUP BY cluster)
SELECT f.vec_id AS doc_id, f.cluster, f.d2, s.cluster_size
FROM fin f JOIN sizes s USING (cluster)
"""


def txt_topic_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Name the topics: for each ``txt_topic_clusters`` cluster, the
    top-3 salient terms by the ln-free integer salience
    ``tf_cluster · (N_docs div df_term)`` (the ``txt_salient_terms``
    device at cluster grain) — cluster-profile reporting composed from
    two already-oracled stages, still bit-exact end to end."""
    from ..operators.kmeans import kmeans

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), r"\s+")).alias("term")
    ).filter(F.col("term") != "")
    slot = (
        F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10).cast("long")
        % 8
    )
    per = toks.withColumn("__slot", slot).groupBy("doc_id").agg(
        *[
            F.count(F.when(F.col("__slot") == i, 1)).alias(f"c{i}")
            for i in range(8)
        ]
    )
    feat = per.select(
        F.col("doc_id").alias("vec_id"),
        F.array(*[F.col(f"c{i}").cast("double") for i in range(8)]).alias(
            "embedding"
        ),
    )
    assign = kmeans(feat, "vec_id", "embedding", k=4, n_iter=3).select(
        F.col("vec_id").alias("doc_id"), "cluster"
    )
    n_docs = docs.count()
    tf_c = (
        toks.join(assign, "doc_id")
        .groupBy("cluster", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = (
        toks.select("doc_id", "term").distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    scored = tf_c.join(df_, "term").withColumn(
        "salience",
        F.col("tf")
        * F.expr(f"cast({int(n_docs)} as bigint) div df"),
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("salience").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("cluster", "rank", "term", "tf", "df", "salience")
    )


TXT_TOPIC_PROFILE_SQL = f"""
WITH ttoks AS MATERIALIZED (
  SELECT doc_id, t AS term FROM (
    SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS t
    FROM documents WHERE text IS NOT NULL)
  WHERE t <> ''),
{_sql_kmeans_chain(k=4, n_iter=3, fp_bits=20, dim=8, xv_sql=_TOPIC_XV,
                   ids_from="(SELECT DISTINCT doc_id AS vec_id FROM ttoks) u")},
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n
       FROM documents WHERE text IS NOT NULL),
tfc AS MATERIALIZED (
  SELECT f.cluster, t.term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM ttoks t JOIN fin f ON f.vec_id = t.doc_id
  GROUP BY f.cluster, t.term),
dfreq AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM ttoks GROUP BY term)
SELECT cluster, rank, term, tf, df, salience FROM (
  SELECT c.cluster, c.term, c.tf, d.df,
         c.tf * (nn.n // d.df) AS salience,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY c.cluster
           ORDER BY c.tf * (nn.n // d.df) DESC, c.term ASC) AS INTEGER)
           AS rank
  FROM tfc c JOIN dfreq d USING (term) CROSS JOIN nn)
WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# round-7 additions: budgeted selection, hard negatives, phrase retrieval,
# CDC merge, paragraph-granular quality filtering
# ---------------------------------------------------------------------------

def samp_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection (operators/sampling.
    token_budget_select): rank documents by distinct-token ratio and
    keep the best ones until 8000 whitespace tokens are spent.  The
    Spark plan is the bucketed two-level prefix sum (no global sort);
    the oracle is the defining global window — identical kept rows."""
    from ..operators.sampling import token_budget_select

    docs = _t(spark, sf_dir, "documents")
    tk = F.split(F.trim(F.col("text")), r"\s+")
    scored = docs.filter(F.trim(F.col("text")) != "").select(
        "doc_id",
        F.size(tk).alias("n_tok"),
        (
            F.size(F.array_distinct(tk)).cast("double")
            / F.size(tk).cast("double")
        ).alias("score"),
    )
    return token_budget_select(
        scored, "score", "n_tok", "doc_id", budget=8000, n_buckets=32
    ).select("doc_id", "score", "n_tok", "cum_tokens")


SAMP_TOKEN_BUDGET_SQL = r"""
SELECT doc_id, score, n_tok, cum_tokens FROM (
  SELECT doc_id, score, n_tok,
         CAST(SUM(n_tok) OVER (ORDER BY score DESC, doc_id ASC
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_tokens
  FROM (
    SELECT doc_id, len(tk) AS n_tok,
           CAST(len(list_distinct(tk)) AS DOUBLE)
             / CAST(len(tk) AS DOUBLE) AS score
    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
          FROM documents WHERE trim(text) <> '')))
WHERE cum_tokens <= 8000
"""


def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators/similarity.hard_negative_mining):
    top-5 most-similar different-label vectors per anchor, via the
    Arrow-batched map-side-partial-top-k kernel (one call per query
    label over the label-complement corpus)."""
    from ..operators.similarity import hard_negative_mining

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    return hard_negative_mining(emb, queries, k=5, batched=True)


EMB_HARD_NEGATIVES_SQL = f"""
SELECT query_id, rank, vec_id, cosine, neg_label FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id, c.label AS neg_label,
         ({_sql_fp_dot('c.embedding', 'q.embedding')})
           / (sqrt({_sql_fp_dot('c.embedding', 'c.embedding')})
              * sqrt({_sql_fp_dot('q.embedding', 'q.embedding')})) AS cosine,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY ({_sql_fp_dot('c.embedding', 'q.embedding')})
             / (sqrt({_sql_fp_dot('c.embedding', 'c.embedding')})
                * sqrt({_sql_fp_dot('q.embedding', 'q.embedding')})) DESC,
             c.vec_id ASC) AS INTEGER) AS rank
  FROM embeddings c
  JOIN (SELECT * FROM embeddings WHERE vec_id < 10) q
    ON c.label IS DISTINCT FROM q.label)
WHERE rank <= 5
"""


def txt_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index phrase retrieval (operators/retrieval.
    phrase_search): documents containing the consecutive phrase
    "table part", with match count and first position."""
    from ..operators.retrieval import phrase_search

    docs = _t(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    return phrase_search(docs, ["table", "part"]).withColumnRenamed(
        "id", "doc_id"
    )


TXT_PHRASE_SEARCH_SQL = r"""
WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
            FROM documents WHERE trim(text) <> ''),
idx AS (SELECT doc_id, CAST(i AS INT) AS pos, t[CAST(i AS INT)] AS term
        FROM tk, UNNEST(range(1, len(t) + 1)) AS u(i))
SELECT a.doc_id AS doc_id, COUNT(*) AS n_matches,
       CAST(MIN(a.pos) - 1 AS INT) AS first_pos
FROM idx a JOIN idx b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
WHERE a.term = 'table' AND b.term = 'part'
GROUP BY 1
"""


def lk_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE (operators/scd.apply_changelog): the customer table
    as the snapshot, the events table as the change log (event_id is
    globally unique → a total per-key sequence): per user, the latest
    event decides — 'error' deletes the account row, anything else
    upserts its value; user_ids outside the customer range exercise the
    pure-insert path, customers with no events pass through untouched.
    Latest-wins per key via max_by — no window sort."""
    from ..operators.scd import apply_changelog

    snap = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_acctbal").alias("val"),
    )
    ev = _t(spark, sf_dir, "events")
    changes = ev.select(
        F.col("user_id").alias("k"),
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("value").alias("val"),
    )
    return apply_changelog(snap, changes, ["k"], "seq", "op", ["val"])


LK_CDC_APPLY_SQL = r"""
WITH changes AS (
  SELECT user_id AS k, event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         value AS val
  FROM events),
latest AS (
  SELECT k, op, val FROM (
    SELECT k, op, val,
           ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
    FROM changes)
  WHERE rn = 1),
snap AS (SELECT c_custkey AS k, c_acctbal AS val FROM customer)
SELECT COALESCE(s.k, c.k) AS k,
       CASE WHEN c.k IS NOT NULL THEN c.val ELSE s.val END AS val
FROM snap s FULL OUTER JOIN latest c ON s.k = c.k
WHERE NOT (c.k IS NOT NULL AND c.op = 'D')
"""


def txt_paragraph_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shaped paragraph-granular quality filter (functions/text.
    paragraph_quality_filter): 20-token paragraphs, distinct-ratio
    >= 0.72 survives, documents reassembled from survivors — all array
    HOFs, a map-only plan with no explode/regroup shuffle."""
    from ..functions.text import paragraph_quality_filter

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return paragraph_quality_filter(
        docs,
        "doc_id",
        para_tokens=20,
        min_distinct_ratio=0.72,
        min_para_tokens=3,
    ).select(
        "doc_id", "n_paras", "n_kept_paras", "n_kept_tokens",
        "filtered_text",
    )


TXT_PARAGRAPH_FILTER_SQL = r"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(text), '\s+') END AS tk
  FROM documents),
p AS (
  SELECT doc_id, tk, len(tk) AS n,
         CAST(ceil(len(tk) / 20.0) AS INT) AS np
  FROM t),
g AS (
  SELECT doc_id, n, np,
         list_filter(
           list_transform(range(CAST(greatest(np, 1) AS BIGINT)),
                          i -> tk[CAST(i*20+1 AS INT):CAST(i*20+20 AS INT)]),
           q -> len(q) >= 3 AND
                CAST(len(list_distinct(q)) AS DOUBLE)
                  / CAST(len(q) AS DOUBLE) >= 0.72) AS good
  FROM p)
SELECT doc_id,
       CASE WHEN n = 0 THEN 0 ELSE np END AS n_paras,
       CAST(len(good) AS INT) AS n_kept_paras,
       CAST(len(flatten(good)) AS INT) AS n_kept_tokens,
       COALESCE(array_to_string(flatten(good), ' '), '') AS filtered_text
FROM g
"""


def samp_epoch_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-upsampled token mixture (operators/sampling.epoch_mixture):
    four sources with token budgets spanning every path — epoch-capped
    upsample (src0), fractional upsample (src1), heavy thin (src2),
    near-parity (src3); all other sources dropped."""
    from ..operators.sampling import epoch_mixture

    tk = F.split(F.trim(F.col("text")), r"\s+")
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.trim(F.col("text")) != "")
        .select("doc_id", "source", F.size(tk).alias("n_tok"))
    )
    targets = {"src0": 40000.0, "src1": 2500.0, "src2": 600.0,
               "src3": 1300.0}
    return epoch_mixture(
        docs, "source", "n_tok", "doc_id", targets,
        max_epochs=2.5, salt="em7",
    ).select("doc_id", "source", "n_tok", "epoch")


SAMP_EPOCH_MIXTURE_SQL = r"""
WITH d AS (
  SELECT doc_id, source,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tok
  FROM documents WHERE trim(text) <> ''),
t(source, b) AS (VALUES ('src0', 40000.0), ('src1', 2500.0),
                        ('src2', 600.0), ('src3', 1300.0)),
rates AS (
  SELECT s.source,
         least(2.5, CAST(t.b AS DOUBLE) / CAST(s.toks AS DOUBLE)) AS rate
  FROM (SELECT source, SUM(n_tok) AS toks FROM d GROUP BY 1) s
  JOIN t USING (source)),
thr AS (
  SELECT source, CAST(floor(rate) AS INT) AS n_full,
         CAST(floor((rate - floor(rate)) * 4294967296.0) AS BIGINT) AS thr
  FROM rates),
cop AS (
  SELECT d.doc_id, d.source, d.n_tok,
         n_full + CASE WHEN ('0x' || substr(md5('em7' ||
                    CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT < thr
                  THEN 1 ELSE 0 END AS n
  FROM d JOIN thr USING (source))
SELECT doc_id, source, n_tok, CAST(i AS INT) AS epoch
FROM cop, UNNEST(range(n)) AS u(i)
WHERE n > 0
"""


def txt_bm25_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistent BM25 inverted index INGESTION (operators/
    retrieval_index.py): build the postings/doclens tables in two
    append batches (exercising the incremental path), then probe — the
    pruned-postings scan + shared fixed-point scoring kernel must
    reproduce the one-shot ``bm25_topk`` bit for bit, so the oracle is
    the SAME SQL as ``txt_bm25_topk``'s with this query's terms.  This
    row deliberately re-pays build+append every rep — it benches
    ingestion; steady-state query latency is the separate
    ``txt_bm25_index_probe`` row against a session-cached index."""
    import hashlib
    import os
    import shutil
    import tempfile

    from ..operators.retrieval_index import (
        append_to_bm25_index,
        build_bm25_index,
        search_bm25_index,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = os.path.join(
        tempfile.gettempdir(), f"dslicer_bm25idx_{os.getpid()}_{tag}"
    )
    if os.path.exists(path):
        shutil.rmtree(path)
    import atexit

    atexit.register(shutil.rmtree, path, ignore_errors=True)
    first = docs.filter(F.col("doc_id") % 2 == 0)
    rest = docs.filter(F.col("doc_id") % 2 == 1)
    build_bm25_index(first, path, "doc_id", "text")
    append_to_bm25_index(rest, path, "doc_id", "text")
    return search_bm25_index(
        spark, path, ["merge", "join", "scan"], k=10
    )


TXT_BM25_INDEX_SEARCH_SQL = r"""
WITH toks AS (
  SELECT doc_id, t AS term FROM (
    SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS t
    FROM documents WHERE text IS NOT NULL)
  WHERE t <> ''),
per_doc AS (
  SELECT doc_id, COUNT(*) AS dl,
         COUNT(*) FILTER (term = 'merge') AS tf0,
         COUNT(*) FILTER (term = 'join')  AS tf1,
         COUNT(*) FILTER (term = 'scan')  AS tf2
  FROM toks GROUP BY doc_id),
stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
         COUNT(*) FILTER (tf0 > 0) AS df0,
         COUNT(*) FILTER (tf1 > 0) AS df1,
         COUNT(*) FILTER (tf2 > 0) AS df2
  FROM per_doc),
scored AS (
  SELECT p.doc_id,
         (CAST(
            FLOOR(((CAST(s.n_docs - s.df0 AS DOUBLE) + 0.5)
                   / (CAST(s.df0 AS DOUBLE) + 0.5))
                  * ((CAST(p.tf0 AS DOUBLE) * 2.2)
                     / (CAST(p.tf0 AS DOUBLE)
                        + 1.2 * (0.25 + 0.75 * (CAST(p.dl AS DOUBLE)
                           / (CAST(s.sum_dl AS DOUBLE)
                              / CAST(s.n_docs AS DOUBLE))))))
                  * 1048576.0) AS BIGINT)
          + CAST(
            FLOOR(((CAST(s.n_docs - s.df1 AS DOUBLE) + 0.5)
                   / (CAST(s.df1 AS DOUBLE) + 0.5))
                  * ((CAST(p.tf1 AS DOUBLE) * 2.2)
                     / (CAST(p.tf1 AS DOUBLE)
                        + 1.2 * (0.25 + 0.75 * (CAST(p.dl AS DOUBLE)
                           / (CAST(s.sum_dl AS DOUBLE)
                              / CAST(s.n_docs AS DOUBLE))))))
                  * 1048576.0) AS BIGINT)
          + CAST(
            FLOOR(((CAST(s.n_docs - s.df2 AS DOUBLE) + 0.5)
                   / (CAST(s.df2 AS DOUBLE) + 0.5))
                  * ((CAST(p.tf2 AS DOUBLE) * 2.2)
                     / (CAST(p.tf2 AS DOUBLE)
                        + 1.2 * (0.25 + 0.75 * (CAST(p.dl AS DOUBLE)
                           / (CAST(s.sum_dl AS DOUBLE)
                              / CAST(s.n_docs AS DOUBLE))))))
                  * 1048576.0) AS BIGINT)) / 1048576.0 AS bm25,
         CAST((CASE WHEN p.tf0 > 0 THEN 1 ELSE 0 END
             + CASE WHEN p.tf1 > 0 THEN 1 ELSE 0 END
             + CASE WHEN p.tf2 > 0 THEN 1 ELSE 0 END) AS INT) AS n_matched
  FROM per_doc p CROSS JOIN stats s)
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INT)
         AS rank,
       bm25, n_matched
FROM scored
WHERE n_matched > 0
ORDER BY bm25 DESC, doc_id ASC
LIMIT 10
"""


def txt_bm25_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-only twin of ``txt_bm25_index_search``: the same 3-term
    BM25 top-10 against a PRE-BUILT session-cached inverted index —
    pure query-time latency (term-pruned postings scan + one doclens
    aggregate + fixed-point scoring), with the one-time build/append
    cost carried by the ``_search`` row instead.  Bench reps after the
    first reuse the on-disk index, so the plateau-min is probe-only;
    identical output ⇒ shares the ``_search`` row's oracle."""
    import os

    from ..operators.retrieval_index import (
        build_bm25_index,
        search_bm25_index,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    path = _session_index_path("bm25idx", sf_dir)
    if not os.path.exists(os.path.join(path, "meta")):
        build_bm25_index(docs, path, "doc_id", "text")
    return search_bm25_index(
        spark, path, ["merge", "join", "scan"], k=10
    )


def txt_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus frequency spectrum — the integer-safe Zipf profile: terms
    bucketed by floor(log2(term count)) (via binary-string length, no
    transcendental log), per-bucket term and token totals, and the
    cumulative share of the corpus covered by terms at least that
    frequent.  A pretraining-corpus health check: a natural-language
    corpus shows the Zipf staircase (each lower-frequency bucket holds
    ~2× the terms for ~equal token mass); boilerplate-heavy or
    deduplication-broken corpora bend it.

    Scale: ONE (term) hash aggregate over the token stream (map-side
    partials), then everything operates on the ≤64-row bucket table —
    the cumulative window costs nothing and no global term ranking is
    ever computed."""
    docs = _t(spark, sf_dir, "documents")
    # bigram stream: richer spectrum than the tiny unigram vocab.
    # The token array is MATERIALIZED into a column before the lambda —
    # referencing the raw split() expression inside transform() would
    # re-evaluate the split per element access (O(n²) per document,
    # measured 10.2 s vs ~1 s at sf0.1)
    tk = F.col("__tk")
    toks = (
        docs.filter(F.trim(F.col("text")) != "")
        .withColumn("__tk", F.split(F.trim(F.col("text")), r"\s+"))
        .select(
            F.explode(
                F.when(
                    F.size(tk) >= 2,
                    F.zip_with(
                        F.slice(tk, 1, F.size(tk) - 1),
                        F.slice(tk, 2, F.size(tk) - 1),
                        lambda a, b: F.concat_ws(" ", a, b),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("term")
        )
    )
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    bucket = (
        F.length(F.conv(F.col("cnt").cast("string"), 10, 2)) - 1
    ).alias("freq_bucket")
    spectrum = counts.groupBy(bucket).agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("cnt").alias("n_tokens"),
    )
    w = (
        Window.orderBy(F.col("freq_bucket").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    total = toks.count()  # one scalar; avoids a second stats join
    return (
        spectrum.withColumn(
            "cum_tokens", F.sum("n_tokens").over(w)
        )
        .withColumn(
            "coverage",
            F.col("cum_tokens").cast("double") / F.lit(float(total)),
        )
        .select("freq_bucket", "n_terms", "n_tokens", "cum_tokens",
                "coverage")
    )


TXT_FREQ_SPECTRUM_SQL = r"""
WITH tk AS (
  SELECT regexp_split_to_array(trim(text), '\s+') AS t
  FROM documents WHERE trim(text) <> ''),
toks AS (
  SELECT t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS term
  FROM tk, UNNEST(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2),
counts AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term),
spectrum AS (
  SELECT CAST(length(printf('%b', cnt)) - 1 AS INT) AS freq_bucket,
         COUNT(*) AS n_terms,
         CAST(SUM(cnt) AS BIGINT) AS n_tokens
  FROM counts GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM toks)
SELECT freq_bucket, n_terms, n_tokens,
       CAST(SUM(n_tokens) OVER (ORDER BY freq_bucket DESC
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_tokens,
       CAST(SUM(n_tokens) OVER (ORDER BY freq_bucket DESC
                                ROWS UNBOUNDED PRECEDING) AS DOUBLE)
         / tot.total AS coverage
FROM spectrum CROSS JOIN tot
"""


def gr_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest paths (operators/graph.sssp_weighted):
    Bellman-Ford frontier over the part co-occurrence graph with
    deterministic integer weights w = 1+(src+dst)%7, radius 3; output
    is the distance histogram.  The oracle replays exactly 3 full BF
    rounds as chained min-aggregate CTEs — the delta (frontier)
    relaxation provably equals full BF at every round."""
    from ..operators.graph import sssp_weighted

    edges = _part_edges(spark, sf_dir).withColumn(
        "w", F.lit(1) + (F.col("src") + F.col("dst")) % 7
    )
    sources = edges.agg(F.min("src").alias("node"))
    d = sssp_weighted(edges, sources, max_rounds=3)
    return d.groupBy("dist").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )


GR_SSSP_SQL = """
WITH hi AS (
  SELECT o_orderkey FROM orders WHERE o_totalprice > 450000.0),
li AS (
  SELECT l.l_orderkey, l.l_partkey
  FROM lineitem l JOIN hi ON l.l_orderkey = hi.o_orderkey),
e0 AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
e AS (
  SELECT u AS src, v AS dst, CAST(1 + (u + v) % 7 AS BIGINT) AS w FROM e0
  UNION ALL
  SELECT v AS src, u AS dst, CAST(1 + (u + v) % 7 AS BIGINT) AS w FROM e0),
s AS (SELECT MIN(src) AS node FROM e),
d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM s),
d1 AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d0
    UNION ALL
    SELECT e.dst AS node, d0.dist + e.w AS dist
    FROM d0 JOIN e ON e.src = d0.node)
  GROUP BY node),
d2 AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d1
    UNION ALL
    SELECT e.dst AS node, d1.dist + e.w AS dist
    FROM d1 JOIN e ON e.src = d1.node)
  GROUP BY node),
d3 AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d2
    UNION ALL
    SELECT e.dst AS node, d2.dist + e.w AS dist
    FROM d2 JOIN e ON e.src = d2.node)
  GROUP BY node)
SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM d3 GROUP BY dist
"""


def llm_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-7 composed flagship: paragraph-granular cleaning → per-site
    quota → token-budget selection → epoch-balanced mixture, end to end
    on the documents table — every stage individually oracled
    (txt_paragraph_filter, samp_domain_quota, samp_token_budget,
    samp_epoch_mixture), and the composition carries a full value-hash
    twin because each stage is deterministic in the data.

    Plan shape: stage 1 is map-only array HOFs; stage 2 one group-keyed
    window; stage 3 the bucketed prefix sum (driver sees ≤32 bucket
    rows); stage 4 a stats scan + broadcast plan + bounded explode.
    Nothing global-sorts and document text never shuffles after
    stage 2's id-keyed window."""
    from ..functions.text import paragraph_quality_filter
    from ..operators.sampling import (
        epoch_mixture,
        quota_sample,
        token_budget_select,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    cleaned = (
        paragraph_quality_filter(
            docs, "doc_id", para_tokens=20,
            min_distinct_ratio=0.72, min_para_tokens=3,
        )
        .filter(F.col("n_kept_tokens") > 0)
        .select(
            "doc_id", "source",
            F.col("filtered_text").alias("text"),
            F.col("n_kept_tokens").alias("n_tok"),
        )
    )
    capped = quota_sample(cleaned, "source", "doc_id", cap=30, salt="cur")
    tk = F.split(F.col("text"), r"\s+")
    scored = capped.withColumn(
        "score",
        F.size(F.array_distinct(tk)).cast("double")
        / F.size(tk).cast("double"),
    )
    selected = token_budget_select(
        scored, "score", "n_tok", "doc_id", budget=6000, n_buckets=32
    )
    targets = {f"src{j}": 1500.0 for j in range(4)}
    mixed = epoch_mixture(
        selected.select("doc_id", "source", "n_tok"),
        "source", "n_tok", "doc_id", targets,
        max_epochs=2.0, salt="cur",
    )
    return mixed.select("doc_id", "source", "n_tok", "epoch")


LLM_CURATION_PIPELINE_SQL = r"""
WITH t AS (
  SELECT doc_id, source,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(text), '\s+') END AS tk
  FROM documents),
p AS (
  SELECT doc_id, source, tk, len(tk) AS n,
         CAST(ceil(len(tk) / 20.0) AS INT) AS np
  FROM t),
cleaned AS (
  SELECT doc_id, source, flatten(good) AS toks,
         len(flatten(good)) AS n_tok
  FROM (
    SELECT doc_id, source,
           list_filter(
             list_transform(range(CAST(greatest(np, 1) AS BIGINT)),
                            i -> tk[CAST(i*20+1 AS INT):CAST(i*20+20 AS INT)]),
             q -> len(q) >= 3 AND
                  CAST(len(list_distinct(q)) AS DOUBLE)
                    / CAST(len(q) AS DOUBLE) >= 0.72) AS good
    FROM p)
  WHERE len(flatten(good)) > 0),
capped AS (
  SELECT doc_id, source, toks, n_tok FROM (
    SELECT doc_id, source, toks, n_tok,
           ROW_NUMBER() OVER (
             PARTITION BY source
             ORDER BY ('0x' || substr(md5('cur' ||
                       CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT ASC,
                      doc_id ASC) AS rk
    FROM cleaned)
  WHERE rk <= 30),
scored AS (
  SELECT doc_id, source, n_tok,
         CAST(len(list_distinct(toks)) AS DOUBLE)
           / CAST(len(toks) AS DOUBLE) AS score
  FROM capped),
selected AS (
  SELECT doc_id, source, n_tok FROM (
    SELECT doc_id, source, n_tok,
           CAST(SUM(n_tok) OVER (ORDER BY score DESC, doc_id ASC
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_tokens
    FROM scored)
  WHERE cum_tokens <= 6000),
tgt(source, b) AS (VALUES ('src0', 1500.0), ('src1', 1500.0),
                          ('src2', 1500.0), ('src3', 1500.0)),
rates AS (
  SELECT s.source,
         least(2.0, CAST(tgt.b AS DOUBLE) / CAST(s.toks AS DOUBLE)) AS rate
  FROM (SELECT source, SUM(n_tok) AS toks FROM selected GROUP BY 1) s
  JOIN tgt USING (source)),
thr AS (
  SELECT source, CAST(floor(rate) AS INT) AS n_full,
         CAST(floor((rate - floor(rate)) * 4294967296.0) AS BIGINT) AS thr
  FROM rates),
cop AS (
  SELECT d.doc_id, d.source, d.n_tok,
         n_full + CASE WHEN ('0x' || substr(md5('cur' ||
                    CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT < thr
                  THEN 1 ELSE 0 END AS nc
  FROM selected d JOIN thr USING (source))
SELECT doc_id, source, n_tok, CAST(i AS INT) AS epoch
FROM cop, UNNEST(range(nc)) AS u(i)
WHERE nc > 0
"""


def ev_pattern_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP strict-contiguity pattern match (operators/timeseries.
    detect_event_pattern): click → click → purchase runs within 24
    hours per user, counted per user — one key shuffle, the pattern
    is lead() columns over a single window."""
    from ..operators.timeseries import detect_event_pattern

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        _epoch_us(F.col("ts")).alias("ts_us"),
        "event_type",
    )
    matches = detect_event_pattern(
        ev, "ts_us", ["user_id"], "event_type",
        ["click", "click", "purchase"],
        within=86_400_000_000, tiebreak_col="event_id",
    )
    return matches.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min("match_ts").alias("first_match_ts"),
    )


EV_PATTERN_DETECT_SQL = r"""
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
  FROM events),
led AS (
  SELECT user_id, ts_us, event_type,
         LEAD(event_type, 1) OVER w AS t1,
         LEAD(event_type, 2) OVER w AS t2,
         LEAD(ts_us, 2) OVER w AS ts2
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC))
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
       MIN(ts_us) AS first_match_ts
FROM led
WHERE event_type = 'click' AND t1 = 'click' AND t2 = 'purchase'
  AND ts2 - ts_us <= 86400000000
GROUP BY user_id
"""


def dd_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment (operators/dedup.
    containment_pairs): planted doc-in-doc corpus — each doc's 40%%
    token prefix re-enters as a new document (id+200000); Jaccard vs
    the original is small (union is original-sized) but containment of
    the prefix is ≈1, which is exactly what this operator and no
    symmetric measure detects."""
    from ..operators.dedup import containment_pairs

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    prefix = docs.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.slice(
                toks, 1,
                F.greatest((F.size(toks) * 2) / F.lit(5), F.lit(4))
                .cast("int"),
            ),
        ).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(prefix)
    return containment_pairs(corpus, "doc_id", n=3, threshold=0.9)


DD_CONTAINMENT_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents WHERE trim(text) <> ''),
corpus AS (
  SELECT doc_id, t FROM toks
  UNION ALL
  SELECT doc_id + 200000,
         t[1:CAST(greatest((len(t) * 2) // 5, 4) AS INT)] AS t
  FROM toks),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM corpus, UNNEST(range(1, len(t) - 1)) AS u(i)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
sized AS (
  SELECT c.id_a, c.id_b, c.n_common, sa.n_sh AS n_a, sb.n_sh AS n_b
  FROM common c
  JOIN sizes sa ON sa.doc_id = c.id_a
  JOIN sizes sb ON sb.doc_id = c.id_b),
oriented AS (
  SELECT CASE WHEN n_a < n_b OR (n_a = n_b AND id_a < id_b)
              THEN id_a ELSE id_b END AS inner_id,
         CASE WHEN n_a < n_b OR (n_a = n_b AND id_a < id_b)
              THEN id_b ELSE id_a END AS outer_id,
         n_common,
         CASE WHEN n_a < n_b OR (n_a = n_b AND id_a < id_b)
              THEN n_a ELSE n_b END AS n_inner,
         CASE WHEN n_a < n_b OR (n_a = n_b AND id_a < id_b)
              THEN n_b ELSE n_a END AS n_outer
  FROM sized)
SELECT inner_id, outer_id, n_common, n_inner, n_outer,
       CAST(n_common AS DOUBLE) / CAST(n_inner AS DOUBLE) AS containment
FROM oriented
WHERE CAST(n_common AS DOUBLE) / CAST(n_inner AS DOUBLE) >= 0.9
"""


def ev_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey transition matrix: for each (prev event type, next
    event type) pair, the transition count and the row-normalized
    probability — the first-order Markov summary powering journey
    analysis and next-event prediction baselines.  ONE user-keyed lag
    window + one (from, to) hash aggregate; the probability is a single
    division against a broadcast per-from total."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        _epoch_us(F.col("ts")).alias("ts_us"),
        "event_type",
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").asc(), F.col("event_id").asc()
    )
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return (
        pairs.join(F.broadcast(totals), "from_type")
        .withColumn(
            "p",
            F.col("n").cast("double") / F.col("n_from").cast("double"),
        )
        .select("from_type", "to_type", "n", "n_from", "p")
    )


EV_MARKOV_SQL = r"""
WITH led AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id
           ORDER BY epoch_us(ts) ASC, event_id ASC) AS to_type
  FROM events),
pairs AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM led WHERE to_type IS NOT NULL
  GROUP BY 1, 2),
totals AS (
  SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
  FROM pairs GROUP BY 1)
SELECT p.from_type, p.to_type, p.n, t.n_from,
       CAST(p.n AS DOUBLE) / CAST(t.n_from AS DOUBLE) AS p
FROM pairs p JOIN totals t USING (from_type)
"""


def emb_truncation_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension-truncation evaluation: recall@5 of
    exact top-k computed on the FIRST HALF of each embedding (dim 8→4)
    against full-dimension exact top-k — the measurement behind
    shipping truncated vectors (MRL, Kusupati et al. 2022): how much
    neighborhood structure survives the cheaper representation.  Both
    sides are exact fixed-point brute force, so the recall itself is
    value-exact cross-engine."""
    emb = _t(spark, sf_dir, "embeddings")
    half = emb.select(
        "vec_id", F.slice(F.col("embedding"), 1, 4).alias("embedding")
    )
    q_full = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    q_half = half.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf = cosine_topk(emb, q_full, k=5).select("query_id", "vec_id")
    tr = cosine_topk(half, q_half, k=5).select(
        "query_id", "vec_id", F.lit(1).alias("__h")
    )
    j = bf.join(tr, ["query_id", "vec_id"], "left")
    hits = F.sum(F.when(F.col("__h").isNotNull(), 1).otherwise(0))
    return j.agg(
        F.countDistinct("query_id").cast("long").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_expected"),
        hits.cast("long").alias("n_hits"),
        F.try_divide(
            hits.cast("double"), F.count(F.lit(1)).cast("double")
        ).alias("recall"),
    )


EMB_TRUNCATION_SQL = f"""
WITH bf AS (
SELECT query_id, vec_id FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY ({_sql_fp_dot('c.embedding', 'q.embedding')})
             / (sqrt({_sql_fp_dot('c.embedding', 'c.embedding')})
                * sqrt({_sql_fp_dot('q.embedding', 'q.embedding')})) DESC,
             c.vec_id ASC) AS rank
  FROM embeddings c
  JOIN (SELECT * FROM embeddings WHERE vec_id < 10) q
    ON c.vec_id <> q.vec_id)
WHERE rank <= 5
), tr AS (
SELECT query_id, vec_id FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY ({_sql_fp_dot('c.embedding[1:4]', 'q.embedding[1:4]')})
             / (sqrt({_sql_fp_dot('c.embedding[1:4]', 'c.embedding[1:4]')})
                * sqrt({_sql_fp_dot('q.embedding[1:4]', 'q.embedding[1:4]')})) DESC,
             c.vec_id ASC) AS rank
  FROM embeddings c
  JOIN (SELECT * FROM embeddings WHERE vec_id < 10) q
    ON c.vec_id <> q.vec_id)
WHERE rank <= 5
)
SELECT CAST(COUNT(DISTINCT b.query_id) AS BIGINT) AS n_queries,
       CAST(COUNT(*) AS BIGINT) AS n_expected,
       CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       CASE WHEN COUNT(*) = 0 THEN NULL
            ELSE CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       END AS recall
FROM bf b LEFT JOIN tr t
  ON b.query_id = t.query_id AND b.vec_id = t.vec_id
"""


def dq_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic (operators/quality.key_skew_report):
    the 5 heaviest (user_id, event_type) composite keys of the events
    table with their row share — one key aggregate + TakeOrdered, no
    global sort, histogram never reaches the driver."""
    from ..operators.quality import key_skew_report

    ev = _t(spark, sf_dir, "events")
    return key_skew_report(ev, ["user_id", "event_type"], top=5)


DQ_SKEW_REPORT_SQL = r"""
WITH counts AS (
  SELECT CAST(user_id AS VARCHAR) || '|' || event_type AS key,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY user_id, event_type),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM events)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, key ASC) AS INT) AS rank,
       key, n, CAST(n AS DOUBLE) / tot.t AS share
FROM counts CROSS JOIN tot
ORDER BY n DESC, key ASC
LIMIT 5
"""


def samp_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-optimal stratified sampling (operators/sampling.
    neyman_stratified_sample): 120 documents across sources allocated
    ∝ N_h·σ_h of n_chars — the allocation arithmetic is exact integer
    cells + quantized integer weights, so the DuckDB twin replays the
    whole design, survivors included."""
    from ..operators.sampling import neyman_stratified_sample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return neyman_stratified_sample(
        docs, "source", "n_chars", total_n=120, key_col="doc_id",
        salt="ny",
    )


SAMP_NEYMAN_SQL = r"""
WITH base AS (
  SELECT doc_id, source, n_chars,
         CAST(FLOOR(CAST(n_chars AS DOUBLE) * 1048576.0) AS BIGINT) AS q
  FROM documents WHERE n_chars IS NOT NULL),
cells AS (
  SELECT source, COUNT(*) AS n, SUM(q) AS s1,
         SUM(CAST(q AS HUGEINT) * CAST(q AS HUGEINT)) AS s2
  FROM base GROUP BY 1),
sig AS (
  SELECT source, n,
         CAST(FLOOR(
           n * (sqrt(greatest(
                 CAST(n * s2 - CAST(s1 AS HUGEINT) * CAST(s1 AS HUGEINT)
                      AS DOUBLE)
                 / CAST(n * n AS DOUBLE), 0.0)) / 1048576.0)
             * 1048576.0) AS HUGEINT) AS wq
  FROM cells),
tot AS (SELECT SUM(wq) AS w FROM sig),
alloc AS (
  SELECT source,
         CAST(least(
           CASE WHEN tot.w = 0 THEN 0
                ELSE (120 * wq) // tot.w END,
           n) AS INT) AS a
  FROM sig CROSS JOIN tot)
SELECT doc_id, source, n_chars FROM (
  SELECT b.doc_id, b.source, b.n_chars, al.a,
         ROW_NUMBER() OVER (
           PARTITION BY b.source
           ORDER BY ('0x' || substr(md5('ny' ||
                     CAST(b.doc_id AS VARCHAR)), 1, 8))::BIGINT ASC,
                    b.doc_id ASC) AS rk
  FROM base b JOIN alloc al USING (source))
WHERE rk <= a
"""


def samp_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split (operators/sampling.
    leakage_safe_split): near-dup clusters (ngram Jaccard ≥ 0.05 pairs →
    connected components) split as units on their representative's
    hash; summary = per-split doc counts + a leak counter that must be
    ZERO (pairs whose two docs landed in different splits)."""
    from ..operators.dedup import ngram_jaccard_pairs
    from ..operators.sampling import leakage_safe_split

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # cached: the pair table feeds TWO separate evaluations — the
    # connected-components labeling inside leakage_safe_split (whose
    # localCheckpoint action populates this cache) and the leak counter
    # below — uncached, the whole t=0.05 inverted-index mining ran twice
    # per invocation (r11 bench: 10.1 s -> 5.0 s quiet)
    pairs = ngram_jaccard_pairs(docs, "doc_id", n=3, threshold=0.05).cache()
    split = leakage_safe_split(
        docs, "doc_id", pairs, weights=(0.8, 0.1, 0.1), salt="ls"
    ).select("doc_id", "split")
    leaks = (
        pairs.select("id_a", "id_b")
        .join(split.selectExpr("doc_id as id_a", "split as sa"), "id_a")
        .join(split.selectExpr("doc_id as id_b", "split as sb"), "id_b")
        .filter(F.col("sa") != F.col("sb"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        split.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(F.broadcast(leaks.withColumnRenamed("n", "n_leaks")))
    )


_LS_T1 = int(0.8 * (1 << 32))
_LS_T2 = int(0.9 * (1 << 32))

SAMP_LEAKAGE_SAFE_SPLIT_SQL = rf"""
WITH RECURSIVE toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents WHERE trim(text) <> ''),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE)
        >= 0.05),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs),
reach(node, r) AS (
  SELECT u, u FROM edges
  UNION
  SELECT reach.node, e.v FROM reach JOIN edges e ON reach.r = e.u),
lab AS (SELECT node, MIN(r) AS rep FROM reach GROUP BY node),
split AS (
  SELECT d.doc_id,
         CASE WHEN h < {_LS_T1} THEN 'train'
              WHEN h < {_LS_T2} THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT doc_id,
           ('0x' || substr(md5('ls' ||
             CAST(COALESCE(l.rep, documents.doc_id) AS VARCHAR)),
             1, 8))::BIGINT AS h
    FROM documents LEFT JOIN lab l ON l.node = documents.doc_id) d
  JOIN documents USING (doc_id)),
leaks AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_leaks
  FROM pairs p
  JOIN split a ON a.doc_id = p.id_a
  JOIN split b ON b.doc_id = p.id_b
  WHERE a.split <> b.split)
SELECT s.split, CAST(COUNT(*) AS BIGINT) AS n_docs, leaks.n_leaks
FROM split s CROSS JOIN leaks
GROUP BY s.split, leaks.n_leaks
"""


def astro_flagship_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory-replay twin of ``astro_flagship_pipeline`` (reference
    chain: notebook cells 2→10, ``dataset.py:249-261`` →
    ``_objtable_methods.py:265-421``) — the SAME E2 stage chain with
    every aggregate made bit-stable so DuckDB can replay the WHOLE
    pipeline as one SQL statement and hash-match the output:

    - the REAL distributed DBSCAN kernel runs (min_samples=2 ⇒ DBSCAN
      degenerates to connected components of the ε-chord graph —
      ``operators/clustering.py`` pair_mode); the oracle reproduces the
      identical component structure from the identical pair predicate
      via a recursive transitive-closure CTE (the ``dd_resolve_groups``
      technique).  This certifies M1's grouping against an independent
      engine — the one capability the rows-only flagship row never
      certified.
    - all means (centroids, per-cluster offsets, summary) use the
      fixed-point ``davg`` (floor(x·2²⁰) int sums) instead of raw
      double avg — order-independent, so cross-engine exact.
    - the one substitution: magnitude bins are UNIFORM-width instead of
      the driver-side Jenks DP (no SQL form; Jenks optimality is pinned
      separately by enumeration in ``tests/`` — M2).  Bin edges derive
      from the min/max of the deterministic per-cluster means, so the
      binning is itself replayable.

    Everything else — P1 filter, J1 broadcast enrich, A2 centroid, J5
    centroid↔catalog crossmatch (haversine, deterministic tiebreak),
    J8 cluster cut, F1 calmag with the F2 band-conditional color, F2
    bandwise reference pick, M3 IQR rejection (quantile_cont ≡
    F.percentile), final group-quantified filter, per-band summary —
    is the flagship's own operator chain, stage for stage."""
    from ..functions.photometry import (
        band_conditional_color,
        bandwise_ref_mag,
        calmag,
    )
    from ..operators.clustering import dbscan
    from ..operators.joins import merge_metadata_to_sources, select_clusters
    from ..operators.spatial import crossmatch_sky
    from .astro_pipeline import make_astro_fixture
    from .star_queries import davg

    sources, metadata, ps1cal = make_astro_fixture(spark, sf_dir)
    # deterministic per-(star, exposure) photometric noise (±0.005 mag,
    # integer-derived).  The base fixture's magnitudes are exactly
    # exposure-determined, so per-cluster mean offsets tie EXACTLY under
    # fixed-point averaging — every bin's IQR is 0 and M3 rejects
    # everything (the real flagship only avoids this through float
    # rounding dust in the color term).  Real spread makes the IQR
    # rejection non-vacuous: injected +3 mag outlier stars and most
    # partial clusters get rejected, typical full clusters survive —
    # the selection behavior M3 exists to certify.
    e_ = F.col("sourceid") % 10
    s_ = ((F.col("sourceid") - e_) / 10).cast("long")
    noise = (((s_ * 11 + e_ * 7) % 101) - 50).cast("double") * F.lit(1e-4)
    sources = sources.withColumn("mag", F.col("mag") + noise)
    good = sources.filter((F.col("flags") == 0) & (F.col("snr") > 2))
    enriched = merge_metadata_to_sources(
        good, metadata, join_on="OBSID"
    ).cache()
    clustered = (
        dbscan(
            enriched, eps=3.0, min_samples=2, id_col="sourceid",
            x_col="ra", y_col="dec", coord="sky", purge_noise=True,
        )
        .repartition("clusterID")
        .cache()
    )
    centroids = clustered.groupBy("clusterID").agg(
        davg("ra", "ra"), davg("dec", "dec")
    )
    matched = crossmatch_sky(
        centroids, ps1cal, rs_arcsec=3.0, source_id="clusterID",
        catalog_id="_id",
    ).select(
        "clusterID", "dist2ps1", "gmag", "rmag", "imag", "e_gmag", "e_rmag"
    )
    with_match = clustered.join(F.broadcast(matched), "clusterID")
    tight = with_match.filter(F.col("dist2ps1") < 1.0)
    calibrated = calmag(
        band_conditional_color(tight), mag_col="mag", err_mag_col="sigmag",
        zp_col="MAGZP", zp_err_col="MAGZPUNC",
        clrcoeff_col="CLRCOEFF", clrcoeff_err_col="CLRCOUNC",
        color1_col="color1", color2_col="color2",
        color1_err_col="e_gmag", color2_err_col="e_rmag",
    )
    with_ref = bandwise_ref_mag(calibrated).cache()

    # M3 with uniform bins: per-cluster deterministic means, bin by
    # min/max edges, per-bin median/IQR, reject norm ≥ cut (NULL norm —
    # zero-IQR bin — rejects, pandas parity)
    per_cluster = with_ref.groupBy("clusterID").agg(
        davg(F.col("cal_mag"), "av_mag"),
        davg(F.col("cal_mag") - F.col("ps1mag_band"), "av_dist"),
    )
    rng = per_cluster.agg(
        F.min("av_mag").alias("__mn"), F.max("av_mag").alias("__mx")
    )
    binned = per_cluster.crossJoin(F.broadcast(rng)).withColumn(
        "mag_bin",
        F.when(
            F.col("__mx") > F.col("__mn"),
            F.least(
                F.floor(
                    (F.col("av_mag") - F.col("__mn"))
                    / ((F.col("__mx") - F.col("__mn")) / F.lit(10.0))
                ).cast("int"),
                F.lit(9),
            ),
        ).otherwise(F.lit(0)),
    ).drop("__mn", "__mx")
    per_bin = binned.groupBy("mag_bin").agg(
        (
            F.percentile(F.col("av_dist"), F.lit(0.75))
            - F.percentile(F.col("av_dist"), F.lit(0.25))
        ).alias("iqr_dist"),
        F.median(F.col("av_dist")).alias("median_dist"),
    )
    scored = binned.join(F.broadcast(per_bin), "mag_bin").withColumn(
        "norm",
        F.try_divide(
            F.abs(F.col("av_dist") - F.col("median_dist")),
            F.col("iqr_dist"),
        ),
    )
    keep_ok = F.coalesce(
        F.when(F.isnan(F.col("norm")), F.lit(False)).otherwise(
            F.col("norm") < 2.5
        ),
        F.lit(False),
    )
    keep_ids = scored.filter(keep_ok).select("clusterID")
    kept = with_ref.join(F.broadcast(keep_ids), "clusterID")

    final, _ = select_clusters(
        kept.withColumn(
            "absdiff", F.abs(F.col("cal_mag") - F.col("ps1mag_band"))
        ),
        F.col("absdiff") < 0.5,
        "clusterID",
    )
    return (
        final.groupBy("FILTERID")
        .agg(
            F.countDistinct("clusterID").cast("long").alias("n_clusters"),
            F.count(F.lit(1)).cast("long").alias("n_sources"),
            davg(
                F.col("cal_mag") - F.col("ps1mag_band"), "mean_mag_diff"
            ),
            davg("dist2ps1", "mean_dist2ps1"),
        )
        .orderBy("FILTERID")
    )


def _sql_fpavg(c: str) -> str:
    """DuckDB twin of star_queries.davg at FP_BITS=20."""
    return (
        f"(CAST(SUM(CAST(FLOOR(({c}) * 1048576.0) AS BIGINT)) AS DOUBLE)"
        f" / 1048576.0) / COUNT({c})"
    )


_HAV = (
    "DEGREES(2*ASIN(SQRT("
    "POWER(SIN((RADIANS({d2})-RADIANS({d1}))/2), 2)"
    " + COS(RADIANS({d1}))*COS(RADIANS({d2}))"
    "*POWER(SIN((RADIANS({r2})-RADIANS({r1}))/2), 2)"
    ")))*3600.0"
)

ASTRO_FLAGSHIP_ORACLE_SQL = f"""
WITH RECURSIVE
meta AS (
  SELECT CAST(id AS BIGINT) AS obsid,
         25.0 + 0.1*id AS magzp, 0.01 AS magzpunc,
         0.05 + 0.01*id AS clrcoeff, 0.005 AS clrcounc,
         CAST(id % 3 + 1 AS INT) AS filterid
  FROM range(1, 6) t(id)),
stars AS (
  SELECT c_custkey AS star_id,
         (c_custkey * 9176 % 3599993) / 10000.0 AS ra0,
         (c_custkey * 7919 % 1199999) / 10000.0 - 60.0 AS dec0,
         15.0 + (c_custkey % 500) / 100.0 AS mag0
  FROM customer),
src AS (
  SELECT s.star_id * 10 + e.id AS sourceid,
         CAST(e.id AS BIGINT) AS obsid,
         ra0 + (((star_id*31 + e.id*17) % 21) - 10) * 1e-5 AS ra,
         dec0 + (((star_id*13 + e.id*23) % 21) - 10) * 1e-5 AS dec,
         (mag0 + 0.001*e.id)
           + CAST(((star_id*11 + e.id*7) % 101) - 50 AS DOUBLE) * 1e-4
           AS mag,
         0.01 AS sigmag,
         CASE WHEN (star_id*7 + e.id) % 50 = 0 THEN 1 ELSE 0 END AS flags,
         5.0 + (star_id % 10) AS snr
  FROM stars s CROSS JOIN range(1, 6) e(id)),
ps1 AS (
  SELECT star_id AS _id, ra0 AS ra, dec0 AS dec,
         mag0 + 25.25 + CASE WHEN star_id % 97 = 0 THEN 3.0 ELSE 0.0 END AS gmag,
         mag0 + 25.20 + CASE WHEN star_id % 97 = 0 THEN 3.0 ELSE 0.0 END AS rmag,
         mag0 + 25.15 + CASE WHEN star_id % 97 = 0 THEN 3.0 ELSE 0.0 END AS imag,
         0.01 AS e_gmag, 0.01 AS e_rmag
  FROM stars),
obs AS (
  SELECT g.sourceid, g.ra, g.dec, g.mag, g.sigmag,
         m.magzp, m.magzpunc, m.clrcoeff, m.clrcounc, m.filterid,
         COS(RADIANS(g.dec))*COS(RADIANS(g.ra)) AS ux,
         COS(RADIANS(g.dec))*SIN(RADIANS(g.ra)) AS uy,
         SIN(RADIANS(g.dec)) AS uz,
         CAST(FLOOR(g.dec / (3.0/3600.0)) AS BIGINT) AS band
  FROM src g JOIN meta m ON g.obsid = m.obsid
  WHERE g.flags = 0 AND g.snr > 2),
edges0 AS (
  SELECT a.sourceid AS u, b.sourceid AS v
  FROM obs a JOIN obs b
    ON b.band BETWEEN a.band - 1 AND a.band + 1
   AND a.sourceid < b.sourceid
  WHERE (a.ux-b.ux)*(a.ux-b.ux) + (a.uy-b.uy)*(a.uy-b.uy)
        + (a.uz-b.uz)*(a.uz-b.uz)
        <= POWER(2*SIN(RADIANS(3.0/3600.0)/2), 2)),
edges AS (SELECT u, v FROM edges0 UNION SELECT v, u FROM edges0),
reach(node, r) AS (
  SELECT u, u FROM edges
  UNION
  SELECT reach.node, e.v FROM reach JOIN edges e ON reach.r = e.u),
lab AS (SELECT node, MIN(r) AS cid FROM reach GROUP BY node),
members AS (
  SELECT o.*, l.cid FROM obs o JOIN lab l ON o.sourceid = l.node),
cent AS (
  SELECT cid, {_sql_fpavg('ra')} AS cra, {_sql_fpavg('dec')} AS cdec
  FROM members GROUP BY cid),
xm AS (
  SELECT cid, dist2ps1, gmag, rmag, imag, e_gmag, e_rmag FROM (
    SELECT c.cid, p.gmag, p.rmag, p.imag, p.e_gmag, p.e_rmag,
           {_HAV.format(r1='c.cra', d1='c.cdec', r2='p.ra', d2='p.dec')}
             AS dist2ps1,
           ROW_NUMBER() OVER (
             PARTITION BY c.cid
             ORDER BY {_HAV.format(r1='c.cra', d1='c.cdec',
                                   r2='p.ra', d2='p.dec')} ASC,
                      p._id ASC) AS rn
    FROM cent c JOIN ps1 p
      ON {_HAV.format(r1='c.cra', d1='c.cdec', r2='p.ra', d2='p.dec')}
         <= 3.0)
  WHERE rn = 1),
cal AS (
  SELECT m.*, x.dist2ps1,
         m.mag + m.magzp + m.clrcoeff *
           ((CASE WHEN m.filterid IN (1,2) THEN x.gmag ELSE x.rmag END)
            - (CASE WHEN m.filterid IN (1,2) THEN x.rmag ELSE x.imag END))
           AS cal_mag,
         CASE m.filterid WHEN 1 THEN x.gmag WHEN 2 THEN x.rmag
              ELSE x.imag END AS ps1mag_band
  FROM members m JOIN xm x USING (cid)
  WHERE x.dist2ps1 < 1.0),
percl AS (
  SELECT cid, {_sql_fpavg('cal_mag')} AS av_mag,
         {_sql_fpavg('cal_mag - ps1mag_band')} AS av_dist
  FROM cal GROUP BY cid),
rngs AS (SELECT MIN(av_mag) AS mn, MAX(av_mag) AS mx FROM percl),
binned AS (
  SELECT p.*,
         CASE WHEN r.mx > r.mn
              THEN LEAST(CAST(FLOOR((p.av_mag - r.mn)
                                    / ((r.mx - r.mn) / 10.0)) AS INT), 9)
              ELSE 0 END AS mag_bin
  FROM percl p CROSS JOIN rngs r),
perbin AS (
  SELECT mag_bin,
         QUANTILE_CONT(av_dist, 0.75) - QUANTILE_CONT(av_dist, 0.25)
           AS iqr_dist,
         MEDIAN(av_dist) AS median_dist
  FROM binned GROUP BY mag_bin),
keepc AS (
  SELECT b.cid FROM binned b JOIN perbin pb USING (mag_bin)
  WHERE CASE WHEN pb.iqr_dist > 0
             THEN ABS(b.av_dist - pb.median_dist) / pb.iqr_dist < 2.5
             ELSE FALSE END),
finalc AS (
  SELECT c.*, ABS(c.cal_mag - c.ps1mag_band) AS absdiff
  FROM cal c JOIN keepc k USING (cid)),
okc AS (
  SELECT cid FROM finalc GROUP BY cid
  HAVING MIN(CASE WHEN absdiff < 0.5 THEN 1 ELSE 0 END) = 1)
SELECT f.filterid AS FILTERID,
       CAST(COUNT(DISTINCT f.cid) AS BIGINT) AS n_clusters,
       CAST(COUNT(*) AS BIGINT) AS n_sources,
       {_sql_fpavg('f.cal_mag - f.ps1mag_band')} AS mean_mag_diff,
       {_sql_fpavg('f.dist2ps1')} AS mean_dist2ps1
FROM finalc f JOIN okc USING (cid)
GROUP BY f.filterid
ORDER BY f.filterid
"""


def ev_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event values (operators/timeseries.ewma_smooth,
    α=0.25): the classic online smoother, an order-dependent recurrence
    run as ONE key shuffle + a batched Arrow kernel.  The oracle replays
    the identical ``α·x + (1−α)·e`` recurrence as a recursive CTE, so
    the doubles match bit-for-bit."""
    from ..operators.timeseries import ewma_smooth

    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "value")
    return ewma_smooth(ev, ["user_id"], "event_id", "value", alpha=0.25)


EV_EWMA_SMOOTH_SQL = r"""
WITH RECURSIVE o AS (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events),
s(user_id, event_id, value, rn, ewma) AS (
  SELECT user_id, event_id, value, rn, value FROM o WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.event_id, o.value, o.rn,
         0.25 * o.value + 0.75 * s.ewma
  FROM s JOIN o ON o.user_id = s.user_id AND o.rn = s.rn + 1)
SELECT user_id, event_id, value, ewma FROM s
"""


def ev_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM change detection per user (operators/timeseries.
    cusum_changepoints: target=50, slack=15, threshold=120, reset after
    alarm).  Emits only rows near/at alarms (s_pos or s_neg above half
    the threshold) to keep the output alarm-focused.  Oracle: recursive
    CTE carrying the post-reset accumulators with the identical IEEE op
    order."""
    from ..operators.timeseries import cusum_changepoints

    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "value")
    out = cusum_changepoints(
        ev, ["user_id"], "event_id", "value",
        target=50.0, slack=15.0, threshold=120.0,
    )
    return out.filter(
        (F.col("s_pos") > F.lit(60.0)) | (F.col("s_neg") > F.lit(60.0))
    ).select("user_id", "event_id", "value", "s_pos", "s_neg", "alarm")


EV_CHANGEPOINT_SQL = r"""
WITH RECURSIVE o AS (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events),
s(user_id, event_id, value, rn, s_pos, s_neg, alarm, cp, cn) AS (
  SELECT user_id, event_id, value, rn,
         greatest(0.0, 0.0 + ((value - 50.0) - 15.0)),
         greatest(0.0, 0.0 + ((50.0 - value) - 15.0)),
         greatest(0.0, 0.0 + ((value - 50.0) - 15.0)) > 120.0
           OR greatest(0.0, 0.0 + ((50.0 - value) - 15.0)) > 120.0,
         CASE WHEN greatest(0.0, 0.0 + ((value - 50.0) - 15.0)) > 120.0
                   OR greatest(0.0, 0.0 + ((50.0 - value) - 15.0)) > 120.0
              THEN 0.0
              ELSE greatest(0.0, 0.0 + ((value - 50.0) - 15.0)) END,
         CASE WHEN greatest(0.0, 0.0 + ((value - 50.0) - 15.0)) > 120.0
                   OR greatest(0.0, 0.0 + ((50.0 - value) - 15.0)) > 120.0
              THEN 0.0
              ELSE greatest(0.0, 0.0 + ((50.0 - value) - 15.0)) END
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.event_id, o.value, o.rn,
         greatest(0.0, s.cp + ((o.value - 50.0) - 15.0)),
         greatest(0.0, s.cn + ((50.0 - o.value) - 15.0)),
         greatest(0.0, s.cp + ((o.value - 50.0) - 15.0)) > 120.0
           OR greatest(0.0, s.cn + ((50.0 - o.value) - 15.0)) > 120.0,
         CASE WHEN greatest(0.0, s.cp + ((o.value - 50.0) - 15.0)) > 120.0
                   OR greatest(0.0, s.cn + ((50.0 - o.value) - 15.0)) > 120.0
              THEN 0.0
              ELSE greatest(0.0, s.cp + ((o.value - 50.0) - 15.0)) END,
         CASE WHEN greatest(0.0, s.cp + ((o.value - 50.0) - 15.0)) > 120.0
                   OR greatest(0.0, s.cn + ((50.0 - o.value) - 15.0)) > 120.0
              THEN 0.0
              ELSE greatest(0.0, s.cn + ((50.0 - o.value) - 15.0)) END
  FROM s JOIN o ON o.user_id = s.user_id AND o.rn = s.rn + 1)
SELECT user_id, event_id, value, s_pos, s_neg, alarm
FROM s WHERE s_pos > 60.0 OR s_neg > 60.0
"""


def txt_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (functions/text.c4_line_filter).  The
    synthetic corpus has no newlines, so the query first builds a lined
    twin deterministically — 7-word lines, terminal '.' on lines where
    (doc_id+i) % 4 != 0, ' javascript' injected where (3·doc_id+i) % 11
    == 0, and a trailing 'lorem ipsum.' line on doc_id % 97 == 0 — the
    same replay technique as the astro oracle twin; every C4 rule
    (min-words, terminal punctuation, line blacklist, document
    blacklist) fires on real rows.  Map-only array HOFs end to end."""
    from ..functions.text import c4_line_filter

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.trim(F.col("text")) != "")
        .select("doc_id", "text")
        .withColumn("__tk", F.split(F.trim(F.col("text")), r"\s+"))
        .withColumn(
            "__np", F.ceil(F.size("__tk") / F.lit(7.0)).cast("int")
        )
    )
    i7 = lambda i: F.slice(F.col("__tk"), i * 7 + 1, 7)  # noqa: E731
    lines = F.transform(
        F.sequence(F.lit(0).cast("long"), F.col("__np").cast("long") - 1),
        lambda i: F.concat(
            F.array_join(i7(i), " "),
            F.when(
                (F.col("doc_id") * 3 + i) % 11 == 0, F.lit(" javascript")
            ).otherwise(F.lit("")),
            F.when((F.col("doc_id") + i) % 4 != 0, F.lit(".")).otherwise(
                F.lit("")
            ),
        ),
    )
    lined = F.array_join(lines, "\n")
    lined = F.when(
        F.col("doc_id") % 97 == 0,
        F.concat(lined, F.lit("\nlorem ipsum.")),
    ).otherwise(lined)
    staged = docs.select("doc_id", lined.alias("text"))
    return c4_line_filter(
        staged,
        "doc_id",
        min_words=5,
        line_blacklist=("javascript",),
        doc_blacklist=("lorem ipsum", "{"),
    ).select("doc_id", "n_lines", "n_kept_lines", "cleaned_text", "keep_doc")


TXT_C4_CLEAN_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
  FROM documents WHERE trim(text) <> ''),
p AS (
  SELECT doc_id, tk,
         CAST(ceil(len(tk) / 7.0) AS INT) AS np
  FROM t),
l AS (
  SELECT doc_id,
         list_transform(range(CAST(np AS BIGINT)), i ->
           array_to_string(tk[CAST(i*7+1 AS INT):CAST(i*7+7 AS INT)], ' ')
           || CASE WHEN (doc_id*3 + i) % 11 = 0
                   THEN ' javascript' ELSE '' END
           || CASE WHEN (doc_id + i) % 4 <> 0 THEN '.' ELSE '' END
         ) AS lines
  FROM p),
d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 97 = 0
              THEN list_append(lines, 'lorem ipsum.') ELSE lines END AS lines
  FROM l),
f AS (
  SELECT doc_id, lines,
         lower(array_to_string(lines, chr(10))) AS low_text,
         list_filter(lines, ln ->
           (CASE WHEN trim(ln) = '' THEN 0
                 ELSE len(regexp_split_to_array(trim(ln), '\s+')) END) >= 5
           AND right(trim(ln), 1) IN ('.', '!', '?', '"', '''')
           AND NOT contains(lower(trim(ln)), 'javascript')
         ) AS kept
  FROM d)
SELECT doc_id,
       CAST(len(lines) AS INT) AS n_lines,
       CAST(len(kept) AS INT) AS n_kept_lines,
       COALESCE(array_to_string(kept, chr(10)), '') AS cleaned_text,
       (NOT (contains(low_text, 'lorem ipsum') OR contains(low_text, '{')))
         AND len(kept) > 0 AS keep_doc
FROM f
"""


def txt_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed Gopher/MassiveText document gate (functions/text.
    gopher_quality_filter) with thresholds straddling the corpus
    distribution (word count 20–90 vs the 10–99 observed range,
    top-word share ≤ 0.15 vs median 0.093/max 0.3, duplicate-word share
    ≤ 0.6 vs median 0.54/max 0.72, ≥3 of 6 required corpus words) so
    every rule fires on real rows.  Word stats are map-only HOFs;
    repetition shares reuse the repetition_stats plan."""
    from ..functions.text import gopher_quality_filter

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return gopher_quality_filter(
        docs,
        "doc_id",
        min_words=20,
        max_words=90,
        min_mean_word_len=3.0,
        max_mean_word_len=10.0,
        max_symbol_word_ratio=0.1,
        min_alpha_word_frac=0.8,
        required_words=("join", "hash", "row", "batch", "scan", "column"),
        min_required_hits=3,
        max_dup_word_frac=0.6,
        max_top_word_frac=0.15,
        max_top_bigram_frac=0.08,
    )


TXT_GOPHER_FILTER_SQL = r"""
WITH base AS (
  SELECT doc_id, text,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(text), '\s+') END AS w
  FROM documents),
stats AS (
  SELECT doc_id,
         CAST(len(w) AS INT) AS n_words,
         CASE WHEN len(w) > 0 THEN
           CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
             / CAST(len(w) AS DOUBLE) END AS mean_word_len,
         CASE WHEN len(w) > 0 THEN
           CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
                AS DOUBLE) / CAST(len(w) AS DOUBLE) END AS alpha_word_frac,
         CASE WHEN len(w) > 0 THEN
           CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS DOUBLE)
             / CAST(len(w) AS DOUBLE) END AS symbol_word_ratio,
         CAST(len(list_intersect(
           list_distinct(list_transform(w, x -> lower(x))),
           ['join', 'hash', 'row', 'batch', 'scan', 'column']))
           AS INT) AS n_required_hits
  FROM base),
toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents WHERE trim(text) <> ''),
words AS (SELECT doc_id, u.x FROM toks, UNNEST(t) AS u(x)),
wc AS (SELECT doc_id, x, COUNT(*) AS c FROM words GROUP BY doc_id, x),
wagg AS (
  SELECT doc_id, SUM(c) AS n_words, MAX(c) AS top_word_count,
         COUNT(*) AS n_distinct_words
  FROM wc GROUP BY doc_id),
bigrams AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS g
  FROM toks, UNNEST(range(1, len(t))) AS u(i)),
bc AS (SELECT doc_id, g, COUNT(*) AS c FROM bigrams GROUP BY doc_id, g),
bagg AS (
  SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_bigram_count
  FROM bc GROUP BY doc_id),
rep AS (
  SELECT w.doc_id,
         (CAST(w.n_words AS BIGINT) - CAST(w.n_distinct_words AS BIGINT))
           / CAST(w.n_words AS DOUBLE) AS dup_word_frac,
         CAST(w.top_word_count AS BIGINT)
           / CAST(w.n_words AS DOUBLE) AS top_word_frac,
         CAST(b.top_bigram_count AS BIGINT)
           / CAST(b.n_bigrams AS DOUBLE) AS top_bigram_frac
  FROM wagg w LEFT JOIN bagg b USING (doc_id))
SELECT s.doc_id, s.n_words, s.mean_word_len, s.alpha_word_frac,
       s.symbol_word_ratio, s.n_required_hits,
       r.dup_word_frac, r.top_word_frac, r.top_bigram_frac,
       COALESCE(
         s.n_words >= 20 AND s.n_words <= 90
         AND s.mean_word_len >= 3.0 AND s.mean_word_len <= 10.0
         AND s.symbol_word_ratio <= 0.1
         AND s.alpha_word_frac >= 0.8
         AND s.n_required_hits >= 3
         AND r.dup_word_frac <= 0.6
         AND r.top_word_frac <= 0.15
         AND (r.top_bigram_frac IS NULL OR r.top_bigram_frac <= 0.08),
         FALSE) AS pass_gopher
FROM stats s LEFT JOIN rep r USING (doc_id)
"""


def txt_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document trigram novelty vs the src0 sub-corpus as reference
    (operators/decontam.ngram_novelty): the fraction of each non-src0
    document's distinct word 3-grams never seen in src0 — quantified
    overlap, complementing txt_decontaminate's binary flag.  Runs
    hashed=False so the DuckDB twin joins the same shingle strings (the
    hashed production path is pytest-verified equivalent)."""
    from ..operators.decontam import ngram_novelty

    docs = _t(spark, sf_dir, "documents")
    ref = docs.filter(F.col("source") == "src0").select("text")
    corpus = docs.filter(F.col("source") != "src0").select("doc_id", "text")
    return ngram_novelty(corpus, ref, "doc_id", n=3, hashed=False)


TXT_NGRAM_NOVELTY_SQL = r"""
WITH toks AS (
  SELECT doc_id, source,
         regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents WHERE trim(text) <> ''),
sh AS (
  SELECT doc_id, source,
         list_distinct(list_transform(range(1, len(t) - 1),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
  FROM toks WHERE len(t) >= 3),
doc_sh AS (
  SELECT doc_id, u.s FROM sh, UNNEST(g) AS u(s) WHERE source <> 'src0'),
ref_sh AS (
  SELECT DISTINCT u.s FROM sh, UNNEST(g) AS u(s) WHERE source = 'src0')
SELECT d.doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN r.s IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(SUM(CASE WHEN r.s IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS novel_frac
FROM doc_sh d LEFT JOIN ref_sh r ON d.s = r.s
GROUP BY d.doc_id
"""


def dq_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov drift statistic
    (operators/drift.ks_2sample): returned ('A') vs refused ('R')
    lineitems compared per feature over four unpivoted columns —
    distinct-value histogram, windowed ECDF per feature, integer
    cross-multiplied sup, one final division."""
    from ..operators.drift import ks_2sample

    li = _t(spark, sf_dir, "lineitem")
    feats = li.selectExpr(
        "l_returnflag",
        "stack(4, 'quantity', l_quantity, 'discount', l_discount, "
        "'tax', l_tax, 'linenumber', CAST(l_linenumber AS DOUBLE)) "
        "AS (feature, value)",
    )
    return ks_2sample(feats, "l_returnflag", "value", ["feature"], "A", "R")


DQ_KS_TEST_SQL = r"""
WITH f AS (
  SELECT l_returnflag AS flag, 'quantity' AS feature, l_quantity AS value
  FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'discount', l_discount FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'tax', l_tax FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'linenumber', CAST(l_linenumber AS DOUBLE)
  FROM lineitem),
c AS (
  SELECT feature, value,
         CAST(SUM(CASE WHEN flag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN flag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM f WHERE flag IN ('A', 'R') GROUP BY feature, value),
w AS (
  SELECT feature,
         SUM(ca) OVER (PARTITION BY feature ORDER BY value
                       ROWS UNBOUNDED PRECEDING) AS cum_a,
         SUM(cb) OVER (PARTITION BY feature ORDER BY value
                       ROWS UNBOUNDED PRECEDING) AS cum_b
  FROM c),
t AS (
  SELECT feature, CAST(SUM(ca) AS BIGINT) AS n_a,
         CAST(SUM(cb) AS BIGINT) AS n_b
  FROM c GROUP BY feature)
SELECT w.feature, t.n_a, t.n_b,
       CAST(MAX(ABS(w.cum_a * t.n_b - w.cum_b * t.n_a)) AS DOUBLE)
         / CAST(t.n_a * t.n_b AS DOUBLE) AS ks
FROM w JOIN t USING (feature)
GROUP BY w.feature, t.n_a, t.n_b
"""


def lk_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERSION-AS-OF read (operators/scd.snapshot_as_of): the lk_cdc_apply
    frame replayed only through event_id <= 5000 — the reconstructed
    mid-log table state, exercising prefix-filter pushdown into the
    changelog scan plus the standard MERGE shape."""
    from ..operators.scd import snapshot_as_of

    snap = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_acctbal").alias("val"),
    )
    ev = _t(spark, sf_dir, "events")
    changes = ev.select(
        F.col("user_id").alias("k"),
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("value").alias("val"),
    )
    return snapshot_as_of(
        snap, changes, ["k"], "seq", "op", ["val"], as_of=5000
    )


LK_TIME_TRAVEL_SQL = r"""
WITH changes AS (
  SELECT user_id AS k, event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         value AS val
  FROM events WHERE event_id <= 5000),
latest AS (
  SELECT k, op, val FROM (
    SELECT k, op, val,
           ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
    FROM changes)
  WHERE rn = 1),
snap AS (SELECT c_custkey AS k, c_acctbal AS val FROM customer)
SELECT COALESCE(s.k, c.k) AS k,
       CASE WHEN c.k IS NOT NULL THEN c.val ELSE s.val END AS val
FROM snap s FULL OUTER JOIN latest c ON s.k = c.k
WHERE NOT (c.k IS NOT NULL AND c.op = 'D')
"""


def dd_dedup_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold tuning curve (operators/dedup.
    dedup_threshold_sweep): the dd_ngram_jaccard pair table mined ONCE
    at 0.05, then pair/doc survivor counts per candidate threshold via
    one broadcast sweep — the pick-the-elbow query run before committing
    a production dedup threshold."""
    from ..operators.dedup import dedup_threshold_sweep

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", n=3, threshold=0.05)
    return dedup_threshold_sweep(
        pairs, [0.05, 0.1, 0.2, 0.3, 0.5], score_col="jaccard"
    )


DD_DEDUP_SWEEP_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents WHERE trim(text) <> ''),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b,
         CAST(n_common AS DOUBLE)
           / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
  FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_common AS DOUBLE)
          / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.05),
thr(threshold) AS (VALUES (0.05), (0.1), (0.2), (0.3), (0.5)),
hits AS (
  SELECT t.threshold, p.id_a, p.id_b
  FROM pairs p JOIN thr t ON p.jaccard >= t.threshold),
np AS (
  SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM hits GROUP BY threshold),
nd AS (
  SELECT threshold, CAST(COUNT(DISTINCT d) AS BIGINT) AS n_docs
  FROM (SELECT threshold, id_a AS d FROM hits
        UNION ALL
        SELECT threshold, id_b FROM hits)
  GROUP BY threshold)
SELECT threshold, n_pairs, n_docs FROM np JOIN nd USING (threshold)
"""


def emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift (operators/drift.embedding_centroid_drift):
    even- vs odd-id vectors as the two snapshots, per label — squared
    centroid L2 distance + centroid cosine from fixed-point-exact
    per-dim sums; the wire carries labels·dims rows, never vectors."""
    from ..operators.drift import embedding_centroid_drift

    emb = _t(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    return embedding_centroid_drift(a, b, ["label"])


_FP2_40 = repr(float(2**40))

EMB_CENTROID_DRIFT_SQL = f"""
WITH ex AS (
  SELECT label, CAST(vec_id % 2 AS INT) AS side,
         generate_subscripts(embedding, 1) AS dim,
         unnest(embedding) AS x
  FROM embeddings),
s AS (
  SELECT label, dim, side, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(FLOOR(CAST(x AS DOUBLE) * CAST({FP30} AS DOUBLE))
                  AS BIGINT)) AS s
  FROM ex GROUP BY 1, 2, 3),
j AS (
  SELECT a.label, a.dim, a.n AS n0, b.n AS n1,
         (CAST(a.s AS DOUBLE) / CAST({FP30} AS DOUBLE)) / a.n AS ca,
         (CAST(b.s AS DOUBLE) / CAST({FP30} AS DOUBLE)) / b.n AS cb
  FROM s a JOIN s b ON a.label = b.label AND a.dim = b.dim
  WHERE a.side = 0 AND b.side = 1),
q AS (
  SELECT label, n0, n1,
         CAST(FLOOR((ca - cb) * (ca - cb) * CAST({_FP2_40} AS DOUBLE))
              AS BIGINT) AS d2,
         CAST(FLOOR(ca * cb * CAST({_FP2_40} AS DOUBLE)) AS BIGINT) AS ab,
         CAST(FLOOR(ca * ca * CAST({_FP2_40} AS DOUBLE)) AS BIGINT) AS aa,
         CAST(FLOOR(cb * cb * CAST({_FP2_40} AS DOUBLE)) AS BIGINT) AS bb
  FROM j)
SELECT label, MIN(n0) AS n_a, MIN(n1) AS n_b,
       CAST(SUM(d2) AS DOUBLE) / CAST({_FP2_40} AS DOUBLE) AS dist2,
       (CAST(SUM(ab) AS DOUBLE) / CAST({_FP2_40} AS DOUBLE))
         / (SQRT(CAST(SUM(aa) AS DOUBLE) / CAST({_FP2_40} AS DOUBLE))
            * SQRT(CAST(SUM(bb) AS DOUBLE) / CAST({_FP2_40} AS DOUBLE)))
         AS centroid_cos
FROM q GROUP BY label
"""


def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit (operators/stats.benford_first_digit)
    of l_extendedprice: cents-quantized integers, digit from the int64
    decimal string (no float log10), expected fractions as shared
    Python double literals."""
    from ..operators.stats import benford_first_digit

    li = _t(spark, sf_dir, "lineitem").select("l_extendedprice")
    return benford_first_digit(li, "l_extendedprice", scale=100)


def _benford_sql() -> str:
    import math

    case = " ".join(
        f"WHEN {d} THEN {math.log10(1.0 + 1.0 / d)!r}"
        for d in range(1, 10)
    )
    exp = f"(CASE digit {case} END)"
    frac = "CAST(n AS DOUBLE) / CAST(total AS DOUBLE)"
    return f"""
WITH q AS (
  SELECT CAST(FLOOR(CAST(l_extendedprice AS DOUBLE) * 100.0 + 0.5)
              AS BIGINT) AS qi
  FROM lineitem),
h AS (
  SELECT CAST(substr(CAST(qi AS VARCHAR), 1, 1) AS INT) AS digit,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM q WHERE qi > 0 GROUP BY 1),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM h)
SELECT digit, n, {frac} AS frac, {exp} AS benford,
       ABS({frac} - {exp}) AS abs_dev
FROM h CROSS JOIN t
"""


DQ_BENFORD_SQL = _benford_sql()

_FP20 = repr(float(2**20))


def ev_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive additive seasonal decomposition (operators/timeseries.
    seasonal_decompose_naive) of event values per type: ±6 h centered
    range-window trend, hour-of-day seasonal means of the detrended
    series, residual remainder — every mean a fixed-point int sum, the
    whole decomposition bit-identical to the SQL twin."""
    from ..operators.timeseries import seasonal_decompose_naive
    from ..streaming.events import _epoch_us, load_events

    ev = load_events(spark, sf_dir).select(
        "event_type",
        "event_id",
        _epoch_us(F.col("ts")).alias("ts_us"),
        "value",
    )
    out = seasonal_decompose_naive(
        ev,
        ["event_type"],
        "ts_us",
        "value",
        period_us=86_400_000_000,
        bucket_us=3_600_000_000,
        trend_halfwidth_us=21_600_000_000,
    )
    return out.select(
        "event_type", "event_id", "value", "trend", "phase",
        "seasonal", "residual",
    )


EV_SEASONAL_DECOMPOSE_SQL = f"""
WITH d AS (
  SELECT event_type, event_id,
         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
  FROM events),
w AS (
  SELECT event_type, event_id, ts_us, value,
         (CAST(SUM(CAST(FLOOR(CAST(value AS DOUBLE)
                               * CAST({_FP20} AS DOUBLE)) AS BIGINT))
               OVER win AS DOUBLE) / CAST({_FP20} AS DOUBLE))
           / (COUNT(*) OVER win) AS trend,
         CAST(FLOOR((ts_us % 86400000000) / 3600000000) AS INT) AS phase
  FROM d
  WINDOW win AS (PARTITION BY event_type ORDER BY ts_us
                 RANGE BETWEEN 21600000000 PRECEDING
                           AND 21600000000 FOLLOWING)),
s AS (
  SELECT event_type, phase,
         (CAST(SUM(CAST(FLOOR((CAST(value AS DOUBLE) - trend)
                               * CAST({_FP20} AS DOUBLE)) AS BIGINT))
               AS DOUBLE) / CAST({_FP20} AS DOUBLE))
           / COUNT(*) AS seasonal
  FROM w GROUP BY 1, 2)
SELECT w.event_type, w.event_id, w.value, w.trend, w.phase, s.seasonal,
       CAST(w.value AS DOUBLE) - w.trend - s.seasonal AS residual
FROM w JOIN s USING (event_type, phase)
"""


def gr_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-core of the part co-occurrence graph (operators/graph.kcore):
    synchronous degree peeling to fixpoint (3 rounds at sf0.01), the
    graph-side quality gate; oracle replays 8 fixed peel rounds as
    chained CTEs (idempotent past the fixpoint)."""
    from ..operators.graph import kcore

    return kcore(_part_edges(spark, sf_dir), k=4)


def _kcore_sql(k: int = 4, rounds: int = 8) -> str:
    head = """
WITH hi AS (
  SELECT o_orderkey FROM orders WHERE o_totalprice > 450000.0),
li AS (
  SELECT l.l_orderkey, l.l_partkey
  FROM lineitem l JOIN hi ON l.l_orderkey = hi.o_orderkey),
ep AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
e0 AS MATERIALIZED (SELECT u, v FROM ep UNION SELECT v, u FROM ep)"""
    body = []
    for r in range(1, rounds + 1):
        # MATERIALIZED is load-bearing: each round references the prior
        # round twice, so inlined CTEs re-evaluate the whole chain
        # exponentially (2^rounds base scans — observed as fd exhaustion)
        body.append(
            f"k{r} AS MATERIALIZED (SELECT u FROM e{r-1} GROUP BY u "
            f"HAVING COUNT(*) >= {k})"
        )
        body.append(
            f"e{r} AS MATERIALIZED (SELECT c.u, c.v FROM e{r-1} c "
            f"JOIN k{r} a ON c.u = a.u JOIN k{r} b ON c.v = b.u)"
        )
    tail = (
        f"\nSELECT u AS node, CAST(COUNT(*) AS BIGINT) AS core_deg "
        f"FROM e{rounds} GROUP BY u"
    )
    return head + ",\n" + ",\n".join(body) + tail


GR_KCORE_SQL = _kcore_sql()


def ev_holt_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing per user (operators/timeseries.
    holt_smooth, α=0.5 β=0.25): level+trend recurrences in fixed IEEE
    order, oracle replayed as a recursive CTE carrying both states —
    raw doubles hash-match."""
    from ..operators.timeseries import holt_smooth

    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "value")
    return holt_smooth(
        ev, ["user_id"], "event_id", "value", alpha=0.5, beta=0.25
    )


EV_HOLT_SMOOTH_SQL = r"""
WITH RECURSIVE o AS (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events),
s(user_id, event_id, value, rn, level, trend) AS (
  SELECT user_id, event_id, value, rn, value, CAST(0.0 AS DOUBLE)
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.event_id, o.value, o.rn,
         0.5 * o.value + 0.5 * (s.level + s.trend),
         0.25 * ((0.5 * o.value + 0.5 * (s.level + s.trend)) - s.level)
           + 0.75 * s.trend
  FROM s JOIN o ON o.user_id = s.user_id AND o.rn = s.rn + 1)
SELECT user_id, event_id, value, level, trend FROM s
"""


def emb_mutual_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual nearest neighbors (operators/similarity.mutual_nn) between
    the %7 and %5 id slices of the vector table — the embedding-space
    alignment primitive; exact, tie-deterministic, both directions ranked
    by the fixed-point cosine the brute-force oracle replays."""
    from ..operators.similarity import mutual_nn

    emb = _t(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") % 7 == 0)
    b = emb.filter(F.col("vec_id") % 5 == 0)
    return mutual_nn(a, b)


_MNN_COS_AB = (
    f"({_sql_fp_dot('a.embedding', 'b.embedding')})"
    f" / (sqrt({_sql_fp_dot('b.embedding', 'b.embedding')})"
    f" * sqrt({_sql_fp_dot('a.embedding', 'a.embedding')}))"
)

EMB_MUTUAL_NN_SQL = f"""
WITH sa AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 = 0),
sb AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
ab AS (
  SELECT a_id, b_id, cosine FROM (
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           {_MNN_COS_AB} AS cosine,
           ROW_NUMBER() OVER (
             PARTITION BY a.vec_id
             ORDER BY {_MNN_COS_AB} DESC, b.vec_id ASC) AS rn
    FROM sa a CROSS JOIN sb b)
  WHERE rn = 1),
ba AS (
  SELECT a_id, b_id FROM (
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           ROW_NUMBER() OVER (
             PARTITION BY b.vec_id
             ORDER BY {_MNN_COS_AB} DESC, a.vec_id ASC) AS rn
    FROM sa a CROSS JOIN sb b)
  WHERE rn = 1)
SELECT ab.a_id, ab.b_id, ab.cosine
FROM ab JOIN ba ON ab.a_id = ba.a_id AND ab.b_id = ba.b_id
"""


def ev_minmax_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max plot decimation (operators/timeseries.minmax_downsample):
    per (event_type, 6-hour bucket) the extreme observations, struct-
    ordered tie-determinism — ONE hash aggregate, no window, no sort."""
    from ..operators.timeseries import minmax_downsample
    from ..streaming.events import _epoch_us, load_events

    ev = load_events(spark, sf_dir).select(
        "event_type", _epoch_us(F.col("ts")).alias("ts_us"), "value"
    )
    return minmax_downsample(
        ev, ["event_type"], "ts_us", "value", bucket_us=21_600_000_000
    )


EV_MINMAX_DOWNSAMPLE_SQL = r"""
WITH d AS (
  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
         CAST(value AS DOUBLE) AS v
  FROM events),
b AS (
  SELECT event_type, v, ts_us,
         ts_us - (ts_us % 21600000000) AS bucket_start
  FROM d),
lo AS (
  SELECT event_type, bucket_start, 'min' AS kind, ts_us, v AS value
  FROM (SELECT *, ROW_NUMBER() OVER (
          PARTITION BY event_type, bucket_start
          ORDER BY v ASC, ts_us ASC) AS rn FROM b)
  WHERE rn = 1),
hi AS (
  SELECT event_type, bucket_start, 'max' AS kind, ts_us, v AS value
  FROM (SELECT *, ROW_NUMBER() OVER (
          PARTITION BY event_type, bucket_start
          ORDER BY v DESC, ts_us DESC) AS rn FROM b)
  WHERE rn = 1)
SELECT * FROM lo UNION ALL SELECT * FROM hi
"""


def dd_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing/MOSS fingerprint matches (operators/dedup.
    winnowing_matches, k=3 window=4 min_common=2): per-window rightmost
    minimum of md5-derived k-gram hashes — the guaranteed-detection
    local sampling; ~2/(window+1) the index size of the full shingle
    inverted index."""
    from ..operators.dedup import winnowing_matches

    docs = _t(spark, sf_dir, "documents")
    return winnowing_matches(docs, "doc_id", k=3, window=4, min_common=2)


DD_WINNOWING_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents WHERE trim(text) <> ''),
grams AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         ('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]),
                         1, 15))::BIGINT AS h
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)),
picked AS (
  SELECT doc_id,
         min(struct_pack(h := h, np := -pos)) OVER win AS pick,
         count(*) OVER win AS cnt
  FROM grams
  WINDOW win AS (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)),
fp AS (SELECT DISTINCT doc_id, pick.h AS h FROM picked WHERE cnt = 4),
sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp FROM fp GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2)
SELECT id_a, id_b, n_common, sa.n_fp AS n_a, sb.n_fp AS n_b,
       CAST(n_common AS DOUBLE)
         / CAST(least(sa.n_fp, sb.n_fp) AS DOUBLE) AS overlap
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "astro_flagship_oracle": astro_flagship_oracle,
    "txt_token_stats": txt_token_stats,
    "txt_quality": txt_quality,
    "txt_repetition": txt_repetition,
    "txt_langid": txt_langid,
    "txt_fingerprint": txt_fingerprint,
    "txt_top_ngrams": txt_top_ngrams,
    "dd_exact": dd_exact,
    "dd_ngram_jaccard": dd_ngram_jaccard,
    "dd_ngram_jaccard_prefix": dd_ngram_jaccard_prefix,
    "dd_containment": dd_containment,
    "dd_resolve_groups": dd_resolve_groups,
    "dd_minhash_lsh": dd_minhash_lsh,
    "dd_minhash_bbit": dd_minhash_bbit,
    "dd_weighted_minhash": dd_weighted_minhash,
    "dd_index_incremental": dd_index_incremental,
    "dd_index_probe": dd_index_probe,
    "dd_index_bbit": dd_index_bbit,
    "dd_simhash": dd_simhash,
    "dd_embedding_cosine": dd_embedding_cosine,
    "sim_mmr_rerank": sim_mmr_rerank,
    "sim_mmr_ivf": sim_mmr_ivf,
    "sim_topk_bruteforce": sim_topk_bruteforce,
    "sim_topk_lsh": sim_topk_lsh,
    "sim_topk_ivf": sim_topk_ivf,
    "txt_train_split": txt_train_split,
    "txt_pack_documents": txt_pack_documents,
    "samp_stratified": samp_stratified,
    "emb_quantize": emb_quantize,
    "sk_hll_stats": sk_hll_stats,
    "sk_hll_certify": sk_hll_certify,
    "sk_theta_sets": sk_theta_sets,
    "sk_hll_rollup": sk_hll_rollup,
    "ev_funnel_by_session": ev_funnel_by_session,
    "mm_image_features": mm_image_features,
    "ev_tumbling_window": ev_tumbling_window,
    "ev_sliding_window": ev_sliding_window,
    "ev_session_window": ev_session_window,
    "ev_asof_join": ev_asof_join,
    "ev_resample_ffill": ev_resample_ffill,
    "ev_scd2_history": ev_scd2_history,
    "ev_rolling_stats": ev_rolling_stats,
    "ev_anomaly": ev_anomaly,
    "ev_funnel": ev_funnel,
    "ev_retention": ev_retention,
    "ev_interpolate": ev_interpolate,
    "ev_sessionize": ev_sessionize,
    "ev_json_extract": ev_json_extract,
    "ev_debounce": ev_debounce,
    "ev_pattern_detect": ev_pattern_detect,
    "ev_markov_transitions": ev_markov_transitions,
    "dd_fuzzy_names": dd_fuzzy_names,
    "dq_profile": dq_profile,
    "dq_constraints": dq_constraints,
    "ev_interval_join": ev_interval_join,
    "ev_overlap_join": ev_overlap_join,
    "emb_label_centroids": emb_label_centroids,
    "txt_decontaminate": txt_decontaminate,
    "emb_semantic_decontam": emb_semantic_decontam,
    "samp_temperature": samp_temperature,
    "txt_quantile_filter": txt_quantile_filter,
    "txt_chunk_documents": txt_chunk_documents,
    "txt_pii_scrub": txt_pii_scrub,
    "dd_cross_corpus": dd_cross_corpus,
    "emb_knn_classify": emb_knn_classify,
    "txt_materialize_packs": txt_materialize_packs,
    "llm_data_pipeline": llm_data_pipeline,
    "llm_curation_pipeline": llm_curation_pipeline,
    "emb_pca_gram": emb_pca_gram,
    "samp_weighted": samp_weighted,
    "skw_salted_agg": skw_salted_agg,
    "txt_trigram_lm": txt_trigram_lm,
    "samp_mixture": samp_mixture,
    "ev_variant_extract": ev_variant_extract,
    "emb_kmeans": emb_kmeans,
    "emb_semantic_dedup": emb_semantic_dedup,
    "txt_quality_classifier": txt_quality_classifier,
    "j10_bloom_join": j10_bloom_join,
    "j11_bucketed_join": j11_bucketed_join,
    "src_warc_roundtrip": src_warc_roundtrip,
    "txt_normalize": txt_normalize,
    "txt_url_filter": txt_url_filter,
    "samp_domain_quota": samp_domain_quota,
    "samp_token_budget": samp_token_budget,
    "samp_epoch_mixture": samp_epoch_mixture,
    "samp_neyman": samp_neyman,
    "samp_leakage_safe_split": samp_leakage_safe_split,
    "emb_hard_negatives": emb_hard_negatives,
    "txt_phrase_search": txt_phrase_search,
    "txt_bm25_index_search": txt_bm25_index_search,
    "txt_bm25_index_probe": txt_bm25_index_probe,
    "txt_freq_spectrum": txt_freq_spectrum,
    "lk_cdc_apply": lk_cdc_apply,
    "txt_paragraph_filter": txt_paragraph_filter,
    "txt_bpe_tokenize": txt_bpe_tokenize,
    "gr_pagerank": gr_pagerank,
    "gr_sssp": gr_sssp,
    "txt_hashed_bow_classifier": txt_hashed_bow_classifier,
    "txt_ridge_regression": txt_ridge_regression,
    "mb_association_rules": mb_association_rules,
    "ev_trending": ev_trending,
    "samp_perplexity_buckets": samp_perplexity_buckets,
    "lk_snapshot_diff": lk_snapshot_diff,
    "a13_rollup": a13_rollup,
    "a14_unpivot": a14_unpivot,
    "txt_salient_terms": txt_salient_terms,
    "a15_group_ols": a15_group_ols,
    "txt_classifier_eval": txt_classifier_eval,
    "ev_running_distinct": ev_running_distinct,
    "ev_attribution": ev_attribution,
    "dq_drift": dq_drift,
    "dq_skew_report": dq_skew_report,
    "ev_dwell_time": ev_dwell_time,
    "a16_spend_deciles": a16_spend_deciles,
    "txt_oov_rate": txt_oov_rate,
    "gr_triangles": gr_triangles,
    "gr_bfs_hops": gr_bfs_hops,
    "txt_calibration_curve": txt_calibration_curve,
    "a17_corr_matrix": a17_corr_matrix,
    "a18_weighted_median": a18_weighted_median,
    "samp_bootstrap_ci": samp_bootstrap_ci,
    "gr_communities": gr_communities,
    "a19_gini_diversity": a19_gini_diversity,
    "emb_recall_eval": emb_recall_eval,
    "emb_truncation_eval": emb_truncation_eval,
    "ev_wow_change": ev_wow_change,
    "txt_bm25_topk": txt_bm25_topk,
    "samp_dsir_select": samp_dsir_select,
    "mm_bmp_codec_features": mm_bmp_codec_features,
    "mm_wav_codec_features": mm_wav_codec_features,
    "txt_bm25_multiquery": txt_bm25_multiquery,
    "txt_hybrid_rrf": txt_hybrid_rrf,
    "txt_topic_clusters": txt_topic_clusters,
    "txt_topic_profile": txt_topic_profile,
    "txt_span_dedup": txt_span_dedup,
    "ev_ewma_smooth": ev_ewma_smooth,
    "ev_changepoint": ev_changepoint,
    "txt_c4_clean": txt_c4_clean,
    "txt_gopher_filter": txt_gopher_filter,
    "txt_ngram_novelty": txt_ngram_novelty,
    "dq_ks_test": dq_ks_test,
    "lk_time_travel": lk_time_travel,
    "dd_dedup_sweep": dd_dedup_sweep,
    "emb_centroid_drift": emb_centroid_drift,
    "dq_benford": dq_benford,
    "ev_seasonal_decompose": ev_seasonal_decompose,
    "gr_kcore": gr_kcore,
    "ev_holt_smooth": ev_holt_smooth,
    "emb_mutual_nn": emb_mutual_nn,
    "ev_minmax_downsample": ev_minmax_downsample,
    "dd_winnowing": dd_winnowing,
}

ORACLES: dict[str, str] = {
    "astro_flagship_oracle": ASTRO_FLAGSHIP_ORACLE_SQL,
    "txt_token_stats": TXT_TOKEN_STATS_SQL,
    "txt_quality": TXT_QUALITY_SQL,
    "txt_repetition": TXT_REPETITION_SQL,
    "txt_langid": TXT_LANGID_SQL,
    "txt_fingerprint": TXT_FINGERPRINT_SQL,
    "txt_top_ngrams": TXT_TOP_NGRAMS_SQL,
    "dd_exact": DD_EXACT_SQL,
    "dd_ngram_jaccard": DD_NGRAM_JACCARD_SQL,
    "dd_ngram_jaccard_prefix": DD_NGRAM_JACCARD_PREFIX_SQL,
    "dd_containment": DD_CONTAINMENT_SQL,
    # recursive transitive-closure CTE = min-label propagation fixed point
    "dd_resolve_groups": DD_RESOLVE_SQL,
    # exact-verification output → engine-independent despite xxhash64
    # candidates (miss probability < 1e-14/pair at r=2 b=32 t=0.8)
    "dd_minhash_lsh": DD_MINHASH_SQL,
    # exact-verify output = exact pair set minus <1e-14 misses, like the
    # full-width twin; the b-bit machinery itself is pinned by pytest
    "dd_minhash_bbit": DD_MINHASH_BBIT_SQL,
    # CWS: P[sample match] = J_w exactly, so the set-LSH miss bound
    # transfers; exact-verify output = exact weighted-Jaccard pair set
    "dd_weighted_minhash": DD_WEIGHTED_MINHASH_SQL,
    "dd_index_incremental": DD_INDEX_INCREMENTAL_SQL,
    "dd_index_probe": DD_INDEX_PROBE_SQL,
    "dd_index_bbit": DD_INDEX_BBIT_SQL,
    # md5-derived 60-bit hashes → full fingerprint replay in SQL
    "dd_simhash": DD_SIMHASH_SQL,
    "txt_train_split": TXT_TRAIN_SPLIT_SQL,
    "txt_pack_documents": TXT_PACK_SQL,
    "samp_stratified": SAMP_STRATIFIED_SQL,
    "emb_quantize": EMB_QUANTIZE_SQL,
    "dd_embedding_cosine": DD_EMBEDDING_COSINE_SQL,
    "sim_mmr_rerank": SIM_MMR_RERANK_SQL,
    # full-probe IVF candidates provably = brute-force fp-cosine top-20
    # (see sim_mmr_ivf), so the whole ANN→MMR pipeline hash-checks
    "sim_mmr_ivf": SIM_MMR_IVF_SQL,
    "sim_topk_bruteforce": SIM_TOPK_SQL,
    # seeded-plane bucket replay → exact oracle for the approximate path
    "sim_topk_lsh": SIM_TOPK_LSH_SQL,
    # n_probe = n_lists ⇒ provably equals brute force (see sim_topk_ivf)
    "sim_topk_ivf": SIM_TOPK_SQL,
    # exact counts + bound-certification booleans (TRUE by sketch contract)
    "sk_hll_certify": SK_HLL_SQL,
    "sk_theta_sets": SK_THETA_SQL,
    "sk_hll_rollup": SK_HLL_ROLLUP_SQL,
    "ev_funnel_by_session": EV_FUNNEL_SESSION_SQL,
    # sha-cycle decode replay → bit-identical feature doubles (see SQL)
    "mm_image_features": MM_IMAGE_FEATURES_SQL,
    "ev_tumbling_window": EV_TUMBLING_SQL,
    "ev_sliding_window": EV_SLIDING_SQL,
    "ev_session_window": EV_SESSION_SQL,
    "ev_asof_join": EV_ASOF_SQL,
    "ev_resample_ffill": EV_RESAMPLE_SQL,
    "ev_scd2_history": EV_SCD2_SQL,
    "ev_rolling_stats": EV_ROLLING_SQL,
    "ev_anomaly": EV_ANOMALY_SQL,
    "ev_funnel": EV_FUNNEL_SQL,
    "ev_retention": EV_RETENTION_SQL,
    "ev_interpolate": EV_INTERPOLATE_SQL,
    "ev_sessionize": EV_SESSIONIZE_SQL,
    "ev_json_extract": EV_JSON_SQL,
    # anchor chasing replayed via recursive CTE (one next-anchor per key
    # per iteration) — exact twin of the sequential kernel
    "ev_debounce": EV_DEBOUNCE_SQL,
    "ev_pattern_detect": EV_PATTERN_DETECT_SQL,
    "ev_markov_transitions": EV_MARKOV_SQL,
    "dd_fuzzy_names": DD_FUZZY_SQL,
    "dq_profile": DQ_PROFILE_SQL,
    "dq_constraints": DQ_CONSTRAINTS_SQL,
    "ev_interval_join": EV_INTERVAL_JOIN_SQL,
    "ev_overlap_join": EV_OVERLAP_JOIN_SQL,
    "emb_label_centroids": EMB_CENTROIDS_SQL,
    "txt_decontaminate": TXT_DECONTAM_SQL,
    "emb_semantic_decontam": EMB_SEMANTIC_DECONTAM_SQL,
    "samp_temperature": SAMP_TEMPERATURE_SQL,
    "txt_quantile_filter": TXT_QUANTILE_FILTER_SQL,
    "txt_chunk_documents": TXT_CHUNK_SQL,
    "txt_pii_scrub": TXT_PII_SQL,
    "dd_cross_corpus": DD_CROSS_CORPUS_SQL,
    "emb_knn_classify": EMB_KNN_SQL,
    "txt_materialize_packs": TXT_MATERIALIZE_PACKS_SQL,
    # the full pipeline chain replayed as one CTE cascade
    "llm_data_pipeline": LLM_PIPELINE_SQL,
    "llm_curation_pipeline": LLM_CURATION_PIPELINE_SQL,
    "emb_pca_gram": EMB_PCA_GRAM_SQL,
    "samp_weighted": SAMP_WEIGHTED_SQL,
    "skw_salted_agg": SKW_SALTED_AGG_SQL,
    "txt_trigram_lm": TXT_TRIGRAM_LM_SQL,
    "samp_mixture": SAMP_MIXTURE_SQL,
    # deliberately the same oracle as ev_json_extract: the VariantType
    # route is only correct if it matches the JSON-path route exactly
    "ev_variant_extract": EV_JSON_SQL,
    # full Lloyd's trajectory replayed as chained CTEs (integer k-means)
    "emb_kmeans": EMB_KMEANS_SQL,
    # kmeans chain + within-cluster fixed-point cosine pair threshold
    "emb_semantic_dedup": EMB_SEMANTIC_DEDUP_SQL,
    # batch-perceptron training trajectory replayed epoch by epoch
    "txt_quality_classifier": TXT_QUALITY_CLASSIFIER_SQL,
    # bloom false positives are cleaned by the join → plain-join oracle
    "j10_bloom_join": J10_BLOOM_JOIN_SQL,
    "j11_bucketed_join": J11_BUCKETED_JOIN_SQL,
    "src_warc_roundtrip": SRC_WARC_ROUNDTRIP_SQL,
    "txt_normalize": TXT_NORMALIZE_SQL,
    "txt_url_filter": TXT_URL_FILTER_SQL,
    "samp_domain_quota": SAMP_DOMAIN_QUOTA_SQL,
    "samp_token_budget": SAMP_TOKEN_BUDGET_SQL,
    "samp_epoch_mixture": SAMP_EPOCH_MIXTURE_SQL,
    "samp_neyman": SAMP_NEYMAN_SQL,
    "samp_leakage_safe_split": SAMP_LEAKAGE_SAFE_SPLIT_SQL,
    "emb_hard_negatives": EMB_HARD_NEGATIVES_SQL,
    "txt_phrase_search": TXT_PHRASE_SEARCH_SQL,
    "txt_bm25_index_search": TXT_BM25_INDEX_SEARCH_SQL,
    "txt_bm25_index_probe": TXT_BM25_INDEX_SEARCH_SQL,
    "txt_freq_spectrum": TXT_FREQ_SPECTRUM_SQL,
    "lk_cdc_apply": LK_CDC_APPLY_SQL,
    "txt_paragraph_filter": TXT_PARAGRAPH_FILTER_SQL,
    # BPE training trajectory (pair counts → argmax merge → replace) ×4
    "txt_bpe_tokenize": TXT_BPE_SQL,
    # 3 PageRank rounds as chained CTEs (integer fixed-point ranks)
    "gr_pagerank": GR_PAGERANK_SQL,
    "gr_sssp": GR_SSSP_SQL,
    # hashed-BoW featurization + 8 perceptron epochs replayed
    "txt_hashed_bow_classifier": TXT_HASHED_BOW_SQL,
    # integer normal matrix + exact Cramer determinants + contractual
    # double conversion — predictions match bit for bit
    "txt_ridge_regression": TXT_RIDGE_SQL,
    # within-basket pair join + exact counts, single-division metrics
    "mb_association_rules": MB_ASSOCIATION_SQL,
    "ev_trending": EV_TRENDING_SQL,
    # trigram-score chain + exact-percentile terciles + hash Bernoulli
    "samp_perplexity_buckets": SAMP_PERPLEXITY_SQL,
    "lk_snapshot_diff": LK_SNAPSHOT_DIFF_SQL,
    "a13_rollup": A13_ROLLUP_SQL,
    "a14_unpivot": A14_UNPIVOT_SQL,
    # ln-free integer tf-idf surrogate: floor(N/df) ranks identically
    "txt_salient_terms": TXT_SALIENT_SQL,
    # exact integer moment cells; slope/intercept mirror operation order
    "a15_group_ols": A15_GROUP_OLS_SQL,
    # rank-sum AUC off the score histogram; int64 until one division/metric
    "txt_classifier_eval": TXT_CLASSIFIER_EVAL_SQL,
    # first-seen decomposition of running COUNT(DISTINCT)
    "ev_running_distinct": EV_RUNNING_DISTINCT_SQL,
    # as-of-join attribution; DuckDB native ASOF + tolerance CASE
    "ev_attribution": EV_ATTRIBUTION_SQL,
    # cross-multiplied integer TVD; one division per group
    "dq_drift": DQ_DRIFT_SQL,
    "dq_skew_report": DQ_SKEW_REPORT_SQL,
    # int64 µs gaps; mean = one division
    "ev_dwell_time": EV_DWELL_SQL,
    # rank-cut deciles (dense_ids ≡ DENSE_RANK), fixed-point spends
    "a16_spend_deciles": A16_SPEND_DECILES_SQL,
    # relative df cutoff as integer comparison; counts join, not tokens
    "txt_oov_rate": TXT_OOV_SQL,
    # census is orientation-independent; coefficient one division
    "gr_triangles": GR_TRIANGLES_SQL,
    # frontier chain replayed via EXCEPT CTEs; set algebra only
    "gr_bfs_hops": GR_BFS_SQL,
    # rank-cut buckets (dense_ids ≡ DENSE_RANK) over integer scores
    "txt_calibration_curve": TXT_CALIBRATION_SQL,
    # decimal(38)/HUGEINT exact cells; pinned num/(sqrt·sqrt) order
    "a17_corr_matrix": A17_CORR_SQL,
    # int64 weight cumsum over distinct values; value never arithmetic'd
    "a18_weighted_median": A18_WEIGHTED_MEDIAN_SQL,
    # hash-derived Poisson bootstrap; md5 + integer thresholds replay
    "samp_bootstrap_ci": SAMP_BOOTSTRAP_SQL,
    # synchronous LPA trajectory, argmax totally ordered → exact CTEs
    "gr_communities": GR_COMMUNITIES_SQL,
    # ln-free Gini: integer cross-multiplied numerator, one division
    "a19_gini_diversity": A19_GINI_SQL,
    # recall of two already-oracled queries; hit count + one division
    "emb_recall_eval": EMB_RECALL_SQL,
    "emb_truncation_eval": EMB_TRUNCATION_SQL,
    # fixed-point weekly sums; lag deltas are single float ops
    "ev_wow_change": EV_WOW_SQL,
    # log-free odds-ratio IDF + pinned IEEE op order + fixed-point sum
    "txt_bm25_topk": TXT_BM25_SQL,
    # integer ratio surrogate: md5 buckets, BIGINT div, exact gram sums
    "samp_dsir_select": SAMP_DSIR_SQL,
    # real BMP round trip is identity on pixels → shares the sha-cycle
    # oracle; a hash mismatch here means the codec is lossy
    "mm_bmp_codec_features": MM_IMAGE_FEATURES_SQL,
    # real WAV round trip; int64 cells, /2^4 exact, correctly-rounded sqrt
    "mm_wav_codec_features": MM_WAV_FEATURES_SQL,
    # VALUES query table; same pinned-order IDF/fixed-point as bm25
    "txt_bm25_multiquery": TXT_BM25_MULTI_SQL,
    # fusion is pure integer rank arithmetic over two oracled rankings
    "txt_hybrid_rrf": TXT_HYBRID_RRF_SQL,
    # hashing-trick features + full integer k-means trajectory as CTEs
    "txt_topic_clusters": TXT_TOPIC_SQL,
    # cluster-grain salient terms over the same replayed trajectory
    "txt_topic_profile": TXT_TOPIC_PROFILE_SQL,
    "txt_span_dedup": TXT_SPAN_DEDUP_SQL,
    "ev_ewma_smooth": EV_EWMA_SMOOTH_SQL,
    "ev_changepoint": EV_CHANGEPOINT_SQL,
    "txt_c4_clean": TXT_C4_CLEAN_SQL,
    "txt_gopher_filter": TXT_GOPHER_FILTER_SQL,
    "txt_ngram_novelty": TXT_NGRAM_NOVELTY_SQL,
    "dq_ks_test": DQ_KS_TEST_SQL,
    "lk_time_travel": LK_TIME_TRAVEL_SQL,
    "dd_dedup_sweep": DD_DEDUP_SWEEP_SQL,
    "emb_centroid_drift": EMB_CENTROID_DRIFT_SQL,
    "dq_benford": DQ_BENFORD_SQL,
    "ev_seasonal_decompose": EV_SEASONAL_DECOMPOSE_SQL,
    "gr_kcore": GR_KCORE_SQL,
    "ev_holt_smooth": EV_HOLT_SMOOTH_SQL,
    "emb_mutual_nn": EMB_MUTUAL_NN_SQL,
    "ev_minmax_downsample": EV_MINMAX_DOWNSAMPLE_SQL,
    "dd_winnowing": DD_WINNOWING_SQL,
}

"""Tests for the text-analysis functions, dedup operators, and similarity
search (north-star extensions)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dataslicer_spark.functions.text import (
    add_language_id,
    add_text_quality,
    normalized_fingerprint,
    rolling_hash_fingerprint,
    token_count_bpe_ish,
    token_count_ws,
    word_shingles,
)
from dataslicer_spark.operators.dedup import (
    embedding_near_dup,
    exact_dedup,
    fp_dot,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from dataslicer_spark.operators.similarity import (
    cosine_topk,
    hyperplane_lsh_topk,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    import os

    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    import os

    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


# ---------------------------------------------------------------------------
# text functions
# ---------------------------------------------------------------------------

def test_token_counts(spark):
    df = spark.createDataFrame(
        [(1, "hello  world"), (2, ""), (3, "  a b\tc\nd  "), (4, "a1b,c!")],
        "id long, text string",
    )
    out = df.select(
        "id",
        token_count_ws(F.col("text")).alias("ws"),
        token_count_bpe_ish(F.col("text")).alias("bpe"),
    ).toPandas().set_index("id")
    assert out.loc[1, "ws"] == 2
    assert out.loc[2, "ws"] == 0
    assert out.loc[3, "ws"] == 4
    # 'a1b,c!' → a | 1 | b | , | c | !
    assert out.loc[4, "bpe"] == 6


def test_word_shingles(spark):
    df = spark.createDataFrame([(1, "A b c d")], "id long, text string")
    out = df.select(word_shingles(F.col("text"), 3).alias("s")).first().s
    assert out == ["a b c", "b c d"]
    out1 = df.select(word_shingles(F.col("text"), 1).alias("s")).first().s
    assert out1 == ["a", "b", "c", "d"]


def test_text_quality_signals(spark):
    df = spark.createDataFrame(
        [
            (1, "The cat sat on the mat and it was happy."),
            (2, "000 111 222 333 444 555 666 777 888 999"),
            (3, ""),
        ],
        "id long, text string",
    )
    out = add_text_quality(df).toPandas().set_index("id")
    assert out.loc[1, "quality_score"] > out.loc[2, "quality_score"]
    assert out.loc[1, "stopword_ratio"] > 0.2
    assert out.loc[2, "digit_ratio"] > 0.5
    assert out.loc[3, "quality_score"] == 0.0  # empty text → ratios NULL → 0


def test_language_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house"),
            (2, "der Hund und die Katze ist nicht da"),
            (3, "le chat et la maison dans les champs"),
            (4, "el perro y la casa de los campos que"),
            (5, "xyzzy plugh"),
        ],
        "id long, text string",
    )
    out = add_language_id(df).toPandas().set_index("id").lang_pred
    assert out[1] == "en" and out[2] == "de" and out[3] == "fr"
    assert out[4] == "es" and out[5] == "und"


def test_fingerprints(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "goodbye world")],
        "id long, text string",
    )
    out = df.select(
        "id",
        normalized_fingerprint(F.col("text")).alias("fp"),
        rolling_hash_fingerprint(F.col("text"), window=2).alias("rh"),
    ).toPandas().set_index("id")
    assert out.loc[1, "fp"] == out.loc[2, "fp"]  # whitespace/case normalized
    assert out.loc[1, "fp"] != out.loc[3, "fp"]
    assert out.loc[1, "rh"] == out.loc[2, "rh"]


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def test_exact_dedup(docs):
    doubled = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + 100000)
    )
    reps, stats = exact_dedup(doubled, "doc_id")
    n = docs.count()
    assert reps.count() == n
    # representative = smallest id → all original ids survive
    assert reps.filter(F.col("doc_id") >= 100000).count() == 0
    assert stats.filter(F.col("n_copies") != 2).count() == 0


def test_ngram_jaccard_exact_vs_python(docs):
    sample = docs.limit(60)
    got = ngram_jaccard_pairs(
        sample, "doc_id", n=3, threshold=0.05
    ).toPandas()
    pdf = sample.select("doc_id", "text").toPandas()
    shingles = {
        r.doc_id: set(
            " ".join(toks[i : i + 3])
            for toks in [r.text.lower().split()]
            for i in range(len(toks) - 2)
        )
        for r in pdf.itertuples()
    }
    expect = {}
    ids = sorted(shingles)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(shingles[a] & shingles[b])
            union = len(shingles[a] | shingles[b])
            if union and inter / union >= 0.05:
                expect[(a, b)] = inter / union
    got_pairs = {(r.id_a, r.id_b): r.jaccard for r in got.itertuples()}
    assert got_pairs.keys() == expect.keys()
    for k, v in expect.items():
        assert got_pairs[k] == pytest.approx(v, rel=1e-12)


def test_ngram_jaccard_prefix_path_matches_direct(docs, monkeypatch):
    """The PPJoin prefix-filtered plan (rare-first prefix index + length
    + positional candidate filters, Bayardo WWW'07 / Xiao WWW'08) is
    LOSSLESS: bit-identical pairs, counts, and jaccards vs the direct
    posting-join plan at every threshold, including ones where ceil(t·|d|)
    sits on a float boundary (0.8·5).  Each plan is forced through
    ``PREFIX_MIN_THRESHOLD``: above every threshold (direct) or 0 (prefix)."""
    from dataslicer_spark.operators import dedup

    def run(t, bound):
        monkeypatch.setattr(dedup, "PREFIX_MIN_THRESHOLD", bound)
        return (
            ngram_jaccard_pairs(sample, "doc_id", threshold=t)
            .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
        )

    sample = docs.limit(60)
    for t in (0.05, 0.5, 0.8, 0.95):
        a, b = run(t, 2.0), run(t, 0.0)
        assert a.equals(b), f"prefix/direct divergence at t={t}"
    sample.sparkSession.catalog.clearCache()


def test_minhash_lsh_finds_near_dups(spark, docs):
    # plant near-duplicates: copy docs and drop the last 3 words
    sample = docs.limit(40)
    mutated = sample.select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(F.split(F.col("text"), r"\s+"), 1,
                         F.size(F.split(F.col("text"), r"\s+")) - 3)
        ).alias("text"),
    )
    corpus = sample.select("doc_id", "text").unionByName(mutated)
    pairs = minhash_lsh_pairs(
        corpus, "doc_id", num_perm=64, bands=16, threshold=0.5
    ).toPandas()
    found = {(r.id_a, r.id_b) for r in pairs.itertuples()}
    planted = {(i, i + 500000) for i in
               [r.doc_id for r in sample.select("doc_id").collect()]}
    # high recall on planted near-dups
    assert len(found & planted) >= 0.8 * len(planted)


@pytest.fixture(scope="module")
def planted_corpus(spark, docs):
    """40 docs + last-3-words-dropped near-dup copies (ids +500000)."""
    sample = docs.limit(40)
    toks = F.split(F.col("text"), r"\s+")
    mutated = sample.select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.size(toks) - 3)
        ).alias("text"),
    )
    return sample.select("doc_id", "text").unionByName(mutated)


def test_bbit_minhash_pack_roundtrip(spark, docs):
    """Packed b-bit lanes must equal the full signatures' low bits —
    lane i of word i//lanes == signature[i] & mask, every doc."""
    from dataslicer_spark.operators.dedup import minhash_signatures

    sample = docs.limit(10)
    full = minhash_signatures(sample, "doc_id", num_perm=16).toPandas()
    for bits in (4, 8, 16):
        packed = minhash_signatures(
            sample, "doc_id", num_perm=16, pack_bits=bits
        ).toPandas()
        lanes, mask = 64 // bits, (1 << bits) - 1
        fm = {r.id: list(r.signature) for r in full.itertuples()}
        for r in packed.itertuples():
            sig = fm[r.id]
            for i in range(16):
                word = int(r.signature[i // lanes])
                lane = (word >> ((i % lanes) * bits)) & mask
                assert lane == (int(sig[i]) & mask), (bits, r.id, i)


def test_bbit_candidates_superset_of_full(spark, planted_corpus):
    """Equal full slots imply equal masked lanes, so b-bit banding's
    candidate set must contain full-width banding's at the same
    (num_perm, bands)."""
    from dataslicer_spark.operators.dedup import (
        bbit_minhash_lsh_pairs,
        minhash_lsh_pairs,
    )

    full = minhash_lsh_pairs(
        planted_corpus, "doc_id", num_perm=64, bands=16, verify=False
    ).toPandas()
    bb = bbit_minhash_lsh_pairs(
        planted_corpus, "doc_id", num_perm=64, bands=16, bits=8,
        verify=False,
    ).toPandas()
    f = {(r.id_a, r.id_b) for r in full.itertuples()}
    b = {(r.id_a, r.id_b) for r in bb.itertuples()}
    assert f <= b, f - b


def test_bbit_exact_verify_matches_full_width(spark, planted_corpus):
    """With exact verification both variants output the exact-Jaccard
    pair set (minus negligible LSH misses) — identical rows here."""
    from dataslicer_spark.operators.dedup import (
        bbit_minhash_lsh_pairs,
        minhash_lsh_pairs,
    )

    full = minhash_lsh_pairs(
        planted_corpus, "doc_id", num_perm=64, bands=32, threshold=0.8,
        verify="exact",
    ).toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    bb = bbit_minhash_lsh_pairs(
        planted_corpus, "doc_id", num_perm=64, bands=32, bits=8,
        threshold=0.8, verify="exact",
    ).toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    assert len(full) > 0
    assert full.equals(bb)


def test_bbit_estimator_tracks_exact_jaccard(spark, planted_corpus):
    """The unbiased estimator (E−C)/(1−C) must track exact Jaccard on
    the planted pairs: per-pair σ ≈ √(J(1−J)/64) ≈ 0.06, so mean |err|
    well under 0.12 and every pair within 0.3."""
    from dataslicer_spark.operators.dedup import (
        bbit_minhash_lsh_pairs,
    )

    exact = bbit_minhash_lsh_pairs(
        planted_corpus, "doc_id", num_perm=64, bands=32, bits=8,
        threshold=0.5, verify="exact",
    ).toPandas()
    est = bbit_minhash_lsh_pairs(
        planted_corpus, "doc_id", num_perm=64, bands=32, bits=8,
        threshold=0.0, verify=True,
    ).toPandas()
    em = {(r.id_a, r.id_b): r.est_jaccard for r in est.itertuples()}
    errs = [
        abs(em[(r.id_a, r.id_b)] - r.jaccard)
        for r in exact.itertuples()
        if (r.id_a, r.id_b) in em
    ]
    assert len(errs) >= 0.9 * len(exact)
    assert sum(errs) / len(errs) < 0.12, sum(errs) / len(errs)
    assert max(errs) < 0.3, max(errs)


def test_bbit_parameter_validation(spark):
    from dataslicer_spark.operators.dedup import (
        bbit_minhash_lsh_pairs,
        minhash_signatures,
    )

    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="bits"):
        minhash_signatures(df, "doc_id", pack_bits=7)
    with pytest.raises(ValueError, match="bits"):
        bbit_minhash_lsh_pairs(df, "doc_id", bits=7)
    with pytest.raises(ValueError, match="divisible"):
        bbit_minhash_lsh_pairs(df, "doc_id", num_perm=64, bands=7)
    with pytest.raises(ValueError, match="verify"):
        bbit_minhash_lsh_pairs(df, "doc_id", verify="nope")


def test_simhash_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base.replace("today", "tonight")),      # near-dup
        (3, "completely different words about spark and parquet files here"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    pairs = simhash_pairs(df, "id", max_hamming=12).toPandas()
    found = {(r.id_a, r.id_b) for r in pairs.itertuples()}
    assert (1, 2) in found
    assert (1, 3) not in found


def test_simhash_md5_mode_same_semantics(spark):
    """hash_mode='md5' (the oracle-replayable 60-bit variant) must keep
    the near-dup/far separation; fingerprints stay below 2^60."""
    from pyspark.sql import functions as F

    from dataslicer_spark.operators.dedup import simhash64

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base.replace("today", "tonight")),
        (3, "completely different words about spark and parquet files here"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    pairs = simhash_pairs(df, "id", max_hamming=12, hash_mode="md5").toPandas()
    found = {(r.id_a, r.id_b) for r in pairs.itertuples()}
    assert (1, 2) in found
    assert (1, 3) not in found
    fps = df.select(simhash64(F.col("text"), 2, hash_mode="md5").alias("f")).collect()
    assert all(0 <= r.f < 2**60 for r in fps)
    with pytest.raises(ValueError, match="hash_mode"):
        simhash_pairs(df, "id", hash_mode="sha9000").toPandas()


def test_embedding_near_dup_and_fp_dot(spark, emb):
    # fp_dot equals numpy dot to quantization precision
    pdf = emb.limit(20).toPandas()
    v = spark.createDataFrame(
        [(int(r.vec_id), [float(x) for x in r.embedding]) for r in pdf.itertuples()],
        "vec_id long, embedding array<double>",
    )
    got = v.select(
        "vec_id", fp_dot(F.col("embedding"), F.col("embedding")).alias("d")
    ).toPandas().set_index("vec_id").d
    for r in pdf.itertuples():
        expect = float(np.dot(r.embedding, r.embedding))
        assert got[r.vec_id] == pytest.approx(expect, abs=1e-6)

    # planted near-dup: tiny perturbation of vec 0
    first = pdf.iloc[0]
    v2 = v.unionByName(
        spark.createDataFrame(
            [(999999, [float(x) + 1e-4 for x in first.embedding])],
            "vec_id long, embedding array<double>",
        )
    )
    pairs = embedding_near_dup(v2, threshold=0.999).toPandas()
    assert (int(first.vec_id), 999999) in {
        (r.id_a, r.id_b) for r in pairs.itertuples()
    }


def test_embedding_near_dup_join_attach_matches_matrix(emb, monkeypatch):
    """With ``MATRIX_MAX_ROWS`` at 0 the LSH re-rank attaches vectors by
    join and ``exact=True`` runs the crossJoin, instead of the broadcast
    matrix; both plans give the same pairs and bit-identical cosines."""
    from dataslicer_spark.operators import dedup

    v = emb.filter(F.col("vec_id") < 80)

    def run(**kw):
        return sorted(
            tuple(r) for r in embedding_near_dup(v, threshold=0.2, **kw).collect()
        )

    for kw in (dict(n_planes=3), dict(exact=True)):
        matrix = run(**kw)
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(dedup, "MATRIX_MAX_ROWS", 0)
            joined = run(**kw)
        assert matrix, kw
        assert joined == matrix, kw


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def test_cosine_topk_matches_numpy(emb):
    queries = emb.limit(5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = cosine_topk(emb, queries, k=5).toPandas()
    pdf = emb.toPandas()
    M = np.array([list(v) for v in pdf.embedding], dtype=np.float64)
    norms = np.linalg.norm(M, axis=1)
    ids = pdf.vec_id.to_numpy()
    for qi in range(5):
        cos = (M @ M[qi]) / (norms * norms[qi])
        mask = ids != ids[qi]
        order = np.lexsort((ids[mask], -cos[mask]))
        expect_ids = ids[mask][order[:5]]
        g = got[got.query_id == ids[qi]].sort_values("rank")
        np.testing.assert_array_equal(g.vec_id.to_numpy(), expect_ids)
        np.testing.assert_allclose(
            g.cosine.to_numpy(), np.sort(cos[mask])[::-1][:5], atol=1e-6
        )


def test_lsh_topk_recall_on_planted_neighbors(spark, emb):
    # Sign-LSH recall is only meaningful for high-cosine neighbors (random
    # 64-dim vectors are near-orthogonal; their "top-k" is noise).  Plant
    # perturbed copies as queries: the source vector is the true top-1.
    rng = np.random.default_rng(31)
    pdf = emb.limit(10).toPandas()
    queries = spark.createDataFrame(
        [
            (
                int(r.vec_id),
                [float(x) + float(e) for x, e in
                 zip(r.embedding, rng.normal(0, 0.02, len(r.embedding)))],
            )
            for r in pdf.itertuples()
        ],
        "query_id long, embedding array<float>",
    )
    approx = hyperplane_lsh_topk(
        emb, queries, k=3, n_planes=8, multiprobe_bits=1, include_self=True
    ).toPandas()
    top1 = approx[approx["rank"] == 1]
    hits = sum(1 for r in top1.itertuples() if r.vec_id == r.query_id)
    assert hits >= 8  # ≥80% top-1 recall on planted near-dups


def test_ivf_topk_recall_on_planted_neighbors(spark, emb):
    from dataslicer_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(33)
    pdf = emb.limit(10).toPandas()
    queries = spark.createDataFrame(
        [
            (
                int(r.vec_id),
                [float(x) + float(e) for x, e in
                 zip(r.embedding, rng.normal(0, 0.02, len(r.embedding)))],
            )
            for r in pdf.itertuples()
        ],
        "query_id long, embedding array<float>",
    )
    approx = ivf_topk(
        emb, queries, k=3, n_lists=8, n_probe=3, include_self=True
    ).toPandas()
    top1 = approx[approx["rank"] == 1]
    hits = sum(1 for r in top1.itertuples() if r.vec_id == r.query_id)
    assert hits >= 9  # near-identical queries land in the same/probed lists


def test_ivf_index_save_load_roundtrip_and_pruning(spark, emb, tmp_path):
    from pyspark.sql import functions as F

    from dataslicer_spark.operators.similarity import (
        build_ivf_index,
        ivf_search,
        ivf_topk,
        load_ivf_index,
        save_ivf_index,
    )

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    one_shot = ivf_topk(
        emb, queries, k=5, n_lists=8, n_probe=2, seed=42
    ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)

    centroids, assigned = build_ivf_index(emb, n_lists=8, seed=42)
    path = str(tmp_path / "ivf")
    save_ivf_index(centroids, assigned, path)
    c2, a2 = load_ivf_index(spark, path)
    assert (c2 == centroids).all()

    searched = ivf_search(c2, a2, queries, k=5, n_probe=2).toPandas()
    searched = searched.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert (one_shot[["query_id", "rank", "vec_id"]].to_numpy()
            == searched[["query_id", "rank", "vec_id"]].to_numpy()).all()

    # probed-list isin filter prunes the partitioned index at scan time:
    # only the probed list_id directories are read
    probed = set()
    X = __import__("numpy").array(
        [list(r.embedding) for r in queries.collect()], dtype=float
    )
    import numpy as np

    d2 = ((X[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
    for row in np.argsort(d2, axis=1)[:, :2]:
        probed.update(int(x) for x in row)
    files = {
        r[0]
        for r in a2.filter(F.col("list_id").isin(sorted(probed)))
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    assert files
    assert all(any(f"list_id={p}/" in f for p in probed) for f in files)


def test_knn_classify_matches_numpy(emb):
    from dataslicer_spark.operators.similarity import knn_classify

    queries = emb.filter(F.col("vec_id") % 20 == 7).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") % 20 != 7)
    got = {
        r.query_id: (r.pred_label, r.n_votes, r.best_rank)
        for r in knn_classify(corpus, queries, "label", k=5).collect()
    }

    pdf = corpus.toPandas()
    qdf = queries.toPandas()
    M = np.array([list(v) for v in pdf.embedding], dtype=np.float64)
    norms = np.linalg.norm(M, axis=1)
    ids = pdf.vec_id.to_numpy()
    labels = pdf.label.to_numpy()
    for _, q in qdf.iterrows():
        qv = np.asarray(list(q.embedding), dtype=np.float64)
        cos = (M @ qv) / (norms * np.linalg.norm(qv))
        order = np.lexsort((ids, -cos))[:5]
        votes = {}
        for rank, idx in enumerate(order, start=1):
            lbl = int(labels[idx])
            n, best = votes.get(lbl, (0, 99))
            votes[lbl] = (n + 1, min(best, rank))
        winner = sorted(
            votes.items(), key=lambda kv: (-kv[1][0], kv[1][1], kv[0])
        )[0]
        assert got[q.query_id] == (winner[0], winner[1][0], winner[1][1])
    assert len(got) == len(qdf)


def test_minhash_verify_mode_validated(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="verify"):
        minhash_lsh_pairs(df, "doc_id", verify="Exact")


def test_embedding_near_dup_empty_and_null_vectors(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert embedding_near_dup(empty).count() == 0
    withnull = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    pairs = embedding_near_dup(withnull, threshold=0.9, n_tables=16)
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {(1, 3)}


def test_cosine_topk_batched_parity_with_hof(emb):
    """The Arrow matrix kernel must be bit-identical to the zip_with/
    aggregate expression path — same fixed-point recipe, different plan."""
    from dataslicer_spark.operators.similarity import cosine_topk_batched

    queries = emb.filter(F.col("vec_id") % 20 == 7).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") % 20 != 7)
    a = cosine_topk(corpus, queries, k=7).orderBy("query_id", "rank").collect()
    b = (
        cosine_topk_batched(corpus, queries, k=7)
        .orderBy("query_id", "rank")
        .collect()
    )
    assert len(a) == len(b) > 0
    for ra, rb in zip(a, b):
        assert (ra.query_id, ra.rank, ra.vec_id) == (rb.query_id, rb.rank, rb.vec_id)
        assert ra.cosine == rb.cosine  # exact doubles, not approx


def test_cosine_topk_batched_edge_cases(spark):
    from dataslicer_spark.operators.similarity import cosine_topk_batched

    # duplicate vectors force cosine ties at the top-k boundary: the
    # deterministic tie-break (vec_id asc) must hold through the
    # map-side partial top-k's boundary-tie superset
    corpus = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(10)] + [(10, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0])], "query_id long, embedding array<double>"
    )
    got = cosine_topk_batched(corpus, queries, k=4).orderBy("rank").collect()
    assert [r.vec_id for r in got] == [0, 1, 2, 3]

    # include_self=False drops the self pair even on identical ids
    got = cosine_topk_batched(
        corpus, queries.selectExpr("5 AS query_id", "embedding"), k=20
    ).collect()
    assert 5 not in {r.vec_id for r in got}

    # zero-norm corpus vector → NULL cosine, ranked last (like try_divide)
    corpus2 = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got = (
        cosine_topk_batched(corpus2, queries, k=5).orderBy("rank").collect()
    )
    assert [r.vec_id for r in got] == [1, 2]
    assert got[1].cosine is None

    # null corpus vectors are dropped; empty query set → empty result
    corpus3 = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None)], "vec_id long, embedding array<double>"
    )
    assert cosine_topk_batched(corpus3, queries, k=5).count() == 1
    empty_q = spark.createDataFrame([], "query_id long, embedding array<double>")
    out = cosine_topk_batched(corpus3, empty_q, k=5)
    assert out.count() == 0
    assert out.columns == ["query_id", "rank", "vec_id", "cosine"]

    # carry_cols collision guard
    import pytest as _pytest

    withcos = corpus2.withColumn("cosine", F.lit(1.0))
    with _pytest.raises(ValueError, match="carry_cols"):
        cosine_topk_batched(withcos, queries, k=2, carry_cols=("cosine",))


def test_derive_n_planes_rule():
    from dataslicer_spark.operators.dedup import derive_n_planes

    # tiny corpora clamp to the floor; growth adds ~1 bit per doubling
    assert derive_n_planes(0) == 4
    assert derive_n_planes(256) == 4
    assert derive_n_planes(1 << 20) == 12          # 2^20/256 = 2^12
    assert derive_n_planes((1 << 20) + 1) == 13    # ceil rounds up
    assert derive_n_planes(1 << 40) == 24          # hi clamp
    assert derive_n_planes(1 << 20, target_bucket_rows=8) == 17


def test_lsh_candidate_growth_is_near_linear(spark):
    """Corpus-size-derived plane count keeps sign-LSH candidate volume
    ~linear in corpus size: 4× rows (250k → 1M synthetic vectors) must
    grow candidates far below the 16× of a fixed-width quadratic blowup
    (sign bits of k > dim planes are necessarily correlated, so bucket
    skew allows some super-linearity; observed ≈6× at dim=16 — a fixed
    k=4 would be ≈16× and rising)."""
    from pyspark.sql import functions as F

    from dataslicer_spark.operators.dedup import (
        _lsh_candidate_pairs, derive_n_planes,
    )

    dim = 16

    def corpus(n):
        v = F.array(*[
            (F.hash(F.col("id"), F.lit(j)).cast("double")
             / F.lit(float(2 ** 31)))
            for j in range(dim)
        ])
        return spark.range(n).select(F.col("id"), v.alias("v"))

    counts = {}
    for n in (250_000, 1_000_000):
        k = derive_n_planes(n, target_bucket_rows=8)
        counts[n] = _lsh_candidate_pairs(corpus(n), k, 1, 7, dim).count()
    growth = counts[1_000_000] / max(counts[250_000], 1)
    assert growth < 10.0, counts


def test_ivf_auto_n_lists_sqrt_rule(spark, emb):
    """n_lists=None derives ~sqrt(n) inverted lists (FAISS rule) so probe
    cost stays sublinear as the corpus grows."""
    from dataslicer_spark.operators.similarity import build_ivf_index

    n = emb.count()
    centroids, assigned = build_ivf_index(emb, n_lists=None, seed=42)
    assert len(centroids) == max(4, min(65_536, int(n ** 0.5)))
    assert assigned.select("list_id").distinct().count() <= len(centroids)


def test_hyperplane_lsh_auto_planes(spark, emb):
    from dataslicer_spark.operators.dedup import derive_n_planes
    from dataslicer_spark.operators.similarity import hyperplane_lsh_topk

    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = hyperplane_lsh_topk(emb, queries, k=3, n_planes=None)
    assert out.count() <= 3 * queries.count()
    assert derive_n_planes(emb.count()) >= 4


def test_containment_catches_doc_in_doc(spark):
    from dataslicer_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog"
    article = quote + (
        " and then a very long discussion follows about many other "
        "topics entirely unrelated to foxes covering weather sports "
        "finance cooking travel history science art music in exhaustive "
        "repetitive detail paragraph after paragraph"
    )
    df = spark.createDataFrame(
        [(1, article), (2, quote), (3, "completely different text here "
                                       "about nothing shared at all")],
        "doc_id int, text string",
    )
    cont = containment_pairs(df, "doc_id", n=3, threshold=0.9)
    rows = [(r.inner_id, r.outer_id, r.containment) for r in cont.collect()]
    assert len(rows) == 1
    inner, outer, c = rows[0]
    assert (inner, outer) == (2, 1) and c == 1.0
    # symmetric Jaccard misses the same pair at any useful threshold
    jac = ngram_jaccard_pairs(df, "doc_id", n=3, threshold=0.5)
    assert jac.count() == 0


def test_containment_matches_python_reference(spark, docs):
    """The direct inverted-index plan equals a pure-Python set-containment
    reference — pairs, counts, sizes and ratios — at every threshold.
    Corpus includes planted doc-in-doc rows (each doc's first 12 tokens)
    so qualifying pairs actually exist."""
    from dataslicer_spark.operators.dedup import containment_pairs

    sample = docs.limit(40)
    planted = sample.select(
        (F.col("doc_id") + 900000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 12),
        ).alias("text"),
    )
    rows = sample.select("doc_id", "text").unionByName(planted).collect()
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    shingles = {}
    for r in rows:
        toks = (r.text or "").lower().split()
        sh = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        if sh:
            shingles[r.doc_id] = sh
    ids = sorted(shingles)
    for t in (0.5, 0.8, 0.9, 0.95):
        want = set()
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                common = len(shingles[a] & shingles[b])
                # inner = the smaller set, ties to the smaller id
                (ni, inner), (no, outer) = sorted(
                    [(len(shingles[a]), a), (len(shingles[b]), b)]
                )
                if common and common / ni >= t:
                    want.add((inner, outer, common, ni, no, common / ni))
        got = {
            tuple(r)
            for r in containment_pairs(corpus, "doc_id", threshold=t)
            .collect()
        }
        assert len(want) > 0, f"fixture produced no pairs at t={t}"
        assert got == want, f"containment diverges from Python at t={t}"


def test_containment_tie_orientation_and_threshold(spark):
    from dataslicer_spark.operators.dedup import containment_pairs

    # equal-size shingle sets: inner = smaller id by the tie rule
    df = spark.createDataFrame(
        [(5, "a b c d e"), (9, "a b c d e")], "doc_id int, text string"
    )
    r = containment_pairs(df, "doc_id", threshold=0.99).collect()[0]
    assert (r.inner_id, r.outer_id, r.containment) == (5, 9, 1.0)


def test_dedup_threshold_sweep_brute_force(spark):
    import pandas as pd

    from dataslicer_spark.operators.dedup import dedup_threshold_sweep

    pairs = pd.DataFrame(
        {
            "id_a":    [1,    1,   2,   5],
            "id_b":    [2,    3,   3,   6],
            "jaccard": [0.95, 0.6, 0.3, 0.1],
        }
    )
    out = {
        r["threshold"]: (r["n_pairs"], r["n_docs"])
        for r in dedup_threshold_sweep(
            spark.createDataFrame(pairs), [0.1, 0.5, 0.9]
        ).collect()
    }
    assert out == {
        0.1: (4, 5),   # all pairs; docs {1,2,3,5,6}
        0.5: (2, 3),   # (1,2) (1,3); docs {1,2,3}
        0.9: (1, 2),   # (1,2)
    }
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dedup_threshold_sweep(spark.createDataFrame(pairs), [])


def test_winnowing_guarantee_and_density(spark):
    """Winnowing contract: documents sharing a run of >= k+window-1
    tokens share a selected fingerprint; short docs emit nothing;
    density is far below the full shingle count; pure-python replay of
    the rightmost-min rule matches exactly."""
    import hashlib

    import pandas as pd

    from dataslicer_spark.operators.dedup import (
        winnowing_fingerprints,
        winnowing_matches,
    )

    k, w = 3, 4
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = [
        (0, shared + " one two three four five six"),
        (1, "x y z " + shared + " q r s t"),
        (2, "completely different words with no overlap at all here"),
        (3, "too short"),  # < k+w-1 tokens -> no fingerprints
    ]
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    fp = winnowing_fingerprints(df, "doc_id", k=k, window=w)
    got = {}
    for r in fp.collect():
        got.setdefault(r.id, set()).add((r.pos, r.h))
    assert 3 not in got

    # pure-python replay
    def replay(text):
        toks = text.lower().split()
        grams = [
            " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
        ]
        hs = [
            int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
            for g in grams
        ]
        sel = set()
        for i in range(len(hs) - w + 1):
            win = hs[i : i + w]
            m = min(win)
            pos = i + max(j for j, h in enumerate(win) if h == m)
            sel.add((pos, m))
        return sel

    for doc_id, text in docs[:3]:
        assert got.get(doc_id, set()) == replay(text)
    # density: far fewer fingerprints than grams
    assert len(got[0]) < len(docs[0][1].split()) - k + 1

    # guarantee: the 8-token (= k+w-1+2) shared run pairs docs 0 and 1
    pairs = {
        (r.id_a, r.id_b): r.n_common
        for r in winnowing_matches(
            df, "doc_id", k=k, window=w, min_common=1
        ).collect()
    }
    assert (0, 1) in pairs
    assert not any(2 in p for p in pairs)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        winnowing_fingerprints(df, "doc_id", k=0)


def test_mmr_rerank_matches_python_greedy(spark, emb):
    """Spark MMR (integer_dot_topn -> mmr_rerank) vs an independent
    pure-python greedy replay: identical selection order, relevance, and
    winning marginal scores for every query."""
    import numpy as np
    from dataslicer_spark.operators.similarity import (
        integer_dot_topn,
        mmr_rerank,
    )

    qs = emb.filter(F.col("vec_id") % 40 == 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cand = integer_dot_topn(emb, qs, n=10, fp_bits=12)
    cand_v = cand.join(emb.select("vec_id", "embedding"), "vec_id")
    got = (
        mmr_rerank(cand_v, k=4, lam_num=7, lam_den=3, fp_bits=12)
        .toPandas().sort_values(["query_id", "pick"])
    )

    pdf = emb.toPandas()
    X = {
        int(r.vec_id): np.floor(
            np.asarray(r.embedding, dtype=np.float64) * 4096.0
        ).astype(np.int64)
        for r in pdf.itertuples()
    }
    for qid in sorted(i for i in X if i % 40 == 1):
        rel = {i: int(X[qid] @ X[i]) for i in X}
        top = sorted(X, key=lambda i: (-rel[i], i))[:10]
        sel, scores = [], []
        maxd: dict = {}  # true (possibly negative) max dot — unclamped
        for _ in range(4):
            rem = [i for i in top if i not in sel]
            sc = {i: 7 * rel[i] - (3 * maxd[i] if sel else 0) for i in rem}
            j = min(rem, key=lambda i: (-sc[i], i))
            first = not sel
            sel.append(j)
            scores.append(sc[j])
            for i in top:
                d = int(X[i] @ X[j])
                maxd[i] = d if first else max(maxd[i], d)
        rows = got[got.query_id == qid]
        assert rows.vec_id.tolist() == sel
        assert rows.score_q.tolist() == scores
        assert rows.rel_q.tolist() == [rel[i] for i in sel]


def test_mmr_rerank_diversifies(spark):
    """A cluster of near-identical high-relevance vectors: pure top-k
    takes the whole clone cluster; MMR spends one pick on it and spreads
    the rest — the operator's reason to exist."""
    import numpy as np
    from dataslicer_spark.operators.similarity import mmr_rerank

    d = 8
    base = [1.0] * d
    rows = []
    # ids 1-4: clones of the query direction (max relevance, max mutual sim)
    for i in (1, 2, 3, 4):
        rows.append((7, i, 10_000, [v + 0.001 * i for v in base]))
    # ids 11-13: orthogonal-ish, lower relevance
    for j, i in enumerate((11, 12, 13)):
        v = [0.0] * d
        v[j] = 1.5
        rows.append((7, i, 6_000, v))
    df = spark.createDataFrame(
        rows, "query_id int, vec_id int, rel_q long, embedding array<double>"
    )
    out = (
        mmr_rerank(df, k=4, lam_num=1, lam_den=1, fp_bits=12)
        .toPandas().sort_values("pick")
    )
    picked = out.vec_id.tolist()
    assert picked[0] == 1  # pure relevance first
    # diversity: the remaining clones (2-4) are penalized below the
    # orthogonal candidates
    assert set(picked[1:]) == {11, 12, 13}


def test_mmr_rerank_edge_cases(spark):
    """k >= candidates selects all in greedy order; null vectors drop."""
    from dataslicer_spark.operators.similarity import mmr_rerank

    df = spark.createDataFrame(
        [(1, 10, 100, [1.0, 0.0]), (1, 11, 90, [0.0, 1.0]),
         (1, 12, 80, None)],
        "query_id int, vec_id int, rel_q long, embedding array<double>",
    )
    out = mmr_rerank(df, k=10).toPandas().sort_values("pick")
    assert out.vec_id.tolist() == [10, 11]  # null row dropped, all picked
    assert out.pick.tolist() == [1, 2]


def test_integer_dot_topn_local_cutoff_ties(spark):
    """Exact int64 ties straddling the LOCAL top-n cutoff must keep the
    smaller vec_ids (what the global window and the DuckDB oracle's
    ORDER BY rel_q DESC, vec_id select), not arbitrary argpartition
    survivors: six identical vectors (the duplicate-embedding use case),
    n=3 → ids 1,2,3 exactly."""
    from dataslicer_spark.operators.similarity import integer_dot_topn

    corpus = spark.createDataFrame(
        [(i, [0.5, 0.25]) for i in range(1, 7)],
        "vec_id int, embedding array<double>",
    ).coalesce(1)
    qs = spark.createDataFrame(
        [(100, [1.0, 0.0])], "query_id int, embedding array<double>"
    )
    out = (
        integer_dot_topn(corpus, qs, n=3, fp_bits=12)
        .toPandas().sort_values("rank")
    )
    assert out.vec_id.tolist() == [1, 2, 3]
    assert out["rank"].tolist() == [1, 2, 3]


def test_mmr_rerank_negative_dots_unclamped(spark):
    """The max-dot-to-selected penalty must track the TRUE (possibly
    negative) max dot, matching the oracle's unclamped MAX(p.dot): a
    candidate anti-correlated with everything selected gets a BONUS
    (negative penalty), not a clamped-at-zero pass.  Hand-built so the
    clamped and unclamped greedy pick DIFFERENT orders.

    Quantized (fp_bits=12): A=[2048,4096] B=[2048,-4096]
    C=[3686,-1844].  dot(A,B)=-12582912, dot(A,C)=-4096,
    dot(B,C)=15101952.  lam=1/1, rel A=100 B=10 C=99.
    Unclamped: pick A (100), then B (10+12582912), then C
    (99-15101952).  Clamped-at-zero would pick C second (99 > 10)."""
    from dataslicer_spark.operators.similarity import mmr_rerank

    df = spark.createDataFrame(
        [(1, 1, 100, [0.5, 1.0]),
         (1, 2, 10, [0.5, -1.0]),
         (1, 3, 99, [0.9, -0.45])],
        "query_id int, vec_id int, rel_q long, embedding array<double>",
    )
    out = (
        mmr_rerank(df, k=3, lam_num=1, lam_den=1, fp_bits=12)
        .toPandas().sort_values("pick")
    )
    assert out.vec_id.tolist() == [1, 2, 3]
    assert out.score_q.tolist() == [100, 10 + 12_582_912, 99 - 15_101_952]


def _mmr_over_ivf(emb, qs, n_probe):
    """The sim_mmr_ivf pipeline shape at an arbitrary probe width."""
    from dataslicer_spark.operators.similarity import ivf_topk, mmr_rerank

    cand = ivf_topk(emb, qs, k=20, n_lists=16, n_probe=n_probe)
    cand_v = cand.select("query_id", "vec_id").join(
        emb.select("vec_id", "embedding"), "vec_id"
    )
    scale = 4096.0
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
                F.zip_with(quant(F.col("embedding")), F.col("__qq"),
                           lambda a, b: a * b),
                F.lit(0).cast("long"), lambda acc, v: acc + v,
            ),
        )
        .select("query_id", "vec_id", "rel_q", "embedding")
    )
    return mmr_rerank(cand_rel, k=5, lam_num=7, lam_den=3, fp_bits=12)


def test_mmr_ivf_pruned_probe_recall(spark, emb):
    """MMR fed from a PRUNED IVF probe (n_probe=4 of 16 lists) vs MMR
    fed from the full probe (provably the exact cosine top-20): the
    diversified picks must substantially survive the approximate
    candidate stage — mean pick recall ≥ 0.5, and the full-probe run
    itself must return k picks per query."""
    qs = emb.filter(F.col("vec_id") % 40 == 7).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = _mmr_over_ivf(emb, qs, n_probe=16).toPandas()
    pruned = _mmr_over_ivf(emb, qs, n_probe=4).toPandas()
    by_q_exact = exact.groupby("query_id")["vec_id"].apply(set)
    by_q_pruned = pruned.groupby("query_id")["vec_id"].apply(set)
    assert (exact.groupby("query_id").size() == 5).all()
    recalls = [
        len(by_q_exact[q] & by_q_pruned.get(q, set())) / len(by_q_exact[q])
        for q in by_q_exact.index
    ]
    assert sum(recalls) / len(recalls) >= 0.5, recalls

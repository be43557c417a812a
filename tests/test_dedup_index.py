"""Persistent MinHash/LSH index (operators/dedup_index.py): the
incremental-ingestion loop — build, probe batches, append survivors —
plus parameter-contract and plan-shape checks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataslicer_spark.operators import dedup_index
from dataslicer_spark.operators.dedup import minhash_lsh_pairs
from dataslicer_spark.operators.dedup_index import (
    build_minhash_index,
    dedup_against_minhash_index,
)


def _mutate(df, id_shift, drop_words=3):
    """Near-duplicate copies: shift ids, drop the last few words."""
    toks = F.split(F.col("text"), r"\s+")
    return df.select(
        (F.col("doc_id") + id_shift).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.size(toks) - drop_words)
        ).alias("text"),
    )


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    import os

    return (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "text")
        .limit(120)
        .cache()
    )


def test_incremental_ingestion_loop(spark, docs, tmp_path):
    path = str(tmp_path / "mhidx")
    seed = docs.limit(60)
    build_minhash_index(seed, path, "doc_id")

    # batch 1: 30 fresh docs + near-dup copies of 20 indexed ones
    fresh1 = docs.subtract(seed).limit(30)
    dups_of_indexed = _mutate(seed.limit(20), 500_000)
    batch1 = fresh1.unionByName(dups_of_indexed)
    surv1, matches1 = dedup_against_minhash_index(
        batch1, path, "doc_id", threshold=0.5
    )
    matched_new = {r.new_id for r in matches1.collect()}
    # high recall on planted near-dups of indexed docs
    assert len(matched_new & {r.doc_id + 500_000 for r in seed.limit(20).collect()}) >= 16
    surv_ids = {r.doc_id for r in surv1.select("doc_id").collect()}
    assert surv_ids & {r.doc_id for r in fresh1.collect()}  # fresh kept
    assert not (surv_ids & matched_new)  # matched dropped

    # batch 2: copies of batch-1 SURVIVORS must now match (survivors were
    # appended), and re-sending an already-matched dup still matches
    batch2 = _mutate(fresh1.limit(10), 700_000)
    surv2, matches2 = dedup_against_minhash_index(
        batch2, path, "doc_id", threshold=0.5
    )
    assert matches2.count() >= 8  # recall vs the newly appended docs
    assert surv2.count() <= 2


def test_within_batch_dedup_keeps_smaller_id(spark, docs, tmp_path):
    path = str(tmp_path / "mhidx2")
    build_minhash_index(docs.limit(0), path, "doc_id")  # empty index
    base = docs.limit(10)
    batch = base.unionByName(_mutate(base, 900_000, drop_words=2))
    surv, matches = dedup_against_minhash_index(
        batch, path, "doc_id", threshold=0.5
    )
    # the smaller-id originals survive; their mutated twins drop
    ids = {r.doc_id for r in surv.select("doc_id").collect()}
    assert {r.doc_id for r in base.collect()} <= ids
    assert all(i < 900_000 for i in ids)
    assert matches.count() == 0  # empty index -> no cross-index matches


def test_probe_parity_with_pairwise_lsh(spark, docs, tmp_path):
    """Index probe must find the same (indexed, new) pairs as running
    pairwise minhash_lsh_pairs over the union — same signatures, same
    bands, same estimate."""
    path = str(tmp_path / "mhidx3")
    old = docs.limit(40)
    build_minhash_index(old, path, "doc_id")
    new = _mutate(old.limit(15), 500_000)
    _surv, matches = dedup_against_minhash_index(
        new, path, "doc_id", threshold=0.5, append_survivors=False
    )
    got = {(r.index_id, r.new_id, r.est_jaccard) for r in matches.collect()}

    both = minhash_lsh_pairs(
        old.unionByName(new), "doc_id", threshold=0.5
    )
    want = {
        (r.id_a, r.id_b, r.est_jaccard)
        for r in both.collect()
        if r.id_a < 500_000 <= r.id_b  # cross old->new pairs only
    }
    assert got == want


def test_append_false_leaves_index_untouched(spark, docs, tmp_path):
    path = str(tmp_path / "mhidx4")
    build_minhash_index(docs.limit(20), path, "doc_id")
    import os

    before = sorted(os.listdir(os.path.join(path, "signatures")))
    new = _mutate(docs.limit(5), 800_000)
    dedup_against_minhash_index(
        new, path, "doc_id", append_survivors=False
    )[0].count()
    assert sorted(os.listdir(os.path.join(path, "signatures"))) == before


def test_band_table_is_scanned_not_shuffled(spark, docs, tmp_path):
    """Scale contract: candidate generation broadcast-joins the batch
    keys against the stored band table — no exchange on the stored
    side."""
    path = str(tmp_path / "mhidx5")
    build_minhash_index(docs.limit(40), path, "doc_id")
    new = _mutate(docs.limit(5), 800_000)
    _surv, matches = dedup_against_minhash_index(
        new, path, "doc_id", append_survivors=False
    )
    plan = matches._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_compact_index_reduces_files_preserves_probes(spark, docs, tmp_path):
    """After several appends the index has files ∝ batches; compaction
    collapses them and probe results are unchanged."""
    import os

    from dataslicer_spark.operators.dedup_index import compact_minhash_index

    path = str(tmp_path / "mhidx5")
    build_minhash_index(docs.limit(30), path, "doc_id")
    for i in range(1, 4):  # three daily batches
        batch = docs.limit(30 + 10 * i).subtract(docs.limit(30 + 10 * (i - 1)))
        dedup_against_minhash_index(batch, path, "doc_id", threshold=0.9)

    def n_files(table):
        d = os.path.join(path, table)
        return sum(1 for f in os.listdir(d) if f.endswith(".parquet"))

    before_sigs = n_files("signatures")
    assert before_sigs > 1  # appends accumulated small files

    probe = _mutate(docs.limit(20), 900_000)
    _, m_before = dedup_against_minhash_index(
        probe, path, "doc_id", threshold=0.5, append_survivors=False
    )
    want = {(r.new_id, r.index_id) for r in m_before.collect()}

    out = compact_minhash_index(spark, path, target_mb=128)
    assert out["signatures"] == 1 and out["bands"] == 1
    assert n_files("signatures") == 1 and n_files("bands") == 1

    _, m_after = dedup_against_minhash_index(
        probe, path, "doc_id", threshold=0.5, append_survivors=False
    )
    assert {(r.new_id, r.index_id) for r in m_after.collect()} == want
    assert want  # the probe actually matched something


def test_returned_frames_survive_later_appends(spark, docs, tmp_path):
    """Regression (round-7 advice): with append_survivors=True the
    returned survivors/matches must be materialized BEFORE the index
    append — a lazy plan would re-list the index paths on evaluation,
    see the batch's own signatures already appended, and self-match
    every document away."""
    path = str(tmp_path / "mhidx6")
    build_minhash_index(docs.limit(0), path, "doc_id")
    batch1 = docs.limit(25)

    # expected result from a dry-run against the still-empty index
    # (within-batch near-dups may legitimately drop a few rows)
    want_surv = {
        r.doc_id
        for r in dedup_against_minhash_index(
            batch1, path, "doc_id", threshold=0.5, append_survivors=False
        )[0].select("doc_id").collect()
    }
    assert want_surv  # sanity: the batch is not empty

    surv1, matches1 = dedup_against_minhash_index(
        batch1, path, "doc_id", threshold=0.5
    )  # default: append_survivors=True

    # mutate the index again before evaluating batch 1's results
    batch2 = docs.subtract(batch1).limit(10)
    dedup_against_minhash_index(batch2, path, "doc_id", threshold=0.5)

    # batch 1 was all-new vs an empty index: no index match may appear,
    # and survivors must equal the dry-run set, stably across repeated
    # evaluation — a lazy plan re-listing the appended index would
    # self-match everything away
    assert matches1.count() == 0
    got = {r.doc_id for r in surv1.select("doc_id").collect()}
    assert got == want_surv
    assert surv1.count() == len(want_surv)


def test_compact_rejects_non_local_path(spark):
    from dataslicer_spark.operators.dedup_index import compact_minhash_index

    with pytest.raises(ValueError, match="local filesystem"):
        compact_minhash_index(spark, "s3://bucket/index")


# ---------------------------------------------------------------------------
# b-bit storage mode (round 11): bits= in build/probe
# ---------------------------------------------------------------------------

def _tree_bytes(d):
    import os

    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _dd, fs in os.walk(d)
        for f in fs
        if f.endswith(".parquet")
    )


def test_bbit_index_signature_table_shrinks_4x(spark, docs, tmp_path):
    """The b-bit kernel's stated payoff is a smaller PERSISTED index:
    at bits=8 the signature table stores 8 packed words/doc instead of
    64 — on-disk bytes must shrink >=4x (the 8x raw ratio minus parquet
    row/metadata overhead).  The band table is format-invariant (one
    (id, band, bucket) row per band either way)."""
    full, bb = str(tmp_path / "full"), str(tmp_path / "bb")
    corpus = docs.limit(100)
    build_minhash_index(corpus, full, "doc_id", num_perm=64, bands=32)
    build_minhash_index(
        corpus, bb, "doc_id", num_perm=64, bands=32, bits=8
    )
    import os

    full_b = _tree_bytes(os.path.join(full, "signatures"))
    bb_b = _tree_bytes(os.path.join(bb, "signatures"))
    assert bb_b > 0 and full_b >= 4 * bb_b


def test_bbit_probe_exact_verified_superset_of_full_width(spark, docs, tmp_path):
    """Equal full-width slots imply equal b-bit lanes, so the b-bit
    candidate set is a SUPERSET of full-width banding; after exact
    Jaccard verification both outputs are engine-independent and the
    b-bit one can only contain MORE true pairs (random lane collisions
    add candidates, never drop them)."""
    full, bb = str(tmp_path / "fullx"), str(tmp_path / "bbx")
    old = docs.limit(40)
    new = _mutate(old.limit(15), 500_000)
    build_minhash_index(old, full, "doc_id", num_perm=64, bands=32)
    build_minhash_index(old, bb, "doc_id", num_perm=64, bands=32, bits=8)
    kw = dict(threshold=0.5, append_survivors=False, exact_verify_with=old)
    got_full = {
        (r.index_id, r.new_id, round(r.jaccard, 9))
        for r in dedup_against_minhash_index(new, full, "doc_id", **kw)[1].collect()
    }
    got_bb = {
        (r.index_id, r.new_id, round(r.jaccard, 9))
        for r in dedup_against_minhash_index(new, bb, "doc_id", **kw)[1].collect()
    }
    assert len(got_full) >= 12  # planted near-dups found
    assert got_full <= got_bb


def test_bbit_incremental_append_loop(spark, docs, tmp_path):
    """The ingestion loop works unchanged on a b-bit index: appended
    survivors are found by the next batch's probe, with the probe
    reading ALL parameters (incl. bits) from the stored meta."""
    path = str(tmp_path / "bbloop")
    seed = docs.limit(40)
    build_minhash_index(seed, path, "doc_id", num_perm=64, bands=32, bits=8)
    fresh = docs.subtract(seed).limit(20)
    surv1, m1 = dedup_against_minhash_index(
        fresh, path, "doc_id", threshold=0.5
    )
    # the synthetic corpus contains GENUINE near-dups, so a few fresh
    # docs may legitimately match the index — but most must survive
    assert surv1.count() >= 15
    batch2 = _mutate(fresh.limit(10), 700_000)
    surv2, m2 = dedup_against_minhash_index(
        batch2, path, "doc_id", threshold=0.5
    )
    assert m2.count() >= 8  # recall vs newly appended b-bit signatures
    assert surv2.count() <= 2
    # est_jaccard comes from the collision-corrected b-bit estimator
    assert all(0.0 <= r.est_jaccard <= 1.0 for r in m2.collect())


#: (id, band, bucket) rows of ``band_buckets`` (num_perm=16, bands=8)
#: over the three ``_GOLDEN_DOCS``: the band table an index persists.  A
#: change here means a previously built index no longer probes the same.
_GOLDEN_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "a completely different sentence about spark lsh banding"),
]
_GOLDEN_BANDS = {
    0: [
        (1, 0, -2937377225899219631), (1, 1, -7867843827768011985),
        (1, 2, -1553594368628081360), (1, 3, -5196992517596730681),
        (1, 4, -8079165472822464668), (1, 5, -9160826982984270263),
        (1, 6, -8883027927912547379), (1, 7, -570966875920349776),
        (2, 0, -2271626947751394909), (2, 1, -6424202524863601955),
        (2, 2, -4260343580010160688), (2, 3, -3160832885825631377),
        (2, 4, 3866464596794308382), (2, 5, -9160826982984270263),
        (2, 6, -8883027927912547379), (2, 7, -570966875920349776),
        (3, 0, -1640224353940770960), (3, 1, 2015135649422331808),
        (3, 2, 1942618216482792327), (3, 3, 2306075824936203031),
        (3, 4, -8902996002462550928), (3, 5, 7866094738640107517),
        (3, 6, -8334371109565007208), (3, 7, -9118216974958649546),
    ],
    16: [
        (1, 0, -6116936903345505214), (1, 1, 3306322166591391374),
        (1, 2, 8090148199007036565), (1, 3, 5576983737538382524),
        (1, 4, -7041306635741909941), (1, 5, -177405820344756782),
        (1, 6, 2423621118534645858), (1, 7, 3815820417800225262),
        (2, 0, -2693094510326126424), (2, 1, -5416611864191050475),
        (2, 2, 4163868160896152950), (2, 3, 4453741664314737565),
        (2, 4, -8786897810005090883), (2, 5, -177405820344756782),
        (2, 6, 2423621118534645858), (2, 7, 3815820417800225262),
        (3, 0, -8720733585617334482), (3, 1, -5010766174656358137),
        (3, 2, -8827629285516107025), (3, 3, -1358844472620481839),
        (3, 4, 3475268456409892875), (3, 5, -3630152789115645767),
        (3, 6, 3540255281548358431), (3, 7, -6335237886859167773),
    ],
}


@pytest.mark.parametrize("bits", [0, 16])
def test_band_buckets_on_disk_format_is_pinned(spark, bits):
    """The persisted band keys are a storage format: pinned row for row
    at full width and b-bit, so an index built by an earlier release
    still probes identically."""
    from dataslicer_spark.operators.dedup import (
        band_buckets,
        minhash_signatures,
    )

    df = spark.createDataFrame(_GOLDEN_DOCS, "doc_id long, text string")
    sigs = minhash_signatures(
        df, "doc_id", num_perm=16, pack_bits=bits or None
    )
    got = sorted(tuple(r) for r in band_buckets(sigs, 16, 8, bits).collect())
    assert got == _GOLDEN_BANDS[bits]


def test_bbit_build_rejects_bad_bits(spark, docs, tmp_path):
    with pytest.raises(ValueError, match="divide 64"):
        build_minhash_index(
            docs.limit(5), str(tmp_path / "bad"), "doc_id", bits=5
        )


# ---------------------------------------------------------------------------
# single-pass ingestion: job counts, no cache, both fetch paths, old meta
# ---------------------------------------------------------------------------

@pytest.fixture
def scanned(spark, sf_dir):
    """Scan-rooted corpus (one row group → one scan partition, so the
    batch spread fires) and a near-dup batch of its first 40 docs."""
    import os

    corpus = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text")
    return corpus, _mutate(corpus.filter(F.col("doc_id") < 40), 500_000)


def test_build_and_probe_job_counts(spark, scanned, tmp_path, count_jobs):
    """Each artifact is derived once.  Build: signature write, band write
    from the written signatures read with their known schema, meta write.
    Dry-run exact-verify probe: meta read with its declared schema, ONE
    batch spread, signature and candidate checkpoints, one collect of
    the candidate pairs — no schema inference of the band table (its id
    type is in the meta) or of the unused signature table, no cache
    stages, no distinct shuffle for the id list."""
    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("the batch spread is a no-op on one core")
    corpus, batch = scanned
    path = str(tmp_path / "jobs")
    _, build_jobs = count_jobs(
        lambda: build_minhash_index(corpus, path, "doc_id")
    )
    (_surv, matches), probe_jobs = count_jobs(
        lambda: dedup_against_minhash_index(
            batch, path, "doc_id", threshold=0.8,
            append_survivors=False, exact_verify_with=corpus,
        )
    )
    assert (build_jobs, probe_jobs) == (7, 8)
    assert matches.count() >= 30  # the planted near-dups are found


def test_probe_leaves_session_cache_empty(spark, scanned, tmp_path):
    corpus, batch = scanned
    path = str(tmp_path / "nocache")
    spark.catalog.clearCache()
    build_minhash_index(corpus.filter(F.col("doc_id") < 100), path, "doc_id")
    dedup_against_minhash_index(batch, path, "doc_id", threshold=0.5)
    dedup_against_minhash_index(
        batch, path, "doc_id", threshold=0.5,
        append_survivors=False, exact_verify_with=corpus,
    )
    jcache = spark._jsparkSession.sharedState().cacheManager()
    assert jcache.isEmpty()


def test_semi_join_fetch_matches_isin_fetch(spark, scanned, tmp_path, monkeypatch):
    """Candidate sets over the ``In()``-literal cap take the broadcast
    semi-join fetch; both fetch paths verify the same pairs."""
    corpus, batch = scanned
    path = str(tmp_path / "fetch")
    build_minhash_index(corpus, path, "doc_id")
    kw = dict(threshold=0.5, append_survivors=False, exact_verify_with=corpus)

    def probe():
        m = dedup_against_minhash_index(batch, path, "doc_id", **kw)[1]
        plan = m._jdf.queryExecution().executedPlan().toString()
        return {tuple(r) for r in m.collect()}, "LeftSemi" in plan

    isin, isin_semi = probe()
    monkeypatch.setattr(dedup_index, "ISIN_MAX_IDS", 0)
    semi, semi_semi = probe()
    assert (isin_semi, semi_semi) == (False, True)
    assert len(isin) >= 30 and semi == isin


def test_meta_without_bits_probes_full_width(spark, scanned, tmp_path):
    """An index whose meta predates the ``bits`` column reads it as null
    and probes as a full-width index."""
    import os

    corpus, batch = scanned
    path = str(tmp_path / "oldmeta")
    build_minhash_index(corpus, path, "doc_id")

    def matches():
        m = dedup_against_minhash_index(
            batch, path, "doc_id", threshold=0.5, append_survivors=False
        )[1]
        return {tuple(r) for r in m.collect()}

    want = matches()
    spark.createDataFrame(
        [(3, 64, 16)], "n int, num_perm int, bands int"
    ).write.mode("overwrite").parquet(os.path.join(path, "meta"))
    assert matches() == want and len(want) >= 30


def test_estimate_probe_reads_signatures_without_inference(
    spark, scanned, tmp_path, count_jobs
):
    """The estimate-only probe (no ``exact_verify_with``) reads the
    stored signature table with the declared ``id <id_type>, signature
    array<bigint>`` schema: 7 jobs, one fewer than an inferred read of
    the signature table costs."""
    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("the batch spread is a no-op on one core")
    corpus, batch = scanned
    path = str(tmp_path / "estjobs")
    build_minhash_index(corpus, path, "doc_id")
    (_surv, matches), jobs = count_jobs(
        lambda: dedup_against_minhash_index(
            batch, path, "doc_id", threshold=0.5, append_survivors=False
        )
    )
    assert jobs == 7
    assert matches.count() >= 30


def test_meta_without_id_type_probes_identically(
    spark, scanned, tmp_path, count_jobs
):
    """An index whose meta predates the ``id_type`` column reads it as
    null and infers the band and signature tables' schemas instead (two
    more jobs); survivors and matches are the same."""
    import os

    corpus, batch = scanned
    path = str(tmp_path / "noidtype")
    build_minhash_index(corpus, path, "doc_id")
    meta = spark.read.parquet(os.path.join(path, "meta"))
    assert [tuple(r) for r in meta.collect()] == [(3, 64, 16, 0, "bigint")]

    def probe():
        (surv, m), jobs = count_jobs(
            lambda: dedup_against_minhash_index(
                batch, path, "doc_id", threshold=0.5, append_survivors=False
            )
        )
        return sorted(surv.collect()), sorted(m.collect()), jobs

    surv, want, jobs = probe()
    spark.createDataFrame(
        [(3, 64, 16, 0)], "n int, num_perm int, bands int, bits int"
    ).write.mode("overwrite").parquet(os.path.join(path, "meta"))
    old_surv, got, old_jobs = probe()
    assert (old_surv, got) == (surv, want) and len(want) >= 30
    assert old_jobs == jobs + 2

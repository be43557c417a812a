"""Persistent MinHash/LSH near-dup index — build once, then dedup every
incoming batch against the accumulated corpus WITHOUT recomputing it.

The production ingestion loop at 100 TB is incremental: a daily crawl
batch must be near-dup-checked against billions of already-ingested
documents.  Re-running pairwise LSH over (corpus + batch) rescans the
corpus every day; the index instead persists exactly the two artifacts
LSH needs — fixed-size MinHash signatures and their banded bucket keys
— so a batch costs: hash the batch, join its bands against the stored
band table, verify only the candidates.

Plan shape (the part that matters at scale):

- the stored band table is the big side and is NEVER shuffled: the new
  batch's (band, bucket) keys are broadcast, so candidate generation is
  a map-side hash join over a straight scan of the index;
- verification joins signatures by id for candidate ids only;
  signatures are ``num_perm``·8 bytes regardless of document length —
  document bodies never enter the index;
- appending a deduped batch is a parquet append of its signatures and
  bands — no rewrite, no compaction requirement (compact with
  ``sources/lake.py`` tooling if small files accumulate);
- a probe derives each artifact once: the batch is round-robined once
  (one checkpoint feeds both the signature kernel and the verify
  shingles), its signatures and the candidate pairs are checkpointed,
  the stored band table is read with the id type the meta records (no
  schema-inference job), and nothing stays in the session cache when
  the call returns;
- the streaming form is this operator inside ``foreachBatch``:
  dedup the micro-batch against the index, append survivors.

Band keys and signature estimates come from the same
``dedup.band_buckets`` / ``dedup.est_jaccard`` as
:func:`minhash_lsh_pairs` (``operators/dedup.py``), at full width or
b-bit alike, so recall follows the same
``1-(1-j^r)^b`` curve; index parameters are stored in a meta table and
re-validated on every probe — a probe with different (n, num_perm,
bands) would silently find nothing, so it raises instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..utils import bounded_arrow, check_col, local_df, materialize, spread
from .dedup import band_buckets, est_jaccard, minhash_signatures

#: index layout: <path>/{signatures,bands,meta} parquet directories.
_SIGS, _BANDS, _META = "signatures", "bands", "meta"
_META_SCHEMA = "n int, num_perm int, bands int, bits int, id_type string"

#: Most candidate pairs whose corpus ids the exact-verify fetch pushes
#: into the corpus scan as an ``In()`` literal list; more pairs take a
#: broadcast semi-join.
ISIN_MAX_IDS = 4_000


def build_minhash_index(
    df: DataFrame,
    path: str,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    bits: int = 0,
) -> None:
    """Create the index at ``path`` from an initial corpus (may be
    empty).  Stores signatures, band keys, and the hashing parameters.

    ``bits`` — opt-in b-bit MinHash storage (Li & König WWW'10, see
    ``dedup.bbit_minhash_lsh_pairs``): only the lowest ``bits`` bits of
    each of the ``num_perm`` slots are kept, packed ``64/bits`` lanes
    per int64 word, so the PERSISTED signature table shrinks
    ``64/bits``× (8× at bits=8) — the index's dominant storage cost at
    corpus scale.  Equal full slots imply equal b-bit lanes, so the
    candidate set on probe is a superset of full-width banding at the
    same (num_perm, bands); the extra random band collisions
    (≈ 2^-(r·bits) per band per pair) only add verify work, never wrong
    output — keep ``(num_perm/bands)·bits ≥ log2(n_docs)+10`` (the
    sizing rule in ``dedup.bbit_minhash_lsh_pairs``).  0 = full-width
    (default, backward compatible)."""
    if num_perm % bands != 0:
        raise ValueError("num_perm must be divisible by bands")
    if bits and bits not in (1, 2, 4, 8, 16, 32):
        raise ValueError(f"bits must divide 64 (or 0), got {bits}")
    check_col([id_col, text_col], df)
    sigs = minhash_signatures(
        df, id_col, text_col, n, num_perm, pack_bits=bits or None
    )
    # REBALANCE before the write (guide §6): the signature kernel runs
    # wide (utils.spread), so an unhinted write emits one tiny file per
    # kernel task; AQE coalesces to advisory-sized output files instead
    sigs.hint("rebalance").write.mode("overwrite").parquet(
        os.path.join(path, _SIGS)
    )
    # band keys from the WRITTEN signatures (the kernel runs once); the
    # frame's own schema skips the parquet schema-inference job
    band_buckets(
        df.sparkSession.read.schema(sigs.schema).parquet(
            os.path.join(path, _SIGS)
        ),
        num_perm,
        bands,
        bits,
    ).hint("rebalance").write.mode("overwrite").parquet(
        os.path.join(path, _BANDS)
    )
    # the id type lets a probe read the band table with a declared schema
    id_type = sigs.schema["id"].dataType.simpleString()
    local_df(
        df.sparkSession, [(n, num_perm, bands, bits, id_type)], _META_SCHEMA
    ).write.mode("overwrite").parquet(os.path.join(path, _META))


def _read_meta(
    spark: SparkSession, path: str
) -> tuple[int, int, int, int, str | None]:
    row = spark.read.schema(_META_SCHEMA).parquet(
        os.path.join(path, _META)
    ).collect()[0]
    # older indexes lack bits (full-width) and id_type (schema inferred):
    # a missing column reads as null
    return row.n, row.num_perm, row.bands, row.bits or 0, row.id_type


def _read_stored(
    spark: SparkSession, path: str, table: str, id_type: str | None, rest: str
) -> DataFrame:
    """The index's ``table``, read with the declared schema
    ``id <id_type>, <rest>`` (no parquet schema-inference job); a meta
    without ``id_type`` keeps the inferred read."""
    reader = spark.read
    if id_type:
        reader = reader.schema(f"id {id_type}, {rest}")
    return reader.parquet(os.path.join(path, table))


def dedup_against_minhash_index(
    new_df: DataFrame,
    path: str,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.5,
    append_survivors: bool = True,
    exact_verify_with: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Near-dup the batch against the index; returns
    ``(survivors, matches)``.

    ``matches`` = (new_id, index_id, est_jaccard ≥ threshold) — the
    signature-only ``dedup.est_jaccard``, like ``verify=True`` pairs
    mode: slot agreement, or for a b-bit index (built with ``bits=``)
    the collision-corrected lane estimator; all index parameters
    including ``bits`` come from the stored meta, so probes are
    oblivious to the storage format.
    ``survivors`` = batch rows with no index match (they are also
    near-dup'd against EACH OTHER via the same band keys — a batch with
    two copies of a new document keeps the smaller id).

    ``exact_verify_with`` — the source-of-truth document table the index
    was built from (the lake table; the index itself stores only
    signatures, never bodies).  When given, candidate matches are
    re-verified with the TRUE shingle-set Jaccard (texts fetched for
    candidate ids only) and ``matches`` carries ``jaccard`` instead of
    ``est_jaccard`` — the engine-independent output (= exact pair set
    minus LSH misses, miss probability (1−t^r)^b) that the DuckDB
    oracle checks; see ``minhash_lsh_pairs(verify="exact")``.

    With ``append_survivors`` (default) the survivors' signatures and
    band keys are appended to the index, so consecutive calls implement
    the incremental-ingestion loop; pass False for a dry-run check.
    Appending calls materialize (checkpoint) the returned frames BEFORE
    the append — they must not remain lazy reads of index paths the
    append just grew, or a post-return evaluation would see the batch in
    the index and self-match every document.  Dry-runs return plans
    over this call's checkpoints and the caller's tables.

    Every probe artifact is derived once: the batch is round-robined
    once (one checkpoint feeds the signature kernel and the verify
    shingles); its signatures and the candidate pairs are checkpointed,
    so the stored band table is scanned once, map-side hash-joined
    against the broadcast batch keys; the candidate ids for the corpus
    fetch come from one bounded Arrow probe of the candidate checkpoint.
    Nothing enters the session cache, so a caller that runs this in a
    loop (the streaming form, every micro-batch) accumulates no cache
    generations — checkpoint blocks are reclaimed when their frames are
    garbage-collected."""
    from ..functions.text import word_shingles

    spark = new_df.sparkSession
    check_col([id_col, text_col], new_df)
    n, num_perm, bands, bits, id_type = _read_meta(spark, path)
    # ONE spread of the batch (guide §2.5): the signature kernel's own
    # spread() is a 0-job no-op on this already-wide checkpoint, and the
    # verify shingles below read the same rows.  barrier: the shingle
    # trees are JVM expressions Catalyst would push under the exchange.
    batch = spread(new_df.select(id_col, text_col), barrier=True)
    sigs_new = materialize(
        minhash_signatures(
            batch, id_col, text_col, n, num_perm, pack_bits=bits or None
        )
    )
    bands_new = band_buckets(sigs_new, num_perm, bands, bits)

    stored_bands = _read_stored(
        spark, path, _BANDS, id_type, "band int, bucket bigint"
    )
    # both the verify join and the candidate-id fetch below consume this
    # bounded (|batch|·matches) frame — checkpoint it so the stored band
    # table is scanned once, not once per consumer
    cand = materialize(
        stored_bands.withColumnRenamed("id", "index_id")
        .join(
            F.broadcast(bands_new.withColumnRenamed("id", "new_id")),
            ["band", "bucket"],
        )
        .select("new_id", "index_id")
        .dropDuplicates()
    )
    if exact_verify_with is not None:
        check_col([id_col, text_col], exact_verify_with)
        sh_new = batch.select(
            F.col(id_col).alias("new_id"),
            F.array_distinct(word_shingles(F.col(text_col), n)).alias("sh_n"),
        ).filter(F.size("sh_n") > 0)
        # honor the "texts fetched for candidate ids only" contract: the
        # candidate-id set is bounded by the BATCH (≤ |batch|·matches
        # distinct index ids), so for a genuinely small set push an
        # ``isin`` literal filter into the corpus scan — the predicate
        # reaches the parquet reader (PushedFilters) and prunes row
        # groups by id min/max stats, where a broadcast semi-join would
        # still READ every corpus row before discarding it.  At index
        # scale the corpus is billions of rows and this is the
        # difference between a pruned point-fetch and a full scan.  The
        # literal cap is deliberately modest: a huge In() list bloats
        # the plan/codegen and costs MORE than the semi-join it replaces
        # (measured: a 60k-literal list added ~20% to the ingestion
        # bench row) — corpus-sized candidate sets take the broadcast
        # semi-join instead.  The pairs' index ids are probed (one Arrow
        # job on the checkpoint, no distinct shuffle): a pair set within
        # the cap bounds its distinct ids too.
        pairs = bounded_arrow(cand.select("index_id"), ISIN_MAX_IDS)
        src = exact_verify_with.select(
            F.col(id_col), F.col(text_col).alias("__ct")
        )
        if pairs is not None:
            id_list = list(dict.fromkeys(pairs.column("index_id").to_pylist()))
            # In()-literal prune first, spread after: the pruned scan is
            # candidate-sized, so the exchange is bounded by the batch
            fetched = spread(src.filter(F.col(id_col).isin(id_list)))
        else:
            # spread BEFORE the semi-join so the broadcast join (which
            # preserves the big side's partitioning) doesn't pin the
            # shingle work back to scan width
            cand_ids = cand.select(F.col("index_id").alias(id_col)).distinct()
            fetched = spread(src).join(
                F.broadcast(cand_ids), id_col, "left_semi"
            )
        sh_idx = (
            fetched.select(
                F.col(id_col).alias("index_id"),
                F.array_distinct(word_shingles(F.col("__ct"), n)).alias(
                    "sh_i"
                ),
            )
            .filter(F.size("sh_i") > 0)
        )
        est = (
            cand.join(F.broadcast(sh_new), "new_id")
            .join(sh_idx, "index_id")
            .withColumn(
                "n_common", F.size(F.array_intersect("sh_n", "sh_i"))
            )
            .withColumn(
                "jaccard",
                F.col("n_common").cast("double")
                / (
                    F.size("sh_n") + F.size("sh_i") - F.col("n_common")
                ).cast("double"),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("new_id", "index_id", "jaccard")
        )
    else:
        stored_sigs = _read_stored(
            spark, path, _SIGS, id_type, "signature array<bigint>"
        )
        est = (
            cand.join(
                F.broadcast(
                    sigs_new.select(
                        F.col("id").alias("new_id"),
                        F.col("signature").alias("sig_new"),
                    )
                ),
                "new_id",
            )
            .join(
                stored_sigs.select(
                    F.col("id").alias("index_id"),
                    F.col("signature").alias("sig_idx"),
                ),
                "index_id",
            )
            .withColumn(
                "est_jaccard",
                est_jaccard(
                    F.col("sig_new"), F.col("sig_idx"), num_perm, bits
                ),
            )
            .filter(F.col("est_jaccard") >= threshold)
            .select("new_id", "index_id", "est_jaccard")
        )

    # within-batch near-dup via the same band keys: keep the smaller id
    a = bands_new.select(F.col("id").alias("id_a"), "band", "bucket")
    b = bands_new.select(F.col("id").alias("id_b"), "band", "bucket")
    intra = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .join(
            sigs_new.select(
                F.col("id").alias("id_a"), F.col("signature").alias("sa")
            ),
            "id_a",
        )
        .join(
            sigs_new.select(
                F.col("id").alias("id_b"), F.col("signature").alias("sb")
            ),
            "id_b",
        )
        .filter(
            est_jaccard(F.col("sa"), F.col("sb"), num_perm, bits) >= threshold
        )
        .select(F.col("id_b").alias("dropped_id"))
    )
    dropped = (
        est.select(F.col("new_id").alias("dropped_id"))
        .unionByName(intra)
        .distinct()
    )
    survivors = new_df.join(
        dropped.withColumnRenamed("dropped_id", id_col), id_col, "left_anti"
    )

    if append_survivors:
        # materialize (checkpoint) both results BEFORE touching the index
        # dirs: the returned frames are otherwise lazy plans that READ
        # the very paths the append below writes to — a post-return
        # evaluation could re-list the index with the batch already in
        # it, so every document would self-match and be dropped.
        # Checkpointing severs the lineage from those paths entirely.
        survivors, est = materialize(survivors), materialize(est)
        surv_ids = survivors.select(F.col(id_col).alias("id"))
        surv_sigs = sigs_new.join(F.broadcast(surv_ids), "id", "left_semi")
        # REBALANCE appends too — a daily-batch loop would otherwise
        # accumulate one tiny file per kernel task per batch
        surv_sigs.hint("rebalance").write.mode("append").parquet(
            os.path.join(path, _SIGS)
        )
        band_buckets(surv_sigs, num_perm, bands, bits).hint(
            "rebalance"
        ).write.mode("append").parquet(os.path.join(path, _BANDS))
    return survivors, est


def compact_minhash_index(
    spark: SparkSession, path: str, target_mb: int = 128
) -> dict[str, int]:
    """Small-files maintenance for the incremental loop: every
    ``dedup_against_minhash_index(append_survivors=True)`` call appends
    one batch's worth of parquet files to the signature and band tables,
    so a daily-ingest index accumulates file counts linear in days —
    eventually a metadata stampede on every probe scan.  Rewrites both
    tables to ~``target_mb`` files with the crash-safe two-rename swap
    of ``sources/lake.compact_lake`` (the band table is additionally
    clustered by ``(band, bucket)`` so a probe's broadcast-join scan
    reads co-located buckets).  Returns {table: n_files_after}.

    Local-filesystem only: the swap uses POSIX renames, which do not
    exist on object stores — an ``s3://``/``hdfs://`` index would have
    silently computed ``total=0`` and then failed at ``os.rename`` after
    writing the tmp table, so non-local paths are rejected up front
    (compact such an index with the catalog/lake tooling of the
    deployment instead)."""
    import math
    import shutil
    from urllib.parse import urlparse

    scheme = urlparse(path).scheme
    if scheme not in ("", "file"):
        raise ValueError(
            "compact_minhash_index only supports local filesystem paths "
            f"(POSIX-rename swap); got scheme {scheme!r} in {path!r}"
        )

    out: dict[str, int] = {}
    for table, order_cols in ((_SIGS, ["id"]), (_BANDS, ["band", "bucket"])):
        tdir = os.path.join(path, table)
        tmp, old = tdir + ".__compacting__", tdir + ".__old__"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        if os.path.exists(old):
            if os.path.exists(tdir):
                shutil.rmtree(old)
            else:
                os.rename(old, tdir)
        total = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(tdir)
            for f in fs
            if f.endswith(".parquet")
        )
        n_files = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
        df = spark.read.parquet(tdir)
        df.repartitionByRange(
            n_files, *[F.col(c) for c in order_cols]
        ).write.mode("overwrite").parquet(tmp)
        os.rename(tdir, old)
        os.rename(tmp, tdir)
        shutil.rmtree(old)
        out[table] = sum(
            1
            for r, _d, fs in os.walk(tdir)
            for f in fs
            if f.endswith(".parquet")
        )
    return out


__all__ = [
    "build_minhash_index",
    "dedup_against_minhash_index",
    "compact_minhash_index",
]

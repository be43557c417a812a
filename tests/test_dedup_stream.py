"""streaming/dedup_stream.stream_dedup_ingest: the persistent-index
near-dup loop driven from a file stream — cross-batch state via the
index, batch-replay determinism."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dataslicer_spark.operators.dedup_index import build_minhash_index
from dataslicer_spark.streaming.dedup_stream import stream_dedup_ingest

SCHEMA = "doc_id long, text string"


def _write_batch(spark, rows, path):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_stream_dedup_cross_batch_state(spark, tmp_path):
    src = str(tmp_path / "incoming")
    idx = str(tmp_path / "mhidx")
    out = str(tmp_path / "kept")
    build_minhash_index(
        spark.createDataFrame([], SCHEMA), idx, "doc_id"
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun"
    )
    other = (
        "completely different text about spark parquet shuffles and "
        "broadcast joins at one hundred terabyte scale every day"
    )
    # batch files process in name order with maxFilesPerTrigger=1
    _write_batch(spark, [(1, base), (2, other)], src)
    # later batch: near-dup of doc 1 (one word changed) + a fresh doc
    _write_batch(
        spark,
        [(10, base.replace("afternoon", "evening")),
         (11, "yet another unrelated document mentioning watermarks "
              "windows state stores and exactly once file sinks")],
        src,
    )

    stats = stream_dedup_ingest(
        spark, src, SCHEMA, idx, "doc_id", threshold=0.5,
        survivors_path=out,
    )
    assert stats["n_seen"] == 4
    assert stats["n_dropped"] == 1  # doc 10 matched doc 1 across batches
    assert stats["n_kept"] == 3
    kept_ids = {
        r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()
    }
    assert kept_ids == {1, 2, 11}
    # the index grew by exactly the survivors
    sigs = spark.read.parquet(os.path.join(idx, "signatures"))
    assert {r.id for r in sigs.select("id").collect()} == {1, 2, 11}


def test_stream_dedup_within_batch_and_replay(spark, tmp_path):
    """Two near-dups in ONE batch: smaller id wins; replaying the same
    files against a fresh index reproduces the identical kept-set."""
    text = (
        "documents that repeat themselves verbatim should be caught by "
        "the minhash signatures without reading any document bodies"
    )
    rows = [(5, text), (6, text + " extra"), (7, "something else entirely "
            "with words that do not overlap the other documents at all")]
    kept_sets = []
    for run in range(2):
        src = str(tmp_path / f"in{run}")
        idx = str(tmp_path / f"idx{run}")
        build_minhash_index(spark.createDataFrame([], SCHEMA), idx, "doc_id")
        _write_batch(spark, rows, src)
        stats = stream_dedup_ingest(
            spark, src, SCHEMA, idx, "doc_id", threshold=0.5
        )
        sigs = spark.read.parquet(os.path.join(idx, "signatures"))
        kept_sets.append(
            frozenset(r.id for r in sigs.select("id").collect())
        )
        assert stats["n_dropped"] == 1 and 5 in kept_sets[-1]
    assert kept_sets[0] == kept_sets[1]


def test_stream_leaves_no_cached_frames(spark, tmp_path):
    """After the stream drains, the session's cache holds nothing from
    the per-batch probe internals."""
    import os

    from dataslicer_spark.operators.dedup_index import build_minhash_index
    from dataslicer_spark.streaming.dedup_stream import stream_dedup_ingest

    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    base = spark.range(0, 20).selectExpr(
        "id AS doc_id",
        "concat('alpha beta gamma delta epsilon zeta ', id) AS text",
    )
    build_minhash_index(base, idx, "doc_id")
    for i in (0, 1):
        base.withColumn("doc_id", base.doc_id + 100 * (i + 1)).coalesce(
            1
        ).write.mode("append").parquet(src)

    spark.catalog.clearCache()
    stream_dedup_ingest(
        spark, src, "doc_id long, text string", idx, "doc_id",
        threshold=0.9,
    )
    jcache = spark._jsparkSession.sharedState().cacheManager()
    assert jcache.isEmpty(), "per-batch caches leaked"

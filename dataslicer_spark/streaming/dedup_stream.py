"""Streaming near-dup ingestion — the persistent MinHash/LSH index
(``operators/dedup_index.py``) driven from a file stream.

The production crawl pipeline is a stream of document batches; each
micro-batch must be near-dup-checked against everything already
ingested, and its survivors must immediately count as "already
ingested" for the NEXT batch.  That cross-batch state is exactly what
the persistent index holds, so the streaming form is the batch operator
inside ``foreachBatch`` (same pattern as ``streaming/train.py`` and the
lake upsert sink): probe → drop matches → append survivors' signatures
and band keys.  Spark's own ``dropDuplicatesWithinWatermark`` handles
EXACT dups inside the watermark horizon; this loop handles NEAR-dups
with unbounded horizon, state bounded by signature size (num_perm·8
bytes/doc), never by document bodies.

Determinism: given the same trigger sequence (``maxFilesPerTrigger``
over sorted files), the kept-set replays exactly — batch boundaries
matter only when two near-dup documents arrive in the same batch
(smaller id wins) vs different batches (earlier batch wins), the usual
online-vs-batch distinction.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..operators.dedup_index import dedup_against_minhash_index


def stream_dedup_ingest(
    spark: SparkSession,
    source_path: str,
    schema,
    index_path: str,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.5,
    survivors_path: str | None = None,
    max_files_per_trigger: int = 1,
) -> dict:
    """Drain a parquet file stream through the index
    (``availableNow`` — processes the backlog and stops, the
    batch-refresh pattern).  Returns
    ``{"n_batches", "n_seen", "n_kept", "n_dropped"}``.

    Each micro-batch: near-dup against the index (and within itself),
    append survivors' signatures/bands to the index, and — when
    ``survivors_path`` is given — append the surviving ROWS to a
    parquet sink (the deduped corpus)."""
    state = {"n_batches": 0, "n_seen": 0, "n_kept": 0, "n_dropped": 0}

    def step(batch_df, _batch_id: int) -> None:
        n = batch_df.count()
        if n == 0:
            return
        # the operator caches nothing and returns checkpointed frames
        # when it appends (blocks reclaimed on GC) — a 10⁵-batch stream
        # accumulates no cache generations
        survivors, _matches = dedup_against_minhash_index(
            batch_df, index_path, id_col, text_col, threshold,
            append_survivors=True,
        )
        kept = survivors.count()
        if survivors_path is not None:
            survivors.write.mode("append").parquet(survivors_path)
        state["n_batches"] += 1
        state["n_seen"] += n
        state["n_kept"] += kept
        state["n_dropped"] += n - kept

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_path)
        .writeStream.foreachBatch(step)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return state


__all__ = ["stream_dedup_ingest"]

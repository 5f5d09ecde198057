"""Incremental near-dup detection on a document stream, against a
PERSISTED minhash index — the streaming twin of
`dedup.minhash_cross_duplicates` (closing the loop its docstring
describes: "the corpus's banding table is computed once and persisted;
a daily run shingles only the new batch").

foreachBatch shape (streaming_verdicts bridge): each micro-batch of new
documents is

    1. shingled + banded ONCE (minhash_band_tables — the only per-batch
       shingling cost; the corpus index is read back, never recomputed),
    2. checked against the stored index via
       minhash_cross_duplicates_prebanded; near-dup pairs are merged
       into the output sink,
    3. merged into the index itself (shingles + bands), so every LATER
       batch deduplicates against this one.

Index and batch are banded with the same fixed minhash parameters
(dedup.N_HASHES, BANDS, SHINGLE_WORDS), so a stored index always
matches the batches that probe it.

Check-then-merge ordering means a batch never matches itself;
within-batch self-dups are the batch-mode operators' job (run
minhash_near_duplicates over the batch in the same handler if wanted).

Delivery semantics: foreachBatch is at-least-once — a retried
micro-batch runs its handler again. The handler anti-joins the batch's
own ids out of the corpus side before matching, so a redelivered batch
whose rows already landed in the index can NOT match itself (no (id,id)
or spurious within-batch pairs). Every write goes through the TableIO
keyed merge (`sources.tables.merge_keyed`) — shingles keyed by _id,
bands by (_id, band), pairs by (new_id, corpus_id) — so a redelivered
micro-batch replaces its own identical rows and the index AND the pairs
sink are row-identical to a single delivery (exactly-once observable
state; test_streaming pins this). On iceberg:// paths merge_keyed is a
real MERGE INTO with atomic snapshot commits; the local-parquet
stand-in rewrites the table per merge through the crash-safe
`sources.tables.swap_in` (new copy written beside the table, old copy
renamed aside, new copy renamed in), and recovers an interrupted swap
before it reads, so a crash at any point keeps the prior index rows
(O(table) per merge — the sandbox price, which is why the seam exists).

Redelivery != backfill: checkpoint redelivery only ever replays the
LAST uncommitted micro-batch (committed batches never rewind), which
the anti-join and the keyed merges make a state no-op. Re-running an
OLD batch against an index that already holds LATER batches (fresh
checkpoint over the same source while keeping the index) is a
different operation — each
old document would "detect" every newer near-dup in REVERSED
(new_id, corpus_id) orientation. To backfill, reset the index with the
checkpoint or use the batch operator (minhash_near_duplicates) over
the full corpus.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from typical_spark.operators.dedup import (
    minhash_band_tables,
    minhash_cross_duplicates_prebanded,
    release_cache,
)
from typical_spark.streaming.validate_stream import streaming_verdicts


def minhash_stream_dedup(
    stream: DataFrame,
    index_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.7,
    trigger_seconds: int | None = None,
):
    """Start the incremental-dedup stream. Returns the StreamingQuery.

    index_dir: the standing minhash index (shingles/ + bands/ parquet;
    created on first batch). pairs_dir: sink of
    (new_id, corpus_id, jaccard) detections, written with keyed
    exactly-once merges (see module docstring)."""
    from typical_spark.sources.tables import merge_keyed

    sh_path = os.path.join(index_dir, "shingles")
    band_path = os.path.join(index_dir, "bands")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return  # empty micro-batch: nothing to band or append
        spark = batch_df.sparkSession
        sh_new, band_new = minhash_band_tables(batch_df, id_col, text_col)
        # local-FS existence probe; on HDFS/S3 check via the Hadoop FS
        # API or make the index an Iceberg table (read of a missing path
        # would throw, and "no index yet" is a normal first-batch state)
        if os.path.exists(sh_path):
            # RETRY GUARD: a micro-batch that crashed after its index
            # appends is redelivered with its own rows already in the
            # index; without this anti-join it would "detect" itself
            # ((id,id) pairs plus spurious within-batch pairs), which
            # read-DISTINCT cannot cure. Batch ids broadcast: tiny side.
            batch_ids = sh_new.select("_id")
            corpus_sh = spark.read.parquet(sh_path).join(
                batch_ids, "_id", "left_anti"
            )
            corpus_band = spark.read.parquet(band_path).join(
                batch_ids, "_id", "left_anti"
            )
            pairs = minhash_cross_duplicates_prebanded(
                sh_new, band_new, corpus_sh, corpus_band, jaccard_threshold
            )
            merge_keyed(pairs, pairs_dir, ["new_id", "corpus_id"])
        # grow the index AFTER the check: a batch never matches itself
        merge_keyed(sh_new, sh_path, ["_id"])
        merge_keyed(band_new, band_path, ["_id", "band"])
        release_cache(band_new)  # the shared shingle persist is done

    return streaming_verdicts(stream, handle, checkpoint_dir, trigger_seconds)

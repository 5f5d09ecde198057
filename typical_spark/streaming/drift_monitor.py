"""Streaming distribution-drift monitor with PERSISTED mergeable
t-digest state — the streaming twin of `drift.drift_report` (which the
north-star contract phrases as "distribution-drift detection via
t-digest quantile sketches compared across partitions").

foreachBatch shape (streaming_verdicts bridge):

    1. each micro-batch sketches its values per group
       (drift.partition_digests — one native aggregate, no Python worker),
    2. the per-batch digests are upserted into a state table KEYED BY
       (batch_id, group_id) via sources.tables.merge_keyed: a
       redelivered micro-batch REPLACES its own rows with the same rows
       (the digest is deterministic for a fixed input and partitioning),
       so the state is row-identical to a single delivery,
    3. the RUNNING digest per group = t-digest merge of all per-batch
       rows (order-independent — test_tdigest_merge_order_independent),
       compared against a REFERENCE digest table at
       drift.PROBE_QUANTILES; one verdict row (batch_id, group_id, n,
       ks_stat, drifted) per group is upserted per batch.

The sketch row format (TDigest.from_row / to_row / merge_rows) and the
KS comparison (drift.ks_at_probes) are drift_report's own; only the
reference differs (the group's reference digest, not the merged
global one).

Keeping PER-BATCH digests (not one mutable running row) is what makes
redelivery idempotent without read-modify-write races: state size is
O(#batches x |groups|) rows of ~100 centroids; on a years-long stream,
`compact_state` folds old batches into one row per group (safe:
redelivery only replays the LAST uncommitted batch). On local parquet,
every rewrite of the state, verdict and reference tables goes through
sources.tables.swap_in, and every read-before-rewrite first runs
recover_swap, so a crash at any point loses no committed row.

Driver-side bounds: digests and verdicts are O(|groups|) rows per batch;
the raw stream values never leave the executors.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from typical_spark.operators.drift import TDigest, ks_at_probes, partition_digests
from typical_spark.sources.tables import merge_keyed, recover_swap, swap_in
from typical_spark.streaming.validate_stream import streaming_verdicts

_STATE_SCHEMA = (
    "batch_id long, group_id string, n double, "
    "means array<double>, weights array<double>"
)


def reference_digests(
    ref_df: DataFrame,
    value_col: str,
    group_col: str,
    path: str,
) -> None:
    """Materialize the reference (training-time) digest table the
    monitor compares against: one t-digest row per group, swapped in
    whole (`tables.swap_in`)."""
    swap_in(partition_digests(ref_df, value_col, group_col), path)


def drift_stream_monitor(
    stream: DataFrame,
    reference_path: str,
    state_dir: str,
    verdicts_dir: str,
    checkpoint_dir: str,
    value_col: str,
    group_col: str,
    threshold: float = 0.1,
    trigger_seconds: int | None = None,
):
    """Start the drift monitor. Returns the StreamingQuery.

    reference_path: digest table from `reference_digests`. state_dir:
    per-(batch, group) digest state (created on first batch).
    verdicts_dir: sink of (batch_id, group_id, n, ks_stat, drifted).
    A group absent from the reference gets ks_stat NULL and
    drifted=true (novel partitions are drift by definition)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        spark = batch_df.sparkSession
        sk = partition_digests(batch_df, value_col, group_col)
        sk = sk.select(F.lit(int(batch_id)).alias("batch_id"), "*")
        merge_keyed(sk, state_dir, ["batch_id", "group_id"])

        state = spark.read.parquet(state_dir).collect()  # O(batches x |G|)
        by_group: dict[str, list] = {}
        for r in state:
            by_group.setdefault(r["group_id"], []).append(r)
        ref = {
            r["group_id"]: TDigest.merge_rows([r])
            for r in spark.read.parquet(reference_path).collect()
        }
        rows = []
        for gid in sorted(by_group):
            d = TDigest.merge_rows(by_group[gid])
            if gid in ref:
                ks = ks_at_probes(d, ref[gid])
                rows.append((int(batch_id), gid, float(d.total_weight),
                             round(ks, 6), bool(ks > threshold)))
            else:
                rows.append((int(batch_id), gid, float(d.total_weight),
                             None, True))
        verdicts = spark.createDataFrame(
            pd.DataFrame(
                rows,
                columns=["batch_id", "group_id", "n", "ks_stat", "drifted"],
            ),
            "batch_id long, group_id string, n double, ks_stat double, "
            "drifted boolean",
        )
        merge_keyed(verdicts, verdicts_dir, ["batch_id", "group_id"])

    os.makedirs(os.path.dirname(state_dir) or ".", exist_ok=True)
    return streaming_verdicts(stream, handle, checkpoint_dir, trigger_seconds)


def compact_state(spark, state_dir: str, keep_last: int = 1) -> int:
    """Fold all but the newest `keep_last` micro-batches' digest rows
    into ONE row per group (batch_id = -1), bounding state growth on a
    long-lived stream. Safe w.r.t. redelivery: checkpoint redelivery
    only ever replays the LAST uncommitted micro-batch, so rows older
    than `keep_last` batches can never be re-upserted — merging them
    loses no idempotency. Re-compressing merged digests is the standard
    t-digest trade (merge is order-independent but re-compression is
    not bit-exact; quantile error stays within the sketch's bound — the
    compaction test pins verdict stability). The new state replaces the
    old through `tables.swap_in`, so a crash at any point leaves the
    old state recoverable.

    Returns the number of rows in the compacted state table. Driver
    work is bounded: the state is O(batches x |groups|) sketch rows.
    """
    recover_swap(state_dir)
    rows = spark.read.parquet(state_dir).collect()
    if not rows:
        return 0
    cutoff = max(r["batch_id"] for r in rows) - int(keep_last) + 1
    keep = [r.asDict() for r in rows if r["batch_id"] >= cutoff]
    old: dict[str, list] = {}
    for r in rows:
        if r["batch_id"] < cutoff:
            old.setdefault(r["group_id"], []).append(r)
    merged = [
        {"batch_id": -1, "group_id": gid, **TDigest.merge_rows(old[gid]).to_row()}
        for gid in sorted(old)
    ]
    out = spark.createDataFrame(
        pd.DataFrame(
            merged + keep,
            columns=["batch_id", "group_id", "n", "means", "weights"],
        ),
        _STATE_SCHEMA,
    )
    swap_in(out.coalesce(1), state_dir)
    return len(merged) + len(keep)

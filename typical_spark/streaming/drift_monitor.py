"""Streaming distribution-drift monitor with PERSISTED mergeable
t-digest state — the streaming twin of `drift.drift_report` (which the
north-star contract phrases as "distribution-drift detection via
t-digest quantile sketches compared across partitions").

foreachBatch shape (streaming_verdicts bridge):

    1. each micro-batch sketches its values per group
       (drift.partition_digests — one Arrow pass over the batch),
    2. the per-batch digests are upserted into a state table KEYED BY
       (batch_id, group_id) via the TableIO keyed upsert
       (sources.tables.merge_keyed): a redelivered micro-batch REPLACES
       its own rows, so the state is row-identical to a single delivery
       (exactly-once observable state — same discipline as
       incremental.minhash_stream_dedup's index),
    3. the RUNNING digest per group = t-digest merge of all per-batch
       rows (merge is associative and order-independent —
       test_tdigest_merge_order_independent pins it), compared against
       a REFERENCE digest table at fixed probe quantiles; one verdict
       row (batch_id, group_id, n, ks_stat, drifted) per group is
       upserted per batch.

Keeping PER-BATCH digests (not one mutable running row) is what makes
redelivery idempotent without read-modify-write races: state size is
O(#batches x |groups|) rows of ~compression floats — tiny; on a
years-long stream, `compact_state` folds old batches into one row per
group (safe: redelivery only replays the LAST uncommitted batch).

Driver-side bounds: digests and verdicts are O(|groups|) rows per batch
(the same bounded-collect contract as drift.drift_report); the raw
stream values never leave the executors.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from typical_spark.operators.drift import TDigest, partition_digests
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
    compression: int = 100,
) -> None:
    """Materialize the reference (training-time) digest table the
    monitor compares against: one t-digest row per group."""
    partition_digests(ref_df, value_col, group_col, compression).write.mode(
        "overwrite"
    ).parquet(path)


def _digest_of(rows, compression: int = 100) -> TDigest:
    return TDigest.merge_all(
        [
            TDigest(np.array(r["means"]), np.array(r["weights"]), compression)
            for r in rows
        ],
        compression,
    )


def drift_stream_monitor(
    stream: DataFrame,
    reference_path: str,
    state_dir: str,
    verdicts_dir: str,
    checkpoint_dir: str,
    value_col: str,
    group_col: str,
    compression: int = 100,
    probe_quantiles=(0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95),
    threshold: float = 0.1,
    trigger_seconds: int | None = None,
):
    """Start the drift monitor. Returns the StreamingQuery.

    reference_path: digest table from `reference_digests`. state_dir:
    per-(batch, group) digest state (created on first batch).
    verdicts_dir: sink of (batch_id, group_id, n, ks_stat, drifted).
    A group absent from the reference gets ks_stat NULL and
    drifted=true (novel partitions are drift by definition)."""
    from typical_spark.sources.tables import merge_keyed

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        _recover_state(state_dir)
        spark = batch_df.sparkSession
        sk = partition_digests(batch_df, value_col, group_col, compression)
        sk = sk.select(F.lit(int(batch_id)).alias("batch_id"), "*")
        merge_keyed(sk, state_dir, ["batch_id", "group_id"])

        state = spark.read.parquet(state_dir).collect()  # O(batches x |G|)
        by_group: dict[str, list] = {}
        for r in state:
            by_group.setdefault(r["group_id"], []).append(r)
        ref = {
            r["group_id"]: _digest_of([r], compression)
            for r in spark.read.parquet(reference_path).collect()
        }
        probes_q = np.asarray(probe_quantiles)
        rows = []
        for gid in sorted(by_group):
            d = _digest_of(by_group[gid], compression)
            if gid in ref:
                probes = ref[gid].quantile(probes_q)
                ks = float(
                    np.nanmax(np.abs(d.cdf(probes) - ref[gid].cdf(probes)))
                )
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


def _aside(state_dir: str) -> str:
    return state_dir.rstrip("/") + ".compact_old"


def _recover_state(state_dir: str) -> None:
    """Finish a `compact_state` swap that a crash cut short: an aside
    copy with no state_dir is the whole old state, so it moves back; an
    aside copy next to state_dir is stale."""
    aside = _aside(state_dir)
    if not os.path.isdir(aside):
        return
    if os.path.isdir(state_dir):
        shutil.rmtree(aside)
    else:
        os.rename(aside, state_dir)


def compact_state(
    spark,
    state_dir: str,
    keep_last: int = 1,
    compression: int = 100,
) -> int:
    """Fold all but the newest `keep_last` micro-batches' digest rows
    into ONE row per group (batch_id = -1), bounding state growth on a
    long-lived stream. Safe w.r.t. redelivery: checkpoint redelivery
    only ever replays the LAST uncommitted micro-batch, so rows older
    than `keep_last` batches can never be re-upserted — merging them
    loses no idempotency. Re-compressing merged digests is the standard
    t-digest trade (merge is order-independent but re-compression is
    not bit-exact; quantile error stays within the sketch's bound — the
    compaction test pins verdict stability).

    Returns the number of rows in the compacted state table. Driver
    work is bounded: the state is O(batches x |groups|) sketch rows.
    """
    _recover_state(state_dir)
    rows = spark.read.parquet(state_dir).collect()
    if not rows:
        return 0
    cutoff = max(r["batch_id"] for r in rows) - int(keep_last) + 1
    keep = [r for r in rows if r["batch_id"] >= cutoff]
    old: dict[str, list] = {}
    for r in rows:
        if r["batch_id"] < cutoff:
            old.setdefault(r["group_id"], []).append(r)
    digests = {gid: _digest_of(rs, compression) for gid, rs in old.items()}
    merged = [
        (-1, gid, float(sum(r["n"] for r in old[gid])),
         digests[gid].means.tolist(), digests[gid].weights.tolist())
        for gid in sorted(old)
    ]
    kept = [
        (r["batch_id"], r["group_id"], r["n"], r["means"], r["weights"])
        for r in keep
    ]
    out = spark.createDataFrame(
        pd.DataFrame(
            merged + kept,
            columns=["batch_id", "group_id", "n", "means", "weights"],
        ),
        _STATE_SCHEMA,
    )
    # write the new state beside the old, rename the old aside, rename
    # the new in, then drop the aside copy: a crash at any point leaves
    # either state_dir or its aside copy whole (see _recover_state)
    tmp = state_dir.rstrip("/") + ".compact_tmp"
    out.coalesce(1).write.mode("overwrite").parquet(tmp)
    aside = _aside(state_dir)
    os.rename(state_dir, aside)
    os.rename(tmp, state_dir)
    shutil.rmtree(aside)
    return len(merged) + len(kept)

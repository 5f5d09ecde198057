"""Custom stateful streaming operator: per-conversation ordering checks
with cross-microbatch state (applyInPandasWithState).

Contract: batch-identical results per conversation, independent of
arrival order. A conversation's turns BUFFER in state until its session
closes (event-time timeout: no new turns before the watermark passes its
last activity + session_gap); at close the buffered turns are sorted in
data order ((turn_idx, ts) — the batch operator's sort) and each turn is
emitted with its previous turn's (turn_idx, ts). Python judges nothing:
the pairs go through `operators.ordering.pair_violations`, the Catalyst
checks and violation text every batch path runs, so timestamps print in
the session time zone as theirs do. Every flushed turn crosses back
from Python, not only the violating ones. This is the session-window
pattern: incremental checking against a running max cannot work here
because the anomalous timestamps being *detected* would themselves
reorder incremental finalization.

Timestamps cross the Arrow boundary as EPOCH MICROSECONDS computed
JVM-side (`unix_micros`), never as naive pandas timestamps: a naive
timestamp is session-local wall time, but pandas interprets naive as
UTC, so `.timestamp()` would disagree with `getCurrentWatermarkMs()` by
the session-timezone offset — sessions would flush early (split
conversations, missed transition violations) or hold state for hours.
Micros also survive the long-array state exactly, and leave Python as
micros: `timestamp_micros` turns them back into the timestamps the
batch operators read.

NULL handling mirrors the batch operator's SQL semantics exactly
(verified by the shuffled-arrival parity test, which includes NULL-ts
rows): rows with NULL turn_idx or ts are KEPT — they sort first within
their (turn, ts) slot like Spark's nulls-first ordering, emit no
violation themselves (a NULL transition delta fails every check
predicate), but DO become the next row's "previous" exactly as the
window variant's lag() sees them. Only NULL conv_id rows are excluded
(same filter as the batch callers). NULL event times pass through the
watermark operator unfiltered — only late non-null times are dropped.

State per conversation = its turn buffer (two parallel arrays, ~12
bytes/turn). Bounded by conversation length, not stream length; state
for closed conversations is removed at flush. Callers should bound event
time first (absurd future timestamps are a row-level ts_range violation
AND would yank the global watermark forward — standard practice is to
filter them before any watermarked operator).

Arrow-batched grouped kernel; no per-row check in Python.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from typical_spark.operators.ordering import PREV_ORDER, PREV_TS, pair_violations

OUT_SCHEMA = (
    "conv_id string, turn_idx int, ts_us long, prev_turn int, prev_ts_us long"
)
# COMPATIBILITY: pend_ts/last_seen changed from double seconds to long
# epoch-MICROS (round 3, commit 0c9da5e — the Arrow tz fix). Stateful
# streaming checkpoints written before that change hold the old state
# schema and will fail Spark's state-schema compatibility check on
# resume; discard the old checkpoint directory (the operator is
# deterministic, so reprocessing the source rebuilds identical output).
STATE_SCHEMA = "pend_turn array<int>, pend_ts array<long>, last_seen long"

SESSION_GAP_S = 1.0  # flush when watermark passes last activity + gap

OUT_COLUMNS = ["conv_id", "turn_idx", "ts_us", "prev_turn", "prev_ts_us"]


def _flush(conv_id, pending) -> pd.DataFrame:
    """A closed session's buffered (turn_idx, ts_us) turns, sorted in
    data order with NULLs first, each with the previous turn's values
    (NULL on the first)."""
    buf = pd.DataFrame({
        "turn_idx": pd.array([p[0] for p in pending], dtype="Int64"),
        "ts_us": pd.array([p[1] for p in pending], dtype="Int64"),
    }).sort_values(["turn_idx", "ts_us"], na_position="first", ignore_index=True)
    prev = buf.shift(1)
    return buf.assign(
        conv_id=conv_id, prev_turn=prev["turn_idx"], prev_ts_us=prev["ts_us"]
    )[OUT_COLUMNS]


def _check_group(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    conv_id = key[0]
    if state.exists:
        pend_turn, pend_ts, last_seen = state.get
        pending = list(zip(pend_turn, pend_ts))
    else:
        pending, last_seen = [], 0

    if state.hasTimedOut:
        state.remove()
        rows = _flush(conv_id, pending)
        if len(rows):
            yield rows
        return

    for pdf in pdfs:
        for r in pdf.itertuples(index=False):
            # nullable ints arrive as float64 + NaN through Arrow:
            # int(NaN) would kill the whole StreamingQuery, and batch
            # semantics KEEP null turn/ts rows (see module docstring)
            turn = int(r.turn_idx) if pd.notna(r.turn_idx) else None
            ts_us = int(r.ts_us) if pd.notna(r.ts_us) else None
            pending.append((turn, ts_us))
            if ts_us is not None and ts_us > last_seen:
                last_seen = ts_us

    wm_us = state.getCurrentWatermarkMs() * 1000
    state.update((
        [p[0] for p in pending],
        [p[1] for p in pending],
        last_seen,
    ))
    state.setTimeoutTimestamp(
        int(max(last_seen, wm_us) / 1000 + SESSION_GAP_S * 1000)
    )
    return


def stateful_ordering_violations(
    stream: DataFrame,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming per-conversation ordering violations, arrival-order
    independent (see module docstring). Violations for a conversation
    emit when its session closes (watermark passes last activity)."""
    pairs = (
        stream.withWatermark("ts", watermark)
        .where(F.col("conv_id").isNotNull())
        .select(
            "conv_id",
            "turn_idx",
            "ts",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        )
        .groupBy("conv_id")
        .applyInPandasWithState(
            _check_group,
            outputStructType=OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
        .selectExpr("conv_id", "turn_idx", "timestamp_micros(ts_us) AS ts",
                    f"prev_turn AS {PREV_ORDER}",
                    f"timestamp_micros(prev_ts_us) AS {PREV_TS}")
    )
    return pair_violations(pairs, ["conv_id", "turn_idx"], "turn_idx", "ts")

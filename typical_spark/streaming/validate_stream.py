"""Structured Streaming validation: the batch operators, re-used on a
stream of arriving transcript turns.

The reference has no streaming (single closure per value); this is the
engine-side generalization sketched in SURVEY.md Table B (Streaming row):

- `streaming_validation(stream, plan)`: the SAME fused violation pass as
  batch (a ValidationPlan compiles to stateless projections, so it is
  directly streamable — no rewrite, the central payoff of keeping checks
  expression-shaped).
- `windowed_check_stats`: tumbling-window violation counts with a
  watermark; late turns beyond the watermark are dropped by Spark, and
  turns late-but-within-watermark simply update their (still-open)
  window's counts — there is NO late_arrival violation class emitted
  here. To flag lateness explicitly, compare event time to wall clock
  in a `streaming_verdicts` foreachBatch stage, where both are visible.
- `streaming_verdicts`: foreachBatch wrapper that runs ANY batch operator
  (uniqueness, referential, stats) per micro-batch — the documented
  pattern for reusing batch table-checks on streams.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from typical_spark.plans.validation import ValidationPlan, explode_violations


def streaming_validation(stream: DataFrame, plan: ValidationPlan) -> DataFrame:
    """Row-level violations on a streaming DataFrame. Stateless projection
    -> works in append mode with no watermark requirement."""
    return plan.violations(stream, with_message=False)


def windowed_check_stats(
    stream: DataFrame,
    plan: ValidationPlan,
    ts_col: str = "ts",
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Tumbling-window violation counts per check with late-data handling.

    Output (append mode after watermark passes):
      (window_start, window_end, check_id, n_violations)
    """
    exploded = explode_violations(
        stream.withWatermark(ts_col, watermark), [ts_col], plan._violation_array()
    ).select(ts_col, "check_id")
    agg = (
        exploded.groupBy(
            F.window(F.col(ts_col), window_duration).alias("w"), "check_id"
        )
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "check_id",
            "n_violations",
        )
    )
    return agg


def streaming_verdicts(
    stream: DataFrame,
    batch_fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
):
    """foreachBatch bridge: run any batch operator pipeline per
    micro-batch. `batch_fn(batch_df, batch_id)` receives a normal batch
    DataFrame — uniqueness/referential/stats/drift all apply unchanged.
    Returns the started StreamingQuery."""
    writer = stream.writeStream.foreachBatch(batch_fn).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_dedup_keep_first(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming exact dedup, keep-first-arrival: dropDuplicatesWithinWatermark
    bounds the dedup state to the watermark horizon (unbounded-state
    dropDuplicates is a slow memory leak on an infinite stream — state
    for a key can never be evicted without an event-time bound). The
    streaming analog of dedup_keep_first / the reference array-unique
    contract: within any `watermark` window, only a key's first arrival
    survives. Late rows beyond the watermark are dropped by the engine
    (the standard lateness trade: bounded state for bounded lookback)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)

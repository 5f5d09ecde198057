"""End-to-end validation pipeline: every check class, one violations table.

`full_validation` is the production shape of the engine. Row-level
checks, uniqueness (keep-first duplicate rank), per-conversation ordering
and referential integrity all emit into ONE violations stream with a
common schema

    (conv_id, turn_idx, column, check_id, observed, expected)

from ONE scan of the narrow columns they need (conv_id, turn_idx, ts,
role) plus the scan-local row-check array. The conversations table is
broadcast-joined before any shuffle. Rows with a conv_id get both of
their windows from one sort by (conv_id, turn_idx, ts, role), so on a
table bucketed by conv_id and sorted that way they need no Exchange and
no Sort. NULL-conv rows take no ordering or referential check and rank
their duplicates on their own. `validation_summary` counts the stream by
check in one action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from typical_spark.operators.ordering import ordering_checks
from typical_spark.plans.validation import ValidationPlan, violation_struct

VIOLATION_SCHEMA_COLS = ("conv_id", "turn_idx", "column", "check_id", "observed", "expected")


def full_validation(
    plan: ValidationPlan,
    transcripts: DataFrame,
    conversations: DataFrame | None = None,
    salt_buckets: int = 1,
) -> DataFrame:
    """All violation classes as one DataFrame (see module docstring):

      scan -> fused row-check array (text etc. never leaves the scan)
           -> broadcast-join the conversations dim (scan-local, pre-shuffle)
           -> conv_id IS NOT NULL: lag() over (conv_id) = ordering checks
              + row_number over (conv_id, turn_idx) = keep-first dup rank
              (exchange AND sort both elided on a bucketed scan sorted
              by (conv_id, turn_idx, ts, role))
              conv_id IS NULL: row_number over (turn_idx) only — no
              ordering/referential checks apply, and the null rows
              shuffle/sort just themselves
           -> union, concat arrays, one explode.

    Splitting on nullability also means NULL-conv rows cannot pin one
    task (they shuffle by the dup key). Duplicate ranks are the plain
    keep-first row_number over (ts, role); pytest pins the output equal
    to plan.violations, duplicate_rows, ordering_violations and
    referential_violations combined. `salt_buckets` is accepted and
    ignored: the only window partition key is conv_id, the same skew
    boundary ordering_violations has, and a pathological duplicate-key
    group can still use duplicate_rows(salt_buckets=N) standalone.
    """
    key = list(plan.spec.key_columns)
    kc, oc = key[0], key[-1]

    src = transcripts.select(
        F.col(kc), F.col(oc), F.col("ts"), F.col("role"),
        plan._violation_array().alias("_rv"),
    )
    has_ref = conversations is not None
    if has_ref:
        dim = (
            conversations.select(F.col(kc))
            .dropDuplicates([kc])
            .withColumn("_dim", F.lit(True))
        )
        src = src.join(F.broadcast(dim), [kc], "left")

    # Two branches on conv_id nullability, unioned before the explode.
    # Non-null convs (≈ the whole table) window on conv_id ALONE with
    # order (turn_idx, ts, role): the required sort (conv_id, turn_idx,
    # ts, role) is then EXACTLY the bucketed table's declared SORTED BY,
    # so on a bucketed scan EnsureRequirements elides the Exchange AND
    # the full-table Sort (a second partition key would break that
    # sort-prefix match). NULL-conv rows need no ordering/referential
    # checks; their keep-first dup rank partitions by the dup key
    # (turn_idx), and they sort/shuffle only their own (typically tiny,
    # and on the bucketed layout row-group-prunable) row set.
    conv_rows = src.where(F.col(kc).isNotNull())
    null_rows = src.where(F.col(kc).isNull())

    w_ord = Window.partitionBy(kc).orderBy(
        F.col(oc).asc(), F.col("ts").asc(), F.col("role").asc()
    )
    w_dup = Window.partitionBy(kc, oc).orderBy(
        F.col("ts").asc(), F.col("role").asc()
    )
    ann_a = conv_rows.select(
        "*",
        F.lag(oc).over(w_ord).alias("_po"),
        F.lag("ts").over(w_ord).alias("_pts"),
    ).select("*", F.row_number().over(w_dup).alias("_dr"))

    w_dup_null = Window.partitionBy(oc).orderBy(
        F.col("ts").asc(), F.col("role").asc()
    )
    oc_type = src.schema[oc].dataType
    ts_type = src.schema["ts"].dataType
    ann_b = null_rows.select(
        "*",
        F.lit(None).cast(oc_type).alias("_po"),
        F.lit(None).cast(ts_type).alias("_pts"),
    ).select("*", F.row_number().over(w_dup_null).alias("_dr"))
    ann = ann_a.unionByName(ann_b)

    extras = [
        F.when(
            F.col("_dr") > 1,
            violation_struct(
                oc, "unique_key", F.col("_dr").cast("string"),
                F.lit(f"unique {tuple(key)}"),
            ),
        ),
        # the NULL-conv branch has NULL _po/_pts, so no ordering check
        # fires there without a conv_id guard
        *ordering_checks(oc, "ts", "_po", "_pts"),
    ]
    if has_ref:
        extras.append(
            F.when(
                F.col(kc).isNotNull() & F.col("_dim").isNull(),
                violation_struct(
                    kc, "referential", F.col(kc).cast("string"),
                    F.lit(f"{kc} exists in conversations"),
                ),
            )
        )

    combined = F.concat(F.col("_rv"), F.array_compact(F.array(*extras)))
    return (
        ann.select(F.col(kc), F.col(oc), F.explode(combined).alias("v"))
        .select(kc, oc, "v.*")
    )


def validation_summary(
    plan: ValidationPlan,
    transcripts: DataFrame,
    conversations: DataFrame | None = None,
    salt_buckets: int = 1,
) -> dict:
    """One-action summary: violation counts per check class.
    `salt_buckets` is accepted and ignored, as in full_validation."""
    vio = full_validation(plan, transcripts, conversations)
    rows = vio.groupBy("check_id").agg(F.count(F.lit(1)).alias("n")).collect()
    return {r["check_id"]: r["n"] for r in rows}

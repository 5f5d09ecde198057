"""End-to-end validation pipeline: every check class, one violations table.

`full_validation` is the production shape of the engine. Row-level
checks, uniqueness (keep-first duplicate rank), per-conversation ordering
and referential integrity all emit into ONE violations stream with a
common schema

    (conv_id, turn_idx, column, check_id, observed, expected)

from ONE scan of the narrow columns they need (conv_id, turn_idx, ts,
role) plus the scan-local row-check array. Every window sorts by
(conv_id, turn_idx, ts, role), so on a table bucketed by conv_id and
sorted that way the whole pass needs no Exchange and no Sort; any other
input takes one Exchange, on conv_id. Rows with a conv_id take their
referential flag from a correlated EXISTS against the conversations
table, planned as a sort-merge ExistenceJoin above the windows, which
have already clustered and sorted the fact by conv_id: the dim is
scanned once and never deduplicated. With the dim bucketed by conv_id
into the fact's bucket count (`sources.transcripts.scaled_dataset`)
nothing moves, and `validation_summary` is one Spark job. Otherwise the
dim is shuffled and sorted to the fact's partitioning, unless it has
more buckets than the fact: then Spark shuffles and sorts the fact to
the dim's instead (the layout rule in SCALE.md "Bucketed storage").

NULL-conv rows go through the same windows as every other row. Their lag
is masked to NULL, so they take no ordering check, and
`referential_check` skips a NULL key; they rank their duplicates with
the same keep-first rank over (conv_id, turn_idx). A window on conv_id
puts them all in one task. That is one bucket on a bucketed table
anyway, and on the perfbench data they are 80 of 40,200 turns (0.2%);
a separate branch for them cost the plain copy a second scan and a task
wave and gave no measured gain (CHANGES.md). `validation_summary` counts
the stream by check as it runs, with no aggregate.

Every check is built by the same function its standalone operator uses:
`ordering.ordering_checks`, `uniqueness.keep_first_rank` +
`unique_key_check`, `referential.referential_check`, and the plan's
`violation_array` for the rows; all are SQL text, and each builder keys
its entries by the check ids they emit, so `check_ids` counts exactly
what is built. The windows are one projection (all written as
`OVER (…)`) and the EXISTS one more, because every DataFrame step costs
a Catalyst analysis on the driver, and the join must sit above the
windows to keep their order.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from typical_spark.operators.ordering import ordering_checks
from typical_spark.operators.referential import referential_check
from typical_spark.operators.uniqueness import keep_first_rank, unique_key_check
from typical_spark.plans.validation import (
    ValidationPlan,
    count_by_check,
    explode_violations,
    violation_array,
)
from typical_spark.sql_text import path


def _table_checks(key: Sequence[str], referential: bool) -> dict[str, str]:
    """The checks full_validation adds to the plan's row checks, by id,
    over its window columns: `_dr` (duplicate rank), `_po`/`_pts` (the
    previous row's turn_idx and ts) and `_ref` (the EXISTS flag)."""
    return {
        **unique_key_check(key, "_dr"),
        # NULL-conv rows have NULL _po/_pts, so no ordering check fires
        # there without a conv_id guard
        **ordering_checks(key[-1], "ts", "_po", "_pts"),
        **(referential_check(key[0], "_ref") if referential else {}),
    }


def full_validation(
    plan: ValidationPlan,
    transcripts: DataFrame,
    conversations: DataFrame | None = None,
) -> DataFrame:
    """All violation classes as one DataFrame (see module docstring):

      scan -> fused row-check array (text etc. never leaves the scan)
           -> lag() over (conv_id) = ordering checks, NULL for a NULL
              conv_id
              + keep_first_rank over (conv_id, turn_idx) = dup rank
              (exchange AND sort both elided on a bucketed scan sorted
              by (conv_id, turn_idx, ts, role))
           -> EXISTS (conversations.conv_id = conv_id) = referential
              flag (sort-merge ExistenceJoin on the windows' order)
           -> concat arrays, one explode_violations.

    Duplicate ranks are the plain keep-first rank over (ts, role);
    pytest pins the output equal to plan.violations, duplicate_rows,
    ordering_violations and referential_violations combined. The only
    window partition key of the lag is conv_id, the same skew boundary
    ordering_violations has; a pathological duplicate-key group can use
    duplicate_rows(salt_buckets=N) standalone.
    """
    key = list(plan.spec.key_columns)
    kc, oc = key[0], key[-1]
    k, o = path(kc), path(oc)

    src = plan.with_inputs(transcripts).selectExpr(
        k, o, "ts", "role", f"{plan.violation_array()} AS _rv")
    has_ref = conversations is not None

    # The lag windows on conv_id ALONE with order (turn_idx, ts, role),
    # and the rank on (conv_id, turn_idx) by (ts, role): every window
    # then requires the sort (conv_id, turn_idx, ts, role), EXACTLY the
    # bucketed table's declared SORTED BY, so on a bucketed scan
    # EnsureRequirements elides the Exchange AND the full-table Sort (a
    # second lag partition key would break that sort-prefix match).
    lag = f"OVER (PARTITION BY {k} ORDER BY {o}, ts, role)"
    ann = src.selectExpr("*", f"IF({k} IS NULL, NULL, lag({o}) {lag}) AS _po",
                         f"IF({k} IS NULL, NULL, lag(ts) {lag}) AS _pts",
                         f"{keep_first_rank(key, ['ts', 'role'])} AS _dr")
    if has_ref:
        # A projection of its own, above the windows: the merge join then
        # takes their output, already clustered and sorted by conv_id, as
        # it is (in the windows' projection Catalyst plans the join below
        # them, and a full Sort comes back). The alias names the fact
        # side for the outer reference: an unqualified outer conv_id
        # would resolve against the dim itself.
        ann = ann.alias("_turns").select("*", conversations.hint("merge").where(
            F.col(kc) == F.col(f"_turns.{kc}").outer()).exists().alias("_ref"))
    extras = _table_checks(key, has_ref).values()
    return explode_violations(ann, [kc, oc], violation_array(["_rv", *extras]))


def check_ids(plan: ValidationPlan) -> set[str]:
    """Every check id `full_validation` can emit under `plan` (with a
    conversations table), known at compile time."""
    return {c.check_id for c in plan.checks} | set(
        _table_checks(plan.spec.key_columns, referential=True))


def validation_summary(
    plan: ValidationPlan,
    transcripts: DataFrame,
    conversations: DataFrame | None = None,
    salt_buckets: int = 1,
) -> dict:
    """One-action summary: violation counts per check class, counted by
    an Observation on a `noop` write of the fused stream (no aggregate,
    so no final Exchange). `salt_buckets` is accepted and ignored
    (bench.py passes it)."""
    vio, counts = count_by_check(
        full_validation(plan, transcripts, conversations), check_ids(plan))
    vio.write.format("noop").mode("overwrite").save()
    return counts()

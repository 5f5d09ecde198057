"""Per-group ordering checks: monotonicity / contiguity / gap detection.

No reference analog (typical validates one value at a time); required by
the input_hint's stable-turn-ordering invariant (SURVEY.md Table B,
"Window functions" row). One window pass per group computes lag() of the
ordered columns; each violation class is a cheap comparison on the lagged
values — all in a single shuffle on the group key.

Scale: the window variant shuffles on `group_cols` (conv_id) and is the
right default — conversations are bounded (≲10^4 turns), so per-group
state is tiny. A group CANNOT be salted without breaking its order, but
it does not have to be windowed either: `ordering_violations_skew_safe`
range-partitions on (group, order) — a pathological 10^9-turn group is
then SPLIT across many ordered partitions, adjacent pairs are checked
inside each partition (Arrow batches, with carry between batches), and
the O(#partitions) boundary pairs are checked in one tiny follow-up.
Same violations, no task ever holds more than a partition's worth of one
group (pytest asserts exact equality with the window variant).

Each check is defined once per engine: `ordering_checks` builds the
Catalyst entries (the window operator and the fused `full_validation`
pass), and `ordering_pair_violations` is the pandas kernel (the
skew-safe twin and the stateful streaming operator).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from typical_spark.plans.validation import explode_violations, violation_struct


def ordering_checks(
    order_col: str,
    ts_col: str | None,
    prev_order: str,
    prev_ts: str | None,
    contiguous: bool = True,
    ts_monotonic: bool = True,
) -> list[Column]:
    """The turn-ordering checks as fused-array entries: one
    `when(cond, violation_struct(...))` per check, comparing each row with
    the previous row of its group (`prev_order` / `prev_ts`, lagged
    columns that are NULL on a group's first row).

      order_duplicate  — same order value as the previous row
      order_gap        — order jumps by > 1 (when `contiguous`)
      ts_out_of_order  — timestamp decreased while order increased
                         (when `ts_col` and `ts_monotonic`)

    A NULL order value or timestamp fails every predicate it enters, but
    its row is still the next row's previous row. The window must order
    each group by (order, ts) ascending with NULLs first; further
    tie-break keys (the fused pass adds `role`) do not change the output,
    because rows tied on (order, ts) lag to the same values in whatever
    order they come. The extra key only lets the sort match a bucketed
    table's declared sort order, so the Sort disappears from the plan.
    """
    o, po = F.col(order_col), F.col(prev_order)
    d = o - po
    checks = [
        F.when(
            po.isNotNull() & (d == 0),
            violation_struct(
                order_col, "order_duplicate", o.cast("string"),
                F.concat(F.lit("!= prev "), po),
            ),
        )
    ]
    if contiguous:
        checks.append(
            F.when(
                po.isNotNull() & (d > 1),
                violation_struct(
                    order_col, "order_gap", o.cast("string"),
                    F.concat(F.lit("prev + 1 = "), po + 1),
                ),
            )
        )
    if ts_col and ts_monotonic:
        t, pt = F.col(ts_col), F.col(prev_ts)
        checks.append(
            F.when(
                pt.isNotNull() & t.isNotNull() & (t < pt) & (d > 0),
                violation_struct(
                    order_col, "ts_out_of_order", t.cast("string"),
                    F.concat(F.lit(">= prev ts "), pt.cast("string")),
                ),
            )
        )
    return checks


def ordering_violations(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    ts_col: str | None = None,
    require_contiguous: bool = True,
    require_ts_monotonic: bool = True,
) -> DataFrame:
    """Violations of per-group turn ordering (see `ordering_checks`).

    Output: group_cols…, order value, check_id, observed, expected.
    """
    # ts breaks order_col ties (asc = nulls first, matching the
    # stateful operator's sort): without it, duplicate order values
    # with UNEQUAL timestamps gave the next row a nondeterministic
    # "previous", so ts_out_of_order output could change run to run
    order_keys = [F.col(order_col).asc()] + (
        [F.col(ts_col).asc()] if ts_col else []
    )
    w = Window.partitionBy(*group_cols).orderBy(*order_keys)
    lagged = df.select(
        *group_cols,
        F.col(order_col),
        F.lag(order_col).over(w).alias("_prev_o"),
        *( [F.col(ts_col), F.lag(ts_col).over(w).alias("_prev_ts")]
           if ts_col else [] ),
    )
    arr = F.array_compact(F.array(*ordering_checks(
        order_col, ts_col, "_prev_o", "_prev_ts",
        require_contiguous, require_ts_monotonic,
    )))
    return explode_violations(lagged, [*group_cols, order_col], arr).drop("column")


def _fmt_ts(t) -> str:
    """Mirror Spark's timestamp->string cast (fraction without trailing
    zeros) so skew-safe violations are byte-identical to the window
    variant's."""
    s = t.strftime("%Y-%m-%d %H:%M:%S")
    us = getattr(t, "microsecond", 0)
    if us:
        s += "." + f"{us:06d}".rstrip("0")
    return s


def ordering_pair_violations(
    cur: pd.DataFrame,
    prev: pd.DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    ts_col: str | None = None,
) -> pd.DataFrame:
    """The pandas kernel of the turn-ordering checks: row i of `cur`
    against row i of `prev`, its previous row in (group, order, ts) order
    (both frames share one index). A pair from different groups, or with
    a NULL order value on either side, is not checked; otherwise the
    predicates and the observed/expected text are exactly
    `ordering_checks`'s. Integral columns must arrive as nullable
    integers, not float64, so values format as '3', not '3.0'.

    Returns the violating rows of `cur`, one per failed check, with
    check_id, observed and expected appended."""
    same = pd.Series(True, index=cur.index)
    for g in group_cols:
        same &= (cur[g] == prev[g]) | (cur[g].isna() & prev[g].isna())
    po, co = prev[order_col], cur[order_col]
    valid = same & po.notna() & co.notna()
    d = co - po
    checks = [
        ("order_duplicate", d == 0,
         lambda m: co[m].astype(str),
         lambda m: "!= prev " + po[m].astype(str)),
        ("order_gap", d > 1,
         lambda m: co[m].astype(str),
         lambda m: "prev + 1 = " + (po[m] + 1).astype(str)),
    ]
    if ts_col:
        pt, ct = prev[ts_col], cur[ts_col]
        checks.append(
            ("ts_out_of_order", pt.notna() & ct.notna() & (ct < pt) & (d > 0),
             lambda m: ct[m].map(_fmt_ts),
             lambda m: ">= prev ts " + pt[m].map(_fmt_ts)))
    # per-row Python runs only over the (sparse) violations, formatting
    chunks = [cur.iloc[:0].assign(check_id=None, observed=None, expected=None)]
    for check_id, cond, observed, expected in checks:
        mask = np.asarray(pd.Series(valid & cond).fillna(False), bool)
        if mask.any():
            chunks.append(cur[mask].assign(
                check_id=check_id,
                observed=np.asarray(observed(mask), object),
                expected=np.asarray(expected(mask), object),
            ))
    return pd.concat(chunks, ignore_index=True)


def ordering_violations_skew_safe(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    ts_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Hot-group-proof twin of ordering_violations: identical violation
    rows, but NO per-group window. repartitionByRange on (group, order)
    splits even a 10^9-turn group across ordered partitions; adjacent
    pairs are checked inside each partition with an Arrow-batched pass
    (carrying the last row across batch boundaries), and the
    O(#partitions) pairs that straddle partition boundaries are checked
    in a bounded driver-side follow-up (2 summary rows per partition).
    Both use `ordering_pair_violations`. Partitions are sorted by
    (group, order) only, so when a repeated order value carries different
    timestamps the next row's 'previous row', and with it
    ts_out_of_order, may differ from the window variant's; output is
    identical when repeated order values are exact copies, and the
    duplicate/gap classes never depend on tie order."""
    from pyspark import TaskContext

    gc = list(group_cols)
    cols = [*gc, order_col] + ([ts_col] if ts_col else [])
    src = df.select(*cols)
    spark = src.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism * 2
    sort_exprs = [F.col(c) for c in (*gc, order_col)]
    rp = src.repartitionByRange(n, *sort_exprs).sortWithinPartitions(*sort_exprs)

    types = {f.name: f.dataType.simpleString() for f in src.schema.fields}
    out_schema = ", ".join(
        [f"`{c}` {types[c]}" for c in cols]
        + ["kind string", "pid int",
           "check_id string", "observed string", "expected string"]
    )
    out_cols = [*cols, "kind", "pid", "check_id", "observed", "expected"]

    # Arrow->pandas converts an integral column to float64 whenever the
    # batch contains a NULL (and shift() widens native int64 the same
    # way), which would format violations as '3.0' and break byte-parity
    # with the window variant; use nullable ints throughout.
    # (Caveat: integral values beyond 2^53 in a null-containing batch
    # have already lost precision in that float hop.)
    int_cols = [
        f.name for f in src.schema.fields
        if f.dataType.simpleString() in ("tinyint", "smallint", "int", "bigint")
    ]

    def nullable_ints(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.astype({c: "Int64" for c in int_cols})

    def part(it):
        # each batch is compared against its shift(1), with the previous
        # batch's last row prepended so the batch-boundary pair is covered
        pid = TaskContext.get().partitionId()
        carry = None  # one-row DataFrame: last row of the previous batch
        first = None
        for pdf in it:
            if len(pdf) == 0:
                continue
            pdf = nullable_ints(pdf)
            if first is None:
                first = pdf.iloc[[0]]
            work = pdf if carry is None else pd.concat(
                [carry, pdf], ignore_index=True
            )
            v = ordering_pair_violations(work, work.shift(1), gc, order_col, ts_col)
            if len(v):
                yield v.assign(kind="v", pid=pid)[out_cols]
            carry = work.iloc[[-1]]
        if first is not None:
            yield pd.concat([first, carry], ignore_index=True).assign(
                kind=["first", "last"], pid=pid,
                check_id=None, observed=None, expected=None,
            )[out_cols]

    # localCheckpoint (eager), NOT persist(): the two downstream reads
    # share the materialized blocks, and the ContextCleaner reclaims them
    # once the returned DataFrame is dereferenced — an explicit persist
    # would pin executor storage forever with no handle for the caller
    # to unpersist.
    res = rp.mapInPandas(part, out_schema).localCheckpoint()
    final = [*gc, order_col, "check_id", "observed", "expected"]
    inner = res.where(F.col("kind") == "v").select(*final)

    # boundary pairs: last(p) x first(next non-empty p) — bounded by the
    # partition count, never by data volume
    bounds = nullable_ints(
        res.where(F.col("kind") != "v").select(*cols, "kind", "pid").toPandas()
    ).sort_values(["pid", "kind"], ignore_index=True)
    firsts = bounds[bounds["kind"] == "first"].iloc[1:].reset_index(drop=True)
    lasts = bounds[bounds["kind"] == "last"].iloc[:-1].reset_index(drop=True)
    edges = ordering_pair_violations(firsts, lasts, gc, order_col, ts_col)
    edge_schema = ", ".join(
        [f"`{c}` {types[c]}" for c in (*gc, order_col)]
        + ["check_id string", "observed string", "expected string"]
    )
    return inner.unionByName(spark.createDataFrame(edges[final], edge_schema))

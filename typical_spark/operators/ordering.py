"""Per-group ordering checks: monotonicity / contiguity / gap detection.

No reference analog (typical validates one value at a time); required by
the input_hint's stable-turn-ordering invariant (SURVEY.md Table B,
"Window functions" row). Each row is compared with the previous row of
its group in (order, ts) order; each violation class is a cheap
comparison of the two.

`ordering_checks` is the only definition of the checks and their
observed/expected text. Every path only supplies each row's previous
(order, ts) and hands the pairs to `pair_violations`, one exploded
`ordering_checks` array:

  ordering_violations            — lag() over a window on the group (the
                                   fused `full_validation` pass lags the
                                   same way and embeds the same entries)
  ordering_violations_skew_safe  — lag() over (group, order DIV
                                   CHUNK_TURNS), plus one lag over the
                                   chunks' last rows for each chunk's
                                   first row
  streaming.stateful             — the buffered, sorted session's shift(1)

Scale: the window variant shuffles on `group_cols` (conv_id) and is the
right default — conversations are bounded (≲10^4 turns), so per-group
state is tiny. A group cannot be salted without breaking its order, but
it can be chunked by order value: the skew-safe twin windows each
CHUNK_TURNS-wide chunk of a group on its own, and only one boundary row
per chunk (its min and max (order, ts)) meets the group again, so no
window partition holds more than a chunk of a pathological 10^9-turn
group.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from typical_spark.plans.validation import (
    explode_violations,
    keyed_entry,
    violation_array,
)
from typical_spark.sql_text import path

# Width of the order-value chunk the skew-safe twin windows on its own: a
# typical conversation (≲10^4 turns) is one chunk, and a 10^9-turn group
# is 10^5, whose boundary rows one task lags cheaply.
CHUNK_TURNS = 10_000

PREV_ORDER, PREV_TS = "_prev_o", "_prev_ts"


def ordering_checks(
    order_col: str,
    ts_col: str | None,
    prev_order: str,
    prev_ts: str | None,
    contiguous: bool = True,
    ts_monotonic: bool = True,
) -> dict[str, str]:
    """The turn-ordering checks as fused-array entries (SQL text), by
    check id (`keyed_entry`): one per check, comparing each row with the
    previous row of its group (`prev_order` / `prev_ts`, lagged columns
    that are NULL on a group's first row).

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
    o, po = path(order_col), path(prev_order)
    d = f"({o} - {po})"
    checks = keyed_entry("order_duplicate", f"{po} IS NOT NULL AND {d} = 0",
                         order_col, f"CAST({o} AS STRING)", f"concat('!= prev ', {po})")
    if contiguous:
        checks |= keyed_entry("order_gap", f"{po} IS NOT NULL AND {d} > 1", order_col,
                              f"CAST({o} AS STRING)", f"concat('prev + 1 = ', {po} + 1)")
    if ts_col and ts_monotonic:
        t, pt = path(ts_col), path(prev_ts)
        checks |= keyed_entry(
            "ts_out_of_order",
            f"{pt} IS NOT NULL AND {t} IS NOT NULL AND {t} < {pt} AND {d} > 0",
            order_col, f"CAST({t} AS STRING)",
            f"concat('>= prev ts ', CAST({pt} AS STRING))")
    return checks




def pair_violations(
    lagged: DataFrame,
    keys: Sequence[str],
    order_col: str,
    ts_col: str | None,
    contiguous: bool = True,
    ts_monotonic: bool = True,
) -> DataFrame:
    """The ordering violations of `lagged`, whose rows carry their
    previous row's order value and timestamp as `PREV_ORDER` and
    `PREV_TS` (NULL where there is none): one `ordering_checks` array,
    exploded. Output: keys…, check_id, observed, expected."""
    arr = violation_array([*ordering_checks(
        order_col, ts_col, PREV_ORDER, PREV_TS, contiguous, ts_monotonic,
    ).values()])
    return explode_violations(lagged, keys, arr).drop("column")


def _lags(keys: Sequence[str], w: Window) -> list[Column]:
    """The previous row's (order, ts) in `w`, as PREV_ORDER / PREV_TS."""
    return [F.lag(c).over(w).alias(p) for c, p in zip(keys, (PREV_ORDER, PREV_TS))]


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
    keys = [order_col] + ([ts_col] if ts_col else [])
    w = Window.partitionBy(*group_cols).orderBy(*keys)
    return pair_violations(
        df.select(*group_cols, *keys, *_lags(keys, w)), [*group_cols, order_col],
        order_col, ts_col, require_contiguous, require_ts_monotonic,
    )


def ordering_violations_skew_safe(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    ts_col: str | None = None,
) -> DataFrame:
    """Hot-group-proof twin of ordering_violations: the same rows, but
    no window holds a whole group. Rows lag within their chunk (group,
    order DIV CHUNK_TURNS); each chunk's first row, whose lag there is
    NULL, takes the previous non-empty chunk's last (order, ts) from a
    lag over one row per chunk. A NULL order value is its own chunk and
    sorts first, as in the window. Of the rows tied on a chunk's minimum
    (order, ts), the window lags one to the previous chunk and the rest
    to their tie; the chunk lag does the same for all but one, whose NULL
    lag emits nothing, and the chunk's head row stands in for that one."""
    gc = list(group_cols)
    keys = [order_col] + ([ts_col] if ts_col else [])
    rows = df.select(*gc, *keys, F.expr(f"{path(order_col)} DIV {CHUNK_TURNS}").alias("_chunk"))
    inner = rows.select(
        *gc, *keys, *_lags(keys, Window.partitionBy(*gc, "_chunk").orderBy(*keys)))
    ends = rows.groupBy(*gc, "_chunk").agg(
        F.min(F.struct(*keys)).alias("_first"), F.max(F.struct(*keys)).alias("_last"))
    by_chunk = Window.partitionBy(*gc).orderBy("_chunk")
    heads = ends.select(*gc, "_first.*", *_lags([f"_last.{c}" for c in keys], by_chunk))
    return pair_violations(inner.unionByName(heads), [*gc, order_col], order_col, ts_col)

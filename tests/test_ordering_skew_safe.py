"""ordering_violations_skew_safe must emit the same violations as the
window variant — without any per-group window (hot-group-proof)."""

import datetime as dt
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from test_stateful_streaming import _run_stream, _write_sentinel

from typical_spark import compile_table_spec
from typical_spark.operators.ordering import (
    ordering_violations,
    ordering_violations_skew_safe,
)
from typical_spark.pipeline import full_validation
from typical_spark.specs import transcript_spec


def _rows(df):
    return sorted(
        tuple(r) for r in df.select(
            "conv_id", "turn_idx", "check_id", "observed", "expected"
        ).collect()
    )


def test_skew_safe_equals_window_on_clean_fixture(spark):
    t0 = dt.datetime(2025, 1, 1)
    rows = []
    for c in range(40):
        ts = t0
        idx = 0
        for j in range(25):
            idx += 2 if (c + j) % 11 == 0 else 1          # planted gaps
            ts += dt.timedelta(seconds=-30 if (c * j) % 17 == 3 else 60)  # planted ts regressions
            rows.append((f"c{c:04d}", idx, ts))
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp")
    win = ordering_violations(df, ["conv_id"], "turn_idx", ts_col="ts")
    ss = ordering_violations_skew_safe(
        df, ["conv_id"], "turn_idx", ts_col="ts", num_partitions=7
    )
    assert _rows(win) == _rows(ss)
    assert len(_rows(win)) > 0  # fixture actually plants violations


def test_skew_safe_hot_group_split_across_partitions(spark):
    """One group with 60k rows, forced across 16 range partitions: every
    violation (including pairs that straddle partition boundaries) must
    still be found, and no window shuffle on the group key exists."""
    t0 = dt.datetime(2025, 1, 1)
    rows = []
    idx = 0
    for j in range(60000):
        idx += 3 if j % 9999 == 0 else 1                  # 7 gaps
        rows.append(("hot", idx, t0 + dt.timedelta(seconds=j)))
    rows.append(("cold", 1, t0))
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp")
    ss = ordering_violations_skew_safe(
        df, ["conv_id"], "turn_idx", ts_col="ts", num_partitions=16
    )
    got = _rows(ss)
    want = _rows(ordering_violations(df, ["conv_id"], "turn_idx", ts_col="ts"))
    assert got == want
    assert len(got) == 6  # gaps at j=9999k for k=1..6 (j=0 precedes the first pair)


def test_skew_safe_matches_on_dirty_transcripts(spark, transcripts_df):
    """On the real dirty fixture (has order ties), the tie-order-
    independent classes must agree exactly."""
    keyed = transcripts_df.where(F.col("conv_id").isNotNull())
    win = ordering_violations(keyed, ["conv_id"], "turn_idx", ts_col="ts")
    ss = ordering_violations_skew_safe(
        keyed, ["conv_id"], "turn_idx", ts_col="ts"
    )

    def stable(df):
        return sorted(
            tuple(r) for r in df.where(
                F.col("check_id").isin("order_duplicate", "order_gap")
            ).select("conv_id", "turn_idx", "check_id").collect()
        )

    assert stable(win) == stable(ss)
    # ts check counts may differ only at tie boundaries; they must be close
    n_win = win.where("check_id = 'ts_out_of_order'").count()
    n_ss = ss.where("check_id = 'ts_out_of_order'").count()
    assert abs(n_win - n_ss) <= max(5, int(0.01 * max(n_win, 1)))


ORDERING_IDS = ("order_duplicate", "order_gap", "ts_out_of_order")


def _parity_rows():
    """Tie-free conversations: a repeated turn_idx is always an exact
    copy (same ts), so every path sees the same previous row. Planted:
    gaps, ts regressions (some sub-second), duplicates, one NULL
    turn_idx and one NULL ts in some conversations, and NULL-conv rows."""
    t0 = dt.datetime(2025, 1, 1)
    rows = []
    for c in range(30):
        conv = f"c{c:08d}"
        ts = t0 + dt.timedelta(minutes=c)
        idx = 0
        for j in range(20):
            idx += 2 if (c + j) % 7 == 0 else 1
            step = -1.25 if (c * j) % 13 == 5 else 3.5
            ts += dt.timedelta(seconds=step)
            rows.append((conv, idx, ts))
            if (c + j) % 11 == 0:
                rows.append((conv, idx, ts))
        if c % 3 == 0:
            rows.append((conv, None, t0 + dt.timedelta(minutes=c, seconds=2)))
        if c % 4 == 1:
            rows.append((conv, idx + 1, None))
    rows += [(None, 1, t0), (None, 2, t0)]
    return [(cv, i, "user", "hi", None, t) for cv, i, t in rows]


def test_four_ordering_paths_agree(spark):
    """The window operator, the fused flagship pass, the skew-safe twin
    and the stateful stream emit byte-identical ordering violations."""
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    df = spark.createDataFrame(_parity_rows(), schema)
    keyed = df.where(F.col("conv_id").isNotNull())

    win = _rows(ordering_violations(keyed, ["conv_id"], "turn_idx", ts_col="ts"))
    fused = _rows(
        full_validation(compile_table_spec(transcript_spec()), df)
        .where(F.col("check_id").isin(*ORDERING_IDS))
    )
    ss = _rows(ordering_violations_skew_safe(
        keyed, ["conv_id"], "turn_idx", ts_col="ts", num_partitions=7
    ))
    d = tempfile.mkdtemp(prefix="ordering_parity_")
    try:
        df.repartition(3).write.mode("overwrite").parquet(d)
        _write_sentinel(spark, d)
        stream = _rows(_run_stream(spark, d, schema, "ordering_parity"))
    finally:
        shutil.rmtree(d, ignore_errors=True)

    assert {r[2] for r in win} == set(ORDERING_IDS)
    assert any(r[1] is None for r in df.collect())  # NULL turn_idx present
    assert fused == win
    assert ss == win
    assert stream == win

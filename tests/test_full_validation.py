"""full_validation — the fused flagship pass — pinned two ways on the
dirty transcript fixture plus hand-written edge rows (NULL conv_id, NULL
turn_idx, NULL ts, duplicate keys, gaps, ts regressions):

- violation counts by check equal the single-node `oracle.py`
  references;
- violation rows equal, as a multiset, the union of the standalone
  operators it fuses: plan.violations, duplicate_rows,
  ordering_violations and referential_violations.
"""

from collections import Counter

import pandas as pd
import pytest
from pyspark.sql import functions as F

from typical_spark import compile_table_spec, oracle
from typical_spark.operators.ordering import ordering_violations
from typical_spark.operators.referential import referential_violations
from typical_spark.operators.uniqueness import duplicate_rows
from typical_spark.pipeline import full_validation
from typical_spark.sources.transcripts import generate_conversations_pdf
from typical_spark.specs import transcript_spec

COLS = ["conv_id", "turn_idx", "check_id", "observed", "expected"]
SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp"
)

T0 = pd.Timestamp("2025-03-01 12:00:00")


def _s(sec):
    return T0 + pd.Timedelta(seconds=sec)


# (conv_id, turn_idx, ts); role/text/tool are filled in valid
EDGE_ROWS = [
    # duplicate key (1), gap 1 -> 4 with a ts regression, NULL turn_idx,
    # NULL ts on a turn that follows the gap
    ("c90000001", 0, _s(0)),
    ("c90000001", 1, _s(5)),
    ("c90000001", 1, _s(7)),
    ("c90000001", 4, _s(3)),
    ("c90000001", None, _s(1)),
    ("c90000001", 5, None),
    ("c90000001", 6, _s(9)),
    # duplicate key whose first occurrence has a NULL ts (sorts first),
    # then a ts regression, then a sub-second regression
    ("c90000002", 0, _s(10)),
    ("c90000002", 1, None),
    ("c90000002", 1, _s(20)),
    ("c90000002", 2, _s(15)),
    ("c90000002", 3, _s(14.25)),
    # NULL conv_id: a duplicate key among themselves, never ordered
    (None, 3, _s(0)),
    (None, 3, _s(1)),
    (None, None, None),
    # conv missing from the conversations table
    ("c90000003", 0, _s(0)),
    ("c90000003", 2, _s(0)),
]


@pytest.fixture(scope="module")
def frames(spark, transcripts_pdf):
    edge = pd.DataFrame(EDGE_ROWS, columns=["conv_id", "turn_idx", "ts"])
    edge["role"] = "user"
    edge["text"] = "hello"
    edge["tool"] = None
    pdf = pd.concat(
        [transcripts_pdf, edge[transcripts_pdf.columns]], ignore_index=True
    )
    pdf["turn_idx"] = pdf["turn_idx"].astype("Int32")
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    conv = generate_conversations_pdf(transcripts_pdf)
    conv = pd.concat(
        [conv, pd.DataFrame({"conv_id": ["c90000001", "c90000002"]})],
        ignore_index=True,
    )[["conv_id"]]
    tdf = spark.createDataFrame(pdf, SCHEMA).cache()
    cdf = spark.createDataFrame(conv, "conv_id string")
    return pdf, conv, tdf, cdf


@pytest.fixture(scope="module")
def fused(frames):
    _, _, tdf, cdf = frames
    plan = compile_table_spec(transcript_spec())
    return plan, full_validation(plan, tdf, cdf).select(*COLS).collect()


def _reference_counts(pdf: pd.DataFrame, conv: pd.DataFrame) -> dict:
    """Counts by check from `oracle.py`, composed as the benchmark's
    expected-counts reference does."""
    by_check: Counter = Counter()
    frame = pdf[["conv_id", "turn_idx", "role", "text", "tool", "ts"]].astype(object)
    frame = frame.where(pd.notna(frame), None)
    by_check.update(oracle.transcript_violations(frame)["check_id"])
    # the fused pass breaks turn_idx ties by (ts, role), NULLs first;
    # ordering_violations_ref sorts stably, so pre-sort to the same order.
    # Its own sort puts NULL turn_idx last; as float NaN those rows then
    # fail every comparison, exactly as a NULL delta does in Spark.
    ordered = pdf.astype({"turn_idx": "float64"}).sort_values(
        ["conv_id", "turn_idx", "ts", "role"], na_position="first", kind="mergesort"
    )
    by_check.update(oracle.ordering_violations_ref(ordered)["check_id"])
    by_check["unique_key"] = int(
        len(pdf) - pdf.groupby(["conv_id", "turn_idx"], dropna=False).ngroups
    )
    known = set(conv["conv_id"])
    by_check["referential"] = int(
        (pdf["conv_id"].notna() & ~pdf["conv_id"].isin(known)).sum()
    )
    return {k: v for k, v in by_check.items() if v}


def test_full_validation_counts_match_oracle(frames, fused):
    pdf, conv, _, _ = frames
    _, rows = fused
    got = dict(Counter(r["check_id"] for r in rows))
    want = _reference_counts(pdf, conv)
    assert got == want
    # the fixture exercises every fused check class
    assert {"unique_key", "order_duplicate", "order_gap", "ts_out_of_order",
            "referential", "not_null"} <= set(got)


def test_full_validation_equals_standalone_operators(frames, fused):
    _, _, tdf, cdf = frames
    plan, rows = fused
    key = list(plan.spec.key_columns)
    rows_part = plan.violations(tdf, with_message=False).select(*COLS)
    dups = duplicate_rows(tdf, key, order_by=["ts", "role"]).select(
        "conv_id", "turn_idx",
        F.lit("unique_key").alias("check_id"),
        F.col("dup_rank").cast("string").alias("observed"),
        F.lit(f"unique {tuple(key)}").alias("expected"),
    )
    order = ordering_violations(
        tdf.where(F.col("conv_id").isNotNull()), ["conv_id"], "turn_idx",
        ts_col="ts",
    ).select(*COLS)
    ref = referential_violations(tdf, cdf, ["conv_id"]).select(
        "conv_id", "turn_idx",
        F.lit("referential").alias("check_id"),
        F.col("conv_id").alias("observed"),
        F.lit("conv_id exists in conversations").alias("expected"),
    )
    want = Counter(
        tuple(r) for part in (rows_part, dups, order, ref) for r in part.collect()
    )
    assert Counter(tuple(r) for r in rows) == want


def test_full_validation_edge_rows_pinned(fused):
    """The hand-written rows' ordering verdicts, spelled out: NULL
    turn_idx and NULL ts rows emit nothing but still become the next
    row's previous row."""
    _, rows = fused
    got = sorted(
        tuple(r) for r in rows
        if r["conv_id"] in ("c90000001", "c90000002")
        and r["check_id"] in ("order_duplicate", "order_gap", "ts_out_of_order")
    )
    assert got == sorted([
        ("c90000001", 1, "order_duplicate", "1", "!= prev 1"),
        ("c90000001", 4, "order_gap", "4", "prev + 1 = 2"),
        ("c90000001", 4, "ts_out_of_order", "2025-03-01 12:00:03",
         ">= prev ts 2025-03-01 12:00:07"),
        ("c90000002", 1, "order_duplicate", "1", "!= prev 1"),
        ("c90000002", 2, "ts_out_of_order", "2025-03-01 12:00:15",
         ">= prev ts 2025-03-01 12:00:20"),
        ("c90000002", 3, "ts_out_of_order", "2025-03-01 12:00:14.25",
         ">= prev ts 2025-03-01 12:00:15"),
    ])


def test_dirty_dim_gives_the_same_rows(spark, frames, fused):
    """A conversations table with duplicate and NULL conv_ids gives the
    rows of the deduplicated one: EXISTS and the anti join need no
    distinct keys, a NULL dim key matches nothing, and a missing conv
    still fails (the EXISTS flag is false, never NULL, so a NULL in the
    dim cannot hide a miss the way it does in NOT IN). NULL-conv turns
    take no referential check."""
    _, conv, tdf, cdf = frames
    plan, rows = fused
    dirty = pd.concat(
        [conv, conv.head(40), pd.DataFrame({"conv_id": [None, None]})],
        ignore_index=True,
    )
    assert dirty["conv_id"].duplicated().any() and dirty["conv_id"].isna().any()
    ddf = spark.createDataFrame(dirty, "conv_id string")

    got = full_validation(plan, tdf, ddf).select(*COLS).collect()
    assert Counter(tuple(r) for r in got) == Counter(tuple(r) for r in rows)
    referential = [r for r in got if r["check_id"] == "referential"]
    assert referential and all(r["conv_id"] is not None for r in referential)

    def anti(dim):
        rows = referential_violations(tdf, dim, ["conv_id"]).collect()
        return Counter(tuple(r) for r in rows)

    assert anti(ddf) == anti(cdf)


def test_bucketed_table_gives_the_same_rows(spark, frames, fused):
    """The same edge rows written bucketed by conv_id (every NULL-conv
    turn in one bucket, the windows' Exchange and Sort elided) give the
    same full_validation rows as the plain frame."""
    from typical_spark.sources.tables import write_bucketed

    _, _, tdf, cdf = frames
    plan, rows = fused
    try:
        write_bucketed(
            tdf.repartition(4, "conv_id"), "bk_edge", ["conv_id"], n_buckets=4,
            sort_cols=["conv_id", "turn_idx", "ts", "role"],
        )
        bucketed = spark.table("bk_edge")
        got = full_validation(plan, bucketed, cdf).select(*COLS).collect()
        assert Counter(tuple(r) for r in got) == Counter(tuple(r) for r in rows)
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_edge")

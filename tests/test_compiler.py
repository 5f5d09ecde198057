"""Golden I/O matrices per check kernel — mirrors the reference's dominant
test style (parametrized (spec, input, expected) tables,
reference tests/test_typed.py:56-157, tests/constraints/test_number.py:17-99).
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from typical_spark.compiler import compile_table_spec
from typical_spark.specs import (
    ArrayCheck,
    EnumCheck,
    FieldSpec,
    NotNullCheck,
    NumberCheck,
    TableSpec,
    TextCheck,
    TimestampRangeCheck,
)


def run_check(spark, dtype, checks, values, nullable=True):
    """Apply a single-field spec to a list of values; return the set of
    (row_id, check_id) violations."""
    spec = TableSpec(
        name="t",
        key_columns=("row_id",),
        fields=(FieldSpec("v", dtype, nullable=nullable, checks=tuple(checks)),),
    )
    plan = compile_table_spec(spec)
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], f"row_id int, v {dtype}"
    )
    vio = plan.violations(df, with_message=False)
    return {(r["row_id"], r["check_id"]) for r in vio.collect()}


# (checks, dtype, values, expected {(idx, check_id)})
NUMBER_CASES = [
    ([NumberCheck(ge=0)], "int", [0, 1, -1, None], {(2, "number_range")}),
    ([NumberCheck(gt=0, lt=10)], "int", [1, 9, 0, 10, None],
     {(2, "number_range"), (3, "number_range")}),
    ([NumberCheck(le=5)], "double", [5.0, 5.0001], {(1, "number_range")}),
    ([NumberCheck(multiple_of=3)], "int", [0, 3, 4], {(2, "number_range")}),
    ([NotNullCheck(), NumberCheck(ge=0)], "int", [None, -2],
     {(0, "not_null"), (1, "number_range")}),
]


@pytest.mark.parametrize("checks,dtype,values,expected", NUMBER_CASES)
def test_number_kernels(spark, checks, dtype, values, expected):
    assert run_check(spark, dtype, checks, values) == expected


def test_number_bounds_exact_above_2p53(spark):
    """Bounds on bigint values compare NATIVELY — a blanket
    try_cast('double') view would round 2^53+1 and 2^53+2 to the same
    double and merge adjacent bounds (ADVICE r3: typed columns must keep
    exact comparisons; the cast is only for untyped/string carriers)."""
    from typical_spark.specs import ArrayElementsCheck

    big = (1 << 53) + 1  # rounds DOWN to 2^53 as a double
    # named bigint column: ge = big+1 must flag big but not big+1
    got = run_check(
        spark, "bigint", [NumberCheck(ge=big + 1)], [big, big + 1, None]
    )
    assert got == {(0, "number_range")}
    # array<bigint> elements (the scalar_violation_pred path): same bound
    got = run_check(
        spark, "array<bigint>",
        [ArrayElementsCheck(inner=NumberCheck(ge=big + 1))],
        [[big], [big + 1]],
    )
    assert got == {(0, "elements_number_range")}
    # untyped carrier keeps the safe try_cast path (no crash on junk)
    got = run_check(
        spark, "array<string>",
        [ArrayElementsCheck(inner=NumberCheck(ge=0))],
        [["1", "junk"], ["2"]],
    )
    assert got == {(0, "elements_number_range")}


TEXT_CASES = [
    ([TextCheck(min_length=2, max_length=4)], "string",
     ["ab", "abcd", "a", "abcde", None, ""],
     {(2, "text_length"), (3, "text_length"), (5, "text_length")}),
    # anchored-at-start match (re.match semantics, reference text.py:41-42)
    ([TextCheck(regex=r"c[0-9]+$")], "string",
     ["c123", "xc123", "c", None], {(1, "text_regex"), (2, "text_regex")}),
    # strip_whitespace mutates before checking (reference text.py:50-52)
    ([TextCheck(strip_whitespace=True, max_length=3)], "string",
     ["  ab  ", "abcd  "], {(1, "text_length")}),
    # curtail_length truncates => never violates max (reference text.py:48-50)
    ([TextCheck(curtail_length=3, max_length=3)], "string",
     ["abcdefg"], set()),
]


@pytest.mark.parametrize("checks,dtype,values,expected", TEXT_CASES)
def test_text_kernels(spark, checks, dtype, values, expected):
    assert run_check(spark, dtype, checks, values) == expected


def test_enum_kernel(spark):
    # reference common.py:472-561 membership; null passes (nullable
    # short-circuit common.py:272-287)
    got = run_check(
        spark, "string", [EnumCheck(values=("a", "b"))], ["a", "b", "c", None, ""]
    )
    assert got == {(2, "enum"), (4, "enum")}


def test_ts_range_kernel(spark):
    got = run_check(
        spark,
        "timestamp",
        [TimestampRangeCheck(min_ts=dt.datetime(2020, 1, 1), max_ts=dt.datetime(2021, 1, 1))],
        [dt.datetime(2020, 6, 1), dt.datetime(2019, 12, 31),
         dt.datetime(2021, 1, 1), None],
    )
    assert got == {(1, "ts_range"), (2, "ts_range")}


def test_array_kernels(spark):
    got = run_check(
        spark,
        "array<int>",
        [ArrayCheck(min_items=1, max_items=3, reject_dupes=True)],
        [[1], [], [1, 2, 3, 4], [1, 1], None],
    )
    assert got == {(1, "array_size"), (2, "array_size"), (3, "array_unique")}


def test_array_unique_mutating_dedup(spark):
    # reference semantics: unique=True DEDUPS rather than rejects
    # (array.py:139-141) — size check runs on the deduped value
    got = run_check(
        spark, "array<int>",
        [ArrayCheck(unique=True, max_items=2)],
        [[1, 1, 1], [1, 2, 3]],
    )
    assert got == {(1, "array_size")}


def test_violation_message_format(spark):
    """Message mirrors ConstraintValueError format
    '{field}: value <{v}> fails constraints: {constraints}'
    (reference typic/constraints/common.py:169-173)."""
    spec = TableSpec(
        name="t", key_columns=("row_id",),
        fields=(FieldSpec("v", "int", checks=(NumberCheck(ge=0),)),),
    )
    plan = compile_table_spec(spec)
    df = spark.createDataFrame([(1, -5)], "row_id int, v int")
    row = plan.violations(df).collect()[0]
    assert row["message"] == "v: value <-5> fails constraints: number: ge=0"


def test_split_and_valid_predicate(spark, transcripts_df):
    from typical_spark.specs import transcript_spec

    plan = compile_table_spec(transcript_spec())
    valid, invalid = plan.split(transcripts_df)
    n_valid, n_invalid = valid.count(), invalid.count()
    assert n_valid + n_invalid == transcripts_df.count()
    # valid_predicate agrees with split
    assert transcripts_df.where(plan.valid_predicate()).count() == n_valid


def test_strict_mode_raw_string_carrier_no_ansi_crash(spark):
    """Strict mode runs checks on the RAW column, which may be a string
    regardless of the declared dtype. The declared-type exactness path
    must try_cast (NULL on junk), never compare the bare column — a
    bare compare would ANSI-cast 'abc' and kill the job."""
    from typical_spark.specs import TableSpec, UnionCheck

    spec = TableSpec(
        name="t", key_columns=("row_id",),
        fields=(FieldSpec(
            "v", "bigint",
            checks=(UnionCheck(members=(NumberCheck(ge=0),)),),
        ),),
    )
    plan = compile_table_spec(spec, mode="strict")
    df = spark.createDataFrame(
        [(0, "5"), (1, "abc"), (2, "-3")], "row_id int, v string"
    )
    got = {(r["row_id"], r["check_id"])
           for r in plan.violations(df, with_message=False).collect()}
    # junk and out-of-range flag the union check; '5' passes it (the
    # strict_type mismatch is a separate check class)
    assert {(1, "union"), (2, "union")} <= got
    assert not any(rid == 0 and cid == "union" for rid, cid in got)


def test_decimal_declared_dtype_raw_carrier_no_scale_rounding(spark):
    """A string->decimal cast ROUNDS to the target scale ('1.5' ->
    decimal(10,0) = 2). Strict mode runs bound checks on the RAW
    carrier, so a decimal-declared field with lt=2 must evaluate 1.5,
    not the rounded 2 — the comparison cast widens the scale
    (decimal(38,18)) instead of using the declared decimal."""
    from typical_spark.specs import TableSpec, UnionCheck

    spec = TableSpec(
        name="t", key_columns=("row_id",),
        fields=(FieldSpec(
            "v", "decimal(10,0)",
            checks=(NumberCheck(lt=2),),
        ),),
    )
    plan = compile_table_spec(spec, mode="strict")
    df = spark.createDataFrame(
        [(0, "1.5"), (1, "2.4"), (2, "junk")], "row_id int, v string"
    )
    got = {(r["row_id"], r["check_id"])
           for r in plan.violations(df, with_message=False).collect()}
    # 1.5 < 2 passes (would flag if rounded to decimal(10,0)=2);
    # 2.4 >= 2 flags; 'junk' is unparseable -> NULL under try_cast, so
    # number_range stays silent on it (strict_type owns junk when the
    # field declares a coercion source; this one doesn't)
    assert not any(rid == 0 and cid == "number_range" for rid, cid in got)
    assert (1, "number_range") in got
    assert not any(rid == 2 and cid == "number_range" for rid, cid in got)

    # same widening on the union/value_ddl path
    spec_u = TableSpec(
        name="t", key_columns=("row_id",),
        fields=(FieldSpec(
            "v", "decimal(10,0)",
            checks=(UnionCheck(members=(NumberCheck(lt=2),)),),
        ),),
    )
    plan_u = compile_table_spec(spec_u, mode="strict")
    got_u = {(r["row_id"], r["check_id"])
             for r in plan_u.violations(df, with_message=False).collect()}
    assert not any(rid == 0 and cid == "union" for rid, cid in got_u)
    assert (1, "union") in got_u

    # typed decimal carriers still compare exactly (lossless widening)
    tdf = spark.sql(
        "SELECT * FROM VALUES (0, CAST(1 AS decimal(10,0))), "
        "(1, CAST(3 AS decimal(10,0))) AS t(row_id, v)"
    )
    got_t = {(r["row_id"], r["check_id"])
             for r in compile_table_spec(spec).violations(
                 tdf, with_message=False).collect()}
    assert not any(rid == 0 for rid, _ in got_t)
    assert (1, "number_range") in got_t


@pytest.mark.parametrize("ansi", ["true", "false"])
@pytest.mark.parametrize("check,expected", [
    (NumberCheck(ge=0), {(2, "number_range")}),
    (TimestampRangeCheck(min_ts=dt.datetime(2000, 1, 1)), {(3, "ts_range")}),
], ids=["number", "ts"])
def test_named_value_checks_on_string_field_under_both_ansi_modes(
    spark, ansi, check, expected
):
    """A field declared `string` reads NumberCheck through a double view
    and TimestampRangeCheck through a timestamp view, as nested checks do.
    Unparseable values give no row under either ANSI setting; comparing
    the raw string instead would ANSI-cast 'abc' and fail the job."""
    before = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
        got = run_check(spark, "string", [check], ["abc", "5", "-1", "1999-01-01"])
    finally:
        spark.conf.set("spark.sql.ansi.enabled", before)
    assert got == expected

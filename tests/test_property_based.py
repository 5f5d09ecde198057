"""Property-based testing (hypothesis): the compiled columnar checks must
agree with a trivially-correct per-value Python interpretation of the
same spec, for randomized specs x randomized data — beyond the
reference's golden-matrix style (SURVEY.md §5 notes it has no
property tests).

One Spark job per example is too slow, so each example builds a small
batch and the whole batch round-trips in one createDataFrame/collect.
Settings keep runtime bounded and deterministic (fixed seed derivation)."""

import math
import re

import pytest
from hypothesis import example, given, settings, strategies as st

from pyspark.sql import functions as F

from typical_spark.compiler import compile_table_spec
from typical_spark.specs import (
    EnumCheck,
    FieldSpec,
    NotNullCheck,
    NumberCheck,
    TableSpec,
    TextCheck,
    UnionCheck,
)

# -- reference interpreter (per-value Python, independent of compiler) ----


def interpret(checks, value):
    """Return set of check_ids the value violates (None short-circuits
    everything except not_null)."""
    out = set()
    for c in checks:
        if isinstance(c, NotNullCheck):
            if value is None:
                out.add("not_null")
            continue
        if value is None:
            continue
        if isinstance(c, NumberCheck):
            ok = True
            if c.gt is not None:
                ok &= value > c.gt
            if c.ge is not None:
                ok &= value >= c.ge
            if c.lt is not None:
                ok &= value < c.lt
            if c.le is not None:
                ok &= value <= c.le
            if not ok:
                out.add("number_range")
        elif isinstance(c, TextCheck):
            if c.min_length is not None or c.max_length is not None:
                lo = c.min_length or 0
                hi = c.max_length if c.max_length is not None else math.inf
                if not (lo <= len(value) <= hi):
                    out.add("text_length")
            if c.regex is not None and not re.match("^" + c.regex, value):
                out.add("text_regex")
        elif isinstance(c, EnumCheck):
            if value not in c.values:
                out.add("enum")
    return out


def wrapped(chk, as_union):
    """`chk`, or `chk` as the one member of a UnionCheck (the nested path)."""
    return UnionCheck(members=(chk,)) if as_union else chk


def expected_ids(checks, value, as_union):
    """interpret(), with a one-member union's row standing for any
    violation of its member; not_null stays outside the union."""
    out = interpret(checks, value)
    if as_union and out - {"not_null"}:
        out = (out & {"not_null"}) | {"union"}
    return out


# -- strategies ------------------------------------------------------------

number_checks = st.builds(
    NumberCheck,
    ge=st.one_of(st.none(), st.integers(-50, 50)),
    le=st.one_of(st.none(), st.integers(-50, 50)),
).filter(lambda c: c.ge is not None or c.le is not None)

int_values = st.lists(
    st.one_of(st.none(), st.integers(-100, 100)), min_size=1, max_size=12
)

text_checks = st.builds(
    TextCheck,
    min_length=st.one_of(st.none(), st.integers(0, 6)),
    max_length=st.one_of(st.none(), st.integers(0, 12)),
).filter(
    lambda c: (c.min_length is not None or c.max_length is not None)
    and (c.min_length or 0) <= (c.max_length if c.max_length is not None else 99)
)

text_values = st.lists(
    st.one_of(st.none(), st.text(alphabet="abxyz 0!", max_size=14)),
    min_size=1, max_size=12,
)

enum_checks = st.builds(
    EnumCheck,
    values=st.lists(
        st.sampled_from(["a", "b", "c", "dd", ""]), min_size=1, max_size=4,
        unique=True,
    ).map(tuple),
)


def run_plan(spark, dtype, checks, values):
    spec = TableSpec(
        name="t", key_columns=("row_id",),
        fields=(FieldSpec("v", dtype, checks=tuple(checks)),),
    )
    plan = compile_table_spec(spec)
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], f"row_id int, v {dtype}"
    )
    got = {}
    for r in plan.violations(df, with_message=False).collect():
        got.setdefault(r["row_id"], set()).add(r["check_id"])
    return got


@settings(max_examples=15, deadline=None)
@given(chk=number_checks, values=int_values, as_union=st.booleans())
@example(chk=NumberCheck(ge=0, le=10), values=[None, -1, 5, 11], as_union=True)
def test_number_checks_match_interpreter(spark, chk, values, as_union):
    got = run_plan(spark, "int", [NotNullCheck(), wrapped(chk, as_union)], values)
    for i, v in enumerate(values):
        want = expected_ids([NotNullCheck(), chk], v, as_union)
        assert got.get(i, set()) == want, (v, chk, as_union)


@settings(max_examples=15, deadline=None)
@given(chk=text_checks, values=text_values, as_union=st.booleans())
@example(chk=TextCheck(min_length=2, max_length=4), values=[None, "a", "abc", "abcde"],
         as_union=True)
def test_text_checks_match_interpreter(spark, chk, values, as_union):
    got = run_plan(spark, "string", [wrapped(chk, as_union)], values)
    for i, v in enumerate(values):
        want = expected_ids([chk], v, as_union)
        assert got.get(i, set()) == want, (v, chk, as_union)


@settings(max_examples=10, deadline=None)
@given(chk=enum_checks, values=text_values)
def test_enum_checks_match_interpreter(spark, chk, values):
    got = run_plan(spark, "string", [chk], values)
    for i, v in enumerate(values):
        assert got.get(i, set()) == interpret([chk], v), (v, chk)


# -- duration / time parse kernels: round-trip + reject properties --------


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 4000),   # days
            st.integers(0, 23), st.integers(0, 59), st.integers(0, 59),
            st.booleans(),          # negative
        ),
        min_size=1, max_size=30,
    )
)
def test_duration_roundtrip_property(spark, batches):
    """serialize(total_seconds) |> parse == total_seconds, for any
    d/h/m/s composition and sign (one Spark job per example batch)."""
    from typical_spark.functions.coerce import iso_duration_seconds
    from typical_spark.serde import iso_duration_from_seconds

    totals = [
        (-1 if neg else 1) * (d * 86400 + h * 3600 + m * 60 + s)
        for d, h, m, s, neg in batches
    ]
    df = spark.createDataFrame([(t,) for t in totals], "secs long")
    out = df.select(
        "secs",
        iso_duration_seconds(iso_duration_from_seconds(F.col("secs"))).alias("back"),
    ).collect()
    for row in out:
        assert row["back"] == float(row["secs"])


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet="PTDHMS0123456789.:- dhmsx",
            min_size=0, max_size=18,
        ),
        min_size=1, max_size=40,
    )
)
def test_duration_parse_never_throws_and_rejects_garbage(spark, raws):
    """The strict grammar must parse-or-NULL any input without throwing
    (ANSI session included), and must never return a value for strings
    that a reference Python parser rejects."""
    import re as _re

    from typical_spark.functions.coerce import iso_duration_seconds

    pat = _re.compile(
        r"^-?P(?:(\d+)D)?(?:T(?:(\d+)H)?(?:(\d+)M)?(?:(\d+(?:\.\d+)?)S)?)?$",
        _re.IGNORECASE,
    )

    def ref(s):
        if s is None:
            return None
        t = s.strip().upper()
        m = pat.match(t)
        if not m or not any(ch.isdigit() for ch in t):
            return None
        d, h, mi, se = (float(g) if g else 0.0 for g in m.groups())
        sign = -1.0 if t.startswith("-") else 1.0
        return sign * (d * 86400 + h * 3600 + mi * 60 + se)

    df = spark.createDataFrame([(r,) for r in raws], "s string")
    got = [
        r["v"]
        for r in df.select(iso_duration_seconds(F.col("s")).alias("v")).collect()
    ]
    assert got == [ref(r) for r in raws]

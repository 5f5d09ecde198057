"""Spec compiler: CheckSpec -> Catalyst SQL text -> ValidationPlan.

This is the distributed analog of typical's constraint factory + codegen
(reference: typic/constraints/factory.py:89-144 builds a Constraints tree;
typic/gen.py:59-203 string-templates a specialized Python validator that
contains ONLY the configured checks). We follow the same design: each
check's violation condition and observed value are templated as Catalyst
SQL text, and the plan joins them into one expression that the JVM
parses in one call. The compiled plan contains exactly the configured
predicates, nothing else, and every check runs JVM-side inside
whole-stage codegen instead of the Python interpreter. Building the same
expressions as `F.*` Columns costs three py4j round trips per call,
which made compiling the transcript spec take 206 of them; text takes
none until the plan is applied.

The text is written here, never printed back from a Column:
`ColumnNode.sql()` prints `and(…)`, `>=(a, b)` and bare timestamps,
which do not parse back. Literals and names go through `sql_text`.

Two inputs arrive as Columns: a field's coercion (`functions/coerce.py`)
and a registered custom check. The plan projects each once, under a
reserved name (`ValidationPlan.inputs`), below the check array, and the
check text refers to that name, so a coercion is evaluated once per row
however many checks read it.

Null semantics (reference typic/constraints/common.py:91,272-287): a null
value short-circuits every value-check — NULL is only ever reported by
NotNullCheck. Violation condition for a value-check C on column c is
therefore `c IS NOT NULL AND <C fails on c>`, which keeps each predicate
null-intolerant and pushdown-friendly.

Each scalar check kind (NotNull, Number, Text, Enum, TimestampRange,
Format, Decimal, Union) is defined once, by its branch of `_scalar_parts`:
check_id, expected text, failure predicate, observed value and typed view
(NULL = unparseable). The reference applies one constraint object to a
field and to each element nested in it (array.py:144-161); here too both
a named column (`compile_check`) and a nested value — union member,
tagged case, array element, map value (`scalar_violation_pred`) — use
that builder. The two call sites differ in exactly two ways:
  1. an unparseable view gives no row on a named column (`coerce` or
     `strict_type` reports it), but fails a nested value;
  2. a named TextCheck emits separate `text_length` and `text_regex`
     rows, a nested one is one predicate.

Violation rows mirror ConstraintValueError's message format
"{field}: value <{value!r}> fails constraints: {constraints}"
(reference typic/constraints/common.py:169-173) as structured fields
(column, check_id, observed, expected, message).
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import NamedTuple

from pyspark.sql import Column
from pyspark.sql import functions as F

from typical_spark.specs import (
    ArrayCheck,
    ArrayElementsCheck,
    Check,
    STRING_FORMATS,
    CustomCheck,
    DecimalCheck,
    EnumCheck,
    FieldSpec,
    FormatCheck,
    MapCheck,
    NotNullCheck,
    NumberCheck,
    TableSpec,
    TaggedCheck,
    TextCheck,
    TimestampRangeCheck,
    UnionCheck,
)
from typical_spark.sql_text import array, ident, in_list, literal, path, string


_NUMERIC_DDLS = {
    "tinyint", "byte", "smallint", "short", "int", "integer",
    "bigint", "long", "float", "real", "double",
}
_TEMPORAL_DDLS = {"timestamp", "timestamp_ntz", "timestamp_ltz", "date"}

# Names the compiled text uses for projected inputs and lambda
# variables; the prefix keeps them from shadowing a table's columns.
_RESERVED = "__typical_"
# lambda variables: an array element, a map key, a map value
_ELEM, _KEY, _VAL = (_RESERVED + n for n in ("elem", "key", "val"))


def _widened_decimal_ddl(ddl: str) -> str:
    """Comparison cast for a decimal-declared dtype. String->decimal
    casts ROUND to the target scale ('1.5' -> decimal(10,0) = 2), and
    strict mode runs checks on the RAW carrier, which may be a string —
    so bounds would be evaluated against the rounded value. Widen the
    scale as far as the declared integer digits allow (cap 18): typed
    decimal carriers cast losslessly (same integer digits, more scale),
    raw string carriers compare without scale rounding."""
    p, s = 10, 0
    inner = ddl.strip().lower().removeprefix("decimal").strip()
    if inner.startswith("(") and inner.endswith(")"):
        parts = [x.strip() for x in inner[1:-1].split(",")]
        p = int(parts[0])
        s = int(parts[1]) if len(parts) > 1 else 0
    scale = max(s, min(18, 38 - (p - s)))
    return f"decimal(38,{scale})"


def _number_view(v: str, ddl: str | None) -> str:
    """The value as a number. A declared numeric type compares natively
    (identity-folded on a typed carrier: a blanket double view loses
    exactness above 2^53, so `ge=2**53+2` would pass 2**53+1); a declared
    decimal reads through its widened scale; anything else through
    double. Always a try_cast: strict mode checks the RAW carrier, which
    may be a string, and a bare compare would ANSI-cast 'abc' and crash
    the job — try_cast gives NULL instead."""
    d = (ddl or "").strip().lower()
    if d.startswith("decimal"):
        return f"try_cast({v} AS {_widened_decimal_ddl(ddl)})"
    return f"try_cast({v} AS {ddl if d in _NUMERIC_DDLS else 'double'})"


def _timestamp_view(v: str, ddl: str | None) -> str:
    """The value as a timestamp: the declared temporal type, else
    `timestamp`; a try_cast for the same reason as `_number_view`."""
    known = ddl is not None and ddl.strip().lower() in _TEMPORAL_DDLS
    return f"try_cast({v} AS {ddl if known else 'timestamp'})"


def _out_of_range(x: str, lo: int | None, hi: int | None) -> str:
    """True iff the length or size `x` breaks a bound that is set. Only
    set bounds are written: a length or size is never negative, so an
    unset lower bound (0) needs no test, and `x` is evaluated once."""
    bad = ([f"{x} < {literal(lo)}"] if lo else []) + (
        [f"{x} > {literal(hi)}"] if hi is not None else [])
    return "(" + " OR ".join(bad) + ")" if bad else "FALSE"


def _text_length_out_of_range(v: str, lo: int | None, hi: int | None) -> str:
    """`_out_of_range` for the character length of the text `v`, with
    its O(1) byte length tested first: UTF-8 spends one to four bytes a
    character, so chars <= bytes <= 4 * chars, and `length(v)`, which
    reads every byte, runs only where the byte length cannot decide.
    NULL stays NULL, as with `length` alone."""
    b, n = f"octet_length({v})", f"length({v})"
    bad = ([f"{b} < {literal(lo)} OR ({b} < {literal(4 * lo)} AND {n} < {literal(lo)})"]
           if lo else []) + (
        [f"({b} > {literal(hi)} AND {n} > {literal(hi)})"] if hi is not None else [])
    return "(" + " OR ".join(bad) + ")" if bad else "FALSE"


def _anchored(pattern: str) -> str:
    """Anchor a regex at the start (re.match semantics, reference
    text.py:41-42), after a leading `(?i)` flag."""
    flag = "(?i)" if pattern.startswith("(?i)") else ""
    body = pattern[len(flag):]
    return flag + (body if body.startswith("^") else "^" + body)


def _array_elem_ddl(ddl: str | None) -> str | None:
    """'array<X>' -> 'X' (None when the ddl isn't a plain array)."""
    if ddl is None:
        return None
    s = ddl.strip()
    if s.lower().startswith("array<") and s.endswith(">"):
        return s[6:-1].strip()
    return None


def _not_all(oks: list[str]) -> str:
    """NOT (ok_1 AND ok_2 …): NULL when a test is NULL and none is false."""
    return f"NOT ({' AND '.join(oks)})" if oks else "FALSE"


class _Parts(NamedTuple):
    """One scalar check's meaning against one value (all SQL text).

    bad: true iff a non-null value fails (NULL when the value does not
    parse as the view's type); None for NotNull, the one check a NULL
    value fails (NULL short-circuits every other check, reference
    common.py:272-287).
    observed: what a violation row shows; None = the value as a string.
    view: the typed view the check reads, NULL when the value does not
    parse as that type.
    """

    check_id: str
    expected: str
    bad: str | None
    observed: str | None = None
    view: str | None = None


_SCALAR_CHECKS = (
    NotNullCheck, NumberCheck, TextCheck, EnumCheck, TimestampRangeCheck,
    FormatCheck, DecimalCheck, UnionCheck,
)


def _scalar_parts(chk: Check, v: str, value_ddl: str | None) -> list[_Parts]:
    """The one definition of every scalar check kind, against the value
    `v` (SQL text) whose declared Spark type is `value_ddl` (None =
    unknown). A TextCheck has one part per configured property (length,
    regex); every other kind has exactly one."""
    cid, desc = chk.check_id(), chk.describe()
    if isinstance(chk, NotNullCheck):
        return [_Parts(cid, desc, None, "CAST(NULL AS STRING)")]
    if isinstance(chk, NumberCheck):
        num = _number_view(v, value_ddl)
        oks = [f"{num} {op} {literal(bound)}"
               for op, bound in ((">", chk.gt), (">=", chk.ge), ("<", chk.lt), ("<=", chk.le))
               if bound is not None]
        if chk.multiple_of is not None:
            oks.append(f"{num} % {literal(chk.multiple_of)} = 0")
        return [_Parts(cid, desc, _not_all(oks), view=num)]
    if isinstance(chk, TimestampRangeCheck):
        ts = _timestamp_view(v, value_ddl)
        oks = ([f"{ts} >= {literal(chk.min_ts)}"] if chk.min_ts is not None else []) + (
            [f"{ts} < {literal(chk.max_ts)}"] if chk.max_ts is not None else [])
        return [_Parts(cid, desc, _not_all(oks), view=ts)]
    if isinstance(chk, TextCheck):
        out = []
        if chk.min_length is not None or chk.max_length is not None:
            ln = f"length({v})"
            out.append(_Parts("text_length",
                              f"{chk.min_length or 0} <= length <= {chk.max_length}",
                              _text_length_out_of_range(v, chk.min_length, chk.max_length),
                              f"CAST({ln} AS STRING)"))
        if chk.regex is not None:
            pat = _anchored(chk.regex)
            out.append(_Parts("text_regex", f"matches '{pat}'",
                              f"NOT rlike({v}, {string(pat)})"))
        return out
    if isinstance(chk, EnumCheck):
        return [_Parts(cid, desc, f"NOT {in_list(v, chk.values)}")]
    if isinstance(chk, FormatCheck):
        pat = _anchored(STRING_FORMATS[chk.format])
        return [_Parts(cid, desc, f"NOT rlike({v}, {string(pat)})")]
    if isinstance(chk, DecimalCheck):
        dec = f"try_cast({v} AS decimal({chk.max_digits},{chk.decimal_places}))"
        return [_Parts(cid, desc, f"{dec} IS NULL")]
    if isinstance(chk, UnionCheck):
        # fails iff every member fails
        bad = " AND ".join(scalar_violation_pred(m, v, value_ddl) for m in chk.members)
        return [_Parts(cid, desc, f"({bad})" if bad else "TRUE")]
    raise TypeError(f"not a scalar check: {type(chk).__name__}")


def scalar_violation_pred(chk: Check, v: str, value_ddl: str | None = None) -> str:
    """Violation predicate (SQL text) for a scalar check on a nested
    value: a union member, a tagged case, an array element or a map value
    (a lambda variable inside a higher-order function, not a named
    column). value_ddl: the value's declared Spark type when the caller
    knows it (array element type, map value type, the field's dtype)."""
    parts = _scalar_parts(chk, v, value_ddl)
    if any(p.bad is None for p in parts):
        return f"({v} IS NULL)"
    # Nested rule 2: a TextCheck's length and regex parts are one
    # predicate. Nested rule 1: an unparseable value fails the member or
    # element (there is no coerce/strict_type row to report it).
    bad = [f"{p.view} IS NULL" for p in parts if p.view is not None]
    bad += [f"({p.bad})" for p in parts]
    return f"({v} IS NOT NULL AND ({' OR '.join(bad) or 'FALSE'}))"


@dataclass(frozen=True)
class CompiledCheck:
    """One check compiled against one column, as Catalyst SQL text.

    violation_cond: boolean text — true iff this row violates the check.
    observed: string text — the offending value, stringified.
    """

    column: str
    check_id: str
    expected: str
    violation_cond: str
    observed: str


def _compiled(column: str, check_id: str, expected: str, cond: str,
              observed: str | None = None) -> CompiledCheck:
    """The one CompiledCheck constructor; `observed` defaults to the
    column's value as a string."""
    if observed is None:
        observed = f"CAST({path(column)} AS STRING)"
    return CompiledCheck(column, check_id, expected, cond, observed)


def _value_expr(fs: FieldSpec, base: str) -> str:
    """The (possibly transformed) value a field's checks run against,
    starting from `base`: the column, or its coerced value when the field
    declares a coercion (checks validate the post-transmute value,
    reference resolver.py:512-547 _finalize_deserializer ordering).
    Mutating pre-checks (strip_whitespace text.py:50-52, curtail_length
    text.py:48-50, array unique dedup array.py:139-141) are projections
    applied before predicates.
    """
    v = base
    for chk in fs.checks:
        if isinstance(chk, TextCheck):
            if chk.strip_whitespace:
                v = f"trim({v})"
            if chk.curtail_length is not None:
                v = f"substring({v}, 1, {literal(chk.curtail_length)})"
        elif isinstance(chk, ArrayCheck) and chk.unique:
            v = f"array_distinct({v})"
    return v


def compile_check(
    fs: FieldSpec, chk: Check, v: str, inputs: dict[str, Column]
) -> list[CompiledCheck]:
    """Compile one Check on the value `v` (SQL text) into
    CompiledCheck(s). Pure driver-side dispatch — the analog of the
    factory's MRO dispatch (reference factory.py:396-434). A custom
    check's Column goes into `inputs` under a reserved name."""
    name = fs.name
    nn = f"{v} IS NOT NULL"
    obs_str = f"CAST({v} AS STRING)"

    def cc(cond: str, check_id: str | None = None, expected: str | None = None,
           observed: str | None = None) -> CompiledCheck:
        return _compiled(name, check_id or chk.check_id(), expected or chk.describe(),
                         cond, obs_str if observed is None else observed)

    if isinstance(chk, _SCALAR_CHECKS):
        # Named rule 1: an unparseable value leaves `bad` NULL, so the
        # check emits no row; `coerce` or `strict_type` reports it.
        # Named rule 2: each TextCheck part (text_length, text_regex) is
        # its own row.
        return [cc(f"({v} IS NULL)" if p.bad is None else f"({nn} AND {p.bad})",
                   p.check_id, p.expected, p.observed)
                for p in _scalar_parts(chk, v, fs.dtype)]

    if isinstance(chk, ArrayCheck):
        out = []
        sz = f"size({v})"
        if chk.min_items is not None or chk.max_items is not None:
            out.append(cc(f"({nn} AND {_out_of_range(sz, chk.min_items, chk.max_items)})",
                          check_id="array_size", expected=chk.describe(),
                          observed=f"CAST({sz} AS STRING)"))
        if chk.reject_dupes:
            out.append(cc(f"({nn} AND size(array_distinct({v})) < {sz})",
                          check_id="array_unique", expected="elements unique",
                          observed=f"CAST({sz} AS STRING)"))
        return out

    if isinstance(chk, MapCheck):
        out = []
        keys = f"map_keys({v})"
        sz = f"size({v})"
        if chk.min_items is not None or chk.max_items is not None:
            out.append(cc(f"({nn} AND {_out_of_range(sz, chk.min_items, chk.max_items)})",
                          check_id="map_size",
                          expected=f"{chk.min_items or 0} <= size <= {chk.max_items}",
                          observed=f"CAST({sz} AS STRING)"))
        if chk.required_keys:
            # valkeys ⊇ required (mapping.py:228-235)
            missing = f"array_except({array(chk.required_keys)}, {keys})"
            out.append(cc(f"({nn} AND size({missing}) > 0)", check_id="map_required_keys",
                          expected=f"has keys {sorted(chk.required_keys)}",
                          observed=f"to_json({missing})"))
        if chk.total and chk.defined_keys:
            # valkeys ⊆ defined (mapping.py:89-96)
            extra = f"array_except({keys}, {array(chk.defined_keys)})"
            out.append(cc(f"({nn} AND size({extra}) > 0)", check_id="map_total",
                          expected=f"no keys outside {sorted(chk.defined_keys)}",
                          observed=f"to_json({extra})"))
        if chk.key_regex is not None:
            pat = _anchored(chk.key_regex)
            bad = f"filter({keys}, {_KEY} -> NOT rlike({_KEY}, {string(pat)}))"
            out.append(cc(f"({nn} AND size({bad}) > 0)", check_id="map_key_pattern",
                          expected=f"all keys match '{pat}'",
                          observed=f"to_json({bad})"))
        if chk.values_check is not None:
            inner = chk.values_check
            try:
                val_ddl = _split_map_dtype(fs.dtype)[1]
            except ValueError:
                val_ddl = None
            badv = (f"filter(map_values({v}), {_VAL} -> "
                    f"{scalar_violation_pred(inner, _VAL, val_ddl)})")
            out.append(cc(f"({nn} AND size({badv}) > 0)", check_id="map_values",
                          expected=f"all values: {inner.describe()}",
                          observed=f"CAST(size({badv}) AS STRING)"))
        for key, deps in chk.key_dependencies:
            need = f"array_except({array(deps)}, {keys})"
            out.append(cc(f"({nn} AND array_contains({keys}, {literal(key)}) "
                          f"AND size({need}) > 0)",
                          check_id="map_key_dependency",
                          expected=f"key '{key}' requires {sorted(deps)}",
                          observed=f"to_json({need})"))
        return out

    if isinstance(chk, TaggedCheck):
        tag = path(chk.tag_column)
        known_vals = [t for t, _ in chk.cases]
        out = [
            cc(f"(({tag} <=> {literal(tag_value)}) AND "
               f"{scalar_violation_pred(inner, v, fs.dtype)})",
               check_id=f"tagged[{chk.tag_column}={tag_value}]_{inner.check_id()}",
               expected=f"when {chk.tag_column}={tag_value!r}: {inner.describe()}")
            for tag_value, inner in chk.cases
        ]
        if chk.else_check is not None:
            out.append(cc(
                f"(NOT {in_list(tag, known_vals)} AND "
                f"{scalar_violation_pred(chk.else_check, v, fs.dtype)})",
                check_id=f"tagged[{chk.tag_column}=*]_{chk.else_check.check_id()}",
                expected=f"otherwise: {chk.else_check.describe()}"))
        if chk.unknown_tag_violates:
            out.append(_compiled(
                chk.tag_column, f"tagged[{chk.tag_column}]_unknown_tag",
                f"{chk.tag_column} in {known_vals}",
                f"({tag} IS NOT NULL AND NOT {in_list(tag, known_vals)})"))
        return out

    if isinstance(chk, ArrayElementsCheck):
        # element type is known from the declared array ddl (struct-field
        # elements keep the untyped path: their ddl isn't tracked here)
        elem_ddl = None if chk.element_field else _array_elem_ddl(fs.dtype)
        e = f"{_ELEM}[{string(chk.element_field)}]" if chk.element_field else _ELEM
        failing = f"filter({v}, {_ELEM} -> {scalar_violation_pred(chk.inner, e, elem_ddl)})"
        return [cc(f"({nn} AND size({failing}) > 0)",
                   observed=f"CAST(size({failing}) AS STRING)")]

    if isinstance(chk, CustomCheck):
        from typical_spark.specs import get_custom_check

        ok = f"{_RESERVED}in{len(inputs)}"
        inputs[ok] = get_custom_check(chk.name)(F.expr(v))
        return [cc(f"({nn} AND NOT {ident(ok)})")]

    raise TypeError(f"no compiler for check type {type(chk).__name__}")


def _split_map_dtype(dtype: str) -> tuple[str, str]:
    """'map<k, v>' -> ('k', 'v'), splitting at the top-level comma only
    (nested generics like map<string, array<int>> parse correctly)."""
    s = dtype.strip()
    if not (s.lower().startswith("map<") and s.endswith(">")):
        raise ValueError(f"map coercion requires a map<k,v> dtype, got {dtype!r}")
    inner = s[4:-1]
    depth = 0
    for i, ch in enumerate(inner):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            return inner[:i].strip(), inner[i + 1:].strip()
    raise ValueError(f"cannot split map dtype {dtype!r}")


def _map_coercion(src: Column, dtype: str) -> Column:
    """Keyed mapping coercion (A41, reference des.py:447-508): cast every
    key and value to the declared map<k,v> types. Transmute semantics: if
    ANY key fails to cast (or two keys collide after casting, e.g. '1'
    and '01' -> 1) or any non-null value fails, the whole map coerces to
    NULL — the columnar analog of the reference raising mid-dict. The
    CASE guard keeps transform_keys from ever building a null/duplicate
    key, so this never throws, ANSI or not."""
    kt, vt = _split_map_dtype(dtype)
    keys = F.map_keys(src)
    cast_keys = F.transform(keys, lambda k: k.try_cast(kt))
    keys_ok = F.forall(cast_keys, lambda k: k.isNotNull()) & (
        F.size(F.array_distinct(cast_keys)) == F.size(keys)
    )
    values_ok = F.forall(
        F.map_values(src), lambda v: v.isNull() | v.try_cast(vt).isNotNull()
    )
    coerced = F.transform_values(
        F.transform_keys(src, lambda k, v: k.try_cast(kt)),
        lambda k, v: v.try_cast(vt),
    )
    null_map = F.lit(None).cast(dtype)
    return (
        F.when(src.isNull(), null_map)
        .when(keys_ok & values_ok, coerced)
        .otherwise(null_map)
    )


def _strategy_expr(how: str, src: Column, fs: FieldSpec) -> Column:
    """One named coercion strategy -> Column of the field's declared type."""
    from typical_spark.functions import coerce as CK

    if how == "epoch":  # epoch seconds int/float -> timestamp, des.py:178-196
        return CK.epoch_timestamp(src)
    if how == "bool_like":  # des.py:281-288 + safe_eval util.py:100-131
        return CK.bool_like(src)
    if how == "iso_strict":  # strict ISO datetime parse, des.py:198-233
        return CK.iso_timestamp_strict(src)
    if how == "uuid":  # des.py:263-279
        return CK.uuid_normalize(src)
    if how.startswith("json:"):  # des via JSON parse, util.py:100-131
        return CK.json_object(src, how[len("json:"):])
    if how == "iso_duration":  # A33 deserialize half, des.py:253-261
        if fs.dtype.strip().lower().startswith("interval"):
            return CK.iso_duration_interval(src)
        return CK.iso_duration_seconds(src).try_cast(fs.dtype)
    if how == "time":  # A32 deserialize half: HH:mm:ss[.f] -> seconds-of-day
        return CK.time_of_day_seconds(src).try_cast(fs.dtype)
    if how == "map":  # A41 keyed mapping coercion
        return _map_coercion(src, fs.dtype)
    if how == "utf8":  # A35 bytes -> str, invalid sequences -> NULL
        return CK.utf8_decode(src)
    # default: plain cast attempt (reference des.py:353-368 builtin ctor)
    return src.try_cast(fs.dtype)


def coercion_expr(fs: FieldSpec) -> Column | None:
    """Repair projection for `coerce_from` fields — the distributed
    transmute (reference typic/serde/des.py). Returns the coerced column or
    None if the field needs no coercion. Failed coercion -> NULL, which the
    plan converts into a `coerce` violation (strict-mode analog,
    reference typic/strict.py:6-68).

    `coerce_from="union:a|b|c"` is the ordered generic-union try-each
    (A47 coerce half, reference des.py:732-764 — try order matters):
    strategies compile to coalesce(a, b, c), first non-NULL parse wins.
    Every member strategy must produce the field's declared dtype (the
    variant-typed case is parse_primitive's territory)."""
    if fs.coerce_from is None:
        return None
    src = F.col(fs.name)
    how = fs.coerce_from
    if how.startswith("union:"):
        parts = [p.strip() for p in how[len("union:"):].split("|") if p.strip()]
        if not parts:
            raise ValueError(f"empty union coercion spec on field {fs.name!r}")
        return F.coalesce(*[_strategy_expr(p, src, fs) for p in parts])
    return _strategy_expr(how, src, fs)


def compile_table_spec(spec: TableSpec, mode: str = "coerce") -> "ValidationPlan":
    """Compile a TableSpec into a ValidationPlan (the analog of resolving a
    SerdeProtocol once per type, reference resolver.py:682-740 — done once,
    driver-side, then applied to any number of partitions).

    mode (reference strict-mode, typic/strict.py:6-68 + resolver.py:512-547):
      'coerce' — declared coercions repair values; checks validate the
                 post-transmute value; unrepairable -> `coerce` violation.
      'strict' — validate, don't coerce: declared coercions become pure
                 conformance checks on the RAW value (a value that would
                 have needed repair is a violation), and value checks run
                 against the raw column.
    """
    from typical_spark.plans.validation import ValidationPlan

    if mode not in ("coerce", "strict"):
        raise ValueError(f"mode must be 'coerce' or 'strict', got {mode!r}")
    compiled: list[CompiledCheck] = []
    coercions: dict[str, Column] = {}
    transforms: dict[str, str] = {}
    # Column inputs, projected under reserved names below the check array
    inputs: dict[str, Column] = {}
    for fs in spec.fields:
        raw = path(fs.name)
        val = raw
        ce = coercion_expr(fs)
        if ce is not None:
            coerced = f"{_RESERVED}in{len(inputs)}"
            inputs[coerced] = ce
            violated = f"({raw} IS NOT NULL AND {ident(coerced)} IS NULL)"
            if mode == "coerce":
                # transmute failure -> `coerce` violation (the distributed
                # analog of transmute raising; reference des.py builders)
                coercions[fs.name] = ce
                val = ident(coerced)
                check_id = "coerce"
                expected = f"coercible to {fs.dtype} (from {fs.coerce_from})"
            else:
                # strict: validate, never mutate (typic/strict.py: the
                # deserializer IS the validator, resolver.py:521-524) —
                # unparseable values violate, parseable ones pass, and the
                # column is NOT repaired (value checks run on the raw
                # column).
                check_id = "strict_type"
                expected = f"parseable as {fs.dtype} (strict: not repaired)"
            compiled.append(_compiled(fs.name, check_id, expected, violated))
        # only record a transform projection if it's not the bare column.
        # The stored expression starts from the CURRENT column (not the
        # coercion expression): plan.transform composes AFTER
        # plan.coerce, and embedding the coercion here would re-apply it
        # to the already-coerced column (e.g. utf8_decode of a decoded
        # string). Strict mode records no transforms at all — validate,
        # never mutate extends to the mutating pre-checks.
        if mode != "strict" and _value_expr(fs, raw) != raw:
            transforms[fs.name] = _value_expr(fs, raw)
        val = _value_expr(fs, val)
        for chk in fs.checks:
            compiled.extend(compile_check(fs, chk, val, inputs))
    # secret fields: star-mask the observed value in every violation row
    # (SecretStr repr contract, reference typic/types/secret.py:35-90 —
    # '*' * len(value)); the check conditions still see the real value,
    # only the diagnostics channel is redacted. Masking HERE (not in the
    # plan's message formatter) guarantees every consumer of the compiled
    # checks — violations, annotate, verdicts, streaming — inherits it.
    secret_cols = {fs.name for fs in spec.fields if fs.secret}
    compiled = [
        replace(cc, observed=(
            f"CASE WHEN {path(cc.column)} IS NOT NULL THEN "
            f"repeat('*', length(CAST({path(cc.column)} AS STRING))) END"))
        if cc.column in secret_cols else cc
        for cc in compiled
    ]
    return ValidationPlan(spec=spec, checks=tuple(compiled), coercions=coercions,
                          transforms=transforms, inputs=inputs)

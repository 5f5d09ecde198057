"""Spec compiler: CheckSpec -> Catalyst Column expressions -> ValidationPlan.

This is the distributed analog of typical's constraint factory + codegen
(reference: typic/constraints/factory.py:89-144 builds a Constraints tree;
typic/gen.py:59-203 string-templates a specialized Python validator that
contains ONLY the configured checks). We keep the same "no computation
wasted" property — each compiled plan contains exactly the configured
predicates, nothing else — but emit Catalyst `Column` ASTs so every check
runs JVM-side inside whole-stage codegen instead of the Python interpreter.

Null semantics (reference typic/constraints/common.py:91,272-287): a null
value short-circuits every value-check — NULL is only ever reported by
NotNullCheck. Violation condition for a value-check C on column c is
therefore `c IS NOT NULL AND NOT C(c)`, which keeps each predicate
null-intolerant and pushdown-friendly.

Each scalar check kind (NotNull, Number, Text, Enum, TimestampRange,
Format, Decimal, Union) is defined once, by its branch of `_scalar_parts`:
check_id, expected text, OK predicate, observed value and typed view
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

import functools
from dataclasses import dataclass
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


_NUMERIC_DDLS = {
    "tinyint", "byte", "smallint", "short", "int", "integer",
    "bigint", "long", "float", "real", "double",
}
_TEMPORAL_DDLS = {"timestamp", "timestamp_ntz", "timestamp_ltz", "date"}


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


def _number_view(col: Column, ddl: str | None) -> Column:
    """The value as a number. A declared numeric type compares natively
    (identity-folded on a typed carrier: a blanket double view loses
    exactness above 2^53, so `ge=2**53+2` would pass 2**53+1); a declared
    decimal reads through its widened scale; anything else through
    double. Always a try_cast: strict mode checks the RAW carrier, which
    may be a string, and a bare compare would ANSI-cast 'abc' and crash
    the job — try_cast gives NULL instead."""
    d = (ddl or "").strip().lower()
    if d.startswith("decimal"):
        return col.try_cast(_widened_decimal_ddl(ddl))
    return col.try_cast(ddl if d in _NUMERIC_DDLS else "double")


def _timestamp_view(col: Column, ddl: str | None) -> Column:
    """The value as a timestamp: the declared temporal type, else
    `timestamp`; a try_cast for the same reason as `_number_view`."""
    known = ddl is not None and ddl.strip().lower() in _TEMPORAL_DDLS
    return col.try_cast(ddl if known else "timestamp")


def _in_range(x: Column, lo: int | None, hi: int | None) -> Column | None:
    """`lo <= x <= hi` for a length or size (lo defaults to 0, no hi =
    unbounded); None when neither bound is set."""
    if lo is None and hi is None:
        return None
    ok = x >= F.lit(lo or 0)
    if hi is not None:
        ok = ok & (x <= F.lit(hi))
    return ok


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


class _Parts(NamedTuple):
    """One scalar check's meaning against one value.

    ok: true iff a non-null value passes; None for NotNull, the one check
    a NULL value fails (NULL short-circuits every other check, reference
    common.py:272-287).
    observed: what a violation row shows; None = the value as a string.
    view: the typed view the check reads, NULL when the value does not
    parse as that type.
    """

    check_id: str
    expected: str
    ok: Column | None
    observed: Column | None = None
    view: Column | None = None


_SCALAR_CHECKS = (
    NotNullCheck, NumberCheck, TextCheck, EnumCheck, TimestampRangeCheck,
    FormatCheck, DecimalCheck, UnionCheck,
)


def _scalar_parts(chk: Check, col: Column, value_ddl: str | None) -> list[_Parts]:
    """The one definition of every scalar check kind, against the value
    `col` whose declared Spark type is `value_ddl` (None = unknown). A
    TextCheck has one part per configured property (length, regex); every
    other kind has exactly one."""
    cid, desc = chk.check_id(), chk.describe()
    if isinstance(chk, NotNullCheck):
        return [_Parts(cid, desc, None, F.lit(None).cast("string"))]
    if isinstance(chk, NumberCheck):
        num = _number_view(col, value_ddl)
        ok = F.lit(True)
        if chk.gt is not None:
            ok = ok & (num > F.lit(chk.gt))
        if chk.ge is not None:
            ok = ok & (num >= F.lit(chk.ge))
        if chk.lt is not None:
            ok = ok & (num < F.lit(chk.lt))
        if chk.le is not None:
            ok = ok & (num <= F.lit(chk.le))
        if chk.multiple_of is not None:
            ok = ok & (num % F.lit(chk.multiple_of) == 0)
        return [_Parts(cid, desc, ok, view=num)]
    if isinstance(chk, TimestampRangeCheck):
        ts = _timestamp_view(col, value_ddl)
        ok = F.lit(True)
        if chk.min_ts is not None:
            ok = ok & (ts >= F.lit(chk.min_ts))
        if chk.max_ts is not None:
            ok = ok & (ts < F.lit(chk.max_ts))
        return [_Parts(cid, desc, ok, view=ts)]
    if isinstance(chk, TextCheck):
        out = []
        ln = F.length(col)
        ok = _in_range(ln, chk.min_length, chk.max_length)
        if ok is not None:
            out.append(_Parts("text_length",
                              f"{chk.min_length or 0} <= length <= {chk.max_length}",
                              ok, ln.cast("string")))
        if chk.regex is not None:
            pat = _anchored(chk.regex)
            out.append(_Parts("text_regex", f"matches '{pat}'", col.rlike(pat)))
        return out
    if isinstance(chk, EnumCheck):
        return [_Parts(cid, desc, col.isin(list(chk.values)))]
    if isinstance(chk, FormatCheck):
        return [_Parts(cid, desc, col.rlike(_anchored(STRING_FORMATS[chk.format])))]
    if isinstance(chk, DecimalCheck):
        dec = col.try_cast(f"decimal({chk.max_digits},{chk.decimal_places})")
        return [_Parts(cid, desc, dec.isNotNull())]
    if isinstance(chk, UnionCheck):
        ok = F.lit(False)
        for m in chk.members:
            ok = ok | ~scalar_violation_pred(m, col, value_ddl)
        return [_Parts(cid, desc, ok)]
    raise TypeError(f"not a scalar check: {type(chk).__name__}")


def scalar_violation_pred(
    chk: Check, col: Column, value_ddl: str | None = None
) -> Column:
    """Violation predicate for a scalar check on a nested value: a union
    member, a tagged case, an array element or a map value (a lambda
    variable inside a higher-order function, not a named column).
    value_ddl: the value's declared Spark type when the caller knows it
    (array element type, map value type, the field's dtype)."""
    parts = _scalar_parts(chk, col, value_ddl)
    if any(p.ok is None for p in parts):
        return col.isNull()
    # Nested rule 2: a TextCheck's length and regex parts are one predicate.
    oks = [p.ok for p in parts]
    ok = functools.reduce(Column.__and__, oks) if oks else F.lit(True)
    bad = ~ok
    for p in parts:
        if p.view is not None:
            # Nested rule 1: an unparseable value fails the member or
            # element (there is no coerce/strict_type row to report it).
            bad = p.view.isNull() | bad
    return col.isNotNull() & bad


@dataclass(frozen=True)
class CompiledCheck:
    """One check compiled against one column.

    violation_cond: Column<boolean> — true iff this row violates the check.
    observed: Column<string> — the offending value, stringified.
    """

    column: str
    check_id: str
    expected: str
    violation_cond: Column
    observed: Column


def _compiled(column: str, check_id: str, expected: str, cond: Column,
              observed: Column | None = None) -> CompiledCheck:
    """The one CompiledCheck constructor; `observed` defaults to the
    column's value as a string."""
    if observed is None:
        observed = F.col(column).cast("string")
    return CompiledCheck(column, check_id, expected, cond, observed)


def _value_expr(fs: FieldSpec, base: Column | None = None) -> Column:
    """The (possibly transformed) value a field's checks run against.

    Starts from the coerced value when the field declares a coercion
    (checks validate the post-transmute value, reference resolver.py:512-547
    _finalize_deserializer ordering). Mutating pre-checks (strip_whitespace
    text.py:50-52, curtail_length text.py:48-50, array unique dedup
    array.py:139-141) are projections applied before predicates.
    """
    c = base if base is not None else F.col(fs.name)
    for chk in fs.checks:
        if isinstance(chk, TextCheck):
            if chk.strip_whitespace:
                c = F.trim(c)
            if chk.curtail_length is not None:
                c = F.substring(c, 1, chk.curtail_length)
        elif isinstance(chk, ArrayCheck) and chk.unique:
            c = F.array_distinct(c)
    return c


def compile_check(fs: FieldSpec, chk: Check, value: Column) -> list[CompiledCheck]:
    """Compile one Check into CompiledCheck(s). Pure driver-side dispatch —
    the analog of the factory's MRO dispatch (reference factory.py:396-434)."""
    col, name = value, fs.name
    nn = col.isNotNull()
    obs_str = col.cast("string")

    def cc(cond: Column, check_id: str | None = None, expected: str | None = None,
           observed: Column | None = None) -> CompiledCheck:
        return _compiled(name, check_id or chk.check_id(), expected or chk.describe(),
                         cond, obs_str if observed is None else observed)

    if isinstance(chk, _SCALAR_CHECKS):
        # Named rule 1: an unparseable value leaves `ok` NULL, so the
        # check emits no row; `coerce` or `strict_type` reports it.
        # Named rule 2: each TextCheck part (text_length, text_regex) is
        # its own row.
        return [cc(col.isNull() if p.ok is None else nn & ~p.ok,
                   p.check_id, p.expected, p.observed)
                for p in _scalar_parts(chk, col, fs.dtype)]

    if isinstance(chk, ArrayCheck):
        out = []
        sz = F.size(col)
        ok = _in_range(sz, chk.min_items, chk.max_items)
        if ok is not None:
            out.append(cc(nn & ~ok, check_id="array_size",
                          expected=chk.describe(), observed=sz.cast("string")))
        if chk.reject_dupes:
            out.append(cc(nn & (F.size(F.array_distinct(col)) < sz),
                          check_id="array_unique", expected="elements unique",
                          observed=sz.cast("string")))
        return out

    if isinstance(chk, MapCheck):
        out = []
        keys = F.map_keys(col)
        sz = F.size(col)
        ok = _in_range(sz, chk.min_items, chk.max_items)
        if ok is not None:
            out.append(cc(nn & ~ok, check_id="map_size",
                          expected=f"{chk.min_items or 0} <= size <= {chk.max_items}",
                          observed=sz.cast("string")))
        if chk.required_keys:
            # valkeys ⊇ required (mapping.py:228-235)
            missing = F.array_except(
                F.array(*[F.lit(k) for k in chk.required_keys]), keys
            )
            out.append(cc(nn & (F.size(missing) > 0), check_id="map_required_keys",
                          expected=f"has keys {sorted(chk.required_keys)}",
                          observed=F.to_json(missing)))
        if chk.total and chk.defined_keys:
            # valkeys ⊆ defined (mapping.py:89-96)
            extra = F.array_except(
                keys, F.array(*[F.lit(k) for k in chk.defined_keys])
            )
            out.append(cc(nn & (F.size(extra) > 0), check_id="map_total",
                          expected=f"no keys outside {sorted(chk.defined_keys)}",
                          observed=F.to_json(extra)))
        if chk.key_regex is not None:
            pat = _anchored(chk.key_regex)
            bad = F.filter(keys, lambda k: ~k.rlike(pat))
            out.append(cc(nn & (F.size(bad) > 0), check_id="map_key_pattern",
                          expected=f"all keys match '{pat}'",
                          observed=F.to_json(bad)))
        if chk.values_check is not None:
            inner = chk.values_check
            try:
                val_ddl = _split_map_dtype(fs.dtype)[1]
            except ValueError:
                val_ddl = None
            badv = F.filter(
                F.map_values(col),
                lambda v: scalar_violation_pred(inner, v, val_ddl),
            )
            out.append(cc(nn & (F.size(badv) > 0), check_id="map_values",
                          expected=f"all values: {inner.describe()}",
                          observed=F.size(badv).cast("string")))
        for key, deps in chk.key_dependencies:
            need = F.array_except(F.array(*[F.lit(d) for d in deps]), keys)
            has_key = F.array_contains(keys, key)
            out.append(cc(nn & has_key & (F.size(need) > 0),
                          check_id="map_key_dependency",
                          expected=f"key '{key}' requires {sorted(deps)}",
                          observed=F.to_json(need)))
        return out

    if isinstance(chk, TaggedCheck):
        tag = F.col(chk.tag_column)
        known_vals = [v for v, _ in chk.cases]
        out = [
            cc(tag.eqNullSafe(F.lit(tag_value)) & scalar_violation_pred(inner, col, fs.dtype),
               check_id=f"tagged[{chk.tag_column}={tag_value}]_{inner.check_id()}",
               expected=f"when {chk.tag_column}={tag_value!r}: {inner.describe()}")
            for tag_value, inner in chk.cases
        ]
        if chk.else_check is not None:
            out.append(cc(
                ~tag.isin(known_vals) & scalar_violation_pred(chk.else_check, col, fs.dtype),
                check_id=f"tagged[{chk.tag_column}=*]_{chk.else_check.check_id()}",
                expected=f"otherwise: {chk.else_check.describe()}"))
        if chk.unknown_tag_violates:
            out.append(_compiled(
                chk.tag_column, f"tagged[{chk.tag_column}]_unknown_tag",
                f"{chk.tag_column} in {known_vals}",
                tag.isNotNull() & ~tag.isin(known_vals)))
        return out

    if isinstance(chk, ArrayElementsCheck):
        # element type is known from the declared array ddl (struct-field
        # elements keep the untyped path: their ddl isn't tracked here)
        elem_ddl = None if chk.element_field else _array_elem_ddl(fs.dtype)

        def elem_viol(x):
            v = x[chk.element_field] if chk.element_field else x
            return scalar_violation_pred(chk.inner, v, elem_ddl)

        failing = F.filter(col, elem_viol)
        return [cc(nn & (F.size(failing) > 0),
                   observed=F.size(failing).cast("string"))]

    if isinstance(chk, CustomCheck):
        from typical_spark.specs import get_custom_check

        ok = get_custom_check(chk.name)(col)
        return [cc(nn & ~ok)]

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
    transforms: dict[str, Column] = {}
    for fs in spec.fields:
        ce = coercion_expr(fs)
        if ce is not None:
            violated = F.col(fs.name).isNotNull() & ce.isNull()
            if mode == "coerce":
                # transmute failure -> `coerce` violation (the distributed
                # analog of transmute raising; reference des.py builders)
                coercions[fs.name] = ce
                check_id = "coerce"
                expected = f"coercible to {fs.dtype} (from {fs.coerce_from})"
            else:
                # strict: validate, never mutate (typic/strict.py: the
                # deserializer IS the validator, resolver.py:521-524) —
                # unparseable values violate, parseable ones pass, and the
                # column is NOT repaired (no projection emitted).
                check_id = "strict_type"
                expected = f"parseable as {fs.dtype} (strict: not repaired)"
                ce = None  # value checks run on the raw column in strict
            compiled.append(_compiled(fs.name, check_id, expected, violated))
        val = _value_expr(fs, base=ce)
        # only record a transform projection if it's not the bare column.
        # The stored expression starts from the CURRENT column (not the
        # coercion expression): plan.transform composes AFTER
        # plan.coerce, and embedding the coercion here would re-apply it
        # to the already-coerced column (e.g. utf8_decode of a decoded
        # string). Strict mode records no transforms at all — validate,
        # never mutate extends to the mutating pre-checks.
        if mode != "strict" and any(
            (isinstance(c, TextCheck) and (c.strip_whitespace or c.curtail_length))
            or (isinstance(c, ArrayCheck) and c.unique)
            for c in fs.checks
        ):
            transforms[fs.name] = _value_expr(fs)
        for chk in fs.checks:
            compiled.extend(compile_check(fs, chk, val))
    # secret fields: star-mask the observed value in every violation row
    # (SecretStr repr contract, reference typic/types/secret.py:35-90 —
    # '*' * len(value)); the check conditions still see the real value,
    # only the diagnostics channel is redacted. Masking HERE (not in the
    # plan's message formatter) guarantees every consumer of the compiled
    # checks — violations, annotate, verdicts, streaming — inherits it.
    secret_cols = {fs.name for fs in spec.fields if fs.secret}
    if secret_cols:
        from dataclasses import replace as _dc_replace

        compiled = [
            _dc_replace(
                cc,
                observed=F.when(
                    F.col(cc.column).isNotNull(),
                    F.repeat(
                        F.lit("*"),
                        F.length(F.col(cc.column).cast("string")),
                    ),
                ),
            )
            if cc.column in secret_cols
            else cc
            for cc in compiled
        ]
    return ValidationPlan(spec=spec, checks=tuple(compiled),
                          coercions=coercions, transforms=transforms)

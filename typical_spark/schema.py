"""Schema interop: TableSpec -> Spark StructType and JSON Schema.

The distributed analog of typical's JSON-Schema emission (reference:
typic/ext/schema/schema.py:398-430 builds object schemas with $defs;
per-constraint fragments at number.py:98-109, text.py:64-73,
array.py:164-173, mapping.py:276-294). Constraint specs map onto the
same JSON-Schema vocabulary the reference targets (minimum/maximum/
pattern/minLength/maxLength/enum/minItems/maxItems/required/
additionalProperties), so schemas emitted here validate the same
documents the reference's schemas did.
"""

from __future__ import annotations

from pyspark.sql import types as T

from typical_spark.specs import (
    ArrayCheck,
    ArrayElementsCheck,
    EnumCheck,
    FieldSpec,
    MapCheck,
    NotNullCheck,
    NumberCheck,
    TableSpec,
    TaggedCheck,
    TextCheck,
    TimestampRangeCheck,
)

_JSON_TYPES = {
    "string": "string",
    "int": "integer",
    "integer": "integer",
    "bigint": "integer",
    "long": "integer",
    "smallint": "integer",
    "tinyint": "integer",
    "double": "number",
    "float": "number",
    "boolean": "boolean",
    "timestamp": "string",  # format: date-time
    "date": "string",       # format: date
}


def spec_to_structtype(spec: TableSpec) -> T.StructType:
    """Spark schema for the spec's table (dotted nested paths grouped into
    nested StructTypes)."""
    top: dict[str, object] = {}
    nested: dict[str, list[FieldSpec]] = {}
    for fs in spec.fields:
        if "." in fs.name:
            root, _ = fs.name.split(".", 1)
            nested.setdefault(root, []).append(fs)
        else:
            dtype = fs.dtype
            top[fs.name] = T.StructField(
                fs.name, T._parse_datatype_string(dtype), nullable=fs.nullable
            )
    for root, subs in nested.items():
        inner = T.StructType(
            [
                T.StructField(
                    fs.name.split(".", 1)[1],
                    T._parse_datatype_string(fs.dtype),
                    nullable=True,
                )
                for fs in subs
            ]
        )
        top[root] = T.StructField(root, inner, nullable=True)
    return T.StructType(list(top.values()))


def _field_json_schema(fs: FieldSpec) -> dict:
    sch: dict = {}
    base = fs.dtype.lower()
    if base.startswith("array"):
        sch["type"] = "array"
    elif base.startswith("map") or base.startswith("struct"):
        sch["type"] = "object"
    else:
        sch["type"] = _JSON_TYPES.get(base, "string")
        if base == "timestamp":
            sch["format"] = "date-time"
        elif base == "date":
            sch["format"] = "date"
    for chk in fs.checks:
        if isinstance(chk, NumberCheck):
            # reference number.py:98-109: gt->exclusiveMinimum etc.
            if chk.gt is not None:
                sch["exclusiveMinimum"] = chk.gt
            if chk.ge is not None:
                sch["minimum"] = chk.ge
            if chk.lt is not None:
                sch["exclusiveMaximum"] = chk.lt
            if chk.le is not None:
                sch["maximum"] = chk.le
            if chk.multiple_of is not None:
                sch["multipleOf"] = chk.multiple_of
        elif isinstance(chk, TextCheck):
            # reference text.py:64-73
            if chk.min_length is not None:
                sch["minLength"] = chk.min_length
            if chk.max_length is not None:
                sch["maxLength"] = chk.max_length
            if chk.regex is not None:
                sch["pattern"] = chk.regex
        elif isinstance(chk, EnumCheck):
            sch["enum"] = list(chk.values)
        elif isinstance(chk, ArrayCheck):
            # reference array.py:164-173
            if chk.min_items is not None:
                sch["minItems"] = chk.min_items
            if chk.max_items is not None:
                sch["maxItems"] = chk.max_items
            if chk.unique or chk.reject_dupes:
                sch["uniqueItems"] = True
        elif isinstance(chk, MapCheck):
            # reference mapping.py:276-294
            if chk.min_items is not None:
                sch["minProperties"] = chk.min_items
            if chk.max_items is not None:
                sch["maxProperties"] = chk.max_items
            if chk.required_keys:
                sch["required"] = sorted(chk.required_keys)
            if chk.total:
                sch["additionalProperties"] = False
                sch["properties"] = {k: {} for k in sorted(chk.defined_keys)}
            if chk.key_regex:
                sch["propertyNames"] = {"pattern": chk.key_regex}
        elif isinstance(chk, TimestampRangeCheck):
            meta = sch.setdefault("x-ts-range", {})
            if chk.min_ts:
                meta["min"] = chk.min_ts.isoformat()
            if chk.max_ts:
                meta["max"] = chk.max_ts.isoformat()
    if fs.nullable:
        sch = {"anyOf": [sch, {"type": "null"}]} if sch.get("type") != "null" else sch
    return sch


def _spec_object_schema(
    spec: TableSpec, field_refs: dict[str, str] | None = None
) -> dict:
    """Object-schema body (no $schema header) — shared by the root
    document and by $defs entries."""
    field_refs = field_refs or {}
    props: dict = {}
    required: list[str] = []
    for fs in spec.fields:
        if "." in fs.name:  # nested: fold into parent object schema
            root, leaf = fs.name.split(".", 1)
            parent = props.setdefault(
                root, {"anyOf": [{"type": "object", "properties": {}}, {"type": "null"}]}
            )
            parent["anyOf"][0]["properties"][leaf] = _field_json_schema(
                FieldSpec(leaf, fs.dtype, nullable=True, checks=fs.checks)
            )
            continue
        if fs.name in field_refs:
            ref = {"$ref": f"#/$defs/{field_refs[fs.name]}"}
            props[fs.name] = (
                {"anyOf": [ref, {"type": "null"}]} if fs.nullable else ref
            )
        else:
            props[fs.name] = _field_json_schema(fs)
        if not fs.nullable or any(isinstance(c, NotNullCheck) for c in fs.checks):
            required.append(fs.name)
    return {
        "type": "object",
        "properties": props,
        "required": sorted(set(required)),
        "additionalProperties": True,
    }


def spec_to_json_schema(
    spec: TableSpec,
    title: str | None = None,
    refs: dict[str, TableSpec] | None = None,
    field_refs: dict[str, str] | None = None,
) -> dict:
    """JSON-Schema (draft-07 vocabulary) document for one table row —
    the analog of `typic.schema(Model)`.

    refs / field_refs give shared nested specs the reference's
    definitions treatment (typic/ext/schema/schema.py:398-430): each
    entry of `refs` ({name: TableSpec}) is emitted ONCE under $defs, and
    every root field listed in `field_refs` ({field_name: ref_name})
    becomes a `$ref` to it instead of an inlined object — so a spec
    reused by several fields appears a single time."""
    doc = {
        "$schema": "http://json-schema.org/draft-07/schema#",
        "title": title or spec.name,
        **_spec_object_schema(spec, field_refs),
    }
    missing = {r for r in (field_refs or {}).values() if r not in (refs or {})}
    if missing:
        raise ValueError(f"field_refs point at undefined $defs: {sorted(missing)}")
    if refs:
        doc["$defs"] = {
            name: {"title": name, **_spec_object_schema(s)}
            for name, s in sorted(refs.items())
        }
    return doc


def schema_conformance(df, spec: TableSpec, total: bool = False) -> list[dict]:
    """Structural spec-vs-table diff — the engine's analog of the
    reference's protocol/shape checks (typic validates structure before
    values; a DataFrame whose SCHEMA can't satisfy the spec should fail
    fast at the driver, before a single task runs).

    Returns a list of violation dicts (column, check_id, observed,
    expected); empty = conformant. Checks:
      missing_column  a spec field (or a dotted nested leaf) is absent
      type_mismatch   a present column's type differs from the declared
                      dtype (exact simpleString comparison; declared
                      coercions exempt their field — the source column is
                      EXPECTED to arrive as the coercion's input type)
      extra_column    (total=True only) a table column no spec field
                      covers — the closed-schema mode, mirroring the
                      reference's total/closed mapping semantics.

    Driver-side metadata only: no job is launched."""
    import pyspark.sql.types as T

    violations: list[dict] = []
    by_name = {f.name: f for f in df.schema.fields}

    def leaf_type(root: str, leaf: str):
        f = by_name.get(root)
        if f is None or not isinstance(f.dataType, T.StructType):
            return None, False
        for sub in f.dataType.fields:
            if sub.name == leaf:
                return sub.dataType.simpleString(), True
        return None, False

    def canon(dtype: str) -> str:
        # normalize aliases ('long'=='bigint', 'integer'=='int') the same
        # way the rest of the engine does: through Spark's type parser
        try:
            return T._parse_datatype_string(dtype).simpleString()
        except Exception:
            return dtype.strip().lower()

    covered = set()
    for fs in spec.fields:
        want = canon(fs.dtype)
        if "." in fs.name:
            root, leaf = fs.name.split(".", 1)
            covered.add(root)
            got, present = leaf_type(root, leaf)
        else:
            covered.add(fs.name)
            f = by_name.get(fs.name)
            present = f is not None
            got = f.dataType.simpleString() if present else None
        if not present:
            violations.append({
                "column": fs.name, "check_id": "missing_column",
                "observed": None, "expected": f"column of type {want}",
            })
            continue
        if fs.coerce_from is not None:
            continue  # source arrives as the coercion's input type
        if got != want:
            violations.append({
                "column": fs.name, "check_id": "type_mismatch",
                "observed": got, "expected": want,
            })
    if total:
        for name in by_name:
            if name not in covered:
                violations.append({
                    "column": name, "check_id": "extra_column",
                    "observed": by_name[name].dataType.simpleString(),
                    "expected": "no column outside the spec (total=True)",
                })
    return violations

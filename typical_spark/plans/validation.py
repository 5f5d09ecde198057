"""ValidationPlan — compiled, reusable, fused validation over a DataFrame.

The plan is the distributed analog of typical's SerdeProtocol (reference:
typic/serde/common.py:40-74, built once per type at resolver.py:581-657):
compiled once on the driver, then applied to any number of rows. Where the
reference executes one closure per value, the plan executes ONE fused
narrow projection per table scan, parsed from one SQL expression:

    concat(CASE WHEN viol_1 THEN array(named_struct(...)) ELSE [] END,
           CASE WHEN viol_2 THEN array(named_struct(...)) ELSE [] END, …)

Violations explode out of the array; valid rows are `size(arr)==0`. A
concat of singleton-or-empty arrays, not `array_compact(array(when(…)))`:
`array_compact` is a higher-order function (a filter with a lambda),
which Spark cannot codegen, so every check of every row ran through the
expression interpreter. Without it whole-stage codegen covers every
check, and no shuffle or second scan is added. At 100 TB this matters:
the naive per-check `df.where(~pred)` plan scans the table N_checks
times; the fused plan scans it once and Parquet reads only the checked
columns (column pruning keeps `ReadSchema` narrow).

Column inputs of the checks (coercions, custom checks) are projected
under reserved names just below the array (`with_inputs`) and dropped
from what the plan returns.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from typical_spark.compiler import CompiledCheck
from typical_spark.specs import TableSpec
from typical_spark.sql_text import path, string

# Stable violation-row schema (analog of ConstraintValueError fields,
# reference typic/constraints/common.py:169-173).
VIOLATION_COLUMNS = ("column", "check_id", "observed", "expected", "message")

# The typed empty violation array. Its element type declares every field
# NOT NULL and the array no NULL elements, so each CASE merges in exactly
# the nullability of its own entry (a struct<…> cast would make all four
# fields nullable, and the inlined rows' schema with them). All literal:
# it folds to one constant.
NO_VIOLATIONS = ("slice(array(named_struct('column', '', 'check_id', '', "
                 "'observed', '', 'expected', '')), 1, 0)")


def violation_struct(column: str, check_id: str, observed: str, expected: str) -> str:
    """One violation entry (SQL text): the struct every fused check
    array holds. `observed` and `expected` are string expressions."""
    return (f"named_struct('column', {string(column)}, 'check_id', {string(check_id)}, "
            f"'observed', {observed}, 'expected', {expected})")


def violation_entry(cond: str, struct: str) -> str:
    """A fused-array term: [struct] when `cond` holds, else []."""
    return f"CASE WHEN {cond} THEN array({struct}) ELSE {NO_VIOLATIONS} END"


def keyed_entry(check_id: str, cond: str, column: str, observed: str,
                expected: str) -> dict[str, str]:
    """{check_id: entry}: one `violation_entry` keyed by the check id it
    emits, so a caller that counts by id counts what it builds."""
    return {check_id: violation_entry(
        cond, violation_struct(column, check_id, observed, expected))}


def violation_array(entries: Sequence[str]) -> str:
    """The fused array of `violation_entry` terms (or arrays of them)."""
    return f"concat({', '.join(entries)})" if entries else NO_VIOLATIONS


def explode_violations(df: DataFrame, keys: Sequence[str], arr: str) -> DataFrame:
    """The violation rows: one per entry of `arr`, SQL text of an
    array<struct> of `violation_struct` entries. Output: keys…, column,
    check_id, observed, expected.

    One projection: `inline` turns each struct into a row of its fields.
    No size() pre-filter: inline already drops empty arrays, and a
    filter here is pushed BELOW the projection by Catalyst, which
    duplicates the whole fused check array (every regex/range check
    evaluated twice per row — measured ~2x on the 16M-turn flagship row
    pass). For the same reason `arr` is inlined as an expression, never
    through a projected column: Spark infers that same size() > 0 filter
    from a Generate whose input is an attribute."""
    return df.selectExpr(*map(path, keys), f"inline({arr})")


def count_by_check(
    vio: DataFrame, check_ids: Iterable[str]
) -> tuple[DataFrame, Callable[[], dict]]:
    """`vio` with an Observation that counts its rows by check id, and a
    function that returns the counts once an action has consumed the
    returned DataFrame: {check_id: n}, zero counts left out. The ids are
    the ones known when the plan is compiled; one map of `count_if`s
    counts them all in the action itself, with no aggregate Exchange and
    no second pass (Spark applies a result task's metrics once per
    partition)."""
    obs = Observation()
    counts = ", ".join(f"{string(c)}, count_if(check_id = {string(c)})"
                       for c in sorted(set(check_ids)))
    observed = vio.observe(obs, F.expr(f"map({counts})").alias("by_check"))
    return observed, lambda: {c: n for c, n in obs.get["by_check"].items() if n}


@dataclass(frozen=True)
class ValidationPlan:
    spec: TableSpec
    checks: tuple[CompiledCheck, ...]
    coercions: dict  # column -> Column (repair projections)
    transforms: dict  # column -> SQL text (mutating pre-checks)
    inputs: dict  # reserved name -> Column the check text reads

    # ---- projections -------------------------------------------------

    def coerce(self, df: DataFrame) -> DataFrame:
        """Apply coercion projections (the distributed transmute). Columns
        listed in `coercions` are replaced by their repaired value; original
        values remain observable to checks via the violation pass run
        BEFORE coercion if desired."""
        out = df
        for name, expr in self.coercions.items():
            out = out.withColumn(name, expr)
        return out

    def transform(self, df: DataFrame) -> DataFrame:
        """Apply mutating pre-checks (trim / curtail / array dedup —
        reference text.py:48-52, array.py:139-141)."""
        if not self.transforms:
            return df
        return df.withColumns({n: F.expr(t) for n, t in self.transforms.items()})

    def with_inputs(self, df: DataFrame) -> DataFrame:
        """df + the Column inputs of the check text, each under its
        reserved name (in order: a custom check may read a coercion)."""
        for name, expr in self.inputs.items():
            df = df.withColumn(name, expr)
        return df

    # ---- the fused violation pass ------------------------------------

    def violation_array(self) -> str:
        """SQL text of the fused check array over `with_inputs(df)`."""
        return violation_array([
            violation_entry(c.violation_cond, violation_struct(
                c.column, c.check_id, c.observed, string(c.expected)))
            for c in self.checks
        ])

    def annotate(self, df: DataFrame, col: str = "_violations") -> DataFrame:
        """df + an array<struct> column of this row's violations (empty
        array == valid row). One fused projection; no shuffle."""
        out = self.with_inputs(df).withColumn(col, F.expr(self.violation_array()))
        return out.drop(*self.inputs) if self.inputs else out

    def violations(self, df: DataFrame, with_message: bool = True) -> DataFrame:
        """The violations table: one row per (row, failed check).

        Output: key_columns… , column, check_id, observed, expected[, message].
        """
        out = explode_violations(
            self.with_inputs(df), self.spec.key_columns, self.violation_array())
        if with_message:
            # "{field}: value <{v!r}> fails constraints: {constraints}"
            out = out.withColumn("message", F.expr(
                "concat(`column`, ': value <', coalesce(observed, 'None'), "
                "'> fails constraints: ', expected)"))
        return out

    def split(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(valid_rows, invalid_rows) — both from the same fused pass."""
        ann = self.annotate(df, "_violations")
        valid = ann.where("size(_violations) = 0").drop("_violations")
        invalid = ann.where("size(_violations) > 0").drop("_violations")
        return valid, invalid

    def valid_predicate(self) -> Column:
        """Single boolean Column 'row passes all checks' — stays a pure
        Catalyst conjunction so it can push into the scan when used alone.
        A spec with a coercion or a custom check has none: its checks
        read projected inputs that a bare `where` does not have (use
        `split`)."""
        if self.inputs:
            raise ValueError(
                f"spec {self.spec.name!r} has coercions or custom checks, whose "
                "checks read projected inputs; use plan.split(df) instead")
        conds = [f"(NOT {c.violation_cond} OR {c.violation_cond} IS NULL)"
                 for c in self.checks]
        return F.expr(" AND ".join(conds) or "TRUE")

    # ---- verdicts ----------------------------------------------------

    def verdicts(self, df: DataFrame, partition_col: Column | None = None) -> DataFrame:
        """Per-partition, per-check pass/fail verdicts.

        One aggregation pass: Spark's hash aggregate computes map-side
        partials per input partition, then a single shuffle on the (small)
        partition_id key — no per-check scans. Output:
        (partition_id, check_id, n_rows, n_violations, pass).
        """
        pid = partition_col if partition_col is not None else F.spark_partition_id()
        ann = self.with_inputs(df).select(
            pid.alias("partition_id"), F.expr(self.violation_array()).alias("_v"))
        v = "__typical_v"
        per_check = ", ".join(
            f"named_struct('check_id', {string(cid)}, 'n_violations', "
            f"sum(size(filter(_v, {v} -> {v}.check_id = {string(cid)}))))"
            for cid in sorted({c.check_id for c in self.checks})
        )
        return (
            ann.groupBy("partition_id")
            .agg(F.expr("count(1)").alias("n_rows"), F.expr(f"array({per_check})").alias("_c"))
            .selectExpr("partition_id", "n_rows", "inline(_c)")
            .selectExpr("*", "n_violations = 0 AS pass")
        )

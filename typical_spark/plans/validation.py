"""ValidationPlan — compiled, reusable, fused validation over a DataFrame.

The plan is the distributed analog of typical's SerdeProtocol (reference:
typic/serde/common.py:40-74, built once per type at resolver.py:581-657):
compiled once on the driver, then applied to any number of rows. Where the
reference executes one closure per value, the plan executes ONE fused
narrow projection per table scan:

    df.select(keys…, array_compact(array(
        when(viol_1, struct(...)), when(viol_2, struct(...)), …)))

— all checks in a single whole-stage-codegen span, no shuffle, no second
scan. Violations explode out of the array; valid rows are `size(arr)==0`.
At 100 TB this matters: the naive per-check `df.where(~pred)` plan scans
the table N_checks times; the fused plan scans it once and Parquet reads
only the checked columns (column pruning keeps `ReadSchema` narrow).
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from typical_spark.compiler import CompiledCheck
from typical_spark.specs import TableSpec

# Stable violation-row schema (analog of ConstraintValueError fields,
# reference typic/constraints/common.py:169-173).
VIOLATION_COLUMNS = ("column", "check_id", "observed", "expected", "message")


def violation_struct(
    column: str, check_id: str, observed: Column, expected: Column
) -> Column:
    """One violation entry: the struct every fused check array holds."""
    return F.struct(
        F.lit(column).alias("column"),
        F.lit(check_id).alias("check_id"),
        observed.alias("observed"),
        expected.alias("expected"),
    )


def explode_violations(df: DataFrame, keys: Sequence[str], arr: Column) -> DataFrame:
    """The violation rows: one per entry of `arr`, an array<struct> of
    `violation_struct` entries. Output: keys…, column, check_id,
    observed, expected.

    One projection: `inline` turns each struct into a row of its fields.
    No size() pre-filter: inline already drops empty arrays, and a
    filter here is pushed BELOW the projection by Catalyst, which
    duplicates the whole fused check array (every regex/range check
    evaluated twice per row — measured ~2x on the 16M-turn flagship row
    pass). For the same reason `arr` is inlined as an expression, never
    through a projected column: Spark infers that same size() > 0 filter
    from a Generate whose input is an attribute."""
    return df.select(*keys, F.inline(arr))


@dataclass(frozen=True)
class ValidationPlan:
    spec: TableSpec
    checks: tuple[CompiledCheck, ...]
    coercions: dict  # column -> Column (repair projections)
    transforms: dict  # column -> Column (mutating pre-checks)

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
        out = df
        for name, expr in self.transforms.items():
            out = out.withColumn(name, expr)
        return out

    # ---- the fused violation pass ------------------------------------

    def _violation_array(self) -> Column:
        entries = [
            F.when(
                c.violation_cond,
                violation_struct(c.column, c.check_id, c.observed, F.lit(c.expected)),
            )
            for c in self.checks
        ]
        return F.array_compact(F.array(*entries))

    def annotate(self, df: DataFrame, col: str = "_violations") -> DataFrame:
        """df + an array<struct> column of this row's violations (empty
        array == valid row). One fused projection; no shuffle."""
        return df.withColumn(col, self._violation_array())

    def violations(self, df: DataFrame, with_message: bool = True) -> DataFrame:
        """The violations table: one row per (row, failed check).

        Output: key_columns… , column, check_id, observed, expected[, message].
        """
        out = explode_violations(df, self.spec.key_columns, self._violation_array())
        if with_message:
            # "{field}: value <{v!r}> fails constraints: {constraints}"
            out = out.withColumn(
                "message",
                F.concat(
                    F.col("column"), F.lit(": value <"),
                    F.coalesce(F.col("observed"), F.lit("None")),
                    F.lit("> fails constraints: "), F.col("expected"),
                ),
            )
        return out

    def split(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(valid_rows, invalid_rows) — both from the same fused pass."""
        ann = self.annotate(df, "_violations")
        valid = ann.where(F.size("_violations") == 0).drop("_violations")
        invalid = ann.where(F.size("_violations") > 0).drop("_violations")
        return valid, invalid

    def valid_predicate(self) -> Column:
        """Single boolean Column 'row passes all checks' — stays a pure
        Catalyst conjunction so it can push into the scan when used alone."""
        conds = [~c.violation_cond | c.violation_cond.isNull() for c in self.checks]
        return reduce(lambda a, b: a & b, conds, F.lit(True))

    # ---- verdicts ----------------------------------------------------

    def verdicts(self, df: DataFrame, partition_col: Column | None = None) -> DataFrame:
        """Per-partition, per-check pass/fail verdicts.

        One aggregation pass: Spark's hash aggregate computes map-side
        partials per input partition, then a single shuffle on the (small)
        partition_id key — no per-check scans. Output:
        (partition_id, check_id, n_rows, n_violations, pass).
        """
        pid = partition_col if partition_col is not None else F.spark_partition_id()
        ann = df.select(pid.alias("partition_id"), self._violation_array().alias("_v"))
        per_check = [
            F.sum(
                F.size(F.filter("_v", lambda v: v["check_id"] == F.lit(cid)))
            ).alias(cid)
            for cid in sorted({c.check_id for c in self.checks})
        ]
        agg = ann.groupBy("partition_id").agg(
            F.count(F.lit(1)).alias("n_rows"), *per_check
        )
        cids = sorted({c.check_id for c in self.checks})
        stack = F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(c) for c in cids]),
                # backticks: check ids may contain dots (e.g. the array-
                # element checks' "elements.subject_not_null"), which a
                # bare F.col would parse as a struct accessor
                F.array(*[F.col(f"`{c}`") for c in cids]),
            )
        )
        return (
            agg.select("partition_id", "n_rows", stack.alias("check_id", "n_violations"))
            .withColumn("pass", F.col("n_violations") == 0)
        )

"""Driver-side plan build budgets: the py4j round trips it takes to build
(not run) the flagship builders. Each round trip is a socket exchange
with the JVM, so on a warm pass over a small table they are a large
share of the wall time; the count is deterministic, so a budget holds on
a noisy host where a timing would not.

The builds these budgets replaced took 1,669 round trips for
partition_digests (one `F.lit` per bin bound and midpoint), 331 for
column_stats (~50 Column calls per column), 206 for compile_table_spec
and 755 for full_validation (each check and violation struct built as
`F.*` Columns, 21 round trips per struct). The compiler now writes SQL
text, which costs none, and full_validation parses its one projection
in one call.

The text path writes every nullability itself, so the violation rows'
schemas are pinned here too.
"""

import pytest
from pyspark.sql import functions as F

from typical_spark import compile_table_spec
from typical_spark.operators.drift import partition_digests
from typical_spark.operators.stats import column_stats
from typical_spark.pipeline import full_validation
from typical_spark.session import count_jvm_calls
from typical_spark.sources.transcripts import generate_conversations_pdf
from typical_spark.specs import transcript_spec


@pytest.fixture(scope="module")
def flagship_inputs(spark, transcripts_df, transcripts_pdf):
    tdf = transcripts_df.withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(4))
    ).withColumn("tsd", F.unix_timestamp("ts").cast("double"))
    cdf = spark.createDataFrame(generate_conversations_pdf(transcripts_pdf)[["conv_id"]])
    return tdf, cdf


def _round_trips(spark, build) -> int:
    build()  # the first build may resolve and cache what later ones reuse
    with count_jvm_calls(spark) as n:
        build()
    return n[0]


@pytest.mark.parametrize("name, budget", [
    ("partition_digests", 100),
    ("column_stats", 150),
    ("compile_table_spec", 10),
    ("full_validation", 100),
])
def test_flagship_builders_stay_within_round_trip_budget(
    spark, flagship_inputs, name, budget
):
    tdf, cdf = flagship_inputs
    plan = compile_table_spec(transcript_spec())
    build = {
        "partition_digests": lambda: partition_digests(tdf, "tsd", "bucket"),
        "column_stats": lambda: column_stats(tdf, ["turn_idx", "text", "ts"]),
        "compile_table_spec": lambda: compile_table_spec(transcript_spec()),
        "full_validation": lambda: full_validation(plan, tdf, cdf),
    }[name]
    n = _round_trips(spark, build)
    # compiling only writes text; any other build that sends nothing
    # means the counter is broken
    assert name == "compile_table_spec" or n > 0, f"{name}: no round trips counted"
    assert n <= budget, f"{name}: {n} py4j round trips (budget {budget})"


def _fields(df) -> list:
    return [(f.name, f.dataType.simpleString(), f.nullable) for f in df.schema.fields]


def test_violation_row_schemas_are_pinned(flagship_inputs):
    """Column and check_id are never NULL; expected is NULL-able only in
    full_validation, whose ordering checks quote a lagged value."""
    tdf, cdf = flagship_inputs
    plan = compile_table_spec(transcript_spec())
    keys = [("conv_id", "string", True), ("turn_idx", "int", True)]
    row = [("column", "string", False), ("check_id", "string", False),
           ("observed", "string", True)]
    assert _fields(full_validation(plan, tdf, cdf)) == [
        *keys, *row, ("expected", "string", True)]
    assert _fields(plan.violations(tdf, with_message=False)) == [
        *keys, *row, ("expected", "string", False)]
    assert _fields(plan.violations(tdf)) == [
        *keys, *row, ("expected", "string", False), ("message", "string", False)]

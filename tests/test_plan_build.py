"""Driver-side plan build budgets: the py4j round trips it takes to build
(not run) the flagship builders. Each round trip is a socket exchange
with the JVM, so on a warm pass over a small table they are a large
share of the wall time; the count is deterministic, so a budget holds on
a noisy host where a timing would not.

The builds these budgets replaced took 1,669 round trips for
partition_digests (one `F.lit` per bin bound and midpoint), 331 for
column_stats (~50 Column calls per column) and 799 for full_validation
(a dim dedup, a marker column and a second projection per branch).
Each violation struct still takes 21, so full_validation stays near
750."""

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
    ("full_validation", 760),
])
def test_flagship_builders_stay_within_round_trip_budget(
    spark, flagship_inputs, name, budget
):
    tdf, cdf = flagship_inputs
    plan = compile_table_spec(transcript_spec())
    build = {
        "partition_digests": lambda: partition_digests(tdf, "tsd", "bucket"),
        "column_stats": lambda: column_stats(tdf, ["turn_idx", "text", "ts"]),
        "full_validation": lambda: full_validation(plan, tdf, cdf),
    }[name]
    n = _round_trips(spark, build)
    assert 0 < n <= budget, f"{name}: {n} py4j round trips (budget {budget})"

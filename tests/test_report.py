"""typical_spark.report: the walker, the node counter, the normalizer
and the plan fingerprint."""

import dataclasses
import os

from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from typical_spark import compile_table_spec, report
from typical_spark.specs import transcript_spec

# the committed sf0.01 copy of the documents and embeddings tables
SF001 = os.path.join(os.path.dirname(__file__), os.pardir, "perfbench", "data", "sf0.01")


def test_walk_descends_as_the_event_log_does(spark):
    """After an action, the executed plan is walked as Spark's
    SparkPlanInfo (the event log's plan tree) lists it: into AQE's query
    stages, a reused exchange and a cached relation's plan."""
    agg = spark.range(0, 5000).selectExpr("id % 50 AS k", "id AS v").groupBy("k").agg(
        F.sum("v").alias("s"))
    cached = spark.range(100).withColumnRenamed("id", "k").cache()
    out = agg.join(agg.withColumnRenamed("s", "s2"), "k").join(cached, "k")
    try:
        out.collect()
        names = report.names(report.plan(out, "executed"))
        pairs = set(zip(names, names[1:]))
        for pair in (("ShuffleQueryStage", "Exchange"), ("ReusedExchange", "Exchange"),
                     ("TableCacheQueryStage", "InMemoryTableScan")):
            assert pair in pairs, names
        assert names.count("Range") == 3, names  # both aggregates' and the cached one
        assert names[0] == "ResultQueryStage" and report.names(report.plan(out))[0] != names[0]
    finally:
        cached.unpersist()


def test_counts_file_scans_broadcasts_and_python_nodes(spark, tmp_path):
    spark.range(10).write.parquet(str(tmp_path / "t"))
    t = spark.read.parquet(str(tmp_path / "t"))

    @pandas_udf("long")
    def plus_one(s):
        return s + 1

    out = t.join(F.broadcast(t.withColumnRenamed("id", "j")), F.col("id") == F.col("j"))
    c = report.counts(report.plan(out.select(plus_one("id"))))
    assert c["Scan"] == 2 and c["BroadcastExchange"] == 1, c
    assert c["Python"] == c["ArrowEvalPython"] == 1, c


def test_normalize_maps_locations_of_any_length_alike(spark, tmp_path):
    """Spark cuts a long scan Location short with "..." and loses the
    list's closing bracket; normalized, a long and a short path read
    the same."""
    texts = []
    for d in ("s", "l" * 150):
        spark.range(3).write.parquet(str(tmp_path / d))
        texts.append(report.plan(spark.read.parquet(str(tmp_path / d))).toString())
    short, long_ = texts
    assert "..." in long_ and "..." not in short
    assert report.normalize(short) == report.normalize(long_)
    assert "[file:<path>], PartitionFilters" in report.normalize(short)
    assert report.normalize(report.normalize(short)) == report.normalize(short)


def test_normalize_replaces_session_ids():
    text = ("Project [id#123L, (v#7 + 1) AS w#8], [plan_id=42] *(3) RDD[17] "
            "lambda x_204 lambda arg#9 ShuffleQueryStage (4), Statistics(sizeInBytes=1.0 KiB) "
            "[codegen id : 2] view_0f8fad5b-d9cb-469f-a165-70867728950e\n"
            "Scan [a#1, ... 9 more fields] DataFilters: [isnotnull(t#12), (length(t#12) > 4..., "
            "Format: Parquet")
    assert report.normalize(text) == (
        "Project [id#N, (v#N + 1) AS w#N], [plan_id=N] *(N) RDD[N] "
        "lambda x_N lambda arg#N ShuffleQueryStage "
        "[codegen id : N] view_<uuid>\n"
        "Scan [a#N, ... 9 more fields] DataFilters: ..., Format: Parquet")


def test_fingerprint_is_stable_across_builds(spark):
    """Two builds of one contract query in one session give one
    fingerprint, although AQE's executed plans of these two queries
    change from run to run (plans/r10/README.md)."""
    import __spark_entry__ as entry

    queries = entry.queries()
    for name in ("documents_curated", "embeddings_near_dups"):
        a, b = (report.fingerprint(queries[name](spark, SF001)) for _ in range(2))
        assert a == b, name


def test_fingerprint_changes_with_the_plan(spark, transcripts_df):
    spec = transcript_spec()
    no_role = dataclasses.replace(spec, fields=tuple(
        dataclasses.replace(f, checks=()) if f.name == "role" else f
        for f in spec.fields))
    full, again, fewer = (
        report.fingerprint(compile_table_spec(s).violations(transcripts_df, with_message=False))
        for s in (spec, spec, no_role))
    assert full == again != fewer

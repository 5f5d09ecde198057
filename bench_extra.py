"""Extra benchmarks for optimization work (guide §1.4): noop-sink
isolation per query, flagship component breakdown, and warm min-of-N
timings. NOT part of the driver contract — bench.py stays the frozen
measurement harness; numbers from here are cited in OPTIMIZATION_r06.md.

Usage:
  python bench_extra.py flagship          # component breakdown at 16M turns
  python bench_extra.py build [N]         # driver plan build per flagship builder
  python bench_extra.py query <name> [N]  # warm min-of-N (default 3) noop-sink
  python bench_extra.py explain <name>    # formatted plan to stdout
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _spark():
    from typical_spark.session import get_spark

    return get_spark("bench_extra", cores=CPUS, ansi=False)


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def flagship_components(repeats: int = 3):
    from pyspark.sql import functions as F

    from typical_spark import compile_table_spec
    from typical_spark.operators.drift import partition_digests
    from typical_spark.operators.stats import column_stats
    from typical_spark.pipeline import full_validation
    from typical_spark.sources.transcripts import scaled_dataset
    from typical_spark.specs import transcript_spec

    spark = _spark()
    factor = int(os.environ.get("BENCH_FACTOR", "8"))
    tdf, cdf = scaled_dataset(spark, 2_000_000, factor)
    tdf.count()
    plan = compile_table_spec(transcript_spec())

    def timed(label, fn):
        walls = []
        for _ in range(repeats):
            spark.sparkContext.setJobDescription(label)
            t0 = time.time()
            fn()
            walls.append(time.time() - t0)
        spark.sparkContext.setJobDescription(None)
        print(f"{label:28s} {' '.join(f'{w:6.2f}' for w in walls)}  min={min(walls):6.2f}")

    timed("row_vio only", lambda: noop(plan.violations(tdf, with_message=False)))

    from typical_spark.operators.uniqueness import duplicate_rows

    timed(
        "dup only",
        lambda: noop(
            duplicate_rows(tdf, ["conv_id", "turn_idx"], order_by=["ts", "role"], salt_buckets=8)
        ),
    )

    from typical_spark.operators.ordering import ordering_violations

    timed(
        "ordering only",
        lambda: noop(
            ordering_violations(
                tdf.where(F.col("conv_id").isNotNull()), ["conv_id"], "turn_idx", ts_col="ts"
            )
        ),
    )

    from typical_spark.operators.referential import referential_violations

    timed(
        "referential only",
        lambda: noop(referential_violations(tdf, cdf, ["conv_id"])),
    )

    timed(
        "full_validation summary",
        lambda: full_validation(plan, tdf, cdf)
        .groupBy("check_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect(),
    )

    timed(
        "column_stats",
        lambda: column_stats(tdf, ["turn_idx", "text", "ts"]).count(),
    )

    timed(
        "partition_digests",
        lambda: partition_digests(
            tdf.withColumn("tsd", F.unix_timestamp("ts").cast("double")),
            "tsd",
            "bucket",
        ).count(),
    )


def plan_build(repeats: int = 10):
    """The driver plan build (py4j) layer of each flagship builder: the
    median wall time to build its DataFrame, with no Spark action, and the
    py4j round trips one build sends, on the 40.2k-turn bucketed table
    (`scaled_dataset(20_000, 2, buckets=4)`)."""
    import statistics

    from pyspark.sql import functions as F

    from typical_spark import compile_table_spec
    from typical_spark.operators.drift import partition_digests
    from typical_spark.operators.stats import column_stats
    from typical_spark.pipeline import full_validation
    from typical_spark.session import count_jvm_calls
    from typical_spark.sources.transcripts import scaled_dataset
    from typical_spark.specs import transcript_spec

    spark = _spark()
    tdf, cdf = scaled_dataset(spark, 20_000, 2, buckets=4)
    tsd = tdf.withColumn("tsd", F.unix_timestamp("ts").cast("double"))
    plan = compile_table_spec(transcript_spec())
    builders = {
        "compile_table_spec": lambda: compile_table_spec(transcript_spec()),
        "full_validation": lambda: full_validation(plan, tdf, cdf),
        "column_stats": lambda: column_stats(tdf, ["turn_idx", "text", "ts"]),
        "partition_digests": lambda: partition_digests(tsd, "tsd", "bucket"),
    }
    for label, build in builders.items():
        build()
        walls = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            build()
            walls.append(time.perf_counter() - t0)
        with count_jvm_calls(spark) as n:
            build()
        ms = statistics.median(walls) * 1e3
        print(f"{label:20s} build_ms={ms:7.1f}  round_trips={n[0]}")


def run_query(name: str, repeats: int = 3):
    import __spark_entry__ as entrymod

    spark = _spark()
    fn = entrymod.queries()[name]
    walls = []
    for _ in range(repeats):
        spark.sparkContext.setJobDescription(name)
        t0 = time.time()
        fn(spark, SF_DIR).collect()
        walls.append(time.time() - t0)
    spark.sparkContext.setJobDescription(None)
    print(f"{name}: {' '.join(f'{w:6.2f}' for w in walls)}  min={min(walls):6.2f}")


def explain_query(name: str):
    import __spark_entry__ as entrymod

    spark = _spark()
    fn = entrymod.queries()[name]
    fn(spark, SF_DIR).explain("formatted")


if __name__ == "__main__":
    cmd = sys.argv[1]
    if cmd == "flagship":
        flagship_components(int(sys.argv[2]) if len(sys.argv) > 2 else 3)
    elif cmd == "build":
        plan_build(int(sys.argv[2]) if len(sys.argv) > 2 else 10)
    elif cmd == "query":
        run_query(sys.argv[2], int(sys.argv[3]) if len(sys.argv) > 3 else 3)
    elif cmd == "explain":
        explain_query(sys.argv[2])
    else:
        raise SystemExit(f"unknown command {cmd}")

"""Write the plans of named frames, normalized for diffing.

    python tools/plan_pins.py <perfbench work dir> <out dir> <before|after> [name ...]

Each checkout runs its own copy. Per name it writes
`<name>_<side>_logical.txt` (optimized logical plan) and
`<name>_<side>.txt` (AQE initial plan), through `report.normalize`. A
name is a flagship frame (the default: all of `FLAGSHIP`, on perfbench
seed-1 data in the work dir, 40.2k turns in 4 buckets, generated on
first use) or a contract query of `__spark_entry__.queries()`, run on
`perfbench/data/sf0.01` (events, orders, documents, embeddings).
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from perfbench import data  # noqa: E402
from perfbench.workloads import CONTRACT_SF  # noqa: E402
from typical_spark import compile_table_spec, pipeline, report  # noqa: E402
from typical_spark.operators import drift, stats  # noqa: E402
from typical_spark.plans.validation import count_by_check  # noqa: E402
from typical_spark.session import get_spark  # noqa: E402
from typical_spark.specs import transcript_spec  # noqa: E402

FLAGSHIP = ("validation_summary", "column_stats", "partition_digests",
            "full_validation_bucketed", "full_validation_plain", "plan_violations")


def flagship_frames(spark, work: str) -> dict:
    """The `flagship_bucketed` pass's three actions, `full_validation` on
    the bucketed pair and on the plain copies, and the row-level pass."""
    ds = data.load(work, 1)
    tdf, cdf = ds.bucketed(spark)
    plan = compile_table_spec(transcript_spec())
    fused = pipeline.full_validation(plan, tdf, cdf)
    plain = spark.read.parquet(ds.plain_dir)
    return {
        "validation_summary": count_by_check(fused, pipeline.check_ids(plan))[0],
        "column_stats": stats.column_stats(tdf, data.STATS_COLUMNS),
        "partition_digests": drift.partition_digests(
            tdf.withColumn("tsd", F.unix_timestamp("ts").cast("double")), "tsd", "bucket"),
        "full_validation_bucketed": fused,
        "full_validation_plain": pipeline.full_validation(
            plan, plain, spark.read.parquet(ds.conversations_dir)),
        "plan_violations": plan.violations(tdf, with_message=False),
    }


def main(work: str, out: str, side: str, *names: str) -> None:
    import __spark_entry__ as entry

    names, queries = names or FLAGSHIP, entry.queries()
    unknown = [n for n in names if n not in FLAGSHIP and n not in queries]
    if unknown:
        sys.exit(f"unknown frames: {unknown}")
    spark = get_spark("plan_pins", cores=4, shuffle_partitions=8)
    frames = flagship_frames(spark, work) if set(names) & set(FLAGSHIP) else {}
    os.makedirs(out, exist_ok=True)
    for name in names:
        df = frames[name] if name in FLAGSHIP else queries[name](spark, CONTRACT_SF)
        for suffix, which in (("_logical", "logical"), ("", "initial")):
            with open(os.path.join(out, f"{name}_{side}{suffix}.txt"), "w") as fh:
                fh.write(report.normalize(report.plan(df, which).toString()))


if __name__ == "__main__":
    if len(sys.argv) < 4 or sys.argv[3] not in ("before", "after"):
        sys.exit(__doc__)
    main(*sys.argv[1:])

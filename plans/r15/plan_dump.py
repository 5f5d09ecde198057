"""Dump the fused-pass plans of one checkout, normalized for diffing.

    python plans/r15/plan_dump.py <perfbench work dir> <out dir> <before|after>

Run from the checkout's root, once per checkout, each on perfbench data
it generated itself (seed 1: 40.2k turns, 4 buckets). It writes, for
`full_validation` on the bucketed table with the dimension
`scaled_dataset` serves (`full_validation_bucketed`), on the plain
hive-partitioned copy with the plain dimension (`full_validation_plain`),
and for `plan.violations` (`plan_violations`),
`<name>_<side>_logical.txt`, the optimized logical plan, and
`<name>_<side>.txt`, the AQE initial physical plan (the executed plans
flap from run to run, `plans/r10/README.md`).

Normalization: expression ids, plan ids, codegen stage ids, RDD ids,
lambda variable ids, uuids and file paths.
"""

import os
import re
import sys

sys.path.insert(0, os.getcwd())

from perfbench import data  # noqa: E402
from typical_spark import compile_table_spec, pipeline  # noqa: E402
from typical_spark.session import get_spark  # noqa: E402
from typical_spark.specs import transcript_spec  # noqa: E402


def norm(s: str) -> str:
    s = re.sub(r"#\d+L?", "#N", s)
    s = re.sub(r"plan_id=\d+", "plan_id=N", s)
    s = re.sub(r"file:[^\s,\]]+", "file:<path>", s)
    s = re.sub(r"\*\(\d+\)", "*(N)", s)
    s = re.sub(r"RDD\[\d+\]", "RDD[N]", s)
    s = re.sub(r"lambda (\w+)_\d+", r"lambda \1_N", s)
    s = re.sub(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>", s)
    return s


def main(work: str, out: str, side: str) -> None:
    spark = get_spark("plan_dump", cores=4, shuffle_partitions=8)
    ds = data.load(work, 1)
    tdf, cdf = ds.bucketed(spark)
    plan = compile_table_spec(transcript_spec())
    plain = spark.read.parquet(ds.plain_dir)
    frames = {
        "full_validation_bucketed": pipeline.full_validation(plan, tdf, cdf),
        "full_validation_plain": pipeline.full_validation(
            plan, plain, spark.read.parquet(ds.conversations_dir)),
        "plan_violations": plan.violations(tdf, with_message=False),
    }
    os.makedirs(out, exist_ok=True)
    for name, df in frames.items():
        qe = df._jdf.queryExecution()
        root = qe.executedPlan()
        if root.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            root = root.initialPlan()
        for suffix, text in (("_logical", qe.optimizedPlan().toString()), ("", root.toString())):
            with open(os.path.join(out, f"{name}_{side}{suffix}.txt"), "w") as fh:
                fh.write(norm(text))


if __name__ == "__main__":
    main(*sys.argv[1:4])

"""Dump the fused-pass plans of one checkout, normalized for diffing.

    python plans/r13/plan_dump.py <perfbench work dir> <out dir> <before|after>

Run from the checkout's root, once per checkout, on the same perfbench
data (seed 1: the 40.2k-turn bucketed table). It writes, for
`full_validation` (what `validation_summary` runs) and
`plan.violations` (what the job's checkpointed units and the stream
run), `<name>_<side>_logical.txt`, the optimized logical plan, and
`<name>_<side>.txt`, the AQE initial physical plan; and for
`validation_summary` the counting step on top of `full_validation` at
that side (an aggregate before, an Observation after). The executed
(final) plans flap from run to run, so they are not compared.

Normalization: expression ids, plan ids, codegen stage ids, RDD ids,
lambda variable ids and file paths.
"""

import os
import re
import sys

sys.path.insert(0, os.getcwd())

from pyspark.sql import functions as F  # noqa: E402

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
    tdf, cdf = data.load(work, 1).bucketed(spark)
    plan = compile_table_spec(transcript_spec())
    fused = pipeline.full_validation(plan, tdf, cdf)
    if hasattr(pipeline, "check_ids"):
        from typical_spark.plans.validation import count_by_check

        summary = count_by_check(fused, pipeline.check_ids(plan))[0]
    else:
        summary = fused.groupBy("check_id").agg(F.count(F.lit(1)).alias("n"))
    frames = {
        "full_validation": fused,
        "plan_violations": plan.violations(tdf, with_message=False),
        "validation_summary": summary,
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

"""Cluster entrypoint: validate a transcript table end-to-end.

    spark-submit --py-files typical_spark.zip \
        jobs/validate_transcripts.py \
        --input  <parquet dir | iceberg://cat.db.transcripts> \
        --conversations <parquet dir | iceberg://...> \
        --out    <output dir | iceberg://cat.db> \
        --run-id nightly-2025-01-01 [--checkpointed | --incremental] \
        [--spec spec.json] [--mode coerce|strict]

By default runs the fused check suite (row-level + uniqueness + ordering
+ referential, `pipeline.full_validation`) once, writes the violations
to <out>/violations (the table <out>.violations for an iceberg:// --out)
and prints their counts by check, counted by an Observation on that
write.
--checkpointed instead runs the row-level pass bucket by bucket with a
lineage manifest; re-running it with the same --run-id continues an
interrupted run. Its manifest commits by file rename, so it needs a
directory --out. On a cluster the SparkSession comes from
spark-submit's conf (no master hardcoded here).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--conversations", default=None)
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", default="run")
    ap.add_argument("--bucket-col", default="bucket")
    ap.add_argument("--checkpointed", action="store_true",
                    help="per-bucket checkpointed mode (resumable)")
    ap.add_argument("--incremental", action="store_true",
                    help="nightly-rerun mode: re-validate only buckets "
                         "whose content fingerprint changed since the "
                         "last manifest entry (implies --checkpointed)")
    ap.add_argument("--spec", default=None,
                    help="JSON TableSpec file (spec_io format); default: "
                         "the built-in transcript spec")
    ap.add_argument("--mode", default="coerce", choices=("coerce", "strict"))
    args = ap.parse_args(argv)
    if (args.checkpointed or args.incremental) and args.out.startswith("iceberg://"):
        # the checkpoint manifest commits by POSIX rename
        ap.error("--checkpointed/--incremental need a directory --out, "
                 f"not {args.out}")

    from typical_spark.checkpoint import CheckpointedRun
    from typical_spark.compiler import compile_table_spec
    from typical_spark.pipeline import check_ids, full_validation
    from typical_spark.plans.validation import count_by_check
    from typical_spark.session import job_session
    from typical_spark.sources.tables import read_target, sub_target, write_output
    from typical_spark.spec_io import spec_from_json_file
    from typical_spark.specs import transcript_spec

    spark = job_session("typical-spark-validate")
    spec = spec_from_json_file(args.spec) if args.spec else transcript_spec()
    plan = compile_table_spec(spec, mode=args.mode)
    tdf = read_target(spark, args.input)
    cdf = read_target(spark, args.conversations) if args.conversations else None

    if args.checkpointed or args.incremental:
        run = CheckpointedRun(spark, plan, args.out, run_id=args.run_id,
                              bucket_col=args.bucket_col)
        summary = run.run_incremental(tdf) if args.incremental else run.run(tdf)
        print(json.dumps(summary))
        return 0

    # the write counts its rows by check: no second pass, no read-back
    vio, counts = count_by_check(full_validation(plan, tdf, cdf), check_ids(plan))
    write_output(vio, sub_target(args.out, "violations"), mode="overwrite")
    print(json.dumps({"run_id": args.run_id, "violations_by_check": counts()}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

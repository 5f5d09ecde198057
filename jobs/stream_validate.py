"""Cluster streaming entrypoint: continuous validation of arriving
transcript files/Iceberg snapshots.

    spark-submit --py-files typical_spark.zip jobs/stream_validate.py \
        --input <dir watched for parquet> --out <dir> \
        [--checkpoint <dir>] [--watermark "10 minutes"] [--once] \
        [--spec spec.json]

Runs three concurrent sinks off one source:
  1. row-level violations (stateless fused plan) -> parquet append
  2. windowed per-check violation counts (watermarked) -> parquet append
  3. stateful per-conversation ordering violations -> parquet append
"""

from __future__ import annotations

import argparse
import sys
from dataclasses import replace

from pyspark.sql import types as T

NARROW_INTS = {"tinyint", "byte", "smallint", "short", "int", "integer"}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--watermark", default="10 minutes")
    ap.add_argument("--once", action="store_true",
                    help="process available data then stop (availableNow)")
    ap.add_argument("--spec", default=None,
                    help="JSON TableSpec file (spec_io format); default: "
                         "the built-in transcript spec")
    args = ap.parse_args(argv)

    from typical_spark.compiler import compile_table_spec
    from typical_spark.schema import spec_to_structtype
    from typical_spark.session import job_session
    from typical_spark.spec_io import spec_from_json_file
    from typical_spark.specs import transcript_spec
    from typical_spark.streaming import streaming_validation, windowed_check_stats
    from typical_spark.streaming.stateful import stateful_ordering_violations

    spark = job_session("typical-spark-stream")
    spec = spec_from_json_file(args.spec) if args.spec else transcript_spec()
    # A stream, unlike a batch read, fails on a file that stores an
    # integer field wider than the read type: read integers as bigint and
    # coerce (try_cast) them, so a value out of range is a `coerce` row.
    narrow = {fs.name for fs in spec.fields if fs.coerce_from is None
              and "." not in fs.name and fs.dtype.strip().lower() in NARROW_INTS}
    spec = replace(spec, fields=tuple(
        replace(fs, coerce_from="bigint") if fs.name in narrow else fs for fs in spec.fields))
    plan = compile_table_spec(spec)
    ckpt = args.checkpoint or f"{args.out.rstrip('/')}/_checkpoints"
    stream = spark.readStream.schema(T.StructType([
        T.StructField(f.name, T.LongType()) if f.name in narrow else f
        for f in spec_to_structtype(spec).fields])).parquet(args.input)

    def sink(df, name):
        w = (
            df.writeStream.format("parquet")
            .option("path", f"{args.out.rstrip('/')}/{name}")
            .option("checkpointLocation", f"{ckpt}/{name}")
            .outputMode("append")
        )
        if args.once:
            w = w.trigger(availableNow=True)
        return w.start()

    # the windowed/stateful sinks need the transcript-shaped columns; a
    # custom --spec without them still gets the row-level violation sink
    names = {fs.name for fs in spec.fields}
    queries = [sink(streaming_validation(stream, plan), "violations")]
    if "ts" in names:
        queries.append(
            sink(windowed_check_stats(stream, plan, watermark=args.watermark),
                 "window_stats"))
    if {"conv_id", "turn_idx", "ts"} <= names:
        queries.append(
            sink(stateful_ordering_violations(plan.coerce(stream), watermark=args.watermark),
                 "ordering_violations"))
    for q in queries:
        q.awaitTermination() if not args.once else q.processAllAvailable()
    if args.once:
        for q in queries:
            q.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

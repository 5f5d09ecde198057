"""applyInPandasWithState ordering operator (session-flush design):
results must be batch-identical and ARRIVAL-ORDER independent — a
conversation split across micro-batches, shuffled, still yields exactly
the batch operator's violations."""

import glob
import os
import shutil
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from typical_spark.operators.ordering import ordering_violations
from typical_spark.streaming.stateful import stateful_ordering_violations


def _write_sentinel(spark, d, ts="2029-12-31"):
    """A far-future (but in-bounds) row that advances the global
    watermark past all real data so every session flushes."""
    sent = pd.DataFrame({
        "conv_id": ["zsentinel"],
        "turn_idx": pd.array([0], dtype="int32"),
        "ts": pd.to_datetime([ts]),
    })
    tmp = d + "_flush"
    spark.createDataFrame(sent).coalesce(1).write.mode("overwrite").parquet(tmp)
    os.rename(glob.glob(tmp + "/part-*.parquet")[0], d + "/zz_flush.parquet")
    shutil.rmtree(tmp, ignore_errors=True)


def _run_stream(spark, d, schema, name, watermark="12 hours"):
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = (
        stateful_ordering_violations(stream, watermark=watermark)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(
        f"SELECT * FROM {name} WHERE conv_id <> 'zsentinel'"
    )


def test_cross_batch_state(spark):
    """Duplicate and gap spanning a micro-batch boundary: only
    cross-batch state can see them."""
    d = tempfile.mkdtemp(prefix="stateful_src_")
    try:
        a = pd.DataFrame({
            "conv_id": ["c1", "c1", "c2"],
            "turn_idx": pd.array([0, 1, 0], dtype="int32"),
            "ts": pd.to_datetime(["2025-01-01 00:00:00", "2025-01-01 00:00:05",
                                  "2025-01-01 00:00:00"]),
        })
        b = pd.DataFrame({
            "conv_id": ["c1", "c1", "c2"],
            "turn_idx": pd.array([1, 5, 1], dtype="int32"),
            "ts": pd.to_datetime(["2025-01-01 00:00:10", "2025-01-01 00:00:02",
                                  "2025-01-01 00:00:07"]),
        })
        spark.createDataFrame(a).coalesce(1).write.parquet(d + "/a")
        spark.createDataFrame(b).coalesce(1).write.parquet(d + "/b")
        for i, f in enumerate(sorted(glob.glob(d + "/*/part-*.parquet"))):
            os.rename(f, f"{d}/batch_{i}.parquet")
        _write_sentinel(spark, d)
        out = _run_stream(
            spark, d, "conv_id string, turn_idx int, ts timestamp", "st_cb"
        )
        got = {(r["conv_id"], r["turn_idx"], r["check_id"]) for r in out.collect()}
        assert ("c1", 1, "order_duplicate") in got
        assert ("c1", 5, "order_gap") in got
        # c1's duplicate turn 1 (ts 00:00:10) sorts after turn 1 (00:00:05),
        # then turn 5 has ts 00:00:02 < 00:00:10 -> ts_out_of_order too
        assert ("c1", 5, "ts_out_of_order") in got
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_shuffled_arrival_matches_batch(spark):
    """Real generated transcripts, rows randomly split over micro-batches:
    the stateful stream must reproduce the batch operator EXACTLY."""
    from typical_spark.sources.transcripts import generate_transcripts_pdf

    pdf = generate_transcripts_pdf(1500, seed=21)
    d = tempfile.mkdtemp(prefix="stateful_par_")
    try:
        src = spark.createDataFrame(pdf).select("conv_id", "turn_idx", "ts").where(
            (F.col("ts") >= "2020-01-01") & (F.col("ts") < "2030-01-01")
        )
        src.repartition(3).write.mode("overwrite").parquet(d)
        batch_df = spark.read.parquet(d)
        cols = ["conv_id", "turn_idx", "check_id", "observed", "expected"]
        want = sorted(
            map(tuple, ordering_violations(
                batch_df.where(F.col("conv_id").isNotNull()),
                ["conv_id"], "turn_idx", ts_col="ts",
            ).select(*cols).collect())
        )
        _write_sentinel(spark, d)
        out = _run_stream(spark, d, batch_df.schema, "st_par")
        got = sorted(map(tuple, out.select(*cols).collect()))
        # ALL FIVE columns byte-identical: the stateful pairs must give
        # the batch operator's observed/expected text exactly (epoch
        # micros back through timestamp_micros), not just the check ids
        assert got == want and len(want) > 10
    finally:
        shutil.rmtree(d, ignore_errors=True)

"""Seeded transcript inputs and their expected results.

One dataset per data seed (the run's seed mod DATASETS), generated
once into the benchmark's work directory and reused by every transcript
workload:

- the `scaled_dataset` tables: BASE_TURNS generated turns replicated
  FACTOR times with disjoint conversation ids, served as a plain
  hive-partitioned parquet copy and as a bucketed table sorted by
  (conv_id, turn_idx, ts, role), plus the conversations dimension;
- a small append of new turns for the checkpointed rerun, which lands
  in one bucket;
- `meta.json`: what every timed output must equal, computed from
  pandas alone with `typical_spark.oracle` (row-level and ordering
  checks) and plain pandas (unique-key, referential, null counts).

The reference replicates the base frame in pandas rather than scaling
the base counts: NULL and malformed conversation ids are not remapped
by the replication, so those rows of different replicas share keys and
their unique-key and ordering counts are not FACTOR times the base.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pandas as pd

BASE_TURNS = 20_000
FACTOR = 2
BUCKETS = 4
# units of work of the checkpointed run: each is BUCKETS / CHECKPOINT_UNITS
# of the table's hash buckets (its per-unit Spark jobs and manifest
# appends cost about a second each, whatever the unit's size)
CHECKPOINT_UNITS = 2
# a run's seed selects one of DATASETS generated datasets (seed mod
# DATASETS): generation costs ~30 s, and a comparison of 22 runs per
# workload must not pay it on every run
DATASETS = 2
APPEND_CONVS = 3
APPEND_TURNS = 20
STATS_COLUMNS = ["turn_idx", "text", "ts"]
CONV_ID_RE = r"^c[0-9]{8}$"


class Dataset:
    def __init__(self, root: str, seed: int, meta: dict):
        self.root = root
        self.seed = seed
        self.meta = meta

    @property
    def plain_dir(self) -> str:
        return os.path.join(self.root, f"transcripts_n{BASE_TURNS}_s{self.seed}_x{FACTOR}")

    @property
    def conversations_dir(self) -> str:
        return os.path.join(self.root, f"conversations_n{BASE_TURNS}_s{self.seed}_x{FACTOR}")

    @property
    def bucketed_dir(self) -> str:
        return os.path.join(self.root, f"tx_n{BASE_TURNS}_s{self.seed}_x{FACTOR}_b{BUCKETS}")

    @property
    def append_dir(self) -> str:
        return os.path.join(self.root, "append")

    @property
    def expected(self) -> dict:
        return self.meta["expected"]

    @property
    def turns(self) -> int:
        return self.expected["n_rows"]

    def bucketed(self, spark):
        """(transcripts, conversations) through `scaled_dataset`, which
        registers the bucketed table in this session."""
        from typical_spark.sources import transcripts

        return transcripts.scaled_dataset(
            spark, BASE_TURNS, FACTOR, seed=self.seed, cache_dir=self.root, buckets=BUCKETS
        )


def data_root(work: str, seed: int) -> str:
    """Where a data seed's inputs live; the size is in the name so a
    change of BASE_TURNS never reuses stale inputs."""
    return os.path.join(work, "data", f"n{BASE_TURNS}_s{seed}")


def load(work: str, run_seed: int) -> Dataset:
    """The dataset for `run_seed`. A new dataset is generated in a child
    process with its own JVM, so the benchmark process's memory peak and
    JIT state do not depend on whether it was new."""
    seed = run_seed % DATASETS
    root = data_root(work, seed)
    meta_path = os.path.join(root, "meta.json")
    if not os.path.exists(meta_path):
        subprocess.run(
            [sys.executable, "-m", "perfbench.data", work, str(seed)],
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            stdout=sys.stderr,
            check=True,
        )
    with open(meta_path) as fh:
        return Dataset(root, seed, json.load(fh))


def generate(spark, root: str, seed: int) -> None:
    """Write the seed's tables and append, then `meta.json` with the
    expected results and how long generation took (`generate_s`)."""
    os.makedirs(root, exist_ok=True)
    t0 = time.perf_counter()
    from pyspark.sql import functions as F

    from typical_spark.sources import transcripts as tx

    pdf = tx.generate_transcripts_pdf(BASE_TURNS, seed)
    cpdf = tx.generate_conversations_pdf(pdf, seed=seed)
    expected = reference(replicate(pdf, "ts"), replicate(cpdf, "started_ts"))
    ds = Dataset(root, seed, {})
    ds.bucketed(spark)  # writes the plain copy, the dimension and the bucketed table
    app = append_pdf(seed)
    (
        spark.createDataFrame(app.drop(columns=["bucket"]))
        .withColumn("bucket", F.lit(int(app["bucket"].iloc[0])))
        .write.mode("overwrite").partitionBy("bucket").parquet(ds.append_dir)
    )
    expected["append_rows"] = len(app)
    expected["append_buckets"] = sorted(int(b) for b in app["bucket"].unique())
    expected["append_row_violations"] = int(len(_row_violations(app)))
    meta = {"seed": seed, "expected": expected, "generate_s": time.perf_counter() - t0}
    meta_path = os.path.join(root, "meta.json")
    with open(meta_path + ".tmp", "w") as fh:
        json.dump(meta, fh)
    os.replace(meta_path + ".tmp", meta_path)


def replicate(pdf: pd.DataFrame, ts_col: str) -> pd.DataFrame:
    """pandas twin of `replicate_transcripts`: replica r writes r over
    the first digit of every well-formed id and shifts time by r*2h."""
    ok = pdf["conv_id"].fillna("").str.match(CONV_ID_RE)
    parts = []
    for r in range(FACTOR):
        p = pdf.copy()
        p.loc[ok, "conv_id"] = "c" + str(r) + p.loc[ok, "conv_id"].str[2:9]
        p[ts_col] = p[ts_col] + pd.Timedelta(seconds=7200 * r)
        parts.append(p)
    return pd.concat(parts, ignore_index=True)


def _row_violations(pdf: pd.DataFrame) -> pd.DataFrame:
    from typical_spark import oracle

    frame = pdf[["conv_id", "turn_idx", "role", "text", "tool", "ts"]].astype(object)
    frame = frame.where(pd.notna(frame), None)
    return oracle.transcript_violations(frame)


def reference(rep: pd.DataFrame, conv: pd.DataFrame) -> dict:
    """Expected violation counts by check, and column-stat null counts."""
    from typical_spark import oracle

    by_check: dict[str, int] = {}
    rows = _row_violations(rep)
    for k, v in rows["check_id"].value_counts().items():
        by_check[k] = int(v)
    row_total = int(len(rows))
    # the fused pass breaks turn_idx ties by (ts, role), NULLs first;
    # ordering_violations_ref sorts stably, so pre-sort to the same order
    ordered = rep.sort_values(
        ["conv_id", "turn_idx", "ts", "role"], na_position="first", kind="mergesort"
    )
    for k, v in oracle.ordering_violations_ref(ordered)["check_id"].value_counts().items():
        by_check[k] = by_check.get(k, 0) + int(v)
    by_check["unique_key"] = int(
        len(rep) - rep.groupby(["conv_id", "turn_idx"], dropna=False).ngroups
    )
    known = set(conv["conv_id"])
    by_check["referential"] = int((rep["conv_id"].notna() & ~rep["conv_id"].isin(known)).sum())
    by_check = {k: v for k, v in by_check.items() if v}
    return {
        "n_rows": int(len(rep)),
        "by_check": by_check,
        "row_violations": row_total,
        "nulls": {c: int(rep[c].isna().sum()) for c in STATS_COLUMNS},
    }


def append_pdf(seed: int) -> pd.DataFrame:
    """New conversations for the incremental rerun, all in one bucket,
    with one invalid role and one negative turn index."""
    rng = np.random.default_rng(seed + 7)
    bucket = int(rng.integers(0, BUCKETS))
    base = pd.Timestamp("2025-06-01")
    rows = []
    for c in range(APPEND_CONVS):
        conv = f"c9{int(rng.integers(0, 10**6)) * 10 + c:07d}"
        for t in range(APPEND_TURNS):
            rows.append({
                "conv_id": conv,
                "turn_idx": t,
                "role": ("system", "user", "assistant", "tool")[t % 4],
                "text": f"appended turn {t} of {conv}",
                "tool": "tool_01" if t % 4 == 3 else None,
                "ts": base + pd.Timedelta(seconds=60 * c + 5 * t),
            })
    pdf = pd.DataFrame(rows)
    pdf.loc[1, "role"] = "robot"
    pdf.loc[2, "turn_idx"] = -3
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf["bucket"] = bucket
    return pdf


if __name__ == "__main__":
    from perfbench import run

    work, seed = sys.argv[1], int(sys.argv[2])
    run_dir = os.path.join(work, "runs", f"generate-{os.getpid()}")
    spark = run.start_session(len(os.sched_getaffinity(0)), run_dir, trace=False)
    try:
        generate(spark, data_root(work, seed), seed)
    finally:
        run.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

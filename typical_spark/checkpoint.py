"""Resumable validation runs: per-partition checkpoints + lineage manifest.

north_rule: "resumable from checkpoint with per-partition lineage +
metrics persisted to an Iceberg manifest table". The unit of work is the
table's partition bucket (the conv-hash `bucket` column the transcript
table is written with — an Iceberg `bucket(conv_id)` transform on a real
deployment). The driver walks buckets in deterministic order, runs the
fused validation pass on each (Catalyst prunes the scan to that bucket's
files — check .explain() for PartitionFilters), writes the bucket's
violations to the sink, then commits one lineage row to the manifest:

    (run_id, bucket, status, n_rows, n_violations, wall_s, finished_at,
     fingerprint, mode, plan)

`plan` is a digest of what the violations depend on besides the rows:
the spec (`spec_io.spec_to_json`) and each compiled check's (column,
check_id, expected). The predicate strings are left out because Spark
numbers lambda variables per JVM, so they differ between runs of the
same plan. `run_incremental` carries a bucket only when its last row
matches both the current content fingerprint and the current plan;
rows written before the column existed read back with `plan` NULL and
so are re-validated once. `manifest()` shows the lineage columns
without `plan`, with one schema whatever mix of older and newer files
the directory holds.

The violations write is a bucket's only Spark action; `Observation`s on
it give the row count, content fingerprint and violation count. The
manifest row is a driver-written Arrow file committed by rename: pyarrow
writes `.part-<uuid>.parquet.tmp`, then `os.replace` names it
`part-<uuid>.parquet`. Spark and pyarrow skip names starting with `.` or
`_`, so a crash leaves no half-written row visible, and Spark-written
files from older manifests read back beside the new ones. The manifest
is also read with pyarrow on the driver, so no Spark job touches it.
Like StageCheckpoint's marker this assumes a POSIX path with atomic
rename; on Iceberg the equivalent commit is one `append`.

Resume = read the manifest, subtract the buckets this run id completed
under the current plan (or a NULL one), process the rest.
A bucket is only ever marked complete AFTER its violations are durably
written, so a crash between write and mark re-processes one bucket
(at-least-once; the violations sink is keyed by bucket so re-writes
overwrite that bucket's directory, keeping output exactly-once).

At cluster scale each bucket-job is itself fully parallel (a bucket holds
1/N of the table, spread over its files); bucket granularity only bounds
the blast radius of a restart, not parallelism.
"""

from __future__ import annotations

import hashlib
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from typical_spark.plans.validation import ValidationPlan
from typical_spark.spec_io import spec_to_json

# the lineage columns, field for field the schema Spark wrote the
# manifest with, then the plan digest
MANIFEST_SCHEMA = pa.schema([
    ("run_id", pa.string()), ("bucket", pa.int32()), ("status", pa.string()),
    ("n_rows", pa.int64()), ("n_violations", pa.int64()),
    ("wall_s", pa.float64()), ("finished_at", pa.float64()),
    ("fingerprint", pa.int64()), ("mode", pa.string()), ("plan", pa.string()),
])


def plan_digest(plan: ValidationPlan) -> str:
    """Digest of the spec and each check's (column, check_id, expected):
    equal for two compilations of the same spec in any process."""
    h = hashlib.sha256(spec_to_json(plan.spec).encode())
    for c in plan.checks:
        h.update(repr((c.column, c.check_id, c.expected)).encode())
    return h.hexdigest()[:16]


def row_hash(columns: list[str]) -> Column:
    """Per-row content hash over every column, folded into 31 bits so a
    bucket's sum stays exact (no long overflow) up to 2^32 rows."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in columns]), F.lit(1 << 31))


class CheckpointedRun:
    def __init__(
        self,
        spark: SparkSession,
        plan: ValidationPlan,
        out_dir: str,
        run_id: str = "run",
        bucket_col: str = "bucket",
    ):
        self.spark = spark
        self.plan = plan
        self.out_dir = out_dir
        self.run_id = run_id
        self.bucket_col = bucket_col
        self.plan_digest = plan_digest(plan)
        self.manifest_path = os.path.join(out_dir, "manifest")
        self.violations_path = os.path.join(out_dir, "violations")

    # -- manifest ------------------------------------------------------

    def _done_rows(self) -> list[dict]:
        """Every committed status='done' manifest row, read on the driver."""
        if not os.path.exists(self.manifest_path):
            return []
        rows = pq.read_table(self.manifest_path, schema=MANIFEST_SCHEMA).to_pylist()
        return [r for r in rows if r["status"] == "done"]

    def completed_buckets(self) -> set[int]:
        mine = [r for r in self._done_rows() if r["run_id"] == self.run_id]
        return {r["bucket"] for r in mine if r["plan"] in (None, self.plan_digest)}

    def _append_manifest(self, rows: list[tuple]) -> None:
        """Commit (bucket, n_rows, n_violations, wall_s, fingerprint,
        mode) rows as ONE parquet file: written under a hidden name, then
        renamed into place. A failed commit leaves no file behind."""
        now = time.time()
        table = pa.Table.from_pylist([
            dict(run_id=self.run_id, bucket=b, status="done", n_rows=n,
                 n_violations=nv, wall_s=wall, finished_at=now,
                 fingerprint=fp, mode=mode, plan=self.plan_digest)
            for b, n, nv, wall, fp, mode in rows
        ], schema=MANIFEST_SCHEMA)
        os.makedirs(self.manifest_path, exist_ok=True)
        name = f"part-{uuid.uuid4()}.parquet"
        tmp = os.path.join(self.manifest_path, f".{name}.tmp")
        try:
            pq.write_table(table, tmp)
            os.replace(tmp, os.path.join(self.manifest_path, name))
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)

    # -- incremental re-validation --------------------------------------

    def bucket_fingerprints(self, df: DataFrame) -> dict[int, int]:
        """Order-independent content fingerprint per bucket: the sum of
        `row_hash` over the bucket's rows — ONE map-side-combined pass
        over the table, the cost of a count. Any row change/insert/delete
        moves the sum (duplicate rows each contribute — XOR would let
        pairs cancel)."""
        fp = F.sum(row_hash(df.columns)).alias("fp")
        rows = df.groupBy(self.bucket_col).agg(fp).collect()
        return {r[self.bucket_col]: r["fp"] for r in rows}

    def _latest_rows(self) -> dict[int, dict]:
        """The last committed row per bucket (max finished_at) across ALL
        runs: the state each bucket's violations directory holds."""
        return {
            r["bucket"]: r
            for r in sorted(self._done_rows(), key=lambda r: r["finished_at"])
        }

    def latest_fingerprints(self) -> dict[int, tuple]:
        """{bucket: (fingerprint, n_rows, n_violations)} from the last
        committed row per bucket — the previous validation states to diff
        against."""
        return {
            b: (r["fingerprint"], r["n_rows"], r["n_violations"])
            for b, r in self._latest_rows().items()
        }

    def run_incremental(self, df: DataFrame) -> dict:
        """Nightly-rerun mode: re-validate ONLY buckets whose content
        fingerprint or validation plan changed since the last recorded
        validation (new buckets count as changed; a bucket whose previous
        manifest row predates fingerprints or plan digests, i.e. has
        them NULL, also counts as changed). Unchanged buckets carry their
        previous metrics forward as mode='carried' manifest rows,
        committed together in one file, and keep their already-written
        violations partition — so an append-mostly table pays only for
        the buckets that moved."""
        fps = self.bucket_fingerprints(df)
        prev = self._latest_rows()
        carried = [
            (b, prev[b]["n_rows"], prev[b]["n_violations"], 0.0, fps[b], "carried")
            for b in sorted(fps)
            if b in prev
            and prev[b]["fingerprint"] == fps[b]
            and prev[b]["plan"] == self.plan_digest
        ]
        if carried:
            self._append_manifest(carried)
        changed = sorted(set(fps) - {row[0] for row in carried})
        for b in changed:
            self._validate_bucket(df, b)
        return {
            "run_id": self.run_id,
            "buckets_total": len(fps),
            "buckets_validated": len(changed),
            "buckets_carried": len(carried),
        }

    # -- run -----------------------------------------------------------

    def _validate_bucket(self, df: DataFrame, b: int) -> None:
        """ONE Spark action: the violations write. Observations on it
        count the bucket's rows and fingerprint them (before the check
        projection, the same hash `bucket_fingerprints` sums, so a later
        run_incremental can diff against it) and count the violations."""
        t0 = time.time()
        seen, found = Observation(), Observation()
        part = df.where(F.col(self.bucket_col) == b)
        part = part.observe(seen, F.count(F.lit(1)).alias("n"),
                            F.sum(row_hash(part.columns)).alias("fp"))
        vio = self.plan.violations(part, with_message=False)
        vio = vio.observe(found, F.count(F.lit(1)).alias("n"))
        # per-bucket directory -> re-running a bucket overwrites, not
        # duplicates (exactly-once output under at-least-once driver)
        vio.write.mode("overwrite").parquet(os.path.join(self.violations_path, f"bucket={b}"))
        n, fp, nv = seen.get["n"], seen.get["fp"], found.get["n"]
        self._append_manifest([(b, n, nv, time.time() - t0, fp, "validated")])

    def run(self, df: DataFrame, fail_after: int | None = None) -> dict:
        """Process every not-yet-done bucket. `fail_after` aborts after N
        buckets (test hook for kill-and-resume)."""
        buckets = sorted(r[0] for r in df.select(self.bucket_col).distinct().collect())
        done = self.completed_buckets()
        todo = [b for b in buckets if b not in done]
        for processed, b in enumerate(todo):
            if fail_after is not None and processed >= fail_after:
                raise RuntimeError(f"injected failure after {processed} buckets")
            self._validate_bucket(df, b)
        return {
            "run_id": self.run_id,
            "buckets_total": len(buckets),
            "buckets_previously_done": len(done),
            "buckets_processed": len(todo),
        }

    def violations(self) -> DataFrame:
        path = self.violations_path
        return self.spark.read.option("basePath", path).parquet(path)

    def manifest(self) -> DataFrame:
        lineage = [n for n in MANIFEST_SCHEMA.names if n != "plan"]
        return self.spark.read.parquet(self.manifest_path).select(*lineage)


class StageCheckpoint:
    """Stage-level resume for multi-stage pipelines (the curation job's
    analog of CheckpointedRun's per-bucket manifest): each named stage's
    output is materialized to <root>/<name> as parquet, and a
    <name>.stage.json marker (row count, wall seconds) is committed only
    AFTER the write succeeds. A re-run loads completed stages from disk
    instead of recomputing them; a crash mid-write leaves no marker, so
    that stage re-runs from scratch (mode=overwrite keeps the output
    exactly-once).

    This also serves the cost model at scale: resuming from the
    materialized stage REPLACES the upstream lineage with a parquet
    scan, so a restarted 10-stage curation run on 100 TB re-reads only
    the last incomplete stage's input instead of recomputing the whole
    DAG (the same reason production pipelines write each stage to the
    lake; on Iceberg the stage table's snapshot is the marker)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        fingerprint: dict | None = None,
    ):
        """fingerprint: the parameters the staged outputs depend on
        (thresholds, input path, ...). Stored in each stage marker and
        VALIDATED on resume — without it, re-running with changed
        arguments would silently load stale stage output computed under
        the old ones (e.g. survivors deduped at a different jaccard)."""
        self.spark = spark
        self.root = root
        self.fingerprint = fingerprint
        os.makedirs(root, exist_ok=True)

    def _data_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _marker_path(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.stage.json")

    def done(self, name: str) -> bool:
        return os.path.exists(self._marker_path(name))

    def completed(self) -> list[str]:
        return sorted(
            f[: -len(".stage.json")]
            for f in os.listdir(self.root)
            if f.endswith(".stage.json")
        )

    def stage(self, name: str, thunk) -> tuple[DataFrame, bool]:
        """Return (stage output, resumed?). Runs `thunk()` and
        materializes its DataFrame unless the stage already completed;
        an Observation on that write counts the rows for the marker, so
        no second job re-reads the stage to count it. Intermediates the
        thunk's result cached on its own behalf (the dedup family's
        _owned_cache) are unpersisted once the write has materialized
        them."""
        import json

        if self.done(name):
            with open(self._marker_path(name)) as fh:
                marker = json.load(fh)
            if self.fingerprint is not None and marker.get(
                "fingerprint"
            ) != self.fingerprint:
                raise ValueError(
                    f"stage {name!r} in {self.root} was built with "
                    f"different parameters: {marker.get('fingerprint')!r}"
                    f" vs current {self.fingerprint!r}; use a fresh "
                    "checkpoint dir (or delete the stale stage) instead "
                    "of silently mixing runs"
                )
            return self.spark.read.parquet(self._data_path(name)), True
        t0 = time.time()
        df = thunk()
        written = Observation()
        df.observe(written, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(self._data_path(name))
        for cached in getattr(df, "_owned_cache", []):
            cached.unpersist(blocking=False)
        marker = {
            "stage": name,
            "n_rows": written.get["n"],
            "wall_s": time.time() - t0,
            "finished_at": time.time(),
            "fingerprint": self.fingerprint,
        }
        tmp = self._marker_path(name) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(marker, fh)
        os.replace(tmp, self._marker_path(name))  # atomic commit
        return self.spark.read.parquet(self._data_path(name)), False

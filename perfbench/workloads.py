"""The closed-loop workloads. Each pass calls into `typical_spark`
exactly as a user would, consumes every output it times, and checks it
against an independent reference; a pass that raises or returns a wrong
output counts as failed.

Per-layer metrics are read from the traced run: build and planning
costs, codegen and layer-local counts from the first (cold) pass;
execution times as medians over the warm passes; plan-shape counts
from the second pass.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import io
import json
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

from perfbench import data
from perfbench.tracing import EventLog, Tracer, plan_counts

HERE = os.path.dirname(os.path.abspath(__file__))
CONTRACT_SF = os.path.join(HERE, "data", "sf0.01")
CONTRACT_EXPECTED = os.path.join(HERE, "contract_expected.json")
CONTRACT_QUERIES = (
    "events_violations",
    "orders_dup_rows",
    "events_ts_ordering",
    "documents_minhash_pairs",
    "documents_simhash_pairs",
    "embeddings_near_dups",
    "documents_dup_groups",
    "events_ks_by_type",
)
CONTRACT_TABLES = ("events", "orders", "documents", "embeddings")

# name -> unit of every per-layer metric; a layer a workload does not
# call reports 0 for each of its metrics
PER_LAYER = {
    "session.start_s": "s",
    "session.cores": "count",
    "sources.register_s": "s",
    "sources.generate_s": "s",
    "sources.bucketed": "count",
    "sources.files_per_bucket_max": "count",
    "compiler.compile_s": "s",
    "compiler.checks": "count",
    "pipeline.build_s": "s",
    "pipeline.analysis_ms": "ms",
    "pipeline.optimization_ms": "ms",
    "pipeline.planning_ms": "ms",
    "pipeline.exec_s": "s",
    "pipeline.exchanges": "count",
    "pipeline.sorts": "count",
    "pipeline.input_scans": "count",
    "pipeline.shuffle_write_mb": "MB",
    "pipeline.spill_mb": "MB",
    "pipeline.codegen_compiles": "count",
    "pipeline.codegen_ms": "ms",
    "stats.exec_s": "s",
    "stats.codegen_compiles": "count",
    "drift.exec_s": "s",
    "drift.python_nodes": "count",
    "drift.task_max_s": "s",
    "drift.task_median_s": "s",
    "job.sql_executions": "count",
    "job.input_scans": "count",
    "job.write_exec_s": "s",
    "job.summary_exec_s": "s",
    "job.output_mb": "MB",
    "checkpoint.buckets_total": "count",
    "checkpoint.buckets_validated": "count",
    "checkpoint.useful_ratio": "ratio",
    "checkpoint.bucket_s_median": "s",
    "checkpoint.bucket_s_max": "s",
    "checkpoint.spark_jobs": "count",
    "checkpoint.manifest_files": "count",
    "checkpoint.carried_overhead_s": "s",
    "checkpoint.rerun_s": "s",
    "trace.span_coverage": "ratio",
}
# contract_cold only (it is not in BENCHMARK.json; see README.md)
CONTRACT_LAYER = {
    f"q.{q}.{m}": u
    for q in CONTRACT_QUERIES
    for m, u in (
        ("first_s", "s"), ("warm_s", "s"), ("build_s", "s"),
        ("plan_ms", "ms"), ("codegen_compiles", "count"), ("codegen_ms", "ms"),
    )
}


@dataclass
class Context:
    root: str
    work: str
    run_dir: str
    seed: int
    tracer: Tracer
    spark: object = None


@dataclass
class PassResult:
    wall: float
    rate_wall: float
    ok: bool
    notes: dict = field(default_factory=dict)


def _checks(plan) -> dict:
    return {"checks": len(plan.checks)}


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 1e6


class Workload:
    name = ""
    min_passes = 4
    per_layer = PER_LAYER

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.passes: list[PassResult] = []
        self.generate_s = 0.0  # one-time cost of this seed's inputs
        self.generate_wall = 0.0  # what this run waited for it
        self.input_rows = 0

    @property
    def spark(self):
        return self.ctx.spark

    @property
    def tr(self) -> Tracer:
        return self.ctx.tracer

    def instrument(self) -> None:
        """Traced run only: give calls made inside the program spans."""
        from typical_spark import compiler, pipeline
        from typical_spark.sources import tables

        self.tr.wrap(compiler, "compile_table_spec", "compiler.compile_table_spec", _checks)
        self.tr.wrap(pipeline, "full_validation", "pipeline.full_validation")
        self.tr.wrap(pipeline, "validation_summary", "pipeline.validation_summary")
        self.tr.wrap(tables, "write_output", "tables.write_output")

    def generate(self) -> None:
        """One-time, per-seed input generation (not part of setup_s)."""

    def setup(self) -> None:
        raise NotImplementedError

    def run_pass(self, i: int) -> PassResult:
        raise NotImplementedError

    # -- per-layer metrics from the traced run ----------------------------

    def first(self, name):
        return self.tr.find(name, 0)

    def warm_indices(self) -> range:
        """The passes warm-pass medians are taken over: the later half,
        never the first. The JIT keeps warming up over the first few
        passes, so earlier ones would make the median depend on how many
        passes a run made."""
        n = len(self.passes)
        return range(max(1, n // 2), n)

    def warm(self, name):
        """Spans `name` per warm pass."""
        return [self.tr.find(name, i) for i in self.warm_indices()]

    def probe_pass(self) -> int:
        return 1 if len(self.passes) > 1 else 0

    def layer_metrics(self, log: EventLog) -> dict:
        out = {}
        comp = self.first("compiler.compile_table_spec")
        out["compiler.compile_s"] = sum(s.wall for s in comp)
        out["compiler.checks"] = sum(s.attrs.get("checks", 0) for s in comp)
        return out

    def warm_median(self, name: str, measure) -> float:
        """Median over warm passes of `measure(spans called name)`."""
        return _median(measure(spans) for spans in self.warm(name))

    def _pipeline_metrics(self, log: EventLog) -> dict:
        name = "pipeline.validation_summary"
        cold = self.first(name)
        if not cold:
            return {}
        tr = self.tr
        phases = tr.phases_ms(cold)
        shape = plan_counts(log.executions_for(tr.descs(tr.find(name, self.probe_pass()))))
        return {
            "pipeline.build_s": tr.build_s(cold),
            "pipeline.analysis_ms": phases.get("analysis", 0.0),
            "pipeline.optimization_ms": phases.get("optimization", 0.0),
            "pipeline.planning_ms": phases.get("planning", 0.0),
            "pipeline.exec_s": self.warm_median(name, tr.exec_s),
            "pipeline.exchanges": shape["exchanges"],
            "pipeline.sorts": shape["sorts"],
            "pipeline.input_scans": shape["scans"],
            "pipeline.shuffle_write_mb": self.warm_median(
                name, lambda p: self._task_mb(log, p, "shuffle_write")),
            "pipeline.spill_mb": self.warm_median(name, lambda p: self._task_mb(log, p, "spill")),
            "pipeline.codegen_compiles": sum(s.compiles for s in cold),
            "pipeline.codegen_ms": sum(s.codegen_ms for s in cold),
        }

    def _task_mb(self, log: EventLog, spans, key: str) -> float:
        return sum(t[key] for t in log.tasks_for(self.tr.descs(spans))) / 1e6


# -- transcript workloads ---------------------------------------------------


class TranscriptWorkload(Workload):
    def generate(self) -> None:
        t0 = time.perf_counter()
        self.ds = data.load(self.ctx.work, self.ctx.seed)
        self.generate_wall = time.perf_counter() - t0
        self.generate_s = self.ds.meta["generate_s"]
        self.input_rows = self.ds.turns

    def _warm_up(self, df) -> None:
        """Untimed: JVM spin-up and the first parquet footer reads."""
        self.spark.range(200_000).selectExpr("sum(xxhash64(id))").collect()
        df.limit(1).collect()

    @staticmethod
    def _compile():
        from typical_spark import compiler
        from typical_spark.specs import transcript_spec

        return compiler.compile_table_spec(transcript_spec())


class FlagshipBucketed(TranscriptWorkload):
    """validation_summary, column_stats and partition_digests on the
    bucketed, sorted transcript table."""

    name = "flagship_bucketed"
    min_passes = 8  # a warm pass takes ~2 s

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from typical_spark import pipeline

        with self.tr.span("sources.register"):
            self.tdf, self.cdf = self.ds.bucketed(self.spark)
        self._warm_up(self.tdf)
        # the elided Exchange and Sort need a bucketed scan; if the
        # bucketed read fell back to the plain copy, every pass fails
        probe = pipeline.full_validation(self._compile(), self.tdf, self.cdf)
        plan = probe._jdf.queryExecution().executedPlan().toString()
        self.bucketed = "Bucketed: true" in plan
        self.tsd = F.unix_timestamp("ts").cast("double")

    def run_pass(self, i: int) -> PassResult:
        from typical_spark import pipeline
        from typical_spark.operators import drift, stats

        exp = self.ds.expected
        t0 = time.perf_counter()
        plan = self._compile()
        counts = pipeline.validation_summary(plan, self.tdf, self.cdf)
        with self.tr.span("stats.column_stats"):
            st = stats.column_stats(self.tdf, data.STATS_COLUMNS).collect()
        with self.tr.span("drift.partition_digests"):
            dg = drift.partition_digests(
                self.tdf.withColumn("tsd", self.tsd), "tsd", "bucket"
            ).collect()
        wall = time.perf_counter() - t0
        ok = (
            self.bucketed
            and counts == exp["by_check"]
            and {r["column"]: (r["n_rows"], r["n_null"]) for r in st}
            == {c: (exp["n_rows"], exp["nulls"][c]) for c in data.STATS_COLUMNS}
            and len(dg) == data.BUCKETS
            and round(sum(r["n"] for r in dg)) == exp["n_rows"]
        )
        return PassResult(wall, wall, ok)

    def layer_metrics(self, log: EventLog) -> dict:
        out = super().layer_metrics(log)
        out.update(self._pipeline_metrics(log))
        tr = self.tr
        out["stats.exec_s"] = self.warm_median("stats.column_stats", tr.exec_s)
        out["stats.codegen_compiles"] = sum(s.compiles for s in self.first("stats.column_stats"))
        out["drift.exec_s"] = self.warm_median("drift.partition_digests", tr.exec_s)
        descs = tr.descs(tr.find("drift.partition_digests", self.probe_pass()))
        out["drift.python_nodes"] = plan_counts(log.executions_for(descs))["python"]
        tasks = [t["wall_s"] for t in log.tasks_for(descs, last_stage_only=True)]
        out["drift.task_max_s"] = max(tasks, default=0.0)
        out["drift.task_median_s"] = _median(tasks)
        out["sources.bucketed"] = int(self.bucketed)
        out["sources.files_per_bucket_max"] = files_per_bucket_max(self.ds.bucketed_dir)
        return out


def files_per_bucket_max(path: str) -> int:
    """Most data files any one bucket holds on disk: bucket ids are the
    `_NNNNN` suffix of bucketed files, or the `bucket=N` directory of a
    hive-partitioned copy."""
    per: dict[str, int] = {}
    for d, _, files in os.walk(path):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            stem = f.split(".")[0]
            if os.path.basename(d).startswith("bucket="):
                key = os.path.basename(d)
            else:
                key = stem.rsplit("_", 1)[-1]
            per[key] = per.get(key, 0) + 1
    return max(per.values(), default=0)


class PlainNightly(TranscriptWorkload):
    """The nightly work on the plain hive-partitioned copy, one part after
    the other in each pass:

    - job: `jobs/validate_transcripts.main`, writing violations to a
      fresh directory;
    - checkpoint: `CheckpointedRun.run` over every unit into an empty
      directory, then `run_incremental` over the table plus a seeded
      append in one unit.

    Both parts share one workload because every run pays a fixed ~30 s
    (Python and JVM start, registration, the cold pass), and a comparison
    of 22 runs per workload must fit in under an hour. `job_plain` and
    `checkpoint_nightly` run one part alone, by hand."""

    name = "plain_nightly"
    parts = ("job", "checkpoint")
    # a warm pass takes ~10 s; a cold and two warm passes keep a run
    # near 50 s
    min_passes = 3

    def setup(self) -> None:
        from pyspark.sql import functions as F

        path = os.path.join(self.ctx.root, "jobs", "validate_transcripts.py")
        spec = importlib.util.spec_from_file_location("validate_transcripts", path)
        self.job = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.job)
        # the checkpoint unit is the table's hash bucket folded onto
        # CHECKPOINT_UNITS values; the fold is over the partition column,
        # so each unit still prunes to its own directories
        unit = F.pmod(F.col("bucket"), F.lit(data.CHECKPOINT_UNITS))
        with self.tr.span("sources.register"):
            self.plain = self.spark.read.parquet(self.ds.plain_dir).withColumn("bucket", unit)
            self.append = self.spark.read.parquet(self.ds.append_dir).withColumn("bucket", unit)
            self.spark.read.parquet(self.ds.conversations_dir).schema
        self._warm_up(self.plain)
        appended = self.ds.expected["append_buckets"]
        self.touched = sorted({b % data.CHECKPOINT_UNITS for b in appended})

    def run_pass(self, i: int) -> PassResult:
        """`rate_wall` covers the full-table validations (the job and the
        checkpointed full run), not the incremental rerun."""
        wall = rate_wall = 0.0
        ok, notes = True, {}
        if "job" in self.parts:
            dt, part_ok, notes["output_mb"] = self._job(i)
            wall, rate_wall, ok = wall + dt, rate_wall + dt, ok and part_ok
        if "checkpoint" in self.parts:
            full_s, part_ok, ck = self._checkpoint(i)
            wall += full_s + ck["rerun_s"]
            rate_wall += full_s
            ok = ok and part_ok
            notes.update(ck)
        return PassResult(wall, rate_wall, ok, notes)

    def _job(self, i: int):
        exp = self.ds.expected
        out = os.path.join(self.ctx.run_dir, f"job-{i}")
        shutil.rmtree(out, ignore_errors=True)
        args = ["--input", self.ds.plain_dir, "--conversations", self.ds.conversations_dir,
                "--out", out, "--run-id", f"bench-{i}"]
        buf = io.StringIO()
        t0 = time.perf_counter()
        with self.tr.span("job.validate_transcripts"), contextlib.redirect_stdout(buf):
            rc = self.job.main(args)
        wall = time.perf_counter() - t0
        report = json.loads(buf.getvalue().strip().splitlines()[-1])
        written = self.spark.read.parquet(os.path.join(out, "violations")).count()
        ok = (
            rc == 0
            and report["violations_by_check"] == exp["by_check"]
            and written == sum(exp["by_check"].values())
        )
        output_mb = _du_mb(os.path.join(out, "violations"))
        shutil.rmtree(out, ignore_errors=True)
        return wall, ok, output_mb

    def _checkpoint(self, i: int):
        from typical_spark import checkpoint

        exp = self.ds.expected
        out = os.path.join(self.ctx.run_dir, f"ckpt-{i}")
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        plan = self._compile()
        with self.tr.span("checkpoint.run"):
            full = checkpoint.CheckpointedRun(self.spark, plan, out, run_id="full").run(self.plain)
        t1 = time.perf_counter()
        with self.tr.span("checkpoint.run_incremental"):
            rerun = checkpoint.CheckpointedRun(
                self.spark, plan, out, run_id="rerun"
            ).run_incremental(self.plain.unionByName(self.append))
        t2 = time.perf_counter()

        m = [r.asDict() for r in self.spark.read.parquet(os.path.join(out, "manifest")).collect()]
        fr = [r for r in m if r["run_id"] == "full"]
        rr = [r for r in m if r["run_id"] == "rerun"]
        validated = [r for r in rr if r["mode"] == "validated"]
        units = data.CHECKPOINT_UNITS
        ok = (
            full["buckets_total"] == units
            and full["buckets_processed"] == units
            and rerun["buckets_total"] == units
            and rerun["buckets_validated"] == len(self.touched)
            and sorted(r["bucket"] for r in validated) == self.touched
            and sum(r["n_rows"] for r in fr) == exp["n_rows"]
            and sum(r["n_violations"] for r in fr) == exp["row_violations"]
            and sum(r["n_rows"] for r in rr) == exp["n_rows"] + exp["append_rows"]
            and sum(r["n_violations"] for r in rr)
            == exp["row_violations"] + exp["append_row_violations"]
        )
        notes = {
            "rerun_s": t2 - t1,
            "buckets_total": rerun["buckets_total"],
            "buckets_validated": rerun["buckets_validated"],
            "bucket_s": [r["wall_s"] for r in fr],
            "carried_overhead_s": (t2 - t1) - sum(r["wall_s"] for r in validated),
            "manifest_files": sum(
                f.endswith(".parquet") for f in os.listdir(os.path.join(out, "manifest"))),
        }
        shutil.rmtree(out, ignore_errors=True)
        return t1 - t0, ok, notes

    def layer_metrics(self, log: EventLog) -> dict:
        out = super().layer_metrics(log)
        out["sources.files_per_bucket_max"] = files_per_bucket_max(self.ds.plain_dir)
        tr = self.tr
        probe = self.probe_pass()
        warm = [self.passes[i] for i in self.warm_indices()] or self.passes
        if "job" in self.parts:
            out.update(self._pipeline_metrics(log))
            execs = log.executions_for(tr.descs(tr.find("job.validate_transcripts", probe)))
            out["job.sql_executions"] = len(execs)
            out["job.input_scans"] = plan_counts(execs)["scans"]
            out["job.write_exec_s"] = self.warm_median("tables.write_output", tr.exec_s)
            out["job.summary_exec_s"] = self.warm_median("pipeline.validation_summary", tr.exec_s)
            out["job.output_mb"] = _median(p.notes["output_mb"] for p in self.passes)
        if "checkpoint" in self.parts:
            last = self.passes[probe].notes
            out["checkpoint.buckets_total"] = last["buckets_total"]
            out["checkpoint.buckets_validated"] = last["buckets_validated"]
            out["checkpoint.useful_ratio"] = last["buckets_validated"] / last["buckets_total"]
            out["checkpoint.bucket_s_median"] = _median(_median(p.notes["bucket_s"]) for p in warm)
            out["checkpoint.bucket_s_max"] = _median(max(p.notes["bucket_s"]) for p in warm)
            out["checkpoint.manifest_files"] = last["manifest_files"]
            out["checkpoint.carried_overhead_s"] = _median(
                p.notes["carried_overhead_s"] for p in warm)
            out["checkpoint.rerun_s"] = _median(p.notes["rerun_s"] for p in warm)
            spans = tr.find("checkpoint.run", probe) + tr.find("checkpoint.run_incremental", probe)
            out["checkpoint.spark_jobs"] = len(log.jobs_for(tr.descs(spans)))
        return out


class JobPlain(PlainNightly):
    name = "job_plain"
    parts = ("job",)
    min_passes = 4


class CheckpointNightly(PlainNightly):
    name = "checkpoint_nightly"
    parts = ("checkpoint",)
    min_passes = 3


# -- contract queries -------------------------------------------------------


def result_digest(rows) -> str:
    """Order-independent hash of collected rows; floats are compared at
    six decimals, as the oracle comparator does."""

    def canon(v):
        if v is None:
            return "\\N"
        if isinstance(v, float):
            return f"{v:.6f}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(canon(x) for x in v) + "]"
        if isinstance(v, dict):
            return "{" + ",".join(f"{canon(k)}:{canon(x)}" for k, x in sorted(v.items())) + "}"
        return str(v)

    lines = sorted("|".join(canon(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


class ContractCold(Workload):
    """A fixed subset of the contract queries on small fixed tables in a
    fresh JVM: one cold pass, then warm passes. The seed permutes the
    query order only."""

    name = "contract_cold"
    min_passes = 2
    per_layer = {**PER_LAYER, **CONTRACT_LAYER}

    def instrument(self) -> None:
        import importlib

        super().instrument()
        entry = importlib.import_module("__spark_entry__")
        self.tr.wrap(entry, "compile_table_spec", "compiler.compile_table_spec", _checks)

    def setup(self) -> None:
        import importlib

        entry = importlib.import_module("__spark_entry__")
        self.queries = entry.queries()
        self.order = list(CONTRACT_QUERIES)
        random.Random(self.ctx.seed).shuffle(self.order)
        with open(CONTRACT_EXPECTED) as fh:
            self.expected = json.load(fh)
        self.input_rows = self.expected["input_rows"]
        self.spark.range(200_000).selectExpr("sum(xxhash64(id))").collect()
        with self.tr.span("sources.register"):
            for t in CONTRACT_TABLES:
                path = os.path.join(CONTRACT_SF, f"{t}.parquet")
                self.spark.read.parquet(path).limit(1).collect()

    def run_query(self, name: str):
        with self.tr.span(f"q.{name}"):
            t0 = time.perf_counter()
            rows = self.queries[name](self.spark, CONTRACT_SF).collect()
            return rows, time.perf_counter() - t0

    def run_pass(self, i: int) -> PassResult:
        wall, ok = 0.0, True
        for name in self.order:
            rows, dt = self.run_query(name)
            wall += dt
            exp = self.expected["queries"][name]
            ok = ok and len(rows) == exp["rows"] and result_digest(rows) == exp["digest"]
        return PassResult(wall, wall, ok)

    def layer_metrics(self, log: EventLog) -> dict:
        out = super().layer_metrics(log)
        tr = self.tr
        for q in CONTRACT_QUERIES:
            cold = self.first(f"q.{q}")
            out[f"q.{q}.first_s"] = sum(s.wall for s in cold)
            out[f"q.{q}.warm_s"] = self.warm_median(f"q.{q}", lambda p: sum(s.wall for s in p))
            out[f"q.{q}.build_s"] = tr.build_s(cold)
            out[f"q.{q}.plan_ms"] = sum(tr.phases_ms(cold).values())
            out[f"q.{q}.codegen_compiles"] = sum(s.compiles for s in cold)
            out[f"q.{q}.codegen_ms"] = sum(s.codegen_ms for s in cold)
        return out


WORKLOADS = {
    w.name: w
    for w in (FlagshipBucketed, PlainNightly, JobPlain, CheckpointNightly, ContractCold)
}

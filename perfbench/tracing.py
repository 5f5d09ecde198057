"""In-memory spans around calls into `typical_spark`, plus what Spark
already exposes about the work done inside each span.

A span is opened by the benchmark around a call into one module (its
name is `<module>.<function>`), or by a wrapper the traced run installs
on a module's public function so that calls made from inside the
program (the job calling the pipeline, a checkpointed run validating a
bucket) get their own span too. Each span records:

- its wall interval and its parent span;
- the actions (`collect`, `count`, writes) run inside it, each with its
  own interval, so `build_s` (Python-side plan build, py4j round trips)
  and `exec_s` (Spark execution) can be told apart;
- for each collected DataFrame, the QueryExecution planning phases
  (`tracker().phases()`: analysis, optimization, planning);
- the `CodegenMetrics` compile count and `CodeGenerator.compileTime`
  read before and after the span;
- a job description unique to the span, which keys the SQL executions,
  jobs and tasks in Spark's event log back to the span.

Spans live in memory; `dump` writes them out once the run has ended.
With tracing off every method is a no-op and nothing is patched.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Action:
    kind: str
    t0: float
    t1: float = 0.0
    phases_ms: dict = field(default_factory=dict)


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    attrs: dict
    t0: float
    t1: float = 0.0
    compiles: int = 0
    codegen_ms: float = 0.0
    actions: list = field(default_factory=list)
    children: list = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0

    @property
    def desc(self) -> str:
        return f"perfbench:{self.id}:{self.name}"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: dict[int, Span] = {}
        self._stack: list[Span] = []
        self._spark = None
        self._patched: list[tuple[object, str, object]] = []

    # -- wiring ----------------------------------------------------------

    def attach(self, spark) -> None:
        """Bind to a live session and hook DataFrame actions."""
        if not self.enabled:
            return
        self._spark = spark
        jvm = spark._jvm
        self._cg_metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._cg = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        for name in ("collect", "count", "toPandas", "localCheckpoint", "checkpoint"):
            self._hook_action(DataFrame, name, with_phases=name == "collect")
        for name in ("parquet", "save", "saveAsTable"):
            self._hook_action(DataFrameWriter, name, with_phases=False)

    def wrap(self, owner, attr: str, span_name: str, note=None) -> None:
        """Give every call of `owner.attr` its own span; `note(result)`
        may add attributes to it."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*a, **kw):
            with self.span(span_name) as sp:
                result = orig(*a, **kw)
                if note is not None:
                    sp.attrs.update(note(result))
                return result

        self._patch(owner, attr, traced)

    def detach(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _patch(self, owner, attr, fn) -> None:
        self._patched.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, fn)

    def _hook_action(self, cls, name: str, with_phases: bool) -> None:
        orig = getattr(cls, name)
        tracer = self

        @functools.wraps(orig)
        def hooked(obj, *a, **kw):
            span = tracer._stack[-1] if tracer._stack else None
            if span is None:
                return orig(obj, *a, **kw)
            act = Action(name, time.perf_counter())
            try:
                result = orig(obj, *a, **kw)
            finally:
                act.t1 = time.perf_counter()
                span.actions.append(act)
            if with_phases:
                act.phases_ms = _phases(obj)
            return result

        self._patch(cls, name, hooked)

    # -- spans -----------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans) + 1, parent.id if parent else None, name, attrs, 0.0)
        self.spans[sp.id] = sp
        if parent:
            parent.children.append(sp.id)
        sc = self._spark.sparkContext if self._spark is not None else None
        c0 = ns0 = 0
        if sc is not None:
            sc.setJobDescription(sp.desc)
            c0 = self._cg_metrics.METRIC_COMPILATION_TIME().getCount()
            ns0 = self._cg.compileTime()
        self._stack.append(sp)
        sp.t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                sp.compiles = self._cg_metrics.METRIC_COMPILATION_TIME().getCount() - c0
                sp.codegen_ms = (self._cg.compileTime() - ns0) / 1e6
                sc.setJobDescription(parent.desc if parent else None)

    # -- queries over the recorded spans ----------------------------------

    def subtree(self, spans: list[Span]) -> list[Span]:
        out, todo = [], list(spans)
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.spans[c] for c in s.children)
        return out

    def find(self, name: str, pass_index: int | None = None) -> list[Span]:
        """Spans called `name`, optionally only those inside pass `i`."""
        hits = [s for s in self.spans.values() if s.name == name]
        if pass_index is None:
            return hits
        return [s for s in hits if self.pass_of(s) == pass_index]

    def pass_of(self, sp: Span) -> int | None:
        while sp is not None:
            if sp.name == "pass":
                return sp.attrs["index"]
            sp = self.spans.get(sp.parent) if sp.parent else None
        return None

    # The aggregates below take a list of spans and cover their subtrees.

    def exec_s(self, spans: list[Span]) -> float:
        """Time spent inside DataFrame actions."""
        return sum(a.t1 - a.t0 for s in self.subtree(spans) for a in s.actions)

    def build_s(self, spans: list[Span]) -> float:
        """Time spent outside DataFrame actions."""
        return sum(s.wall for s in spans) - self.exec_s(spans)

    def phases_ms(self, spans: list[Span]) -> dict:
        out: dict[str, float] = {}
        for s in self.subtree(spans):
            for a in s.actions:
                for k, v in a.phases_ms.items():
                    out[k] = out.get(k, 0.0) + v
        return out

    def descs(self, spans: list[Span]) -> set[str]:
        return {s.desc for s in self.subtree(spans)}

    def coverage(self, pass_span: Span, wall: float) -> float:
        """Share of a pass's timed wall covered by its module spans."""
        return sum(self.spans[c].wall for c in pass_span.children) / wall

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = [
            {
                "id": s.id, "parent": s.parent, "name": s.name, "attrs": s.attrs,
                "start": s.t0, "end": s.t1, "compiles": s.compiles,
                "codegen_ms": s.codegen_ms,
                "actions": [
                    {"kind": a.kind, "start": a.t0, "end": a.t1, "phases_ms": a.phases_ms}
                    for a in s.actions
                ],
            }
            for s in self.spans.values()
        ]
        with open(path, "w") as fh:
            json.dump({"spans": rows, **extra}, fh)


def _phases(df) -> dict:
    tracker = df._jdf.queryExecution().tracker()
    it = tracker.phases().iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


# -- Spark event log --------------------------------------------------------


@dataclass
class Execution:
    id: int
    desc: str
    start_ms: int
    end_ms: int = 0
    plan: dict = field(default_factory=dict)


@dataclass
class EventLog:
    """The parts of a Spark event log the per-layer metrics read, keyed
    by job description (one per span)."""

    executions: dict[int, Execution] = field(default_factory=dict)
    job_desc: dict[int, str] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)
    tasks: list[dict] = field(default_factory=list)

    @classmethod
    def read(cls, path: str) -> "EventLog":
        log = cls()
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"].rsplit(".", 1)[-1]
                if kind == "SparkListenerSQLExecutionStart":
                    root = ev.get("rootExecutionId", ev["executionId"])
                    if root == ev["executionId"]:
                        log.executions[ev["executionId"]] = Execution(
                            ev["executionId"], ev.get("description") or "",
                            ev["time"], plan=ev["sparkPlanInfo"],
                        )
                elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
                    ex = log.executions.get(ev["executionId"])
                    if ex is not None:
                        ex.plan = ev["sparkPlanInfo"]
                elif kind == "SparkListenerSQLExecutionEnd":
                    ex = log.executions.get(ev["executionId"])
                    if ex is not None:
                        ex.end_ms = ev["time"]
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    log.job_desc[ev["Job ID"]] = props.get("spark.job.description") or ""
                    for sid in ev["Stage IDs"]:
                        log.stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    log.tasks.append({
                        "stage": ev["Stage ID"],
                        "wall_s": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    })
        return log

    def executions_for(self, descs: set[str]) -> list[Execution]:
        return [e for e in self.executions.values() if e.desc in descs]

    def jobs_for(self, descs: set[str]) -> list[int]:
        return [j for j, d in self.job_desc.items() if d in descs]

    def tasks_for(self, descs: set[str], last_stage_only: bool = False) -> list[dict]:
        jobs = set(self.jobs_for(descs))
        stages = {s for s, j in self.stage_job.items() if j in jobs}
        if last_stage_only:
            last: dict[int, int] = {}
            for s in stages:
                j = self.stage_job[s]
                last[j] = max(last.get(j, -1), s)
            stages = set(last.values())
        return [t for t in self.tasks if t["stage"] in stages]


PYTHON_NODE_MARKERS = ("Python", "Pandas", "Arrow")


def plan_nodes(plan: dict) -> list[dict]:
    out, todo = [], [plan]
    while todo:
        n = todo.pop()
        out.append(n)
        todo.extend(n.get("children") or [])
    return out


def plan_counts(execs: list[Execution]) -> dict[str, int]:
    """Exchange, Sort, scan and Python-eval node counts over the final
    (post-AQE) plans of `execs`."""
    c = {"exchanges": 0, "sorts": 0, "scans": 0, "python": 0}
    for e in execs:
        for n in plan_nodes(e.plan):
            name = n.get("nodeName", "")
            if name == "Exchange":
                c["exchanges"] += 1
            elif name == "Sort":
                c["sorts"] += 1
            elif name.startswith("Scan "):
                c["scans"] += 1
            elif any(m in name for m in PYTHON_NODE_MARKERS) and "Exchange" not in name:
                c["python"] += 1
    return c

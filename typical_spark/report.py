"""Plan inspection: the one place that reads a DataFrame's plans.

`plan(df, which)` is the optimized logical plan ("logical"), the
physical plan as first planned ("initial": AQE's initial plan) or the
one AQE runs ("executed": final once an action has run). `walk` lists a
plan's nodes the way Spark's `SparkPlanInfo` (the event log) does, so
`counts` keys them by the event log's `nodeName()`s: `Exchange`,
`BroadcastExchange`, `Sort`, `Scan parquet <table>`, ... `fingerprint`
hashes the `normalize`d logical and initial plans, never the executed
one: AQE re-plans that from runtime statistics, and the near-duplicate
family's final plans differ from run to run (plans/r10/README.md).
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter

from pyspark.sql import DataFrame

# a node whose name holds one of these evaluates Python (perfbench's
# `drift.python_nodes` reads the same markers from the event log)
PYTHON_NODE_MARKERS = ("Python", "Pandas", "Arrow")

# The r07 rules (expression and plan ids, codegen stage ids, query-stage
# ids and statistics, file paths), RDD ids, lambda ids and uuids. Spark
# cuts a scan's metadata values at 100 characters with "...", so how much
# shows depends on the length of the paths and ids in them: a run of
# paths reads "file:<path>]" (a cut `Location` loses its "]"), and any
# other cut value only its key.
_RULES = [(re.compile(p, re.M), r) for p, r in (
    (r"#\d+L?", "#N"),
    (r"plan_id=\d+", "plan_id=N"),
    (r"file:[^\s,\]]*(?:, file:[^\s,\]]*)*\]?", "file:<path>]"),
    (r"\*\(\d+\)", "*(N)"),
    (r"codegen id : \d+", "codegen id : N"),
    (r"(\w+QueryStage) \(\d+\)(?:, Statistics\([^)]*\))?", r"\1"),
    (r"RDD\[\d+\]", "RDD[N]"),
    (r"lambda (\w+)_\d+", r"lambda \1_N"),
    (r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>"),
    (r"\b(\w+: )(?:(?!, \w+: ).)*\.\.\.(?=, \w+: |$)", r"\1..."),
)]


def plan(df: DataFrame, which: str = "initial"):
    """The JVM plan `which` ("logical", "initial" or "executed") of `df`."""
    qe = df._jdf.queryExecution()
    if which == "logical":
        return qe.optimizedPlan()
    if which not in ("initial", "executed"):
        raise ValueError(f"unknown plan {which!r}")
    root = qe.executedPlan()
    if root.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        root = root.initialPlan() if which == "initial" else root.executedPlan()
    return root


def _children(node) -> list:
    """A node's children as `SparkPlanInfo` lists them."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    if name in ("ReusedExchangeExec", "ReusedSubqueryExec"):
        return [node.child()]
    if name == "InMemoryTableScanExec":
        return [node.relation().cachedPlan()]
    kids = [node.children(), node.subqueries()]
    return [k.apply(i) for k in kids for i in range(k.size())]


def walk(node) -> list:
    """`node` (a `plan()` or one of its nodes) and every node under it,
    in pre-order."""
    out, todo = [], [node]
    while todo:
        out.append(todo.pop())
        todo.extend(reversed(_children(out[-1])))
    return out


def names(node) -> list[str]:
    """`nodeName()` of each node of `walk(node)`."""
    return [n.nodeName() for n in walk(node)]


def counts(node) -> Counter:
    """Nodes under `node` by `nodeName()`, plus the totals "Scan" (names
    "Scan …") and "Python" (Python-eval nodes)."""
    c = Counter(names(node))
    for name, n in list(c.items()):
        if name.startswith("Scan "):
            c["Scan"] += n
        if any(m in name for m in PYTHON_NODE_MARKERS) and "Exchange" not in name:
            c["Python"] += n
    return c


def explain(df: DataFrame, mode: str = "formatted") -> str:
    """`df.explain(mode)`'s text, returned instead of printed."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def normalize(text: str) -> str:
    """A plan's text with every session-dependent id and path replaced."""
    for pattern, repl in _RULES:
        text = pattern.sub(repl, text)
    return text


def fingerprint(df: DataFrame) -> str:
    """Digest of `df`'s normalized logical and initial plans: equal for
    two builds of one query on the same inputs."""
    h = hashlib.sha256()
    for which in ("logical", "initial"):
        h.update(normalize(plan(df, which).toString()).encode() + b"\0")
    return h.hexdigest()[:16]

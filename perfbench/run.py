"""Transcript-validator benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload flagship_bucketed --seed 1 --seconds 10 --trace 0

Run from the repository root. One client in one process drives a
local[N] session (N = the cores this process may use); each pass starts
only after the previous one has finished, and passes repeat until
`--seconds` have passed and the workload's minimum pass count is met.

The last line of stdout is one JSON object with `correct`, `attempted`,
`failed` and `metrics`. With `--trace 0` the metrics are the end-to-end
ones; with `--trace 1` the same loop runs with spans and Spark's event
log on, and the metrics are the per-layer ones (see README.md). Inputs,
outputs, Spark scratch space and traces live under perfbench/.work.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# stop starting passes after this much wall time, so a run always ends
# well within the three minutes it is allowed
PASS_DEADLINE_S = 120.0
DRIVER_MEMORY = "1g"


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(cores: int, run_dir: str, trace: bool):
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    # grouped-map Python workers import typical_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # no hsperfdata files in the system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # a heap fixed at its maximum from the start: peak RSS then depends
        # on the work done, not on when the JVM chose to grow the heap
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from typical_spark import session

    # ansi=False: the throughput setting bench.py also uses; results are
    # identical under both modes (tests/test_ansi_modes.py)
    return session.get_spark("perfbench", cores=cores, ansi=False, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    required = ("typical_spark/__init__.py", "jobs/validate_transcripts.py")
    if not all(os.path.isfile(os.path.join(ROOT, r)) for r in required):
        print("perfbench: typical_spark/ and jobs/ not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]
    from perfbench.tracing import EventLog, Tracer
    from perfbench.workloads import WORKLOADS, Context, PassResult

    args = parse_args(argv)
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    tracer = Tracer(enabled=bool(args.trace))
    ctx = Context(ROOT, WORK, run_dir, args.seed, tracer)
    wl = WORKLOADS[args.workload](ctx)

    wl.generate()
    with tracer.span("session.get_spark"):
        ctx.spark = start_session(cores, run_dir, tracer.enabled)
    tracer.attach(ctx.spark)
    try:
        if tracer.enabled:
            wl.instrument()
        wl.setup()
        setup_s = process_age_s() - wl.generate_wall

        t_loop = time.perf_counter()
        while True:
            i = len(wl.passes)
            with tracer.span("pass", index=i):
                try:
                    res = wl.run_pass(i)
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    res = PassResult(0.0, 0.0, False)
            wl.passes.append(res)
            elapsed = time.perf_counter() - t_loop
            if len(wl.passes) >= wl.min_passes and elapsed >= args.seconds:
                break
            if process_age_s() > PASS_DEADLINE_S:
                break
        jvm_pid = ctx.spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = peak_rss_mb(jvm_pid) + peak_rss_mb(os.getpid())
    finally:
        tracer.detach()
        stop_session(ctx.spark)

    passes = wl.passes
    failed = sum(not p.ok for p in passes)
    warm = [passes[i] for i in wl.warm_indices()]
    print(
        f"perfbench: workload={wl.name} seed={args.seed} cores={cores} "
        f"passes={len(passes)} failed={failed} input_rows={wl.input_rows} "
        f"walls={[round(p.wall, 3) for p in passes]}"
    )
    if args.trace:
        metrics = {name: 0 for name in wl.per_layer}
        log = EventLog.read(_event_log_file(run_dir))
        metrics.update(wl.layer_metrics(log))
        metrics["session.start_s"] = tracer.find("session.get_spark")[0].wall
        metrics["session.cores"] = cores
        metrics["sources.register_s"] = sum(s.wall for s in tracer.find("sources.register"))
        metrics["sources.generate_s"] = wl.generate_s
        cover = [
            tracer.coverage(sp, p.wall) for sp, p in zip(tracer.find("pass"), passes) if p.wall > 0
        ]
        metrics["trace.span_coverage"] = statistics.median(cover) if cover else 0.0
        tracer.dump(
            os.path.join(WORK, "traces", f"{wl.name}-s{args.seed}.json"),
            {"workload": wl.name, "seed": args.seed, "cores": cores,
             "pass_walls": [p.wall for p in passes], "metrics": metrics},
        )
        units = wl.per_layer
    else:
        rate = statistics.median(p.rate_wall for p in warm) if warm else 0.0
        metrics = {
            "setup_s": setup_s,
            "turns_per_s": wl.input_rows / rate if rate else 0.0,
            "first_pass_s": passes[0].wall,
            "warm_pass_s": statistics.median(p.wall for p in warm) if warm else 0.0,
            "peak_rss_mb": rss,
        }
        units = {"setup_s": "s", "turns_per_s": "turns/s", "first_pass_s": "s",
                 "warm_pass_s": "s", "peak_rss_mb": "MB"}
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(passes),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def _event_log_file(run_dir: str) -> str:
    """The one event log this run's application wrote."""
    d = os.path.join(run_dir, "eventlog")
    (name,) = os.listdir(d)
    return os.path.join(d, name)


if __name__ == "__main__":
    sys.exit(main())

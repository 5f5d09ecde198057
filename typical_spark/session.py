"""SparkSession construction tuned for the validation engine.

Test/bench runs use local[N]; the same configs are what we would ship in
spark-defaults for a multi-executor cluster (AQE on, skew-join splitting on,
Arrow for every pandas-UDF exchange). Nothing here is local-mode-specific
except the master URL.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "typical-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    ansi: bool | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: int N -> local[N]; None -> $SPARK_GRAFT_CPUS or local[*].
    shuffle_partitions: defaults to the core count (right-sized for the
    local harness; on a real cluster this would be ~2-3x total cores or
    left to AQE coalescing, which is enabled).
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    ncores = os.cpu_count() if cores in ("*", None) else int(cores)
    if shuffle_partitions is None:
        shuffle_partitions = max(int(ncores), 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing, skew-join splitting, plan re-opt.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for pandas UDF / toPandas exchange — required by the
        # "vectorized pandas/Arrow UDFs only" rule (no per-row Python).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # Size input splits so every core gets work even on the small
        # single-file test parquet (default 128m -> 1 split -> serial agg).
        # On a real cluster with TB-scale tables the default is fine; this
        # only lowers the ceiling, never raises shuffle volume.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PART_BYTES", "4m"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # PySpark captures a Python call-site string (stack walk + one
        # extra JVM round trip) on EVERY DataFrame API call to enrich
        # error messages; on expression-heavy plan builders (64-wide
        # minhash/simhash aggregates) that is ~0.5s of pure driver
        # overhead per query build (profiled: _capture_call_site). The
        # error itself is unchanged, only the "call site" decoration is
        # dropped.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Report the per-bucket sort order of bucketed scans (Spark stopped
        # propagating it by default in 3.0, SPARK-28595). Spark only
        # honors it when every selected bucket holds at most ONE file —
        # exactly what our bucketed writers produce — so window/merge
        # plans keyed and ordered like the table's SORTED BY clause skip
        # both their Exchange and their Sort. Scale-independent: the same
        # elision a sorted Iceberg bucket layout gets on a cluster.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    )
    # Shuffle/spill scratch: this sandbox's shared disk tops out well below
    # the CPUs (shuffle I/O was the non-scaling resource in profiling), so
    # default scratch to tmpfs when present — the local-mode analog of the
    # NVMe local disks a real executor would use for shuffle.
    local_dir = os.environ.get(
        "SPARK_GRAFT_LOCAL_DIR",
        "/dev/shm/spark-tmp" if os.path.isdir("/dev/shm") else "",
    )
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    # ANSI mode: every operator in the engine is written to be correct
    # under spark.sql.ansi.enabled=true (the Spark 4.x default, and what
    # external harnesses run) — intentional coercions of dirty data use
    # try_* explicitly, and no kernel relies on silent arithmetic
    # wraparound. ansi=None therefore leaves the cluster/Spark default in
    # place; pass ansi=False only as a belt-and-braces setting for
    # deployments validating data so dirty that even incidental implicit
    # casts must degrade to NULL instead of failing the job.
    if ansi is not None:
        builder = builder.config("spark.sql.ansi.enabled", str(ansi).lower())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def job_session(app_name: str) -> SparkSession:
    """A job's session: the active one as it is (getOrCreate() would set
    runtime confs on a running shared session for good), else a new one
    in UTC (NTZ <-> epoch conversions must agree across driver, executors
    and oracles) with ANSI off (a throughput knob; the engine is
    ANSI-safe, tests/test_ansi_modes.py)."""
    return SparkSession.getActiveSession() or (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .getOrCreate()
    )


@contextlib.contextmanager
def count_jvm_calls(spark: SparkSession):
    """Count the py4j commands the driver sends while the block runs:
    yields a one-item list whose [0] is the running count. Memory
    commands (`m`: Python GC releasing JVM objects) are not counted, so
    the count depends only on what the block builds. Every PySpark
    `F.*` call costs three (two reflection lookups and the call), which
    is what makes a plan slow to build before Spark sees it."""
    client_cls = type(spark.sparkContext._gateway._gateway_client)
    send = client_cls.send_command
    n = [0]

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m\n"):
            n[0] += 1
        return send(self, command, *args, **kwargs)

    client_cls.send_command = counting
    try:
        yield n
    finally:
        client_cls.send_command = send

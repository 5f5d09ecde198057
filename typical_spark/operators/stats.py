"""Per-column statistics — the table-level generalization of the
reference's per-value introspection (len(), key-set size: typic/constraints
array.py:121-134, mapping.py:222-241), per SURVEY.md Table B "Aggregations".

One single aggregation pass computes every column's stats at once; Spark's
hash aggregate already does two-level (partial map-side + final) execution,
so the shuffle carries one partial row per input partition regardless of
data size. Distinct counts default to HyperLogLog (`approx_count_distinct`,
rsd configurable) — the only sane choice at 10^12 rows; `exact=True` is for
oracle comparison at test scale.

Output is long-format: one row per column, so verdict rules can join on
column name.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from typical_spark import sql_text

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def column_stats(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    exact: bool = False,
    rsd: float = 0.05,
) -> DataFrame:
    """One row per column:
    (column, n_rows, n_null, null_rate, n_distinct,
     min_value, max_value, avg_value, stddev_value)  — numeric stats NULL
    for non-numeric columns; min/max reported as strings for uniformity.
    """
    fields = {f.name: f.dataType for f in df.schema.fields}
    columns = list(columns or fields)

    # Every aggregate and the pivot are SQL text, parsed in the JVM in
    # one call per DataFrame step: built from `F.*` calls, each column
    # would cost ~50 py4j round trips before Spark sees the plan.
    aggs = ["count(1) AS __n"]
    for i, c in enumerate(columns):
        col = sql_text.ident(c)
        aggs.append(f"sum(CAST({col} IS NULL AS BIGINT)) AS _{i}_nulls")
        if not exact:
            # HLL sketches aggregate like any other buffer — keep them in
            # the single pass.
            rsd_lit = sql_text.double(rsd)
            aggs.append(f"approx_count_distinct({col}, {rsd_lit}) AS _{i}_dist")
        aggs.append(f"CAST(min({col}) AS STRING) AS _{i}_min")
        aggs.append(f"CAST(max({col}) AS STRING) AS _{i}_max")
        if isinstance(fields[c], _NUMERIC):
            aggs.append(f"CAST(avg({col}) AS DOUBLE) AS _{i}_avg")
            aggs.append(f"CAST(stddev_samp({col}) AS DOUBLE) AS _{i}_std")
        else:
            aggs.append(f"CAST(NULL AS DOUBLE) AS _{i}_avg")
            aggs.append(f"CAST(NULL AS DOUBLE) AS _{i}_std")

    wide = df.selectExpr(*aggs)

    if exact:
        # Exact distincts go in their OWN aggregation: Catalyst implements
        # multi-column count(DISTINCT) via Expand (one row copy per
        # distinct aggregate), and putting the other ~6N agg buffers in the
        # same operator makes every copy carry all of them (measured 6x
        # slower fused than split at sf0.1). Both results are single rows,
        # so the recombining cross join is free.
        dist = df.selectExpr(*[
            f"count(DISTINCT {sql_text.ident(c)}) AS _{i}_dist"
            for i, c in enumerate(columns)
        ])
        wide = wide.crossJoin(dist)

    # pivot wide -> long with a single inline (still one aggregation job)
    structs = ", ".join(
        f"named_struct('column', {sql_text.string(c)}, 'n_rows', __n, "
        f"'n_null', _{i}_nulls, 'null_rate', _{i}_nulls / __n, "
        f"'n_distinct', _{i}_dist, 'min_value', _{i}_min, 'max_value', _{i}_max, "
        f"'avg_value', _{i}_avg, 'stddev_value', _{i}_std)"
        for i, c in enumerate(columns)
    )
    return wide.selectExpr(f"inline(array({structs}))")


def grouped_stats(
    df: DataFrame,
    group_col,
    value_col: str,
    exact: bool = False,
    rsd: float = 0.05,
) -> DataFrame:
    """Per-partition stats for one numeric column, plus a global rollup row
    (group NULL) via GROUPING SETS-equivalent rollup — feeds verdicts and
    drift comparison. Single shuffle on the (small) group key."""
    dist = (
        F.count_distinct(F.col(value_col))
        if exact
        else F.approx_count_distinct(F.col(value_col), rsd)
    )
    return (
        df.rollup(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col(value_col).isNull().cast("long")).alias("n_null"),
            dist.alias("n_distinct"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
            F.avg(value_col).alias("avg_value"),
            F.stddev_samp(value_col).alias("stddev_value"),
        )
    )


def time_rollup(
    df: DataFrame,
    ts_col: str,
    by: Sequence[str] = (),
    value_col: str | None = None,
    unit: str = "hour",
) -> DataFrame:
    """Tumbling time-bucket aggregation — the hypertable-rollup pattern:
    counts (and value sum/avg when value_col is given) per
    (keys..., date_trunc(unit, ts)). One map-side-combined groupBy;
    the bucket is a pure expression so partition pruning applies when
    the table is laid out by time. Reaggregation property: a coarser
    rollup (hour -> day) recomputes EXACTLY from these partials by
    summing n_rows/value_sum — roll up the rollup, never re-scan the
    corpus (pinned by tests/test_relational_ops.py).

    Output: (*by, bucket, n_rows[, value_sum, value_avg])."""
    if unit not in ("minute", "hour", "day", "week", "month", "year"):
        raise ValueError(f"unsupported unit {unit!r}")
    keys = list(by)
    bucket = F.date_trunc(unit, F.col(ts_col)).alias("bucket")
    base = df.where(F.col(ts_col).isNotNull())
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if value_col is not None:
        aggs += [
            F.sum(F.col(value_col)).alias("value_sum"),
            F.avg(F.col(value_col)).alias("value_avg"),
        ]
    return base.groupBy(*keys, bucket).agg(*aggs)


def zscore_outliers(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] = (),
    threshold: float = 3.0,
) -> DataFrame:
    """Rows whose value lies more than `threshold` sample standard
    deviations from their group's mean — the monitoring/data-QA outlier
    flag. Two-pass shape that scales: ONE map-side-combined aggregate
    computes per-group (n, mean, stddev) — a group-count-sized table —
    and an equi-join (AQE broadcasts it when small) flags rows; no
    window, so no per-group sort and no hot-key task. Groups with
    stddev 0/NULL (constant or singleton) flag nothing.

    Output: input columns + (group_mean, group_stddev, zscore)."""
    keys = list(by)
    stats = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*keys)
        .agg(
            F.avg(F.col(value_col)).alias("group_mean"),
            F.stddev_samp(F.col(value_col)).alias("group_stddev"),
        )
    )
    joined = df.where(F.col(value_col).isNotNull()).join(
        stats, on=keys if keys else None, how="inner"
    ) if keys else df.where(F.col(value_col).isNotNull()).crossJoin(
        F.broadcast(stats)
    )
    z = (F.col(value_col) - F.col("group_mean")) / F.col("group_stddev")
    return (
        joined.withColumn("zscore", z)
        .where(
            F.col("group_stddev").isNotNull()
            & (F.col("group_stddev") > 0)
            & (F.abs(F.col("zscore")) > F.lit(float(threshold)))
        )
    )


def group_quantiles(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] = (),
    quantiles: Sequence[float] = (0.5, 0.9, 0.99),
    approx: bool = False,
) -> DataFrame:
    """Per-group quantile summary. exact (default): Spark's `percentile`
    aggregate — linear interpolation at (n-1)*q, the same definition as
    DuckDB's quantile_cont, so results are engine-exact (oracle-checked)
    — but it buffers each group's values, so it is for bounded groups /
    verification. approx=True: percentile_approx (bounded-memory
    sketch), the 10^12-row path; same output schema so callers can swap
    per scale — the exact/sketch pairing used across the engine
    (ks_two_sample vs drift_report, stratified vs hash_sample).

    Output: (*by, n, q_<quantile>...)."""
    keys = list(by)
    src = df.where(F.col(value_col).isNotNull())
    aggs = [F.count(F.lit(1)).alias("n")]
    for q in quantiles:
        name = f"q_{str(q).replace('.', '_')}"
        if approx:
            expr = F.percentile_approx(F.col(value_col), q)
        else:
            # F.percentile binds the column properly — an f-string into
            # F.expr would break quotable names and invite injection
            expr = F.percentile(F.col(value_col), F.lit(q))
        aggs.append(expr.alias(name))
    return src.groupBy(*keys).agg(*aggs)


def rolling_time_agg(
    df: DataFrame,
    ts_col: str,
    by: Sequence[str],
    window_seconds: int = 3600,
    value_col: str | None = None,
) -> DataFrame:
    """Per-row trailing-window aggregate: how many events (and value
    sum, when value_col is given) the same key produced in the
    preceding `window_seconds` INCLUDING this row — rate limiting,
    burst/bot detection, velocity features. A RANGE frame over the
    epoch-seconds order, so simultaneous rows (ties) all see the same
    window — the correct semantics for equal timestamps, where ROWS
    frames would order ties arbitrarily.

    One shuffle on the key + one per-key sort (the per-key ordered-
    operator cost envelope); the frame scan is incremental inside
    Spark's window exec, not O(window) per row.

    Output: input columns + epoch_s + n_trailing [+ sum_trailing]."""
    from pyspark.sql import Window

    keys = list(by)
    base = df.where(F.col(ts_col).isNotNull())
    # dtype dispatch (same reason as interval.py's bucket()): numeric
    # epoch columns must not ride a numeric->timestamp cast, which ANSI
    # mode rejects
    dt = dict(df.dtypes)[ts_col]
    if dt.startswith("timestamp"):
        epoch = (
            F.unix_micros(F.col(ts_col).cast("timestamp")) / 1_000_000
        ).cast("double")
    elif dt == "date":
        epoch = F.unix_date(F.col(ts_col)).cast("double") * 86400.0
    else:
        epoch = F.col(ts_col).cast("double")
    base = base.withColumn("epoch_s", epoch)
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("epoch_s"))
        .rangeBetween(-window_seconds, 0)
    )
    out = base.withColumn(
        "n_trailing", F.count(F.lit(1)).over(w).cast("bigint")
    )
    if value_col is not None:
        out = out.withColumn("sum_trailing", F.sum(F.col(value_col)).over(w))
    return out


def heavy_hitters(
    df: DataFrame,
    col: str,
    k: int = 20,
    capacity: int = 4096,
) -> DataFrame:
    """EXACT top-k frequent values with a Misra-Gries bounded-shuffle
    plan — the scale twin of the plain `groupBy(col).count() ->
    TakeOrdered` path, whose shuffle carries the FULL distinct-value
    table (at 100 TB of tokens, itself huge). Here each partition ships
    at most `capacity` (value, estimate) summary rows:

      pass 1 (mapInPandas): batched Misra-Gries per partition — exact
        per-batch value_counts folded into a running summary; whenever
        it exceeds `capacity`, the (capacity+1)-th largest weight is
        subtracted from every entry and non-positive entries drop. Each
        subtraction consumes >= (capacity+1) x delta of the partition's
        mass, so any value's total deficit is < n/(capacity+1) GLOBALLY
        after summing partitions — no true heavy hitter can vanish.
        The pass also emits one NULL-keyed row per partition carrying
        its row count, so the certification total needs no extra scan.
      pass 2: the surviving candidates (<= capacity x n_partitions
        rows) broadcast back as a LEFT SEMI prune and are recounted
        EXACTLY; top-k by (count desc, value asc) is the output.

    Certification: the result is provably the exact top-k iff the k-th
    exact count exceeds n/(capacity+1) (any non-candidate's true count
    is below that bound). If the guarantee does not hold — near-flat
    data or capacity too small — this RAISES with the sizing advice
    rather than returning a silently-approximate answer; the one-pass
    exact path (e.g. q_documents_top_tokens) is the fallback.

    NULL values are excluded (no frequency identity). Output:
    (col, n bigint), exactly k rows (fewer if < k distinct values).
    """
    import pandas as pd

    if k < 1 or capacity <= k:
        raise ValueError(f"need capacity > k >= 1, got k={k} capacity={capacity}")
    # the summary schema is string-typed; non-string values participate
    # via their canonical string form
    src = df.where(F.col(col).isNotNull()).select(
        F.col(col).cast("string").alias("_v")
    )

    cap = int(capacity)

    def mg(batches):
        ser = None
        n_rows = 0
        for pdf in batches:
            n_rows += len(pdf)
            vc = pdf["_v"].value_counts()
            ser = vc if ser is None else ser.add(vc, fill_value=0)
            if len(ser) > cap:
                delta = ser.nlargest(cap + 1).iloc[-1]
                ser = ser[ser > delta] - delta
        if ser is None:
            ser = pd.Series(dtype="float64")
        yield pd.DataFrame(
            {
                "_v": list(ser.index) + [None],
                "est": list(ser.astype("int64")) + [n_rows],
            }
        )

    summary = src.mapInPandas(mg, "_v string, est long").persist()
    total = summary.where(F.col("_v").isNull()).groupBy().agg(
        F.sum("est").alias("n")
    ).head()["n"] or 0
    cands = summary.where(F.col("_v").isNotNull()).select("_v").distinct()
    exact = (
        src.join(F.broadcast(cands), "_v", "left_semi")
        .groupBy("_v")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("_v").asc())
        .limit(int(k))
    )
    rows = exact.collect()  # k rows, bounded
    summary.unpersist(blocking=False)
    bound = total / (cap + 1)
    if len(rows) == k and rows[-1]["n"] <= bound:
        raise ValueError(
            f"top-{k} not certifiable: k-th count {rows[-1]['n']} <= "
            f"n/(capacity+1) = {bound:.1f}; raise capacity (or use the "
            "one-pass exact path)"
        )
    if len(rows) < k and total > 0:
        # fewer candidates than k: exact ONLY if no non-candidate value
        # exists at all (flat data can cancel every MG summary to
        # empty). The distinct count here is the cost of refusing to be
        # silently approximate — and only paid in the failure regime.
        if src.distinct().count() > len(rows):
            raise ValueError(
                f"top-{k} not certifiable: only {len(rows)} candidates "
                f"survived the summary (capacity {cap}) but more distinct "
                "values exist; raise capacity (or use the one-pass exact "
                "path)"
            )
    spark = df.sparkSession
    return spark.createDataFrame(
        [(r["_v"], r["n"]) for r in rows], f"{col} string, n bigint"
    )

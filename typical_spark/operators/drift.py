"""Distribution-drift detection via t-digest quantile sketches.

No reference analog (typical is exact and per-value); mandated by
BASELINE.json north_star: "distribution-drift detection via t-digest
quantile sketches compared across partitions". The sketch is a k1-scale
t-digest (Dunning & Ertl): ~100 centroids, dense near the tails.

Two-phase plan:
  phase 1 (executors): `partition_digests`, one native grouped aggregate:
      `percentile_approx` (a Greenwald-Khanna summary) runs partial ->
      final in the JVM, so the shuffle carries summaries, never values,
      and no Python worker starts. Its quantiles at the k1 bin midpoints
      are the centroids; fixed input and partitioning give fixed rows.
  phase 2 (driver): merge the sketches (n_groups * compression * 16
      bytes, a few MB for thousands of buckets) into a global digest
      (deterministic: centroids sorted by mean before re-binning, so
      merge order cannot change the result — SURVEY.md §7 hard part d).
Drift stat per partition: max over probe quantiles of
|CDF_partition(x) - CDF_global(x)| (a Kolmogorov-Smirnov distance
estimated from the digests).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from typical_spark import sql_text

# the quantiles of the reference digest at which KS distances are probed
PROBE_QUANTILES = (0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95)
# centroids per digest (k1 bins), and the rank accuracy of the
# Greenwald-Khanna summary behind `percentile_approx` (error n / ACCURACY)
COMPRESSION = 100
ACCURACY = 10_000


# ---------------------------------------------------------------------------
# numpy t-digest (batch / merging form, k1 scale)
# ---------------------------------------------------------------------------


def _k1_boundaries(delta: int) -> np.ndarray:
    """Quantile boundaries q_j of the k1 scale function
    k(q) = (delta / 2π) · asin(2q − 1): evenly spaced in k, dense near the
    tails — the standard t-digest sizing."""
    j = np.arange(delta + 1, dtype=np.float64)
    return (np.sin(np.pi * (j / delta) - np.pi / 2.0) + 1.0) / 2.0


@dataclass
class TDigest:
    means: np.ndarray    # centroid means, ascending
    weights: np.ndarray  # centroid weights

    @property
    def total_weight(self) -> float:
        return float(self.weights.sum()) if len(self.weights) else 0.0

    @classmethod
    def from_values(
        cls, values: np.ndarray, compression: int = COMPRESSION,
        weights: np.ndarray | None = None,
    ) -> "TDigest":
        v = np.asarray(values, dtype=np.float64)
        w = np.ones_like(v) if weights is None else np.asarray(weights, dtype=np.float64)
        mask = ~np.isnan(v)
        v, w = v[mask], w[mask]
        if len(v) == 0:
            return cls(np.empty(0), np.empty(0))
        order = np.argsort(v, kind="mergesort")
        v, w = v[order], w[order]
        cum = np.cumsum(w)
        total = cum[-1]
        # midpoint quantile of each value -> bin by k1 boundaries
        q_mid = (cum - w / 2.0) / total
        bins = np.searchsorted(_k1_boundaries(compression), q_mid, side="right") - 1
        bins = np.clip(bins, 0, compression - 1)
        wsum = np.bincount(bins, weights=w, minlength=compression)
        msum = np.bincount(bins, weights=v * w, minlength=compression)
        nz = wsum > 0
        return cls(msum[nz] / wsum[nz], wsum[nz])

    @classmethod
    def merge_all(cls, digests: list["TDigest"]) -> "TDigest":
        ds = [d for d in digests if len(d.means)]
        if not ds:
            return cls(np.empty(0), np.empty(0))
        means = np.concatenate([d.means for d in ds])
        weights = np.concatenate([d.weights for d in ds])
        # re-binning sorted-by-mean centroids is merge-order independent
        return cls.from_values(means, weights=weights)

    def quantile(self, q) -> np.ndarray:
        """Interpolated quantile(s) at probability q (scalar or array)."""
        q = np.atleast_1d(np.asarray(q, dtype=np.float64))
        if len(self.means) == 0:
            return np.full_like(q, np.nan)
        cum = np.cumsum(self.weights) - self.weights / 2.0
        probs = cum / self.total_weight
        return np.interp(q, probs, self.means,
                         left=self.means[0], right=self.means[-1])

    def cdf(self, x) -> np.ndarray:
        x = np.atleast_1d(np.asarray(x, dtype=np.float64))
        if len(self.means) == 0:
            return np.full_like(x, np.nan)
        cum = np.cumsum(self.weights) - self.weights / 2.0
        probs = cum / self.total_weight
        return np.interp(x, self.means, probs, left=0.0, right=1.0)

    @classmethod
    def from_row(cls, row) -> "TDigest":
        """Decode a sketch row ({n, means, weights}, the
        `partition_digests` and drift-monitor state format)."""
        return cls(np.array(row["means"]), np.array(row["weights"]))

    @classmethod
    def merge_rows(cls, rows) -> "TDigest":
        """One digest from sketch rows: decode each, then `merge_all`."""
        return cls.merge_all([cls.from_row(r) for r in rows])

    def to_row(self) -> dict:
        """Encode as a sketch row's {n, means, weights} fields."""
        return {
            "n": self.total_weight,
            "means": self.means.tolist(),
            "weights": self.weights.tolist(),
        }


def ks_at_probes(d: TDigest, ref: TDigest) -> float:
    """KS-style distance of `d` from `ref`: max |d.cdf(p) - ref.cdf(p)|
    over p = ref.quantile(PROBE_QUANTILES); NaN when `d` is empty."""
    if not len(d.means):
        return float("nan")
    probes = ref.quantile(np.asarray(PROBE_QUANTILES))
    return float(np.nanmax(np.abs(d.cdf(probes) - ref.cdf(probes))))


# ---------------------------------------------------------------------------
# Spark two-phase drift operator
# ---------------------------------------------------------------------------


def partition_digests(df: DataFrame, value_col, group_col) -> DataFrame:
    """Phase 1: one sketch row (group_id, n, means, weights) per group from
    one native aggregate: the GK quantile at each k1 bin's rank midpoint,
    weighted by the bin's rank mass, equal quantiles (ties) collapsed into
    one centroid. An all-NULL group gives n = 0 and empty arrays.

    The 101 bin bounds and 100 midpoints reach the JVM as parsed array
    literals: an `F.array` of `F.lit`s would cost three py4j round trips
    per element, more driver time than running the plan on a small
    table."""
    b = _k1_boundaries(COMPRESSION)
    # rank mass of each distinct quantile m: the bound after its last bin
    # (found from the end) minus the bound before its first bin. The
    # bounds are projected once as `_b`: a lambda that inlines the
    # literal twice costs more to analyse than the rest of the build.
    weights = (
        "transform(array_distinct(_q), m -> n * ("
        "element_at(_b, -CAST(array_position(reverse(_q), m) AS INT))"
        " - element_at(_b, CAST(array_position(_q, m) AS INT))))"
    )
    none = "CAST(array() AS ARRAY<DOUBLE>)"
    v = F.nanvl(F.col(value_col).cast("double"), F.lit(None).cast("double"))
    mids = F.expr(sql_text.double_array((b[:-1] + b[1:]) / 2))
    return (
        df.groupBy(F.col(group_col).cast("string").alias("group_id"))
        .agg(F.count(v).cast("double").alias("n"),
             F.percentile_approx(v, mids, ACCURACY).alias("_q"))
        .selectExpr("group_id", "n", "_q", f"{sql_text.double_array(b)} AS _b")
        .selectExpr("group_id", "n",
                    f"coalesce(array_distinct(_q), {none}) AS means",
                    f"coalesce({weights}, {none}) AS weights")
    )


def drift_report(
    df: DataFrame,
    value_col: str,
    group_col: str,
    threshold: float = 0.1,
) -> pd.DataFrame:
    """Per-group KS-style drift vs the global distribution.

    Returns a pandas DataFrame (driver-side; one row per group):
    (group_id, n, ks_stat, drifted) — plus the probe quantile values under
    q_* columns for inspection. Deterministic for a fixed input.
    """
    sketches = partition_digests(df, value_col, group_col).collect()
    per_group = {r["group_id"]: TDigest.from_row(r) for r in sketches}
    global_d = TDigest.merge_all(list(per_group.values()))
    rows = []
    for gid in sorted(per_group):
        d = per_group[gid]
        ks = ks_at_probes(d, global_d)
        row = {
            "group_id": gid,
            "n": d.total_weight,
            "ks_stat": ks,
            "drifted": bool(ks > threshold),
        }
        for q, v in zip(PROBE_QUANTILES, d.quantile(np.asarray(PROBE_QUANTILES))):
            row[f"q_{q}"] = float(v)
        rows.append(row)
    return pd.DataFrame(rows)


def ks_two_sample(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov statistic, fully columnar:
    group by distinct value (narrow map-side-combined shuffle), one
    globally-ordered cumulative window over the DISTINCT values, max of
    |F_a - F_b|. Exact complement of the t-digest approximate drift path
    (drift_report): prefer this when distinct-value cardinality is
    bounded — the pre-aggregation means the ordered window sees one row
    per distinct value, but its final cumsum is inherently a single
    ordered pass; at extreme cardinality use the sketch. Evaluating the
    CDF gap at (and only at) distinct values with counts accumulated
    INCLUSIVE of the current value handles ties exactly.

    Output: one row (n_a, n_b, ks_stat)."""
    vals = df.where(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    )
    agg = vals.groupBy(value_col).agg(
        F.sum(
            F.when(F.col(group_col) == group_a, 1).otherwise(0)
        ).alias("_ca"),
        F.sum(
            F.when(F.col(group_col) == group_b, 1).otherwise(0)
        ).alias("_cb"),
    )
    w = Window.orderBy(value_col).rowsBetween(Window.unboundedPreceding, 0)
    cum = agg.select(
        F.sum("_ca").over(w).alias("ca"), F.sum("_cb").over(w).alias("cb")
    )
    # totals fold the tiny per-distinct-value table — NOT a second scan
    # of the source
    totals = agg.groupBy().agg(
        F.sum("_ca").alias("n_a"), F.sum("_cb").alias("n_b")
    )
    return (
        cum.crossJoin(F.broadcast(totals))
        .groupBy("n_a", "n_b")
        .agg(
            F.max(
                F.abs(
                    F.col("ca") / F.col("n_a") - F.col("cb") / F.col("n_b")
                )
            ).alias("ks_stat")
        )
        .select("n_a", "n_b", F.round("ks_stat", 6).alias("ks_stat"))
    )


def _group_values(df: DataFrame, value_col: str, group_col: str) -> DataFrame:
    """The non-NULL values as (group_id string, _v double) — the input
    of the exact per-group drift statistics."""
    return df.where(F.col(value_col).isNotNull()).select(
        F.col(group_col).cast("string").alias("group_id"),
        F.col(value_col).cast("double").alias("_v"),
    )


def _grid_vs_global(cells: DataFrame, axis: DataFrame, key: str) -> DataFrame:
    """Every group against every `key` of the global `axis`, with the
    group's count of that key (`_c`, NULL when the group never emits
    it), the group's total `n_group` and the grand total `_n_all`:
    `cells` holds (group_id, key, _c). A group's statistic must be
    evaluated at keys it lacks, hence the grid and the left join."""
    totals = cells.groupBy("group_id").agg(F.sum("_c").alias("n_group"))
    grand = cells.groupBy().agg(F.sum("_c").alias("_n_all"))
    grid = axis.crossJoin(F.broadcast(totals)).crossJoin(F.broadcast(grand))
    return grid.join(cells, ["group_id", key], "left")


def _equal_width_bin(n_bins: int):
    """Equal-width bin (0 .. n_bins-1) of `_v` over the extent [lo, hi];
    values outside the extent clamp into the edge bins."""
    b = F.lit(int(n_bins))
    width = (F.col("hi") - F.col("lo")) / b
    # degenerate extent (all one value): everything lands in bin 0
    raw = F.when(
        width > 0, F.floor((F.col("_v") - F.col("lo")) / width)
    ).otherwise(F.lit(0))
    return F.greatest(F.lit(0), F.least(b - 1, raw)).alias("bin")


def ks_by_group(
    df: DataFrame,
    value_col: str,
    group_col: str,
    threshold: float = 0.1,
) -> DataFrame:
    """Per-group EXACT KS drift vs the GLOBAL distribution — the
    partition-verdict form of `ks_two_sample`: one row per group
    (group_id, n_group, ks_stat, drifted), the exact cross-engine-
    verifiable twin of the t-digest `drift_report` (which answers the
    same question with sketches when distinct-value cardinality is
    unbounded). Mirrors the reference's per-partition pass/fail
    verdict contract (typic/constraints/common.py:147-174 validate ->
    verdict) lifted to distribution level.

    Scale shape: ONE map-side-combined groupBy(group, value) shuffle
    touches the source; everything downstream runs on the distinct-
    cell table (persisted once, released by the caller via
    dedup.release_cache). The per-group CDF must be evaluated at every
    GLOBAL distinct value — the supremum can sit at a value the group
    never emits — so the distinct-value table grid-joins the per-group
    totals (|V| x |G| rows; ks_two_sample's bounded-|V| assumption
    applies, |G| is the verdict count). The global cumulative window
    is a single ordered pass over |V| rows; the per-group one
    partitions by group, so both stay tiny relative to the source.
    `drifted` is derived from the ROUNDED statistic so both engines
    compare the same 6-decimal value.
    """
    vals = _group_values(df, value_col, group_col)
    cnt = vals.groupBy("group_id", "_v").agg(F.count(F.lit(1)).alias("_c"))
    cnt = cnt.persist()  # reused 4x (grid, totals, grand, probe join)
    dv = cnt.groupBy("_v").agg(F.sum("_c").alias("_gc"))
    w_all = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, 0)
    dv = dv.select("_v", F.sum("_gc").over(w_all).alias("_cum_all"))
    j = _grid_vs_global(cnt, dv, "_v")
    w_g = (
        Window.partitionBy("group_id")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    gap = F.abs(
        F.sum(F.coalesce(F.col("_c"), F.lit(0))).over(w_g)
        / F.col("n_group")
        - F.col("_cum_all") / F.col("_n_all")
    )
    out = (
        j.select("group_id", "n_group", gap.alias("_gap"))
        .groupBy("group_id", "n_group")
        .agg(F.round(F.max("_gap"), 6).alias("ks_stat"))
        .select(
            "group_id",
            "n_group",
            "ks_stat",
            (F.col("ks_stat") > F.lit(float(threshold))).alias("drifted"),
        )
    )
    out._owned_cache = [cnt]  # caller releases via dedup.release_cache
    return out


def psi_by_group(
    df: DataFrame,
    value_col: str,
    group_col: str,
    n_bins: int = 10,
    epsilon: float = 1e-6,
    threshold: float = 0.25,
) -> DataFrame:
    """Per-group PSI verdicts vs the GLOBAL distribution — the binned
    complement of ks_by_group (PSI weighs the whole density shift, KS
    the worst single point), emitting one (group_id, n_group, psi,
    drifted) row per group. Bins are equal-width over the global EXACT
    [min, max] (same cross-engine rationale as psi_drift: exact
    extremes bin identically on both engines, quantile edges don't).

    Scale shape: one pass computes the global extent (tiny, broadcast),
    one map-side-combined groupBy((group, bin)) pass counts — at most
    |G| x n_bins cells ever shuffle; the global per-bin histogram folds
    from those cells, and the PSI sum runs on the (bins x groups) grid
    (groups may lack bins, so the grid left-join fills zeros — the
    epsilon smoothing then keeps the log finite exactly as in
    psi_drift). `drifted` compares the ROUNDED statistic (>0.25 is the
    standard "drifted" monitoring threshold).
    """
    vals = _group_values(df, value_col, group_col)
    ext = vals.groupBy().agg(F.min("_v").alias("lo"), F.max("_v").alias("hi"))
    cells = (
        vals.crossJoin(F.broadcast(ext))
        .groupBy("group_id", _equal_width_bin(n_bins))
        .agg(F.count(F.lit(1)).alias("_c"))
        .persist()  # |G| x n_bins rows, reused 4x
    )
    gbin = cells.groupBy("bin").agg(F.sum("_c").alias("_gc"))
    j = _grid_vs_global(cells, gbin, "bin")
    eps = F.lit(float(epsilon))
    p_ref = F.col("_gc") / F.col("_n_all") + eps
    p_g = F.coalesce(F.col("_c"), F.lit(0)) / F.col("n_group") + eps
    out = (
        j.groupBy("group_id", "n_group")
        .agg(F.round(F.sum((p_g - p_ref) * F.log(p_g / p_ref)), 6).alias("psi"))
        .select(
            "group_id",
            "n_group",
            "psi",
            (F.col("psi") > F.lit(float(threshold))).alias("drifted"),
        )
    )
    out._owned_cache = [cells]  # caller releases via dedup.release_cache
    return out


def psi_drift(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_ref: str,
    group_cur: str,
    n_bins: int = 10,
    epsilon: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between a reference and a current
    distribution: equal-width bins over the REFERENCE group's exact
    [min, max] (min/max are exact aggregates, so — unlike quantile
    edges, whose interpolation differs across engines — both sides of
    a cross-engine comparison bin identically), per-bin proportions
    epsilon-smoothed, PSI = sum (p_cur - p_ref) * ln(p_cur / p_ref).
    The standard monitoring thresholds read: <0.1 stable, 0.1-0.25
    shifting, >0.25 drifted.

    Scale shape: one pass computes the reference extent (tiny result,
    broadcast), one pass bins and counts (map-side-combined groupBy on
    n_bins*2 cells), and the PSI fold runs over n_bins rows. Values
    outside the reference extent clamp into the edge bins, so novel
    out-of-range mass is counted (as edge-bin drift), never dropped.

    Output: one row (n_ref, n_cur, psi)."""
    vals = df.where(
        F.col(group_col).isin([group_ref, group_cur])
        & F.col(value_col).isNotNull()
    ).select(
        F.col(value_col).cast("double").alias("_v"),
        (F.col(group_col) == group_ref).alias("_is_ref"),
    )
    ext = vals.where("_is_ref").groupBy().agg(
        F.min("_v").alias("lo"), F.max("_v").alias("hi")
    )
    counts = (
        vals.crossJoin(F.broadcast(ext))
        .groupBy(_equal_width_bin(n_bins))
        .agg(
            F.sum(F.when(F.col("_is_ref"), 1).otherwise(0)).alias("c_ref"),
            F.sum(F.when(~F.col("_is_ref"), 1).otherwise(0)).alias("c_cur"),
        )
    )
    eps = F.lit(float(epsilon))
    totals = counts.groupBy().agg(
        F.sum("c_ref").alias("n_ref"), F.sum("c_cur").alias("n_cur")
    )
    p_ref = F.col("c_ref") / F.col("n_ref") + eps
    p_cur = F.col("c_cur") / F.col("n_cur") + eps
    return (
        counts.crossJoin(F.broadcast(totals))
        .groupBy("n_ref", "n_cur")
        .agg(F.sum((p_cur - p_ref) * F.log(p_cur / p_ref)).alias("psi"))
        .select("n_ref", "n_cur", F.round("psi", 6).alias("psi"))
    )

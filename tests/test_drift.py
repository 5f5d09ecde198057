"""t-digest drift operator: accuracy vs exact quantiles, merge
determinism, drift detection on a shifted partition, and a
percentile_approx cross-check (SURVEY.md §7 M4)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from typical_spark.operators.drift import (
    PROBE_QUANTILES,
    TDigest,
    drift_report,
    ks_at_probes,
    partition_digests,
)


def test_tdigest_quantile_accuracy():
    rng = np.random.default_rng(7)
    vals = rng.normal(100.0, 15.0, size=50_000)
    d = TDigest.from_values(vals, compression=100)
    for q in (0.05, 0.25, 0.5, 0.75, 0.95):
        exact = np.quantile(vals, q)
        got = float(d.quantile(q)[0])
        assert abs(got - exact) < 0.8, (q, got, exact)


def test_tdigest_merge_order_independent():
    rng = np.random.default_rng(8)
    parts = [TDigest.from_values(rng.exponential(5.0, size=10_000)) for _ in range(8)]
    a = TDigest.merge_all(parts)
    b = TDigest.merge_all(list(reversed(parts)))
    assert np.allclose(a.means, b.means) and np.allclose(a.weights, b.weights)


def test_tdigest_merge_accuracy():
    rng = np.random.default_rng(9)
    all_vals = rng.normal(0.0, 1.0, size=80_000)
    chunks = np.array_split(all_vals, 16)
    merged = TDigest.merge_all([TDigest.from_values(c) for c in chunks])
    for q in (0.1, 0.5, 0.9):
        assert abs(float(merged.quantile(q)[0]) - np.quantile(all_vals, q)) < 0.05


def test_drift_report_flags_shifted_partition(spark):
    rng = np.random.default_rng(10)
    frames = []
    for gid in range(6):
        mu = 50.0 if gid != 3 else 80.0  # partition 3 is drifted
        frames.append(pd.DataFrame({
            "bucket": str(gid),
            "v": rng.normal(mu, 5.0, size=4000),
        }))
    df = spark.createDataFrame(pd.concat(frames))
    # one drifted group of six shifts the global mixture by ~1/6, so clean
    # groups sit at KS ~ 0.17 vs global; the drifted one at ~0.8
    rep = drift_report(df, "v", "bucket", threshold=0.3)
    drifted = set(rep[rep.drifted].group_id)
    assert drifted == {"3"}
    assert rep[rep.group_id == "3"].ks_stat.iloc[0] > 0.5
    assert rep[rep.group_id != "3"].ks_stat.max() < 0.25
    # global median from merged digests near the bulk's median
    mid = rep[rep.group_id == "0"]["q_0.5"].iloc[0]
    assert abs(mid - 50.0) < 1.0


def test_partition_digests_vs_percentile_approx(spark):
    rng = np.random.default_rng(11)
    pdf = pd.DataFrame({
        "bucket": np.repeat(["a", "b"], 20_000),
        "v": np.concatenate([
            rng.normal(10, 2, 20_000), rng.normal(30, 4, 20_000)
        ]),
    })
    df = spark.createDataFrame(pdf)
    rows = partition_digests(df, "v", "bucket").collect()
    digests = {r["group_id"]: TDigest(np.array(r["means"]), np.array(r["weights"])) for r in rows}
    ga = df.groupBy("bucket").agg(
        F.percentile_approx("v", 0.5, 10000).alias("p50")
    ).collect()
    approx = {r["bucket"]: r["p50"] for r in ga}
    for g in ("a", "b"):
        assert abs(float(digests[g].quantile(0.5)[0]) - approx[g]) < 0.3


def test_ks_two_sample_exact(spark):
    from typical_spark.operators.drift import ks_two_sample

    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 2.0), ("b", 3.0), ("b", 4.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = ks_two_sample(df, "v", "g", "a", "b").collect()[0]
    # F_a - F_b evaluated at distinct values {1,2,3,4}: 1/3,1/3,1/3,0
    assert (r["n_a"], r["n_b"]) == (3, 3)
    assert abs(r["ks_stat"] - 1 / 3) < 1e-6

    # identical distributions -> 0
    same = spark.createDataFrame(
        [("a", float(x % 5)) for x in range(50)]
        + [("b", float(x % 5)) for x in range(50)],
        "g string, v double",
    )
    assert ks_two_sample(same, "v", "g", "a", "b").collect()[0]["ks_stat"] == 0.0


def test_ks_by_group_exact_vs_numpy(spark):
    """Per-group KS vs GLOBAL, including the sup-at-missing-value case:
    group b never emits the values where its CDF gap peaks, so the
    statistic is only right if the per-group CDF is evaluated on the
    full distinct-value grid (not just the group's own values)."""
    from typical_spark.operators.drift import ks_by_group

    rows = (
        [("a", float(v)) for v in (1, 2, 3, 4)]
        + [("b", 10.0)] * 4
        + [("c", float(v)) for v in (1, 2, 3, 4, 10, 10)]
        + [("c", None)]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r["group_id"]: r for r in ks_by_group(df, "v", "g", 0.3).collect()}

    vals = {"a": [1, 2, 3, 4], "b": [10, 10, 10, 10],
            "c": [1, 2, 3, 4, 10, 10]}
    all_v = np.sort(np.concatenate([np.asarray(v, float) for v in vals.values()]))
    xs = np.unique(all_v)
    f_all = np.searchsorted(all_v, xs, side="right") / len(all_v)
    for g, v in vals.items():
        sv = np.sort(np.asarray(v, float))
        f_g = np.searchsorted(sv, xs, side="right") / len(sv)
        expect = float(np.max(np.abs(f_g - f_all)))
        assert got[g]["n_group"] == len(v)
        assert abs(got[g]["ks_stat"] - round(expect, 6)) < 1e-9, g
        assert got[g]["drifted"] == (round(expect, 6) > 0.3)
    # group b's sup sits at values {1..4} it never emits: sanity-pin it
    assert abs(got["b"]["ks_stat"] - (8 / 14)) < 1e-6


def test_ks_by_group_identical_groups_not_drifted(spark):
    from typical_spark.operators.dedup import release_cache
    from typical_spark.operators.drift import ks_by_group

    df = spark.createDataFrame(
        [(g, float(x % 7)) for g in ("a", "b") for x in range(70)],
        "g string, v double",
    )
    out = ks_by_group(df, "v", "g", 0.05)
    rows = out.collect()
    assert all(r["ks_stat"] == 0.0 and not r["drifted"] for r in rows)
    release_cache(out)
    assert not out._owned_cache or all(
        not c.is_cached for c in out._owned_cache
    )


def test_psi_by_group_exact_vs_numpy(spark):
    """Per-group PSI vs global with a group that never hits some bins
    (the grid fill + epsilon path) — checked against a direct numpy
    replay of the same binning."""
    from typical_spark.operators.drift import psi_by_group

    rows = (
        [("a", float(v)) for v in range(10)]          # uniform 0..9
        + [("b", 0.0)] * 5 + [("b", 9.0)] * 5          # edges only
        + [("b", None)]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r["group_id"]: r for r in
           psi_by_group(df, "v", "g", n_bins=5, threshold=1.0).collect()}

    vals = {"a": list(range(10)), "b": [0] * 5 + [9] * 5}
    all_v = np.asarray(vals["a"] + vals["b"], float)
    lo, hi = all_v.min(), all_v.max()
    width = (hi - lo) / 5

    def hist(v):
        b = np.clip(np.floor((np.asarray(v, float) - lo) / width), 0, 4)
        return np.bincount(b.astype(int), minlength=5)

    g_all = hist(all_v) / len(all_v) + 1e-6
    for g, v in vals.items():
        p = hist(v) / len(v) + 1e-6
        expect = round(float(np.sum((p - g_all) * np.log(p / g_all))), 6)
        assert got[g]["n_group"] == len(v)
        assert abs(got[g]["psi"] - expect) < 1e-9, g
        assert got[g]["drifted"] == (expect > 1.0)
    assert got["a"]["drifted"] is False and got["b"]["drifted"] is True


@pytest.fixture(scope="module")
def digest_input(spark):
    """Three continuous groups plus a 1-row, a 3-distinct-value and an
    all-NULL group, cached so every run reads the same partitions."""
    rng = np.random.default_rng(12)
    rows = [(g, float(v)) for g, mu in (("a", 0.0), ("b", 0.5), ("c", 3.0))
            for v in rng.normal(mu, 1.0, size=15_000)]
    rows += [("one", 7.0), ("three", 1.0), ("three", 2.0), ("three", 3.0),
             ("null", None), ("null", None)]
    df = spark.createDataFrame(rows, "g string, v double").repartition(4).cache()
    df.count()
    yield df, rows
    df.unpersist()


def _digests(df):
    return {r["group_id"]: r for r in partition_digests(df, "v", "g").collect()}


def test_partition_digests_repeatable_and_partitioning_stable(digest_input):
    """Fixed input and partitioning give identical rows; another
    partitioning of the same rows gives digests within 0.02 KS."""
    df, _ = digest_input
    first = _digests(df)
    assert first == _digests(df)
    other = _digests(df.repartition(3))
    for g in ("a", "b", "c"):
        d, d3 = TDigest.from_row(first[g]), TDigest.from_row(other[g])
        assert ks_at_probes(d3, d) < 0.02, g


def test_partition_digests_small_and_null_groups(digest_input):
    rows = _digests(digest_input[0])
    assert (rows["one"]["n"], rows["one"]["means"], rows["one"]["weights"]) == (1.0, [7.0], [1.0])
    three = rows["three"]
    assert three["n"] == 3.0 and three["means"] == [1.0, 2.0, 3.0]
    assert all(abs(w - 1.0) < 0.05 for w in three["weights"]), three["weights"]
    assert abs(sum(three["weights"]) - 3.0) < 1e-9
    assert (rows["null"]["n"], rows["null"]["means"], rows["null"]["weights"]) == (0.0, [], [])


def test_partition_digests_ks_matches_exact_ecdf(digest_input):
    """Each continuous group's digest KS against the merged global
    digest is within 2e-3 of the exact ECDF gap at the same probes."""
    df, rows = digest_input
    digests = {g: TDigest.from_row(r) for g, r in _digests(df).items()}
    glob = TDigest.merge_all(list(digests.values()))
    probes = glob.quantile(np.asarray(PROBE_QUANTILES))

    def ecdf(v):
        v = np.sort(np.asarray(v, dtype=np.float64))
        return np.searchsorted(v, probes, side="right") / len(v)

    every = [v for _, v in rows if v is not None]
    for g in ("a", "b", "c"):
        exact = np.max(np.abs(ecdf([v for k, v in rows if k == g]) - ecdf(every)))
        assert abs(ks_at_probes(digests[g], glob) - exact) < 2e-3, g

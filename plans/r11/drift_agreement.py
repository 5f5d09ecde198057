"""Agreement of the drift digests with exact statistics, per group.

    python plans/r11/drift_agreement.py <perfbench work dir> > plans/r11/drift_agreement.md

For every fixture of tests/test_drift.py and for the perfbench data of
seeds 0 and 1 (`tsd` = unix seconds of `ts`, and `turn_idx`, grouped by
`bucket`), one row per group with:

- `exact`: max |ECDF_group(p) - ECDF_all(p)| over p = the exact global
  quantiles at PROBE_QUANTILES;
- `grouped`: `ks_at_probes` of the grouped-map digest
  (`TDigest.from_values` over the group's values, the numpy build the
  applyInPandas operator ran) against the merge of all groups' digests;
- `native`: the same for the `partition_digests` rows;
- the verdicts at `drift_report`'s default 0.1 threshold, and the exact
  `ks_by_group` (0.1) and `psi_by_group` (0.25) statistics and verdicts.

The perfbench data is generated under the work dir when missing.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import data  # noqa: E402
from typical_spark.operators.dedup import release_cache  # noqa: E402
from typical_spark.operators.drift import (  # noqa: E402
    PROBE_QUANTILES,
    TDigest,
    ks_at_probes,
    ks_by_group,
    partition_digests,
    psi_by_group,
)
from typical_spark.session import get_spark  # noqa: E402

THRESHOLD = 0.1


def fixtures(spark, work):
    """(name, DataFrame of (g string, v double))."""
    rng = np.random.default_rng(10)
    rows = [(str(g), float(v)) for g in range(6)
            for v in rng.normal(80.0 if g == 3 else 50.0, 5.0, size=4000)]
    yield "shifted partition (seed 10)", rows
    rng = np.random.default_rng(11)
    yield "two normals (seed 11)", (
        [("a", float(v)) for v in rng.normal(10, 2, 20_000)]
        + [("b", float(v)) for v in rng.normal(30, 4, 20_000)]
    )
    rng = np.random.default_rng(12)
    yield "digest_input (seed 12)", (
        [(g, float(v)) for g, mu in (("a", 0.0), ("b", 0.5), ("c", 3.0))
         for v in rng.normal(mu, 1.0, size=15_000)]
        + [("one", 7.0), ("three", 1.0), ("three", 2.0), ("three", 3.0),
           ("null", None), ("null", None)]
    )
    yield "ks_by_group fixture", (
        [("a", float(v)) for v in (1, 2, 3, 4)] + [("b", 10.0)] * 4
        + [("c", float(v)) for v in (1, 2, 3, 4, 10, 10)] + [("c", None)]
    )
    yield "psi_by_group fixture", (
        [("a", float(v)) for v in range(10)] + [("b", 0.0)] * 5
        + [("b", 9.0)] * 5 + [("b", None)]
    )
    yield "identical groups", [(g, float(x % 7)) for g in ("a", "b") for x in range(70)]
    for seed in (0, 1):
        tdf, _ = data.load(work, seed).bucketed(spark)
        for col, expr in (("tsd", F.unix_timestamp("ts").cast("double")),
                          ("turn_idx", F.col("turn_idx").cast("double"))):
            yield f"perfbench seed {seed} `{col}` by bucket", tdf.select(
                F.col("bucket").cast("string").alias("g"), expr.alias("v"))


def ecdf(sorted_v, probes):
    return np.searchsorted(sorted_v, probes, side="right") / len(sorted_v)


def table(spark, name, src):
    df = src if not isinstance(src, list) else spark.createDataFrame(src, "g string, v double")
    df = df.cache()
    pdf = df.toPandas()
    values = {g: np.sort(x["v"].dropna().to_numpy(float)) for g, x in pdf.groupby("g")}
    every = np.sort(np.concatenate(list(values.values())))
    probes = np.quantile(every, PROBE_QUANTILES)
    grouped = {g: TDigest.from_values(v) for g, v in values.items()}
    native = {r["group_id"]: TDigest.from_row(r)
              for r in partition_digests(df, "v", "g").collect()}
    g_all, n_all = TDigest.merge_all(list(grouped.values())), TDigest.merge_all(list(native.values()))
    ks = ks_by_group(df, "v", "g", THRESHOLD)
    psi = psi_by_group(df, "v", "g")
    ks_rows = {r["group_id"]: r for r in ks.collect()}
    psi_rows = {r["group_id"]: r for r in psi.collect()}
    release_cache(ks), release_cache(psi), df.unpersist()
    out = []
    for g in sorted(values):
        if not len(values[g]):
            out.append(f"| {name} | {g} | 0 | | | | | | | |")
            continue
        exact = float(np.max(np.abs(ecdf(values[g], probes) - ecdf(every, probes))))
        kg, kn = ks_at_probes(grouped[g], g_all), ks_at_probes(native[g], n_all)
        k, p = ks_rows[g], psi_rows[g]

        def verdict(x, thr=THRESHOLD):
            return f"{x:.4f} {'D' if x > thr else '-'}"

        out.append(
            f"| {name} | {g} | {len(values[g])} | {verdict(exact)} | {verdict(kg)} "
            f"| {verdict(kn)} | {kn - exact:+.4f} | {verdict(k['ks_stat'])} "
            f"| {verdict(p['psi'], 0.25)} | {len(native[g].means)} |"
        )
    return out


def main(work: str) -> None:
    spark = get_spark("drift_agreement", cores=4, shuffle_partitions=8)
    print("| input | group | n | exact KS | grouped-map digest | native digest "
          "| native − exact | ks_by_group | psi_by_group | native centroids |")
    print("|---|---|---|---|---|---|---|---|---|---|")
    for name, src in fixtures(spark, work):
        for line in table(spark, name, src):
            print(line)


if __name__ == "__main__":
    main(sys.argv[1])

"""Deterministic synthetic transcript generator (FIXTURES.md §1-§2).

Schema from BASELINE.json input_hint:
    (conv_id string, turn_idx int, role string, text string,
     tool string, ts timestamp)

Everything is seeded (default seed=42) and fully vectorized numpy, so the
same (n_turns, seed) always yields byte-identical data — violation counts
are exact golden numbers usable in tests. Injected dirt, with rates fixed
by FIXTURES.md:
  conv_id: ~0.2% nulls, ~0.2% malformed ("bad id!")
  turn_idx: ~0.5% duplicate rows appended, ~0.3% negatives, ~0.3% gaps
  role: ~0.5% invalid ("robot" / "" / null)
  text: ~0.3% nulls, ~0.1% over-max_length outliers
  tool: ~0.2% invalid names
  ts: ~0.2% out-of-range (year 1900/2100), ~0.2% out-of-order within conv
Plus skew: 5 "hot" conversations carry ~1% of all turns (exercises the
salted-window dedup and AQE skew paths at bench scale).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

EPOCH_2025 = pd.Timestamp("2025-01-01", tz=None).value // 10**9  # seconds
ROLES = np.array(["system", "user", "assistant", "tool"])
TOOLS = np.array([f"tool_{i:02d}" for i in range(12)])

_WORDS = np.array(
    "the a data spark query table row column filter join group sort merge "
    "window stream batch shard key value fast slow small large first last "
    "order part line customer scan hash agg plan stage task skew salt".split()
)


def _make_texts(rng: np.random.Generator, n: int) -> np.ndarray:
    """Seeded lorem: ~5000 distinct sentences sampled per row, with a
    deterministic per-row suffix to keep per-turn text equality meaningful."""
    n_templates = 5000
    lens = rng.integers(3, 40, size=n_templates)
    templates = np.array(
        [" ".join(rng.choice(_WORDS, size=k)) for k in lens], dtype=object
    )
    idx = rng.integers(0, n_templates, size=n)
    reps = rng.integers(1, 6, size=n)  # vary length 0..~1200 chars
    texts = np.array(
        [(" ".join([templates[i]] * r)) for i, r in zip(idx, reps)], dtype=object
    )
    return texts


def generate_transcripts_pdf(n_turns: int, seed: int = 42) -> pd.DataFrame:
    rng = np.random.default_rng(seed)

    # --- conversation sizes: mean ~20 turns, plus 5 hot convs at ~0.2% each
    n_hot = 5 if n_turns >= 5000 else 0
    hot_size = max(int(n_turns * 0.002), 2) if n_hot else 0
    n_rest = n_turns - n_hot * hot_size
    n_convs = max(n_rest // 20, 1)
    # overdraw ~6% so the Poisson sum always overshoots n_rest, then trim
    # to EXACTLY n_rest (a prior version drew exactly n_convs sizes and
    # had no pad path, so ~half of (n, seed) pairs silently produced
    # O(sqrt n) fewer turns than requested)
    n_draw = n_convs + max(n_convs // 16, 8)
    sizes = rng.poisson(19, size=n_draw) + 1
    cum = np.cumsum(sizes)
    cut = int(np.searchsorted(cum, n_rest))
    if cut < len(cum):
        sizes = sizes[: cut + 1].copy()
        sizes[-1] -= int(cum[cut] - n_rest)
    else:  # buffer exhausted (astronomically unlikely): pad, never short
        sizes = sizes.copy()
        sizes[-1] += int(n_rest - cum[-1])
    if sizes[-1] <= 0:
        sizes = sizes[:-1]
    all_sizes = np.concatenate([np.full(n_hot, hot_size, dtype=np.int64), sizes])
    n = int(all_sizes.sum())

    conv_idx = np.repeat(np.arange(len(all_sizes)), all_sizes)
    turn_idx = np.concatenate([np.arange(s) for s in all_sizes]).astype(np.int64)
    conv_id = np.char.add("c", np.char.zfill(conv_idx.astype(str), 8)).astype(object)

    role = ROLES[(turn_idx % 4).astype(np.int64)].astype(object)
    text = _make_texts(rng, n)
    tool = np.where(
        role == "tool", TOOLS[rng.integers(0, 12, size=n)], None
    ).astype(object)
    ts = (
        EPOCH_2025
        + conv_idx.astype(np.int64) * 60
        + turn_idx * 5
    ).astype("datetime64[s]")

    # --- dirt injection (all index picks deterministic) -------------------
    def pick(frac: float) -> np.ndarray:
        k = int(round(n * frac))
        return rng.choice(n, size=k, replace=False) if k else np.array([], dtype=int)

    i = pick(0.002); conv_id[i] = None
    i = pick(0.002); conv_id[i] = "bad id!"
    i = pick(0.003); turn_idx[i] = -1 - turn_idx[i]          # negatives
    i = pick(0.003); turn_idx[i] = turn_idx[i] + 1000         # gaps
    i = pick(0.003); role[i] = "robot"
    i = pick(0.001); role[i] = ""
    i = pick(0.001); role[i] = None
    i = pick(0.003); text[i] = None
    i = pick(0.001); text[i] = "x" * 4321                     # > max_length 4000
    i = pick(0.002); tool[i] = "toolX"                        # invalid tool name
    i = pick(0.001); ts[i] = np.datetime64("1900-01-01")
    i = pick(0.001); ts[i] = np.datetime64("2100-01-01")
    i = pick(0.002); ts[i] = ts[i] - np.timedelta64(10000, "s")  # out-of-order

    pdf = pd.DataFrame(
        {
            "conv_id": conv_id,
            "turn_idx": turn_idx.astype("int32"),
            "role": role,
            "text": text,
            "tool": tool,
            "ts": ts.astype("datetime64[us]"),
        }
    )

    # ~0.5% duplicated rows (uniqueness violations), appended then shuffled
    dup = pdf.iloc[rng.choice(n, size=int(round(n * 0.005)), replace=False)]
    pdf = pd.concat([pdf, dup], ignore_index=True)
    pdf = pdf.iloc[rng.permutation(len(pdf))].reset_index(drop=True)
    return pdf


def generate_conversations_pdf(
    transcripts: pd.DataFrame, withhold_frac: float = 0.005, seed: int = 42
) -> pd.DataFrame:
    """Referential dimension (FIXTURES.md §2): every conv_id except a fixed
    withheld set (-> expected anti-join violations)."""
    rng = np.random.default_rng(seed + 1)
    g = (
        transcripts.dropna(subset=["conv_id"])
        .groupby("conv_id", sort=True)["ts"].min().reset_index()
        .rename(columns={"ts": "started_ts"})
    )
    g = g[g["conv_id"].str.match(r"^c[0-9]{8}$")]
    keep = rng.random(len(g)) >= withhold_frac
    g = g[keep].reset_index(drop=True)
    g["channel"] = np.array(["web", "api", "slack"])[
        rng.integers(0, 3, size=len(g))
    ]
    return g


def replicate_transcripts(df, factor: int, conv_id_col: str = "conv_id"):
    """Scale a transcript table by `factor` with disjoint conversation-id
    spaces (first digit of the 8-digit id becomes the replica index) and a
    per-replica time shift. Violation counts scale EXACTLY by `factor`
    (replicas are conv-disjoint), so goldens stay exact at bench scale —
    and the replication is in-plan (union of remapped scans), no regen.
    """
    from pyspark.sql import functions as F

    assert 1 <= factor <= 100
    # dense-id assumption guard: the replica prefix overwrites leading
    # digits, so base conversations must fit in the remaining ones
    # (7 digits for factor<=10, 6 beyond) or distinct base ids would
    # collapse within a replica and violation counts would go superlinear
    # ids are generated dense-from-zero (c%08d), so the max id string
    # tells us how many leading digits are zero — one cheap column-max
    # instead of a distinct-count, and it guards EVERY factor (a prior
    # version skipped factor 2-10, where a >=10^7-conversation base
    # would silently collapse distinct ids within each replica)
    if factor > 1:
        top = df.agg(F.max(conv_id_col)).first()[0]
        bound = "c1" if factor <= 10 else "c01"
        assert top is None or top < bound, (
            f"max conv id {top!r} needs the digits the replica prefix "
            f"overwrites (factor {factor} requires ids < {bound!r}0...); "
            "distinct ids would collapse within replicas"
        )
    parts = []
    for r in range(factor):
        # replica index overwrites the LEADING digit(s) of the 8-digit id
        # (ids are generated dense-from-zero, so the leading two digits
        # are zero for any realistic base size — replicas stay disjoint
        # AND no two base ids collapse within a replica, keeping
        # violation counts exactly factor-linear)
        if factor <= 10:
            prefix, rest = str(r), F.substring(conv_id_col, 3, 7)
        else:
            prefix, rest = f"{r:02d}", F.substring(conv_id_col, 4, 6)
        remapped = df.withColumn(
            conv_id_col,
            F.when(
                F.col(conv_id_col).rlike("^c[0-9]{8}$"),
                F.concat(F.lit("c"), F.lit(prefix), rest),
            ).otherwise(F.col(conv_id_col)),
        )
        if "ts" in df.columns:
            remapped = remapped.withColumn(
                "ts", F.timestamp_seconds(F.unix_timestamp("ts") + r * 7200)
            )
        if "started_ts" in df.columns:
            remapped = remapped.withColumn(
                "started_ts",
                F.timestamp_seconds(F.unix_timestamp("started_ts") + r * 7200),
            )
        parts.append(remapped)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def scaled_dataset(
    spark,
    base_turns: int,
    factor: int,
    seed: int = 42,
    cache_dir: str = "/root/repo/.data",
    buckets: int = 32,
):
    """Materialized factor-replicated table (see replicate_transcripts).
    Written once; scaling runs then plan against a plain parquet scan
    instead of a 16-subtree union (driver planning time must not pollute
    a scaling measurement).

    Both sides are served as tables CLUSTERED BY (conv_id) INTO `buckets`
    BUCKETS (guide §2.4 "bucketed tables persist a partitioning across
    jobs"; `tables.bucketed_table`): the transcripts sorted by (conv_id,
    turn_idx, ts, role), the conversations dimension by conv_id. The
    fused validation windows then start from hash(conv_id)-clustered,
    sorted scans and skip their Exchange and Sort, and the referential
    merge join reads the dimension's matching bucket beside each fact
    bucket — the parquet stand-in for the Iceberg bucket(N, conv_id)
    layout SURVEY §1.3 names. The dimension must take the fact's bucket
    count (SCALE.md "Bucketed storage"). Catalog entries are
    session-scoped (in-memory catalog), so each session re-registers
    the existing files with one DDL each. The plain hive-partitioned
    copy and the plain dimension stay on disk for the jobs that read
    paths; a failure in the bucketed path raises."""
    from typical_spark.sources.tables import bucketed_table

    tdir = os.path.join(cache_dir, f"transcripts_n{base_turns}_s{seed}_x{factor}")
    cdir = os.path.join(cache_dir, f"conversations_n{base_turns}_s{seed}_x{factor}")
    if not os.path.exists(os.path.join(tdir, "_SUCCESS")):
        tdf, cdf = transcripts_dataset(spark, base_turns, seed, cache_dir, buckets)
        replicate_transcripts(tdf, factor).write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(tdir)
        replicate_transcripts(cdf, factor).coalesce(8).write.mode(
            "overwrite"
        ).parquet(cdir)
    key = f"n{base_turns}_s{seed}_x{factor}_b{buckets}"
    transcripts = bucketed_table(
        spark, f"tx_{key}", os.path.join(cache_dir, f"tx_{key}"),
        lambda: spark.read.parquet(tdir), ["conv_id"], buckets,
        ["conv_id", "turn_idx", "ts", "role"])
    conversations = bucketed_table(
        spark, f"cv_{key}", os.path.join(cache_dir, f"cv_{key}"),
        lambda: spark.read.parquet(cdir), ["conv_id"], buckets, ["conv_id"])
    return transcripts, conversations


def transcripts_dataset(
    spark,
    n_turns: int,
    seed: int = 42,
    cache_dir: str = "/root/repo/.data",
    buckets: int = 32,
):
    """Materialize (once) and load the transcript + conversations parquet.

    Written partitioned by a conv-hash bucket — the parquet stand-in for
    the Iceberg `bucket(conv_id)` partition transform named in SURVEY §1.3;
    downstream per-conversation operators then start from co-located data.
    Returns (transcripts_df, conversations_df).
    """
    # buckets participates in the cache key (default elided to keep the
    # documented path names stable): a different bucket count must never
    # be served a stale layout
    bkey = "" if buckets == 32 else f"_b{buckets}"
    tdir = os.path.join(cache_dir, f"transcripts_n{n_turns}_s{seed}{bkey}")
    cdir = os.path.join(cache_dir, f"conversations_n{n_turns}_s{seed}{bkey}")
    if not os.path.exists(os.path.join(tdir, "_SUCCESS")):
        pdf = generate_transcripts_pdf(n_turns, seed)
        cpdf = generate_conversations_pdf(pdf, seed=seed)
        sdf = spark.createDataFrame(pdf)
        from pyspark.sql import functions as F

        sdf = sdf.withColumn(
            "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(buckets)).cast("int")
        )
        sdf.repartition(buckets, "bucket").write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(tdir)
        spark.createDataFrame(cpdf).coalesce(4).write.mode("overwrite").parquet(cdir)
    return spark.read.parquet(tdir), spark.read.parquet(cdir)

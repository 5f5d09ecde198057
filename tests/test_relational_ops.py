"""Unit tests for the round-3 relational additions: bucketized interval
join, concat-and-split sequence packing, PSI drift, gaps-and-islands
runs, and exact-count stratified sampling. Each also has a DuckDB
oracle in __spark_entry__.py; these tests pin hand-computed semantics
and the edge cases the oracle data may not exercise."""

import math

import pytest
from pyspark.sql import functions as F

from typical_spark.operators.drift import psi_drift
from typical_spark.operators.interval import interval_join
from typical_spark.operators.packing import pack_sequences
from typical_spark.operators.runs import value_runs
from typical_spark.operators.sampling import stratified_sample


# ---------------------------------------------------------------------------
# interval_join
# ---------------------------------------------------------------------------


def _points(spark, rows):
    return spark.createDataFrame(rows, "k string, ts double, pid int")


def _ivals(spark, rows):
    return spark.createDataFrame(rows, "k string, start double, end double, iid int")


def test_interval_join_multi_match_and_bucket_crossing(spark):
    """A point inside two overlapping intervals matches both; an
    interval spanning several buckets still catches a point in its
    last bucket (the explode replication is what makes that work)."""
    pts = _points(spark, [("a", 5000.0, 1), ("a", 100.0, 2), ("b", 50.0, 3)])
    ivs = _ivals(spark, [
        ("a", 0.0, 10000.0, 10),     # spans buckets 0..2 at W=3600
        ("a", 4000.0, 6000.0, 11),   # also contains ts=5000
        ("a", 200.0, 300.0, 12),     # contains neither point
        ("b", 0.0, 60.0, 13),
    ])
    got = {
        (r["pid"], r["r_iid"])
        for r in interval_join(
            pts, ivs, by=["k"], point_ts="ts",
            start_ts="start", end_ts="end", bucket_seconds=3600,
        ).collect()
    }
    assert got == {(1, 10), (1, 11), (2, 10), (3, 13)}


def test_interval_join_null_and_empty_intervals(spark):
    pts = _points(spark, [("a", 5.0, 1), (None, 5.0, 2), ("a", None, 3)])
    ivs = _ivals(spark, [
        ("a", 10.0, 1.0, 20),   # end < start: empty, dropped
        ("a", 1.0, 9.0, 21),
        (None, 1.0, 9.0, 22),   # NULL key never matches
        ("a", None, 9.0, 23),   # NULL bound never matches
    ])
    got = [
        (r["pid"], r["r_iid"])
        for r in interval_join(
            pts, ivs, by=["k"], point_ts="ts",
            start_ts="start", end_ts="end", bucket_seconds=10,
        ).collect()
    ]
    assert got == [(1, 21)]


def test_interval_join_guard_on_pathological_interval(spark):
    pts = _points(spark, [("a", 5.0, 1)])
    ivs = _ivals(spark, [("a", 0.0, 1e9, 30)])
    with pytest.raises(Exception, match="interval_join"):
        interval_join(
            pts, ivs, by=["k"], point_ts="ts", start_ts="start",
            end_ts="end", bucket_seconds=10, max_interval_buckets=100,
        ).collect()


def test_interval_join_timestamp_columns_both_ansi_modes(spark):
    """Timestamp inputs must bucket without a timestamp->double cast
    (illegal under ANSI)."""
    pts = spark.createDataFrame(
        [("a", "2024-01-01 00:30:00", 1)], "k string, ts string, pid int"
    ).select("k", F.col("ts").cast("timestamp_ntz").alias("ts"), "pid")
    ivs = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00", "2024-01-01 01:00:00", 9)],
        "k string, start string, end string, iid int",
    ).select(
        "k",
        F.col("start").cast("timestamp_ntz").alias("start"),
        F.col("end").cast("timestamp_ntz").alias("end"),
        "iid",
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for mode in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", mode)
            got = interval_join(
                pts, ivs, by=["k"], point_ts="ts",
                start_ts="start", end_ts="end", bucket_seconds=3600,
            ).collect()
            assert [(r["pid"], r["r_iid"]) for r in got] == [(1, 9)]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


# ---------------------------------------------------------------------------
# pack_sequences
# ---------------------------------------------------------------------------


def test_pack_sequences_spans_and_offsets(spark):
    """One shard, tiny budget: offsets are the running concat position
    and a doc straddling a cut point spans both sequences."""
    docs = spark.createDataFrame(
        [(i, 30) for i in range(10)] + [(99, 0), (100, None)],
        "doc_id long, tok int",
    )
    out = pack_sequences(
        docs, "doc_id", "tok", budget=100, n_shards=1
    ).collect()
    assert len(out) == 10            # zero/NULL-token docs dropped
    by_off = sorted(out, key=lambda r: r["offset"])
    assert [r["offset"] for r in by_off] == [30 * i for i in range(10)]
    for r in by_off:
        assert r["first_seq"] == r["offset"] // 100
        assert r["last_seq"] == (r["offset"] + 29) // 100
        assert r["n_seqs"] == r["last_seq"] - r["first_seq"] + 1
    # cuts fall at 100 and 200; the docs at offsets 90 and 180 straddle
    # them ([90,119], [180,209]) — exactly two two-sequence spans
    assert sum(r["n_seqs"] == 2 for r in by_off) == 2


def test_pack_sequences_deterministic_and_sharded(spark):
    docs = spark.createDataFrame(
        [(i, 10 + i % 7) for i in range(500)], "doc_id long, tok int"
    )
    a = pack_sequences(docs, "doc_id", "tok", budget=64, n_shards=8)
    b = pack_sequences(docs, "doc_id", "tok", budget=64, n_shards=8)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    shards = {r["shard"] for r in a.select("shard").distinct().collect()}
    assert shards <= set(range(8)) and len(shards) > 1
    # per shard, offsets tile the concatenated stream with no gaps
    import collections

    per = collections.defaultdict(list)
    for r in a.collect():
        per[r["shard"]].append((r["offset"], r["tokens"]))
    for rows in per.values():
        pos = 0
        for off, tok in sorted(rows):
            assert off == pos
            pos += tok


# ---------------------------------------------------------------------------
# psi_drift
# ---------------------------------------------------------------------------


def _psi_df(spark, ref_vals, cur_vals):
    rows = [("r", float(v)) for v in ref_vals] + [("c", float(v)) for v in cur_vals]
    return spark.createDataFrame(rows, "g string, v double")


def test_psi_identical_distributions_is_zero(spark):
    vals = [i % 50 for i in range(1000)]
    out = psi_drift(_psi_df(spark, vals, vals), "v", "g", "r", "c").collect()[0]
    assert out["n_ref"] == out["n_cur"] == 1000
    assert abs(out["psi"]) < 1e-9


def test_psi_shifted_distribution_is_large(spark):
    ref = [i % 50 for i in range(1000)]
    cur = [40 + i % 50 for i in range(1000)]  # mass shifted right
    out = psi_drift(_psi_df(spark, ref, cur), "v", "g", "r", "c").collect()[0]
    assert out["psi"] > 0.25  # standard "drifted" threshold


def test_psi_hand_computed_two_bins(spark):
    """ref 50/50 across [0,1], cur 25/75 -> exact closed form."""
    ref = [0.0] * 50 + [1.0] * 50
    cur = [0.0] * 25 + [1.0] * 75
    out = psi_drift(
        _psi_df(spark, ref, cur), "v", "g", "r", "c", n_bins=2, epsilon=0.0
    ).collect()[0]
    expect = (0.25 - 0.5) * math.log(0.25 / 0.5) + (0.75 - 0.5) * math.log(
        0.75 / 0.5
    )
    assert abs(out["psi"] - expect) < 1e-6  # JVM vs CPython libm ulp slack


def test_psi_degenerate_reference_single_value(spark):
    out = psi_drift(
        _psi_df(spark, [5.0] * 10, [5.0] * 7 + [9.0] * 3), "v", "g", "r", "c"
    ).collect()[0]
    # width=0: everything clamps into bin 0 -> no detectable drift,
    # but it must not divide by zero or error
    assert out["n_ref"] == 10 and out["n_cur"] == 10
    assert abs(out["psi"]) < 1e-9


# ---------------------------------------------------------------------------
# value_runs
# ---------------------------------------------------------------------------


def test_value_runs_hand_fixture(spark):
    rows = [
        ("u1", 1, "a"), ("u1", 2, "a"), ("u1", 3, "a"),   # run a x3
        ("u1", 4, "b"),                                     # run b x1
        ("u1", 5, "a"), ("u1", 6, "a"),                     # run a x2
        ("u2", 1, "a"), ("u2", 2, "a"),                     # run a x2
        ("u2", 3, None),                                    # NULL excluded
        (None, 4, "a"),                                     # NULL key excluded
    ]
    df = spark.createDataFrame(rows, "u string, i int, v string")
    got = sorted(
        (r["u"], r["v"], r["run_len"], r["start_i"], r["end_i"])
        for r in value_runs(df, ["u"], ["i"], "v").collect()
    )
    assert got == [
        ("u1", "a", 2, 5, 6),
        ("u1", "a", 3, 1, 3),
        ("u1", "b", 1, 4, 4),
        ("u2", "a", 2, 1, 2),
    ]
    long_only = value_runs(df, ["u"], ["i"], "v", min_run_len=3).collect()
    assert [(r["u"], r["run_len"]) for r in long_only] == [("u1", 3)]


# ---------------------------------------------------------------------------
# stratified_sample
# ---------------------------------------------------------------------------


def test_stratified_sample_exact_counts_and_determinism(spark):
    rows = [(i, "en" if i % 2 else "de") for i in range(200)]
    df = spark.createDataFrame(rows, "id long, lang string")
    out = stratified_sample(df, "id", "lang", {"en": 0.25}, default_fraction=1.0)
    counts = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"en": 25, "de": 100}  # ceil(0.25*100)=25, de kept whole
    again = stratified_sample(df, "id", "lang", {"en": 0.25}, default_fraction=1.0)
    assert sorted(r["id"] for r in out.collect()) == sorted(
        r["id"] for r in again.collect()
    )


def test_stratified_sample_zero_fraction_and_validation(spark):
    df = spark.createDataFrame(
        [(1, "en"), (2, "de"), (3, None)], "id long, lang string"
    )
    out = stratified_sample(df, "id", "lang", {"en": 0.0}, default_fraction=1.0)
    assert [r["id"] for r in out.collect()] == [2]  # en dropped, NULL stratum excluded
    with pytest.raises(ValueError, match="fraction"):
        stratified_sample(df, "id", "lang", {"en": 1.5})


# ---------------------------------------------------------------------------
# bigram_logprob_score
# ---------------------------------------------------------------------------


def test_bigram_logprob_hand_computed(spark):
    """Tiny corpus: 'a b a b' + 'a b c'; V=3, context counts folded
    from bigram counts, add-0.5 smoothing; short/NULL docs absent."""
    from typical_spark.functions.text_analysis import bigram_logprob_score

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "solo"), (4, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           bigram_logprob_score(docs, "doc_id", "text", k=0.5).collect()}
    # bigrams: d1 -> ab, ba, ab ; d2 -> ab, bc
    # cb: ab=3, ba=1, bc=1 ; cw: a.=3+1? no — contexts: a->b 3x so
    # cw(a)=3; b->a 1 and b->c 1 so cw(b)=2. V=4 (a,b,c,solo).
    def lp(cb, cw):
        return math.log((cb + 0.5) / (cw + 0.5 * 4))

    d1 = (2 * lp(3, 3) + lp(1, 2)) / 3
    d2 = (lp(3, 3) + lp(1, 2)) / 2
    assert out[1]["n_bigrams"] == 3 and out[2]["n_bigrams"] == 2
    assert abs(out[1]["avg_logprob"] - d1) < 1e-4
    assert abs(out[2]["avg_logprob"] - d2) < 1e-4
    assert abs(out[1]["ppl"] - math.exp(-out[1]["avg_logprob"])) < 1e-4
    assert 3 not in out and 4 not in out


# ---------------------------------------------------------------------------
# randomized equivalence vs naive spellings (fixed seeds)
# ---------------------------------------------------------------------------


def test_interval_join_equals_naive_range_join(spark):
    """On random inputs the bucketized join must emit exactly the same
    pair multiset as the naive range-predicate join it exists to
    replace — across bucket widths that divide the data differently."""
    import random

    rng = random.Random(7)
    pts = spark.createDataFrame(
        [(str(rng.randint(0, 4)), float(rng.randint(0, 1000)), i)
         for i in range(300)],
        "k string, ts double, pid int",
    )
    ivs_rows = []
    for j in range(120):
        s = float(rng.randint(0, 1000))
        ivs_rows.append((str(rng.randint(0, 4)), s, s + rng.randint(0, 200), j))
    ivs = spark.createDataFrame(ivs_rows, "k string, start double, end double, iid int")
    naive = {
        (r["pid"], r["iid"])
        for r in pts.join(ivs, "k")
        .where((F.col("ts") >= F.col("start")) & (F.col("ts") <= F.col("end")))
        .collect()
    }
    for w in (7, 64, 1000):
        got = {
            (r["pid"], r["r_iid"])
            for r in interval_join(
                pts, ivs, by=["k"], point_ts="ts", start_ts="start",
                end_ts="end", bucket_seconds=w,
            ).collect()
        }
        assert got == naive, f"bucket width {w} diverged"


def test_value_runs_equals_naive_rle(spark):
    """Random sequences: operator output must equal a plain Python
    run-length encoding of each key's ordered values."""
    import random

    rng = random.Random(11)
    rows = [
        (f"k{rng.randint(0, 3)}", i, str(rng.randint(0, 2)))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "k string, i int, v string")
    got = sorted(
        (r["k"], r["v"], r["run_len"], r["start_i"], r["end_i"])
        for r in value_runs(df, ["k"], ["i"], "v").collect()
    )
    import collections

    per = collections.defaultdict(list)
    for k, i, v in sorted(rows):
        per[k].append((i, v))
    expect = []
    for k, seq in per.items():
        run = []
        for i, v in seq:
            if run and v == run[-1][1]:
                run.append((i, v))
            else:
                if run:
                    expect.append((k, run[0][1], len(run), run[0][0], run[-1][0]))
                run = [(i, v)]
        if run:
            expect.append((k, run[0][1], len(run), run[0][0], run[-1][0]))
    assert got == sorted(expect)


# ---------------------------------------------------------------------------
# time_rollup / zscore_outliers
# ---------------------------------------------------------------------------


def test_time_rollup_reaggregates_exactly(spark):
    """Hour partials must roll up to the day rollup by summing — the
    hypertable reaggregation property (coarsen without re-scanning)."""
    from typical_spark.operators.stats import time_rollup

    rows = [
        ("a", f"2024-03-0{1 + i % 2} {i % 24:02d}:17:00", float(i))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "k string, ts string, v double").select(
        "k", F.col("ts").cast("timestamp_ntz").alias("ts"), "v"
    )
    hourly = time_rollup(df, "ts", by=["k"], value_col="v", unit="hour")
    daily = time_rollup(df, "ts", by=["k"], value_col="v", unit="day")
    re_daily = (
        hourly.groupBy("k", F.date_trunc("day", "bucket").alias("bucket"))
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("value_sum").alias("value_sum"),
        )
    )
    a = {(r["k"], r["bucket"]): (r["n_rows"], round(r["value_sum"], 6))
         for r in daily.collect()}
    b = {(r["k"], r["bucket"]): (r["n_rows"], round(r["value_sum"], 6))
         for r in re_daily.collect()}
    assert a == b and len(a) == 2
    with pytest.raises(ValueError, match="unit"):
        time_rollup(df, "ts", unit="fortnight")


def test_zscore_outliers_flags_planted_spike(spark):
    from typical_spark.operators.stats import zscore_outliers

    rows = [("g1", float(v), i) for i, v in enumerate([10.0] * 50 + [11.0] * 49 + [500.0])]
    rows += [("g2", 7.0, 1000), ("g2", 7.0, 1001)]        # stddev 0 group
    rows += [("g3", None, 2000), ("g3", 1.0, 2001)]       # singleton after NULL
    df = spark.createDataFrame(rows, "g string, v double, rid long")
    out = zscore_outliers(df, "v", by=["g"], threshold=3.0).collect()
    assert [(r["g"], r["rid"]) for r in out] == [("g1", 99)]
    assert out[0]["zscore"] > 3.0


def test_chunk_spans_hand_computed(spark):
    from typical_spark.operators.packing import chunk_spans

    docs = spark.createDataFrame(
        [(1, 1000), (2, 100), (3, 512), (4, 513), (5, 0), (6, None), (7, 40)],
        "doc_id long, n_chars long",
    )
    got = {}
    for r in chunk_spans(docs, "doc_id", "n_chars", 512, 64).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["start"], r["end"], r["chunk_len"])
        )
    for v in got.values():
        v.sort()
    # L=1000: ceil(936/448)=3 chunks; last is the partial tail
    assert got[1] == [(0, 0, 512, 512), (1, 448, 960, 512), (2, 896, 1000, 104)]
    assert got[2] == [(0, 0, 100, 100)]        # shorter than one chunk
    assert got[3] == [(0, 0, 512, 512)]        # exactly one chunk
    # L=513: one extra char -> a second (overlap+1)-char chunk
    assert got[4] == [(0, 0, 512, 512), (1, 448, 513, 65)]
    assert got[7] == [(0, 0, 40, 40)]          # L <= overlap still chunks
    assert 5 not in got and 6 not in got       # zero/NULL length dropped
    # consecutive chunks overlap by exactly 64 chars
    for spans in got.values():
        for (_, s0, e0, _), (_, s1, _, _) in zip(spans, spans[1:]):
            assert e0 - s1 == 64
    import pytest as _pt

    with _pt.raises(ValueError, match="overlap"):
        chunk_spans(docs, "doc_id", "n_chars", 512, 512)


def test_minhash_cross_duplicates_crawl_vs_corpus(spark):
    from typical_spark.operators.dedup import minhash_cross_duplicates

    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away into the deep dark forest to hide from every hunter")
    corpus = spark.createDataFrame(
        [(1, base), (2, base + " with a tiny tail"), (3, "completely different "
          "text about spark distributed joins and shuffle partitioning at scale")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100, base + " extra"),                       # near-dup of 1 (and 2)
         (200, "utterly novel content nothing shared here at all today")],
        "doc_id long, text string",
    )
    got = {
        (r["new_id"], r["corpus_id"]): r["jaccard"]
        for r in minhash_cross_duplicates(
            new, corpus, "doc_id", "text", jaccard_threshold=0.7
        ).collect()
    }
    assert (100, 1) in got and got[(100, 1)] > 0.9
    assert all(nid != 200 for nid, _ in got)           # novel matches nothing
    assert all(cid != 3 for _, cid in got)             # distinct corpus doc untouched


def test_minhash_prebanded_index_agrees_with_batch_path(spark):
    """A persisted index (minhash_band_tables on each side) probed by
    minhash_cross_duplicates_prebanded returns exactly the batch path's
    rows: both are banded with the one fixed parameter set."""
    from typical_spark.operators.dedup import (
        minhash_band_tables,
        minhash_cross_duplicates,
        minhash_cross_duplicates_prebanded,
    )

    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away into the deep dark forest to hide from every hunter")
    corpus = spark.createDataFrame(
        [(1, base), (2, base + " with a tiny tail"), (3, "completely different "
          "text about spark distributed joins and shuffle partitioning at scale")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100, base + " extra"),
         (200, "utterly novel content nothing shared here at all today")],
        "doc_id long, text string",
    )
    batch = minhash_cross_duplicates(
        new, corpus, "doc_id", "text", jaccard_threshold=0.7
    ).collect()
    indexed = minhash_cross_duplicates_prebanded(
        *minhash_band_tables(new, "doc_id", "text"),
        *minhash_band_tables(corpus, "doc_id", "text"),
        jaccard_threshold=0.7,
    ).collect()
    assert {(r["new_id"], r["corpus_id"]) for r in batch} >= {(100, 1), (100, 2)}
    assert sorted(map(tuple, indexed)) == sorted(map(tuple, batch))


def test_group_quantiles_exact_and_approx_shapes(spark):
    from typical_spark.operators.stats import group_quantiles

    df = spark.createDataFrame(
        [("g", float(v)) for v in range(101)] + [("g", None)],
        "k string, v double",
    )
    exact = group_quantiles(df, "v", by=["k"]).collect()[0]
    assert exact["n"] == 101                      # NULL excluded
    assert exact["q_0_5"] == 50.0                 # (n-1)*q lands on 50
    assert exact["q_0_9"] == 90.0
    approx = group_quantiles(df, "v", by=["k"], approx=True).collect()[0]
    # same schema, sketch answer within a loose band
    assert set(approx.asDict()) == set(exact.asDict())
    assert abs(approx["q_0_5"] - 50.0) <= 2


def test_quantize_embeddings_reconstruction_and_edge_cases(spark):
    from typical_spark.operators.similarity import quantize_embeddings

    rows = [
        (1, [0.5, -1.0, 0.25, 0.0]),
        (2, [0.0, 0.0]),          # zero vector
        (3, None),                # NULL vector
        (4, [3.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    assert out[1]["scale"] == 1.0
    assert out[1]["q"] == [64, -127, 32, 0]     # round(0.5*127)=64 (half-up)
    assert out[2]["scale"] == 0.0 and out[2]["q"] == [0, 0]
    assert out[3]["scale"] == 0.0 and out[3]["q"] is None  # NULL stays NULL
    assert out[4]["q"] == [127]
    # reconstruction error bound: |x - q*scale/127| <= scale/254
    for r in (out[1], out[4]):
        xs = dict(rows)[r["vec_id"]]
        for x, q in zip(xs, r["q"]):
            assert abs(x - q * r["scale"] / 127) <= r["scale"] / 254 + 1e-9


def test_rolling_time_agg_window_semantics(spark):
    """Hand fixture: trailing window includes the current row, expires
    rows older than window_seconds, and ties share the window."""
    from typical_spark.operators.stats import rolling_time_agg

    rows = [
        ("u", "2024-01-01 00:00:00", 1),
        ("u", "2024-01-01 00:30:00", 2),
        ("u", "2024-01-01 00:30:00", 3),   # tie with row 2
        ("u", "2024-01-01 01:15:00", 4),   # row 1 expired (75 min later)
        ("v", "2024-01-01 00:30:00", 5),   # other key independent
    ]
    df = spark.createDataFrame(rows, "k string, ts string, rid int").select(
        "k", F.col("ts").cast("timestamp_ntz").alias("ts"), "rid"
    )
    got = {
        r["rid"]: r["n_trailing"]
        for r in rolling_time_agg(df, "ts", by=["k"], window_seconds=3600).collect()
    }
    assert got == {1: 1, 2: 3, 3: 3, 4: 3, 5: 1}


def test_funnel_steps_ordered_semantics(spark):
    """The chain is ORDERED: a purchase before the first click must not
    count; equal timestamps do (>= semantics); chain breaks leave NULL
    tails; non-starters are absent."""
    from typical_spark.operators.runs import funnel_steps

    rows = [
        ("u1", "2024-01-01 00:00", "view"),
        ("u1", "2024-01-01 01:00", "click"),
        ("u1", "2024-01-01 02:00", "purchase"),    # full conversion
        ("u2", "2024-01-01 00:00", "purchase"),    # purchase BEFORE view
        ("u2", "2024-01-01 01:00", "view"),
        ("u3", "2024-01-01 00:00", "view"),
        ("u3", "2024-01-01 00:00", "click"),       # tie with view: counts
        ("u4", "2024-01-01 00:00", "click"),       # never viewed -> absent
    ]
    df = spark.createDataFrame(rows, "user_id string, ts string, event_type string")\
        .select("user_id", F.col("ts").cast("timestamp_ntz").alias("ts"), "event_type")
    got = {
        r["user_id"]: r["step_reached"]
        for r in funnel_steps(
            df, "user_id", "ts", "event_type", ["view", "click", "purchase"]
        ).collect()
    }
    assert got == {"u1": 3, "u2": 1, "u3": 2}


def test_nfc_normalize_pandas_udf(spark):
    from typical_spark.functions.text_analysis import nfc_normalize

    rows = [(1, "café"), (2, "café"), (3, None), (4, "plain")]
    df = spark.createDataFrame(rows, "i long, t string")
    got = {r["i"]: r["n"] for r in
           df.select("i", nfc_normalize(F.col("t")).alias("n")).collect()}
    assert got[1] == got[2] == "café"   # decomposed composes
    assert got[3] is None and got[4] == "plain"


# ---------------------------------------------------------------------------
# tokenizer seam (functions/tokenize.py)
# ---------------------------------------------------------------------------


def test_tokenizer_seam_packing_budgets(spark):
    """The token-length seam (round-4 verdict ask): whitespace default
    is byte-identical to counting via token_count_ws (what the green
    packing oracle pins), while an Arrow-batched stub-BPE tokenizer
    produces DIFFERENT, independently verified budgets — proving
    pack_sequences budgets follow the plugged tokenizer, not a fixed
    word count."""
    import math
    import re

    from typical_spark.functions.tokenize import (
        stub_bpe_token_count,
        token_count_column,
    )
    from typical_spark.operators.packing import pack_sequences

    rows = [
        (1, "short words only here"),
        (2, "hyphenated-words, punctuation... and 12345 numbers!"),
        (3, "a considerably longerwordthanfourchars sequence of text"),
        (4, ""),
        (5, None),
    ] + [(10 + i, f"doc {i} body tok{i} alpha beta") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # whitespace path == today's numeric-column path, byte-identical
    ws_counts = df.select(
        "doc_id", token_count_column(F.col("text")).alias("tok")
    )
    via_text = pack_sequences(
        df, "doc_id", "text", budget=16, n_shards=2, tokenizer="whitespace"
    )
    via_counts = pack_sequences(
        ws_counts, "doc_id", "tok", budget=16, n_shards=2
    )
    assert sorted(map(tuple, via_text.collect())) == sorted(
        map(tuple, via_counts.collect())
    )

    # stub-BPE path: verified against a pure-python recount, and it
    # must actually CHANGE token budgets vs whitespace
    bpe = pack_sequences(
        df, "doc_id", "text", budget=16, n_shards=2,
        tokenizer=stub_bpe_token_count,
    )
    got = {r["doc_id"]: r["tokens"] for r in bpe.collect()}
    pre = re.compile(r" ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+")
    want = {}
    for doc_id, text in rows:
        if text:
            want[doc_id] = sum(
                max(1, math.ceil(len(p.strip()) / 4))
                for p in pre.findall(text) if p.strip()
            )
    assert got == want
    ws = {r["doc_id"]: r["tokens"] for r in via_text.collect()}
    assert got[2] > ws[2] and got[3] > ws[3]  # punctuation/long words cost more
    assert got != ws


def test_tokenizer_seam_chunking_and_plan(spark):
    """chunk_spans through the seam: chunk counts follow the tokenizer;
    the Arrow tokenizer is evaluated ONCE per row (a single
    ArrowEvalPython node), never per reference."""
    from typical_spark.functions.tokenize import stub_bpe_token_count
    from typical_spark.operators.packing import chunk_spans

    df = spark.createDataFrame(
        [(1, " ".join(["word"] * 30)), (2, "tiny"), (3, None)],
        "doc_id long, text string",
    )
    ws = chunk_spans(df, "doc_id", "text", chunk_size=8, overlap=2,
                     tokenizer="whitespace")
    got_ws = sorted((r["doc_id"], r["chunk_idx"], r["start"], r["end"])
                    for r in ws.collect())
    # 30 tokens, stride 6 -> ceil(28/6)=5 chunks for doc1; 1 for doc2
    assert [g for g in got_ws if g[0] == 1][-1] == (1, 4, 24, 30)
    assert len([g for g in got_ws if g[0] == 1]) == 5
    assert [g for g in got_ws if g[0] == 2] == [(2, 0, 0, 1)]

    bpe = chunk_spans(df, "doc_id", "text", chunk_size=8, overlap=2,
                      tokenizer=stub_bpe_token_count)
    plan = bpe._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    got_bpe = {r["doc_id"]: r for r in bpe.where(F.col("doc_id") == 2).collect()}
    # "tiny" = 1 whitespace token but ceil(4/4)=1 stub-BPE token too;
    # doc1: 30 words x 1 token == whitespace here, so counts agree —
    # the seam difference is covered by the packing test; this test
    # pins plan shape + parity of the shared arithmetic
    assert got_bpe[2]["end"] == 1


def test_ordered_paths_assembly(spark):
    """Per-key ordered assembly: total-order (ts, id) inside the array,
    NULL key/value/order rows excluded, max_len truncates AFTER the
    sort while n_items counts the full sequence."""
    import datetime as dt

    from typical_spark.operators.runs import ordered_paths

    t0 = dt.datetime(2025, 1, 1)
    rows = [
        (1, t0, 3, "c"),
        (1, t0, 2, "b"),                        # ts tie -> id breaks it
        (1, dt.datetime(2024, 12, 31), 1, "a"),
        (1, None, 9, "zz"),                     # null order col: excluded
        (2, t0, 4, "x"),
        (2, t0, 5, None),                       # null value: excluded
        (None, t0, 6, "y"),                     # null key: excluded
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, id long, v string")
    got = {r["k"]: r for r in
           ordered_paths(df, "k", ["ts", "id"], "v").collect()}
    assert set(got) == {1, 2}
    assert got[1]["items"] == ["a", "b", "c"] and got[1]["n_items"] == 3
    assert got[1]["path"] == "a -> b -> c"
    assert got[2]["items"] == ["x"]

    trunc = {r["k"]: r for r in
             ordered_paths(df, "k", ["ts", "id"], "v", max_len=2).collect()}
    assert trunc[1]["items"] == ["a", "b"]   # keep-first after sort
    assert trunc[1]["n_items"] == 3          # full-sequence count


def test_heavy_hitters_exact_certified(spark):
    """MG candidate pass + exact recount equals the plain exact top-k on
    skewed data even with a TINY summary capacity; flat data below the
    certification bound raises instead of silently approximating."""
    from typical_spark.operators.stats import heavy_hitters

    rows = [(f"tok{i % 7}",) for i in range(7000)]          # zipf-ish heads
    rows += [(f"rare{i}",) for i in range(3000)]            # long tail
    df = spark.createDataFrame(rows, "t string").repartition(8)
    got = [(r["t"], r["n"]) for r in heavy_hitters(df, "t", k=7, capacity=64).collect()]
    exact = [(r["t"], r["n"]) for r in
             df.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
             .orderBy(F.col("n").desc(), F.col("t").asc()).limit(7).collect()]
    assert got == exact
    assert all(n == 1000 for _, n in got)

    import pytest as _pytest

    flat = spark.createDataFrame(
        [(f"u{i}",) for i in range(5000)], "t string"
    ).repartition(8)
    with _pytest.raises(ValueError, match="not certifiable"):
        heavy_hitters(flat, "t", k=5, capacity=32)
    with _pytest.raises(ValueError, match="capacity > k"):
        heavy_hitters(df, "t", k=64, capacity=64)

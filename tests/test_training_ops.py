"""Training-data pipeline operators: dedup family, similarity search,
text analysis, multimodal plumbing."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from typical_spark import report
from typical_spark.functions.text_analysis import (
    doc_fingerprint,
    lang_id,
    quality_score,
    token_count_bpe,
    token_count_ws,
    word_shingles,
)
from typical_spark.operators.dedup import (
    exact_duplicates,
    minhash_near_duplicates,
    ngram_jaccard,
    simhash64,
    simhash_near_duplicates,
)
from typical_spark.operators.similarity import (
    IVFIndex,
    cosine_topk,
    embedding_near_duplicates,
)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def test_token_counts(spark):
    df = spark.createDataFrame(
        [("hello world",), ("  a  b   c  ",), ("",), (None,), ("don't stop!",)],
        "t string",
    )
    r = df.select(
        token_count_ws(F.col("t")).alias("ws"),
        token_count_bpe(F.col("t")).alias("bpe"),
    ).collect()
    assert [x["ws"] for x in r] == [2, 3, 0, None, 2]
    # "don't stop!" -> don ' t stop !  = 5 BPE-ish tokens
    assert r[4]["bpe"] == 5


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog went to the park",),
            ("der Hund und die Katze sind nicht da",),
            ("le chat et la maison est pour vous",),
            ("el perro y los gatos que es una casa",),
            ("zzz qqq xxx",),
        ],
        "t string",
    )
    langs = [r[0] for r in df.select(lang_id(F.col("t"))).collect()]
    assert langs == ["en", "de", "fr", "es", "und"]


def test_quality_score_orders_sanely(spark):
    good = "The quick brown fox jumps over the lazy dog and then runs to the park with all of the other animals in one big group."
    bad = "@@@@ ;;;; !!!! #### $$$$ %%%%"
    df = spark.createDataFrame([(good,), (bad,)], "t string")
    s = [r[0] for r in df.select(quality_score(F.col("t"))).collect()]
    assert s[0] > 0.7 and s[1] < 0.4


def test_doc_fingerprint_normalization_invariant(spark):
    df = spark.createDataFrame(
        [("Hello,   World! This is DOC one.",),
         ("hello world this is doc one",),
         ("a totally different document text",)],
        "t string",
    )
    fp = [r[0] for r in df.select(doc_fingerprint(F.col("t"))).collect()]
    assert fp[0] == fp[1] != fp[2]


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def docs_df(spark):
    base = (
        "spark is a distributed engine for large scale data processing "
        "with a declarative dataframe api and an optimizing query planner "
        "that compiles logical plans into physical execution stages"
    )
    near = base.replace("large scale", "big") + " extra tail words here"
    rows = [
        (0, base),
        (1, base),                      # exact dup of 0
        (2, "Spark IS a distributed engine for large scale data processing "
            "with a declarative dataframe api and an optimizing query planner "
            "that compiles logical plans into physical execution stages"),  # case-only dup
        (3, near),                      # near dup
        (4, "completely unrelated text about cooking pasta with tomatoes "
            "and basil in a large pot of salted boiling water until al dente"),
        (5, "another unrelated document discussing the migration patterns "
            "of arctic terns across hemispheres during seasonal changes"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(spark, docs_df):
    groups = exact_duplicates(docs_df, "doc_id", "text").collect()
    assert len(groups) == 1
    assert groups[0]["doc_ids"] == [0, 1, 2]  # normalization folds case


def test_minhash_near_duplicates(spark, docs_df):
    pairs = minhash_near_duplicates(
        docs_df, "doc_id", "text", jaccard_threshold=0.5
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # keep-first collapse: members of the exact group {0,1,2} pair with
    # representative 0 only; the near-dup 3 pairs with the rep
    assert (0, 1) in got and (0, 2) in got
    assert (1, 2) not in got  # member-member pair collapsed away
    assert (0, 3) in got
    assert not any(4 in p or 5 in p for p in got)
    jac = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert jac[(0, 1)] == 1.0


def test_exact_group_collapse_linear_pairs(spark):
    """k identical docs must produce O(k) pairs (star to the rep), not
    O(k^2) — the LSH bucket-blowup guard at web duplication rates."""
    k = 300
    rows = [
        (i, "identical boilerplate text repeated many times across the "
            "corpus with enough words to form several shingles")
        for i in range(k)
    ]
    rows += [
        (1000, "a totally different gardening manual about pruning roses "
               "and watering tomato seedlings in early spring"),
        (1001, "a totally different gardening manual about pruning roses "
               "and watering tomato seedlings in early spring"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    mh = minhash_near_duplicates(df, "doc_id", "text", jaccard_threshold=0.7)
    rows_mh = mh.collect()
    assert len(rows_mh) == (k - 1) + 1  # 299 star pairs + 1 for the pair group
    assert {r["id_a"] for r in rows_mh} == {0, 1000}
    assert all(r["jaccard"] == 1.0 for r in rows_mh)
    sh_rows = simhash_near_duplicates(df, "doc_id", "text").collect()
    assert len(sh_rows) == (k - 1) + 1
    assert all(r["hamming"] == 0 for r in sh_rows)


def test_near_dup_survivors(spark, docs_df):
    from typical_spark.operators.dedup import near_dup_survivors

    pairs = minhash_near_duplicates(
        docs_df, "doc_id", "text", jaccard_threshold=0.5
    )
    surv = {r["doc_id"] for r in near_dup_survivors(docs_df, "doc_id", pairs)
            .select("doc_id").collect()}
    # 1, 2 (exact dups of 0) and 3 (near dup of 0) are dominated; the
    # unrelated docs and the group representative survive
    assert surv == {0, 4, 5}


def test_dedup_groups_connected(spark):
    from typical_spark.operators.dedup import dedup_groups_connected

    # a 6-node chain (forces several propagation rounds) + an isolated pair
    chain = [(i, i + 1) for i in range(1, 6)]
    pairs = spark.createDataFrame(chain + [(10, 11)], "id_a long, id_b long")
    got = {r["doc_id"]: r["group_id"]
           for r in dedup_groups_connected(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 10: 10, 11: 10}


def test_md5_lower64_matches_duckdb(spark):
    import duckdb

    from typical_spark.operators.dedup import md5_lower64

    vals = ["abc", "", "hello world", "Ünïcode ✓ test", "42", "a" * 300]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = [r[0] for r in df.select(md5_lower64(F.col("s"))).collect()]
    con = duckdb.connect()
    for v, g in zip(vals, got):
        (u,) = con.execute("SELECT md5_number_lower(?)", [v]).fetchone()
        signed = u - (1 << 64) if u >= (1 << 63) else u
        assert g == signed, v


def test_simhash_signatures_match_column_api(spark, docs_df):
    from typical_spark.operators.dedup import simhash_signatures

    bulk = {
        r["_id"]: r["_sig"]
        for r in simhash_signatures(docs_df, "doc_id", "text").collect()
    }
    percol = {
        r["doc_id"]: r["s"]
        for r in docs_df.select(
            "doc_id", simhash64(F.col("text")).alias("s")
        ).collect()
    }
    assert bulk == percol


def test_simhash_near_duplicates(spark, docs_df):
    sig = docs_df.select(simhash64(F.col("text")).alias("s")).collect()
    assert len({r["s"] for r in sig}) >= 3  # distinct docs -> distinct sigs
    pairs = simhash_near_duplicates(docs_df, "doc_id", "text", max_hamming=6).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in got and (0, 2) in got
    assert not any(4 in p or 5 in p for p in got)
    hm = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert hm[(0, 1)] == 0


def test_ngram_jaccard_verify(spark, docs_df):
    pairs = spark.createDataFrame([(0, 1), (0, 4)], "id_a long, id_b long")
    out = ngram_jaccard(pairs, docs_df, "doc_id", "text").collect()
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    assert j[(0, 1)] == 1.0
    assert j[(0, 4)] < 0.05


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.default_rng(5)
    n, d = 2000, 16
    base = rng.standard_normal((n, d)).astype(np.float32)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    # rows 100/101 nearly identical (near-dup pair)
    base[101] = base[100] + rng.standard_normal(d).astype(np.float32) * 0.01
    pdf = pd.DataFrame({"vec_id": np.arange(n), "embedding": [v.tolist() for v in base]})
    return spark.createDataFrame(pdf), base


def test_cosine_topk_matches_numpy(spark, emb_df):
    df, base = emb_df
    q = base[7]
    got = [r["vec_id"] for r in cosine_topk(df, q, k=5).collect()]
    sims = base.astype(np.float64) @ q / (
        np.linalg.norm(base, axis=1) * np.linalg.norm(q)
    )
    want = list(np.argsort(-sims, kind="stable")[:5])
    assert got == want
    assert got[0] == 7  # itself first


def test_ivf_recall(spark, emb_df):
    df, base = emb_df
    idx = IVFIndex.build(df, n_cells=8, sample_size=500)
    q = base[42]
    exact = [r["vec_id"] for r in cosine_topk(df, q, k=10).collect()]
    approx = [r["vec_id"] for r in idx.query(q, k=10, nprobe=4).collect()]
    # recall@10 with half the cells probed should be high on random data
    assert len(set(exact) & set(approx)) >= 6
    assert approx[0] == 42


def test_ivf_query_batch_parity(spark, emb_df):
    """query_batch must reproduce looped query() EXACTLY — same probe
    cells (stable tie-break toward the lower cell index), same exact
    cosine, same id tie-break — while running as ONE distributed job.
    Parity is checked two ways: against literal looped query() calls on
    a sample, and against a driver-side numpy replica of query()'s
    cell-selection + scoring for ALL 1,200 queries (the replica is
    exact, so this is full-batch parity, not recall)."""
    df, base = emb_df
    idx = IVFIndex.build(df, n_cells=8, sample_size=500)
    k, nprobe = 5, 3
    n_q = 1200
    rng = np.random.default_rng(11)
    qvecs = base[rng.integers(0, len(base), n_q)].astype(np.float64)
    qvecs += rng.standard_normal(qvecs.shape) * 0.05
    qdf = spark.createDataFrame(
        pd.DataFrame({
            "query_id": np.arange(n_q),
            "query_vec": [v.tolist() for v in qvecs],
        })
    )
    out = idx.query_batch(qdf, k=k, nprobe=nprobe)
    assert out.columns == ["query_id", "vec_id", "cosine_sim"]
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], []).append(
            (r["vec_id"], r["cosine_sim"])
        )
    assert set(got) == set(range(n_q))

    # numpy replica of query(): argsort cells, probe, exact cosine topk
    cent = idx.centroids
    cells_of = np.array(
        [r["cell_id"] for r in
         idx.assigned.select("vec_id", "cell_id")
         .orderBy("vec_id").collect()]
    )
    norms = np.linalg.norm(base.astype(np.float64), axis=1)
    for qid in range(n_q):
        q = qvecs[qid]
        d = ((cent - q[None, :]) ** 2).sum(1)
        probe = set(np.argsort(d, kind="stable")[:nprobe].tolist())
        mask = np.isin(cells_of, list(probe))
        ids = np.nonzero(mask)[0]
        sims = base[ids].astype(np.float64) @ q / (
            norms[ids] * np.linalg.norm(q)
        )
        order = sorted(zip(-sims, ids))[:k]
        want = [(int(i), -s) for s, i in order]
        have = sorted(got[qid], key=lambda t: (-t[1], t[0]))
        assert [w[0] for w in want] == [h[0] for h in have], f"qid {qid}"
        assert np.allclose([w[1] for w in want], [h[1] for h in have])

    # literal looped query() parity on a sample
    for qid in [0, 17, 555]:
        loop = [(r["vec_id"], r["cosine_sim"])
                for r in idx.query(qvecs[qid], k=k, nprobe=nprobe).collect()]
        have = sorted(got[qid], key=lambda t: (-t[1], t[0]))
        assert [x[0] for x in loop] == [x[0] for x in have]


def test_ivf_uniform_fit_on_sharded_corpus(spark, tmp_path):
    """Centroids must be fitted on a UNIFORM sample of the corpus, not
    the first partitions' rows (the old `limit(sample_size)` pull). On a
    source-sharded corpus (rows sorted by cluster — one source per file
    region) a head fit models only the first shard: out-of-sample shards
    collapse into catch-all cells, so a probe scans most of the corpus —
    the index quietly degrades toward brute force (recall survives only
    BECAUSE selectivity is gone). The hash-ordered fit keeps both recall
    and per-probe selectivity."""
    from typical_spark.operators.similarity import _kmeans_fit

    rng = np.random.default_rng(3)
    d, per, n_cells, nprobe = 16, 500, 8, 4
    centers = rng.standard_normal((4, d)) * 3.0
    pts = np.concatenate(
        [centers[c] + rng.standard_normal((per, d)) for c in range(4)]
    )  # SORTED by cluster: the source-sharded layout
    n = len(pts)
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n), "embedding": [v.tolist() for v in pts]}
    )
    df = spark.createDataFrame(pdf)
    q = centers[3] + rng.standard_normal(d) * 0.1

    idx = IVFIndex.build(
        df, n_cells=n_cells, sample_size=300, seed=42,
        persist_path=str(tmp_path / "ivf"),
    )
    exact = {r["vec_id"] for r in cosine_topk(df, q, k=10).collect()}
    got = {r["vec_id"] for r in idx.query(q, k=10, nprobe=nprobe).collect()}
    assert len(exact & got) >= 9  # recall@10 >= 0.9

    # engine-side probe selectivity: rows scanned by the nprobe cells
    dq = ((idx.centroids - np.asarray(q)[None, :]) ** 2).sum(1)
    cells = [int(c) for c in np.argsort(dq, kind="stable")[:nprobe]]
    scanned_uniform = (
        idx.assigned.where(F.col("cell_id").isin(cells)).count() / n
    )
    assert scanned_uniform <= 0.35

    # replay the OLD biased fit (head rows = first shard only) in numpy:
    # its probe must scan far more of the corpus for the same query
    cent_b = _kmeans_fit(pts[:300].astype(np.float64), n_cells, seed=42)
    assign_b = ((pts[:, None, :] - cent_b[None, :, :]) ** 2).sum(-1).argmin(1)
    dq_b = ((cent_b - np.asarray(q)[None, :]) ** 2).sum(1)
    cells_b = np.argsort(dq_b, kind="stable")[:nprobe]
    scanned_biased = float(np.isin(assign_b, cells_b).mean())
    assert scanned_biased > 2.0 * scanned_uniform

    # persist_path materialization: the probe is a PARTITION-PRUNED scan
    plan = report.explain(idx.query(q, k=10, nprobe=nprobe))
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "cell_id" in pf[0]


def test_embedding_near_duplicates(spark, emb_df):
    df, base = emb_df
    pairs = embedding_near_duplicates(
        df, cosine_threshold=0.98, n_planes=8, n_tables=6
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (100, 101) in got
    # sparse random normals: no other pair should clear 0.98
    assert len(got) <= 3


def test_embedding_exact_collapse(spark):
    """Identical vectors collapse keep-first: O(k) star pairs, reps only
    in the bucket join."""
    rng = np.random.default_rng(7)
    v = rng.standard_normal(16).astype(np.float32)
    w = rng.standard_normal(16).astype(np.float32)
    rows = [(i, [float(x) for x in v]) for i in range(50)]
    rows += [(100, [float(x) for x in w]), (101, [float(x) for x in w])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = embedding_near_duplicates(
        df, cosine_threshold=0.99, n_planes=4, n_tables=4
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert len(got) == 49 + 1
    assert {a for a, _ in got} == {0, 100}
    # star pairs go through the exact verify (identical vectors -> ~1.0
    # up to float associativity of dot vs sqrt*sqrt)
    assert all(abs(r["cosine_sim"] - 1.0) < 1e-9 for r in pairs)


def test_embedding_near_dups_tolerates_null_and_ragged(spark):
    """NULL or wrong-length vectors must be skipped, not crash the Arrow
    batch or claim duplicate pairs."""
    rng = np.random.default_rng(11)
    v = [float(x) for x in rng.standard_normal(16)]
    rows = [(0, v), (1, v), (2, None), (3, None),
            (4, [1.0, 2.0]), (5, [1.0, 2.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = embedding_near_duplicates(
        df, cosine_threshold=0.99, n_planes=4, n_tables=2, dim=16,
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # the identical full-dim pair is found; NULLs never pair; the
    # identical ragged pair is still caught by the exact-hash collapse
    assert (0, 1) in got
    assert not any(2 in p or 3 in p for p in got)
    assert (4, 5) in got
    assert len(got) == 2


def test_embedding_near_dups_infers_dim_past_a_null_first_vector(spark):
    """Without `dim`, the length comes from the first non-NULL vector: a
    NULL first row is skipped like any other NULL vector."""
    rng = np.random.default_rng(13)
    v = [float(x) for x in rng.standard_normal(16)]
    w = [x + 0.001 for x in v]
    df = spark.createDataFrame(
        [(0, None), (1, v), (2, v), (3, w)], "vec_id long, embedding array<float>"
    ).coalesce(1)
    pairs = embedding_near_duplicates(
        df, cosine_threshold=0.99, n_planes=4, n_tables=2
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2), (1, 3)}


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------


def test_multimodal_feature_extraction_stub(spark):
    from typical_spark.operators.multimodal import (
        extract_features,
        fake_decode,
        media_metadata,
        real_decode_stub,
    )

    png = b"\x89PNG\r\n\x1a\n" + b"x" * 64
    jpg = b"\xff\xd8\xff\xe0" + b"y" * 32
    rows = [(1, bytearray(png)), (2, bytearray(jpg)), (3, bytearray(b"junk"))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")

    meta = {r["media_id"]: (r["mime"], r["n_bytes"]) for r in media_metadata(df).collect()}
    assert meta[1] == ("image/png", 72)
    assert meta[2][0] == "image/jpeg"
    assert meta[3][0] == "application/octet-stream"

    # operator must not mutate shared session state: Arrow batch sizing
    # is re-chunked inside the kernel, never set on the live session
    # (which would silently resize every later pandas-UDF operator)
    arrow_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(arrow_key, None)
    feats = extract_features(df, decoder=fake_decode, feat_dim=8).collect()
    assert spark.conf.get(arrow_key, None) == before
    by_id = {r["media_id"]: r for r in feats}
    assert all(by_id[i]["decode_ok"] for i in (1, 2, 3))
    assert len(by_id[1]["feature"]) == 8
    # internal re-chunking (1-row output chunks) loses no rows and keeps
    # per-row results identical
    tiny = extract_features(
        df, decoder=fake_decode, feat_dim=8,
        target_partition_mb=1, avg_payload_mb=1000.0,  # -> 1 row/chunk
    ).collect()
    assert {r["media_id"]: r["feature"] for r in tiny} == {
        r["media_id"]: r["feature"] for r in feats
    }
    # deterministic: same payload -> same features
    feats2 = extract_features(df, decoder=fake_decode, feat_dim=8).collect()
    assert {r["media_id"]: r["feature"] for r in feats2} == {
        r["media_id"]: r["feature"] for r in feats
    }

    # the real decoder hook is an explicit NotImplementedError stub
    with pytest.raises(Exception, match="media decode requires"):
        extract_features(df, decoder=real_decode_stub).collect()


def test_hash_split_stability_and_weights(spark):
    from typical_spark.operators.sampling import hash_sample, hash_split

    df = spark.createDataFrame([(i,) for i in range(20000)], "doc_id long")
    s1 = {r["doc_id"]: r["split"] for r in hash_split(df, "doc_id").collect()}
    s2 = {r["doc_id"]: r["split"] for r in hash_split(df, "doc_id").collect()}
    assert s1 == s2  # deterministic
    # growth stability: a subset keeps its assignments
    sub = {r["doc_id"]: r["split"]
           for r in hash_split(df.where("doc_id < 5000"), "doc_id").collect()}
    assert all(s1[k] == v for k, v in sub.items())
    # weights land near the targets
    from collections import Counter
    c = Counter(s1.values())
    assert abs(c["train"] / 20000 - 0.98) < 0.01
    assert abs(c["val"] / 20000 - 0.01) < 0.005
    assert abs(c["test"] / 20000 - 0.01) < 0.005
    assert set(c) == {"train", "val", "test"}
    # sample fraction lands near target and is a deterministic subset
    samp = {r["doc_id"] for r in hash_sample(df, "doc_id", 0.1).collect()}
    assert abs(len(samp) / 20000 - 0.1) < 0.01
    samp2 = {r["doc_id"] for r in hash_sample(df, "doc_id", 0.1).collect()}
    assert samp == samp2


def test_hash_split_rejects_bad_args(spark):
    from typical_spark.operators.sampling import hash_bucket, hash_split

    import pyspark.sql.functions as F  # noqa

    with pytest.raises(ValueError, match="power of two"):
        hash_bucket(F.col("x"), n_buckets=1000)
    df = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="sum to 1"):
        hash_split(df, "doc_id", splits=(("a", 0.5), ("b", 0.2)))


def test_repetition_signals(spark):
    from typical_spark.functions.text_analysis import repetition_signals

    rows = [
        ("buy now buy now buy now buy now",),   # looping spam
        ("each word here appears only one time total",),
        (None,),
    ]
    df = spark.createDataFrame(rows, "t string")
    s = repetition_signals(F.col("t"))
    got = df.select(
        s["dup_ngram_ratio"].alias("dup"),
        s["top_word_ratio"].alias("top"),
    ).collect()
    assert got[0]["dup"] > 0.5 and got[1]["dup"] == 0.0
    assert got[0]["top"] == 0.5  # 'buy' is 4 of 8 tokens
    assert got[1]["top"] < 0.2


def test_redact_pii(spark):
    from typical_spark.functions.text_analysis import pii_counts, redact_pii

    t = "mail a.b@x.co or b@y.org, ip 10.0.0.7, call 555-123-0042 now"
    df = spark.createDataFrame([(t,)], "t string")
    c = pii_counts(F.col("t"))
    row = df.select(
        c["email"].alias("e"), c["ipv4"].alias("i"), c["phone"].alias("p"),
        redact_pii(F.col("t")).alias("r"),
    ).collect()[0]
    assert (row["e"], row["i"], row["p"]) == (2, 1, 1)
    assert row["r"] == (
        "mail <EMAIL> or <EMAIL>, ip <IPV4>, call <PHONE> now"
    )


def test_ngram_contamination(spark, docs_df):
    from typical_spark.operators.dedup import ngram_contamination

    bench = spark.createDataFrame(
        [(100, "spark is a distributed engine for large scale data processing")],
        "bench_id long, bench_text string",
    )
    out = ngram_contamination(
        docs_df, bench, "doc_id", "text", "bench_id", "bench_text",
        k=3, min_overlap=5,
    ).collect()
    hit = {(r["doc_id"], r["bench_id"]) for r in out}
    # docs 0,1,2 contain the benchmark sentence verbatim (8 shared 3-grams)
    assert {(0, 100), (1, 100), (2, 100)} <= hit
    assert not any(d in (4, 5) for d, _ in hit)


def test_dedup_groups_unconverged_raises(spark):
    from typical_spark.operators.dedup import dedup_groups_connected

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="converge"):
        dedup_groups_connected(chain, max_iterations=2)


def test_multimodal_resize_and_frame_sample(spark):
    from typical_spark.operators.multimodal import (
        extract_features,
        fake_decode,
        frame_sample,
        resize_features,
    )

    png = b"\x89PNG\r\n\x1a\n" + bytes(range(256)) * 16  # 4104 bytes
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, None)], "media_id long, payload binary"
    )
    feats = extract_features(df.where("payload is not null"),
                             decoder=fake_decode, feat_dim=16)
    small = resize_features(feats, out_dim=4).collect()
    assert len(small) == 1 and len(small[0]["feature"]) == 4
    # deterministic
    again = resize_features(feats, out_dim=4).collect()
    assert small[0]["feature"] == again[0]["feature"]

    frames = frame_sample(df, every_n_bytes=1024, max_frames=3).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r)
    assert len(by_id[1]) == 3  # capped at max_frames
    assert 2 not in by_id      # NULL payload contributes no frames
    assert all(len(bytes(r["frame"])) == 1024 for r in by_id[1])


def test_tfidf_top_terms_known_values(spark):
    """Hand-computed smoothed TF-IDF on a 3-doc corpus, including a
    rounded-score tie broken by token order (d2: banana == cherry)."""
    import math

    from typical_spark.functions.text_analysis import tfidf_top_terms

    docs = spark.createDataFrame(
        [("d1", "Apple banana APPLE"), ("d2", "banana cherry"),
         ("d3", "cherry durian cherry"), ("d4", None)],
        "doc_id string, text string",
    )
    got = {
        (r["doc_id"], r["rank"]): r
        for r in tfidf_top_terms(docs, "doc_id", "text", k=2).collect()
    }
    idf_unique = math.log(4 / 2) + 1      # df=1 terms (apple, durian)
    idf_shared = math.log(4 / 3) + 1      # df=2 terms (banana, cherry)
    assert got[("d1", 1)]["token"] == "apple"
    assert got[("d1", 1)]["score"] == round(2 * idf_unique, 4)
    assert got[("d1", 2)]["token"] == "banana"
    # d2: equal rounded scores -> token asc tie-break
    assert got[("d2", 1)]["token"] == "banana"
    assert got[("d2", 2)]["token"] == "cherry"
    assert got[("d2", 1)]["score"] == got[("d2", 2)]["score"] == round(idf_shared, 4)
    assert got[("d3", 1)]["token"] == "cherry"
    assert got[("d3", 1)]["tf"] == 2 and got[("d3", 1)]["df"] == 2
    assert ("d4", 1) not in got           # NULL text contributes nothing
    assert len(got) == 6


def test_minhash_release_cache(spark, docs_df):
    """Operators that persist intermediates on the caller's behalf expose
    them via release_cache (ADVICE r3: repeated invocations in one
    session otherwise accumulate executor storage)."""
    from typical_spark.operators.dedup import (
        minhash_near_duplicates,
        release_cache,
    )

    pairs = minhash_near_duplicates(docs_df, "doc_id", "text")
    pairs.count()  # materialize -> shingle cache is populated
    owned = getattr(pairs, "_owned_cache", [])
    assert owned, "minhash result should carry its persisted shingle table"
    assert all(
        c.storageLevel.useMemory or c.storageLevel.useDisk for c in owned
    )
    release_cache(pairs)
    assert all(
        not (c.storageLevel.useMemory or c.storageLevel.useDisk)
        for c in owned
    )
    # idempotent + no-op on cache-less results
    release_cache(pairs)
    release_cache(docs_df)


def test_span_duplicates_golden(spark):
    """Sequence-level exact dedup (operators/spans.py): shared grid
    windows are detected across documents; keep-first strip rewrites
    later occurrences out (reference keep-first array-dedup contract,
    typic/constraints/array.py:30-87, at corpus granularity)."""
    from typical_spark.operators.spans import (
        span_duplicates,
        strip_duplicate_spans,
    )

    rows = [
        (1, "alpha beta gamma delta one two three four"),
        (2, "Alpha, Beta; GAMMA delta! five six seven eight"),  # normalized dup
        (3, "nine ten eleven twelve"),
        (4, None),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    dups = span_duplicates(df, "doc_id", "text", span_tokens=4).collect()
    got = {(r["doc_id"], r["span_idx"]): r for r in dups}
    assert set(got) == {(1, 0), (2, 0)}
    assert all(r["n_docs_sharing"] == 2 for r in got.values())
    assert got[(1, 0)]["start_token"] == 0 and got[(1, 0)]["end_token"] == 4

    clean = {r["doc_id"]: r
             for r in strip_duplicate_spans(df, "doc_id", "text", 4).collect()}
    assert set(clean) == {1, 2, 3}  # NULL/empty docs yield no windows
    assert clean[1]["n_dropped"] == 0
    assert clean[1]["clean_text"] == "alpha beta gamma delta one two three four"
    assert clean[2]["n_spans"] == 2 and clean[2]["n_dropped"] == 1
    assert clean[2]["clean_text"] == "five six seven eight"
    assert clean[3]["clean_text"] == "nine ten eleven twelve"  # tail < span


def test_span_strip_within_doc_and_tail(spark):
    from typical_spark.operators.spans import (
        span_duplicates,
        strip_duplicate_spans,
    )

    # within-document repetition: detector needs >=2 DISTINCT docs, but
    # keep-first strip still drops the later occurrence
    df = spark.createDataFrame(
        [(7, "alpha beta alpha beta gamma")], "doc_id long, text string"
    )
    assert span_duplicates(df, "doc_id", "text", span_tokens=2).count() == 0
    r = strip_duplicate_spans(df, "doc_id", "text", 2).collect()[0]
    assert r["n_spans"] == 3 and r["n_dropped"] == 1
    assert r["clean_text"] == "alpha beta gamma"  # tail window kept


def test_span_strip_null_doc_id_excluded(spark):
    """A NULL doc_id has no keep-first identity; such rows are excluded
    (hash_split's NULL policy) instead of poisoning their span group's
    keeper comparison — doc 7 must KEEP its text."""
    from typical_spark.operators.spans import (
        span_duplicates,
        strip_duplicate_spans,
    )

    df = spark.createDataFrame(
        [(None, "alpha beta"), (7, "alpha beta")], "doc_id long, text string"
    )
    assert span_duplicates(df, "doc_id", "text", 2).count() == 0
    clean = strip_duplicate_spans(df, "doc_id", "text", 2).collect()
    assert len(clean) == 1
    assert clean[0]["doc_id"] == 7
    assert clean[0]["clean_text"] == "alpha beta"
    assert clean[0]["n_dropped"] == 0


def test_ivf_build_tolerates_null_ids(spark):
    """NULL ids hash to NULL; they must not monopolize (or crash) the
    uniform centroid-fit sample."""
    rng = np.random.default_rng(5)
    rows = [(None, rng.standard_normal(8).tolist()) for _ in range(50)]
    rows += [(i, rng.standard_normal(8).tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = IVFIndex.build(df, n_cells=4, sample_size=100)
    assert np.isfinite(idx.centroids).all()
    got = idx.query(rows[60][1], k=5, nprobe=4).collect()
    assert len(got) == 5


def test_span_duplicates_multi_phase_catches_unaligned(spark):
    """n_offsets>1 windows at shifted grid phases: boilerplate pasted
    mid-document (off the default grid) is detected; the single-grid
    default documents its miss."""
    from typical_spark.operators.spans import span_duplicates

    rows = [
        (1, "x1 x2 alpha beta gamma delta"),   # boilerplate at tokens 2..5
        (2, "alpha beta gamma delta"),          # same span at tokens 0..3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # single grid: doc1 windows [x1 x2 alpha beta][gamma delta] never
    # align with doc2's [alpha beta gamma delta] -> only the 2-token
    # tail [gamma delta] of doc1 phase-0 can match doc2's phase-2 tail,
    # which a single grid doesn't emit either
    assert span_duplicates(df, "doc_id", "text", span_tokens=4).count() == 0
    got = span_duplicates(
        df, "doc_id", "text", span_tokens=4, n_offsets=2
    ).collect()
    hits = {(r["doc_id"], r["start_token"], r["end_token"])
            for r in got}
    # doc1's phase-2 window == doc2's phase-0 window
    assert (1, 2, 6) in hits and (2, 0, 4) in hits
    assert all(r["n_docs_sharing"] == 2 for r in got)


def test_span_duplicates_anchored_golden(spark):
    """Boundary-anchored span dedup (spans.py): boilerplate pasted
    mid-document at an offset the fixed grid provably misses is caught
    in ONE pass because each sentence/paragraph gets its own grid.
    Positions are GLOBAL token offsets in the concatenated normalized
    stream (prefix sums of paragraph token counts)."""
    from typical_spark.operators.dedup import release_cache
    from typical_spark.operators.spans import (
        span_duplicates,
        span_duplicates_anchored,
    )

    rows = [
        (1, "intro text here. alpha beta gamma delta! closing words"),
        (2, "a longer different opening sentence here. alpha beta gamma"
            " delta. trailing stuff"),
        (3, "nothing shared at all here"),
        (4, None),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # the fixed grid misses the mid-document paste entirely
    assert span_duplicates(df, "doc_id", "text", span_tokens=4).count() == 0
    out = span_duplicates_anchored(df, "doc_id", "text", span_tokens=4)
    got = {r["doc_id"]: r for r in out.collect()}
    assert set(got) == {1, 2}
    # doc1: para0 = 3 tokens -> shared span starts at global 3
    assert (got[1]["para_idx"], got[1]["span_idx"]) == (1, 0)
    assert (got[1]["start_token"], got[1]["end_token"]) == (3, 7)
    # doc2: para0 = 6 tokens -> shared span starts at global 6
    assert (got[2]["start_token"], got[2]["end_token"]) == (6, 10)
    assert all(r["n_docs_sharing"] == 2 for r in got.values())
    release_cache(out)


def test_span_anchored_offsets_and_empty_segments(spark):
    """Global offsets accumulate across paragraphs (second window of a
    long paragraph, later paragraphs); empty/trailing segments from the
    boundary split contribute 0 tokens and must not NULL-out the
    flatten (the split('x.') -> ['x',''] trap)."""
    from pyspark.sql import functions as F

    from typical_spark.operators.spans import _anchored_span_rows

    rows = [
        (1, "a b c d e f. g h."),   # para0: 6 toks (2 windows), para1: 2
        (2, "."),                    # only empty segments -> no windows
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = (
        _anchored_span_rows(df, "doc_id", "text", 4, r"[.!?\n]+")
        .orderBy("doc_id", "start_token")
        .collect()
    )
    assert [(r["doc_id"], r["para_idx"], r["span_idx"], r["start_token"],
             r["end_token"], r["_span"]) for r in got] == [
        (1, 0, 0, 0, 4, "a b c d"),
        (1, 0, 1, 4, 6, "e f"),      # tail of para0 kept
        (1, 1, 0, 6, 8, "g h"),      # para1 grid restarts, global base 6
    ]
    # NULL-id rows excluded, same policy as the fixed-grid detector
    df2 = df.withColumn(
        "doc_id", F.when(F.col("doc_id") == 2, None).otherwise(F.col("doc_id"))
    )
    assert (
        _anchored_span_rows(df2, "doc_id", "text", 4, r"[.!?\n]+")
        .where(F.col("doc_id").isNull()).count() == 0
    )


def test_strip_duplicate_spans_anchored_golden(spark):
    """Anchored keep-first rewrite: mid-document boilerplate the fixed
    grid can't even SEE is removed from the later document, the first
    occurrence and all unique text survive, and untouched documents
    reconstruct their full normalized stream."""
    from typical_spark.operators.dedup import release_cache
    from typical_spark.operators.spans import (
        strip_duplicate_spans,
        strip_duplicate_spans_anchored,
    )

    rows = [
        (1, "intro text here. alpha beta gamma delta! closing words"),
        (2, "a longer different opening sentence here. alpha beta gamma"
            " delta. trailing stuff"),
        (3, "nothing shared at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # fixed grid: nothing detected -> nothing stripped
    fixed = {r["doc_id"]: r
             for r in strip_duplicate_spans(df, "doc_id", "text", 4).collect()}
    assert all(r["n_dropped"] == 0 for r in fixed.values())

    out = strip_duplicate_spans_anchored(df, "doc_id", "text", span_tokens=4)
    got = {r["doc_id"]: r for r in out.collect()}
    # doc1 keeps the block (smaller doc_id), doc2 loses it
    assert got[1]["n_dropped"] == 0
    assert got[1]["clean_text"] == (
        "intro text here alpha beta gamma delta closing words"
    )
    assert got[2]["n_dropped"] == 1
    assert got[2]["clean_text"] == (
        "a longer different opening sentence here trailing stuff"
    )
    assert got[3]["n_dropped"] == 0
    assert got[3]["clean_text"] == "nothing shared at all here"
    # window accounting: doc2 = para0 (6 toks -> 2 windows) + shared
    # window + trailing 2 tokens
    assert got[2]["n_spans"] == 4
    release_cache(out)


# ---------------------------------------------------------------------------
# asymmetric containment (doc-inside-doc)
# ---------------------------------------------------------------------------


def test_containment_catches_excerpt_jaccard_misses(spark):
    """A short doc pasted verbatim inside a much longer doc: Jaccard is
    tiny (minhash near-dup structurally misses it) but containment is
    1.0 — the quote/excerpt/decontamination case the operator exists
    for."""
    from typical_spark.operators.dedup import (
        containment_duplicates,
        minhash_near_duplicates,
        release_cache,
    )

    excerpt = (
        "the quick brown fox jumps over the lazy dog near the river bank"
    )
    filler = " ".join(f"filler{i} token{i} pad{i}" for i in range(80))
    rows = [
        (1, excerpt),
        (2, filler[: len(filler) // 2] + " " + excerpt + " "
            + filler[len(filler) // 2:]),
        (3, "completely unrelated text about cooking pasta with basil"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = containment_duplicates(df, "doc_id", "text", threshold=0.8)
    got = {(r["id_a"], r["id_b"]): r["containment"] for r in out.collect()}
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert all(3 not in p for p in got)
    # the big doc is NOT contained in the small one
    assert (2, 1) not in got
    release_cache(out)

    # and minhash at a typical near-dup threshold misses the pair
    mh = minhash_near_duplicates(df, "doc_id", "text", jaccard_threshold=0.5)
    mh_pairs = {(r["id_a"], r["id_b"]) for r in mh.collect()}
    assert (1, 2) not in mh_pairs and (2, 1) not in mh_pairs
    release_cache(mh)


def test_containment_prefix_filter_is_lossless(spark):
    """Prefix filtering must be candidate-complete: the operator's output
    equals brute-force all-pairs containment on the same shingle sets."""
    import itertools
    import random

    from typical_spark.operators.dedup import (
        containment_duplicates,
        release_cache,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for doc_id in range(24):
        n = rng.randint(5, 30)
        rows.append((doc_id, " ".join(rng.choice(vocab) for _ in range(n))))
    # plant a guaranteed containment pair
    rows.append((100, rows[0][1]))
    rows.append((101, rows[3][1] + " " + rows[5][1]))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    thr = 0.6
    out = containment_duplicates(df, "doc_id", "text", threshold=thr)
    got = {(r["id_a"], r["id_b"]): round(r["containment"], 9)
           for r in out.collect()}
    release_cache(out)

    # brute force on identically-normalized 3-word shingles
    def shingles(text):
        import re
        toks = re.sub(r"\s+", " ",
                      re.sub(r"[^a-z0-9\s]", " ", text.lower())).strip().split()
        if len(toks) < 3:
            return set([" ".join(toks)]) if toks else set()
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    sets = {d: shingles(t) for d, t in rows}
    want = {}
    for a, b in itertools.permutations(sets, 2):
        if not sets[a]:
            continue
        c = len(sets[a] & sets[b]) / len(sets[a])
        if c >= thr:
            want[(a, b)] = round(c, 9)
    assert got == want
    assert (100, 0) in want  # the planted pairs actually exercised the check
    assert (0, 100) in want


# ---------------------------------------------------------------------------
# model-based quality filtering (fasttext/CCNet-style)
# ---------------------------------------------------------------------------


def test_quality_model_train_and_score(spark):
    """Train the hashed-BoW logistic gate on a separable synthetic
    corpus; held-out accuracy must be high, and the distributed
    broadcast-join scorer must match a driver-side numpy replay on
    Spark-computed buckets (no hash parity assumptions)."""
    import random

    from typical_spark.operators.quality_model import (
        QualityModel,
        hashed_bucket,
    )

    rng = random.Random(3)
    good = [f"signal{i}" for i in range(20)]
    bad = [f"sludge{i}" for i in range(20)]
    neutral = [f"filler{i}" for i in range(10)]
    rows = []
    for doc_id in range(120):
        label = doc_id % 2
        pool = (good if label else bad) * 3 + neutral
        text = " ".join(rng.choice(pool) for _ in range(30))
        rows.append((doc_id, text, label))
    df = spark.createDataFrame(rows, "doc_id long, text string, label int")

    train_df = df.where(F.col("doc_id") < 80)
    model = QualityModel.train(
        train_df, "doc_id", "text", "label",
        dim=256, iters=300, lr=5.0, seed=7,
    )
    scored = model.score(df, "doc_id", "text")
    got = {r["doc_id"]: r for r in scored.collect()}
    assert len(got) == 120
    held = [(d, l) for d, _, l in rows if d >= 80]
    acc = sum(
        1 for d, l in held if (got[d]["prob"] >= 0.5) == bool(l)
    ) / len(held)
    assert acc >= 0.9

    # numpy replay of the broadcast-join path on Spark-computed buckets
    from typical_spark.functions.text_analysis import split_normalized

    brows = df.select(
        "doc_id",
        F.transform(
            split_normalized(F.col("text")),
            lambda t: hashed_bucket(t, 256).cast("int"),
        ).alias("b"),
    ).collect()
    for r in brows[:20]:
        w = model.weights[np.array(r["b"], dtype=np.int64)]
        want = float(w.mean())
        assert abs(got[r["doc_id"]]["score"] - want) < 1e-9
        p = 1.0 / (1.0 + np.exp(-(want + model.bias)))
        assert abs(got[r["doc_id"]]["prob"] - p) < 1e-9


def test_quality_model_rejects_bad_dim(spark):
    from typical_spark.operators.quality_model import hashed_bucket

    with pytest.raises(ValueError):
        hashed_bucket(F.lit("x"), 1000)  # not a power of two


# ---------------------------------------------------------------------------
# SemDeDup semantic dedup
# ---------------------------------------------------------------------------


def _semantic_fixture(spark):
    """3 well-separated clusters (one-hot*10 centers + noise) with one
    planted near-copy per cluster; returns (df, copy_pairs)."""
    rng = np.random.default_rng(11)
    rows, copies = [], []
    vid = 0
    for c in range(3):
        center = np.zeros(8)
        center[c] = 10.0
        members = []
        for _ in range(8):
            v = center + rng.normal(0, 3.0, 8)
            members.append((vid, v))
            rows.append((vid, [float(x) for x in v]))
            vid += 1
        src_id, src_v = members[2]
        dup = src_v + rng.normal(0, 0.01, 8)
        rows.append((vid, [float(x) for x in dup]))
        copies.append((src_id, vid))
        vid += 1
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
        copies,
    )


def test_semantic_duplicates_blocking_parity(spark):
    """k-means cell blocking must agree with the complete n_cells=1 pass
    when eps-pairs never straddle cluster boundaries (well-separated
    fixture) — the SemDeDup approximation is exact here."""
    from typical_spark.operators.similarity import semantic_duplicates

    df, copies = _semantic_fixture(spark)
    exact = {
        (r["vec_id"], r["kept"], r["dup_of"])
        for r in semantic_duplicates(
            df, "vec_id", "embedding", n_cells=1, eps_cosine=0.97
        ).collect()
    }
    blocked = {
        (r["vec_id"], r["kept"], r["dup_of"])
        for r in semantic_duplicates(
            df, "vec_id", "embedding", n_cells=3, eps_cosine=0.97,
            sample_size=100,
        ).collect()
    }
    assert blocked == exact
    got = {r[0]: r for r in exact}
    for src, dup in copies:
        assert got[dup][1] is False  # planted copy dropped
        assert got[dup][2] is not None and got[dup][2] <= src
        assert got[src][1] is True or got[src][2] < src


def test_semantic_duplicates_chain_rule_and_nulls(spark):
    """The keep-first rule is one-sided: B drops because of A, C drops
    because of B even though B itself is dropped (eps-closeness is not
    transitive, unlike the reference's equality scan — documented).
    NULL vectors are kept."""
    import math

    from typical_spark.operators.similarity import (
        semantic_duplicates,
        semantic_survivors,
    )

    def rot(theta):
        return [math.cos(theta), math.sin(theta)]

    t = math.acos(0.96)
    rows = [
        (1, rot(0.0)),       # kept
        (2, rot(t)),         # cos(1,2)=0.96 -> dropped, dup_of=1
        (3, rot(2 * t)),     # cos(2,3)=0.96, cos(1,3)~0.843 -> dup_of=2
        (4, None),           # NULL vector: kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: (r["kept"], r["dup_of"])
        for r in semantic_duplicates(
            df, "vec_id", "embedding", n_cells=1, eps_cosine=0.95
        ).collect()
    }
    assert out[1] == (True, None)
    assert out[2] == (False, 1)
    assert out[3] == (False, 2)  # dropped by a row that is itself dropped
    assert out[4] == (True, None)

    surv = semantic_survivors(
        df, "vec_id", "embedding", n_cells=1, eps_cosine=0.95
    )
    assert {r["vec_id"] for r in surv.collect()} == {1, 4}
    assert surv.columns == ["vec_id", "embedding"]


# ---------------------------------------------------------------------------
# deterministic global shuffle (training order)
# ---------------------------------------------------------------------------


def test_global_shuffle_deterministic_and_contiguous(spark):
    from typical_spark.operators.sampling import global_shuffle

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(200)] + [(None, "lost id")],
        "doc_id long, text string",
    )
    a = global_shuffle(df, "doc_id", n_shards=8).collect()
    b = global_shuffle(df, "doc_id", n_shards=8).collect()
    key = lambda rows: sorted((r["doc_id"], r["shard"], r["pos"]) for r in rows)
    assert key(a) == key(b)  # run-to-run determinism
    assert len(a) == 200  # NULL id excluded
    # positions are contiguous 1..shard_size within every shard
    by_shard = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) <= set(range(8))
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # a different seed is an independent epoch order
    c = global_shuffle(df, "doc_id", n_shards=8, seed=7).collect()
    assert key(c) != key(a)
    # shard membership is hash-of-id only: growing the corpus never
    # moves a row across shards (positions may shift — contiguous ranks)
    grown = df.unionByName(
        spark.createDataFrame([(1000 + i, "new") for i in range(50)],
                              "doc_id long, text string")
    )
    g = {r["doc_id"]: r["shard"]
         for r in global_shuffle(grown, "doc_id", n_shards=8).collect()}
    for r in a:
        assert g[r["doc_id"]] == r["shard"]
    with pytest.raises(ValueError):
        global_shuffle(df, "doc_id", n_shards=12)


# ---------------------------------------------------------------------------
# DSIR importance resampling
# ---------------------------------------------------------------------------


def test_dsir_prefers_target_domain(spark):
    """Raw corpus = sports + code docs with disjoint vocabularies;
    target = a small sports slice. Every sports doc must outweigh every
    code doc, and Gumbel-top-k must select (almost) only sports docs."""
    import random

    from typical_spark.operators.dsir import dsir_log_weights, dsir_select

    rng = random.Random(5)
    sports = [f"goal{i}" for i in range(30)]
    code = [f"lambda{i}" for i in range(30)]
    rows = []
    for doc_id in range(100):
        pool = sports if doc_id % 2 == 0 else code
        rows.append((doc_id, " ".join(rng.choice(pool) for _ in range(40))))
    raw = spark.createDataFrame(rows, "doc_id long, text string")
    target = raw.where((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 20))

    w = {r["doc_id"]: r["log_w"]
         for r in dsir_log_weights(raw, target, "doc_id", "text",
                                   dim=1024).collect()}
    assert len(w) == 100
    worst_sports = min(v for d, v in w.items() if d % 2 == 0)
    best_code = max(v for d, v in w.items() if d % 2 == 1)
    assert worst_sports > best_code

    sel = dsir_select(raw, target, "doc_id", "text", k=30, dim=1024)
    ids = [r["doc_id"] for r in sel.collect()]
    assert len(ids) == 30
    # importance gap is large -> Gumbel noise cannot flip domains often
    assert sum(1 for d in ids if d % 2 == 0) >= 28

    # deterministic: same inputs -> identical selection and keys
    again = [r["doc_id"] for r in
             dsir_select(raw, target, "doc_id", "text", k=30,
                         dim=1024).collect()]
    assert again == ids


def test_dsir_short_and_null_docs(spark):
    """Docs that normalize to no features are absent from the output;
    single-token docs still score (unigram features only)."""
    from typical_spark.operators.dsir import dsir_log_weights

    raw = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha"), (3, "!!!"), (4, None)],
        "doc_id long, text string",
    )
    target = raw.where(F.col("doc_id") == 1)
    got = {r["doc_id"]: r for r in
           dsir_log_weights(raw, target, "doc_id", "text",
                            dim=256).collect()}
    assert set(got) == {1, 2}
    assert got[1]["n_feats"] == 5  # 3 unigrams + 2 bigrams
    assert got[2]["n_feats"] == 1
    import math

    assert all(math.isfinite(r["log_w"]) for r in got.values())


def test_bloom_contamination_matches_broadcast_path(spark, docs_df):
    """The Bloom prefilter is pure pruning: output must be row-identical
    to ngram_contamination on the same inputs — including under heavy
    false-positive pressure (tiny filter), where ONLY the exact verify
    join keeps the contract."""
    from typical_spark.operators.dedup import (
        bloom_contamination,
        ngram_contamination,
        release_cache,
    )

    bench = spark.createDataFrame(
        [(100, "spark is a distributed engine for large scale data processing"),
         (200, "completely unrelated benchmark sentence about nothing shared")],
        "bench_id long, bench_text string",
    )
    args = (docs_df, bench, "doc_id", "text", "bench_id", "bench_text")
    want = sorted(
        tuple(r) for r in ngram_contamination(*args, k=3, min_overlap=5).collect()
    )
    for m_bits in (1 << 20, 64):  # 64 bits ~ saturated filter: max FP rate
        out = bloom_contamination(*args, k=3, min_overlap=5, m_bits=m_bits)
        got = sorted(tuple(r) for r in out.collect())
        assert got == want, f"m_bits={m_bits}"
        release_cache(out)
    assert want  # non-vacuous: the corpus is contaminated


def test_bloom_contamination_plan_keeps_corpus_unshuffled(spark, docs_df):
    """The probe side must reach the exact-verify join through BROADCAST
    left-semi joins only — no corpus-side Exchange before pruning."""
    from typical_spark.operators.dedup import bloom_contamination

    bench = docs_df.select(
        F.col("doc_id").alias("bench_id"), F.col("text").alias("bench_text")
    ).limit(2)
    out = bloom_contamination(
        docs_df, bench, "doc_id", "text", "bench_id", "bench_text",
        n_probes=3,
    )
    plan = report.explain(out)
    semis = plan.count("LeftSemi")
    assert semis >= 3, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan
    # every Bloom probe must be a BROADCAST semi join: a shuffled semi
    # would move the corpus to meet the bitmap
    assert "SortMergeJoin LeftSemi" not in plan, plan
    assert "ShuffledHashJoin LeftSemi" not in plan, plan


def test_rank_buckets_exact_ntile(spark):
    """Equal-depth cut with ntile semantics: 8 rows / 3 buckets ->
    depths (3,3,2) in rank order; ascending=False puts the HIGHEST
    value in bucket 1 (head); ties break by id; NULL groups excluded."""
    from typical_spark.operators.sampling import rank_buckets

    rows = [(i, "en", float(i)) for i in range(1, 9)] + [(99, None, 1.0)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, score double")
    out = rank_buckets(
        df, "doc_id", "score", group_col="lang", n_buckets=3,
        labels=("head", "middle", "tail"), ascending=False,
    ).collect()
    got = {r["doc_id"]: (r["bucket"], r["bucket_label"]) for r in out}
    assert 99 not in got  # NULL group excluded
    # descending: ids 8,7,6 have the top scores -> head
    assert [got[i][0] for i in (8, 7, 6, 5, 4, 3, 2, 1)] == [1, 1, 1, 2, 2, 2, 3, 3]
    assert got[8][1] == "head" and got[4][1] == "middle" and got[1][1] == "tail"

    # ascending flips the orientation
    asc = {
        r["doc_id"]: r["bucket"]
        for r in rank_buckets(
            df, "doc_id", "score", group_col="lang", n_buckets=3
        ).collect()
    }
    assert [asc[i] for i in (1, 2, 3, 4, 5, 6, 7, 8)] == [1, 1, 1, 2, 2, 2, 3, 3]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        rank_buckets(df, "doc_id", "score", n_buckets=2, labels=("a", "b", "c"))


def test_quantile_buckets_monotone_and_no_sort(spark):
    """The approx-depth twin: assignment monotone in the value, depths
    near-equal on a smooth distribution, NULL value -> NULL bucket, and
    the plan carries NO sort/window (that is its whole point)."""
    from typical_spark.operators.sampling import quantile_buckets, rank_buckets

    rows = [(i, "en" if i % 2 else "de", float((i * 37) % 1009)) for i in range(1, 601)]
    rows.append((601, "en", None))
    df = spark.createDataFrame(rows, "doc_id long, lang string, score double")
    out = quantile_buckets(
        df, "score", group_col="lang", n_buckets=4, relative_error=0.0001
    )
    plan = report.explain(out)
    assert "Window" not in plan and "Sort" not in plan, plan
    got = out.collect()
    assert next(r["bucket"] for r in got if r["doc_id"] == 601) is None
    by_lang = {}
    for r in got:
        if r["bucket"] is not None:
            by_lang.setdefault(r["lang"], []).append((r["score"], r["bucket"]))
    for lang, pairs in by_lang.items():
        pairs.sort()
        buckets = [b for _, b in pairs]
        assert buckets == sorted(buckets), f"non-monotone in {lang}"
        from collections import Counter

        depths = Counter(buckets)
        n = len(pairs)
        for b in (1, 2, 3, 4):
            assert abs(depths[b] - n / 4) <= max(2, 0.05 * n), (lang, depths)

    # tight-sketch agreement with the exact cut on distinct values
    exact = {
        (r["doc_id"]): r["bucket"]
        for r in rank_buckets(
            df.where(F.col("score").isNotNull()), "doc_id", "score",
            group_col="lang", n_buckets=4,
        ).collect()
    }
    approx = {r["doc_id"]: r["bucket"] for r in got if r["bucket"] is not None}
    agree = sum(1 for k in exact if exact[k] == approx[k]) / len(exact)
    assert agree >= 0.98, agree


def test_write_training_shards_layout(spark, tmp_path):
    """Shard dirs hold their rows physically sorted by pos (pyarrow
    read, no Spark-side re-sort), every id lands in exactly one shard,
    and a re-run is byte-identical (epoch reproducibility)."""
    import pyarrow.parquet as pq

    from typical_spark.operators.sampling import write_training_shards

    df = spark.range(500).select(F.col("id").alias("doc_id"),
                                 (F.col("id") * 7).alias("payload"))
    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    write_training_shards(df, "doc_id", p1, n_shards=8)
    write_training_shards(df, "doc_id", p2, n_shards=8)

    import glob
    import os

    seen = []
    for shard_dir in sorted(glob.glob(os.path.join(p1, "shard=*"))):
        t = pq.read_table(shard_dir).to_pandas()
        assert list(t["pos"]) == sorted(t["pos"]), shard_dir  # physical order
        assert list(t["pos"]) == list(range(1, len(t) + 1))   # contiguous
        seen.extend(t["doc_id"].tolist())
    assert sorted(seen) == list(range(500))  # exactly-once coverage

    a = spark.read.parquet(p1).select("doc_id", "shard", "pos")
    b = spark.read.parquet(p2).select("doc_id", "shard", "pos")
    key = lambda rows: sorted(tuple(r) for r in rows)  # noqa: E731
    assert key(a.collect()) == key(b.collect())

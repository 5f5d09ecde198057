"""Document deduplication family for training-data pipelines.

Five strategies, all shuffle-disciplined for 100 TB inputs:

exact            groupBy(md5(normalized)) — map-side partial agg, one
                 shuffle of (hash, id) pairs only.
minhash LSH      shingles -> N_HASHES minhash signature (codegen'd min()
                 aggregates, no UDF) -> BANDS bands -> shuffle on (band,
                 band hash) buckets -> candidate pairs -> exact Jaccard
                 verify. Only bucket-mates ever meet: no O(n^2) compare.
simhash          64-bit signature from token hashes (bit-vote sum()
                 aggregates); near-dups = equal 16-bit chunk buckets then
                 hamming <= threshold verify.
ngram jaccard    exact pairwise Jaccard on word shingles — the *verify*
                 kernel for candidates (never run all-pairs at scale).
embedding cosine near-dup via random-hyperplane LSH buckets + cosine
                 verify (similarity.embedding_near_duplicates).

Each step of LSH detection is written once and shared by every detector:

- `_collapse_exact`: keep-first exact-group collapse — representatives
  go on to banding, members come back as (rep, member) star pairs
  (minhash, simhash, embedding);
- `_band_join`: the equi-join on band keys that yields distinct
  candidate id pairs (minhash self and cross joins, embedding; simhash
  keeps its own join because its hamming test lives inside it);
- `_verify`: candidate pairs joined to both sides' payloads plus one
  score column (minhash, cross, embedding, containment, ngram_jaccard),
  with `jaccard` the one set-similarity score.

The minhash parameters are module constants (N_HASHES, BANDS,
SHINGLE_WORDS): a persisted band index and the batch that probes it are
only comparable when both were built with the same values.

Pair outputs are canonicalized (id_a < id_b) and deduplicated, so a pair
found in several buckets reports once.
"""

from __future__ import annotations

from functools import reduce
from operator import and_
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from typical_spark.functions.text_analysis import normalize_text, word_shingles

# minhash LSH parameters: rows per band r = N_HASHES / BANDS = 4, S-curve
# midpoint (1/BANDS)^(1/r) ~= 0.5, recall > 0.999 for pairs at Jaccard 0.8
N_HASHES = 64
BANDS = 16
SHINGLE_WORDS = 3


def release_cache(result: DataFrame) -> None:
    """Unpersist the intermediate tables a dedup operator cached on
    behalf of `result` (the persisted shingle tables of the minhash
    family). Call AFTER materializing the result (write/collect/count):
    the cache exists precisely so the shingle pass runs once across the
    signature and verify branches, so unpersisting earlier would
    re-shingle per branch. No-op for results that own no cache. Repeated
    operator invocations in one long-lived session should release, or
    executor storage accumulates one shingle table per call."""
    for cached in getattr(result, "_owned_cache", []):
        cached.unpersist(blocking=False)


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Per-document text kernels (shingling, hashing) are CPU-bound
    interpreted higher-order functions: a small single-file input (1
    parquet split) would run them on one core. Spread it when the source
    has fewer partitions than the cluster; at real scale inputs already
    arrive in thousands of splits and this is a no-op."""
    want = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < want:
        return df.repartition(want)
    return df


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_duplicates(
    df: DataFrame, id_col: str, text_col: str, normalized: bool = True
) -> DataFrame:
    """Groups of byte-identical (optionally normalized) documents.
    Output: (dup_hash, n_docs, doc_ids sorted) for groups with n>=2."""
    txt = normalize_text(F.col(text_col)) if normalized else F.col(text_col)
    return (
        _ensure_parallelism(df).select(F.md5(txt).alias("dup_hash"), F.col(id_col))
        .groupBy("dup_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .where(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# exact-duplicate collapse (shared by every LSH family)
# ---------------------------------------------------------------------------


def _exact_group_reps(df: DataFrame, id_col: str, key: Column) -> DataFrame:
    """(_id, _rep) per row, where _rep = min id among rows sharing `key`
    (keep-first, the corpus-level lift of the reference's array-dedup
    contract, typic/constraints/array.py:30-87). NULL keys never group.

    WHY: a group of k *identical* documents shares every LSH band, so
    banding them all emits O(k^2) candidate pairs per bucket — quadratic
    exactly where web corpora are worst (boilerplate repeated thousands
    of times). Collapsing each exact group to one representative before
    banding makes the candidate volume O(k): (rep, member) star pairs
    carry the group, and only reps enter the bucket self-join. The
    shuffle here is narrow (id + hash key).

    Skew-safety: the rep per key comes from groupBy().min() — map-side
    partial combine, so a 10M-copy boilerplate group reduces to one row
    per map task before the shuffle — and the join back is an equi-join
    AQE can skew-split, never a single-task window sort. NULL keys are
    routed around the shuffle entirely (each is its own rep), so a
    NULL-heavy corpus cannot create a hot NULL partition."""
    keyed = df.select(F.col(id_col).alias("_id"), key.alias("_ek"))
    nn = keyed.where(F.col("_ek").isNotNull())
    reps = nn.groupBy("_ek").agg(F.min("_id").alias("_rep"))
    nulls = keyed.where(F.col("_ek").isNull()).select(
        "_id", F.col("_id").alias("_rep")
    )
    return nn.join(reps, "_ek").select("_id", "_rep").unionByName(nulls)


def _collapse_exact(
    df: DataFrame, id_col: str, key: Column
) -> tuple[DataFrame, DataFrame]:
    """(representatives, stars): the rows of `df` that are their exact
    group's representative (semi-joined, so only they go on to banding),
    and one (id_a = rep, id_b = member) star pair per other member.
    Each caller scores the stars by its own rule."""
    groups = _exact_group_reps(df, id_col, key)
    stars = groups.where(F.col("_id") != F.col("_rep")).select(
        F.col("_rep").alias("id_a"), F.col("_id").alias("id_b")
    )
    # the representative ids, named apart from df's own columns so the
    # semi-join condition is never ambiguous
    rid = "_rid" if "_id" in df.columns else "_id"
    reps = groups.where(F.col("_id") == F.col("_rep")).select(
        F.col("_id").alias(rid)
    )
    return df.join(reps, df[id_col] == reps[rid], "left_semi"), stars


# ---------------------------------------------------------------------------
# shared LSH steps: band join, verify, jaccard
# ---------------------------------------------------------------------------


def _band_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    extra: Column | None = None,
    names: tuple[str, str] = ("id_a", "id_b"),
) -> DataFrame:
    """Distinct candidate id pairs: rows of `left` (alias l) and `right`
    (alias r) equal on every band key in `keys` and satisfying `extra`.
    Both sides are narrow (_id, *keys) rows, so only ids and keys ride
    the shuffle; a pair found in several bands reports once."""
    l, r = left.alias("l"), right.alias("r")
    cond = [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys]
    if extra is not None:
        cond.append(extra)
    a, b = names
    return (
        l.join(r, reduce(and_, cond))
        .select(F.col("l._id").alias(a), F.col("r._id").alias(b))
        .dropDuplicates([a, b])
    )


def _verify(
    pairs: DataFrame,
    left: DataFrame,
    right: DataFrame,
    payload: str,
    score_name: str,
    score: Callable[[Column, Column], Column],
    ids: tuple[str, str] = ("id_a", "id_b"),
    names: tuple[str, str] = ("sh_a", "sh_b"),
) -> DataFrame:
    """Exact verify of candidate pairs: `pairs` joined to `left` on
    ids[0] and `right` on ids[1] (each side's `_id` and `payload`
    columns, renamed to ids and `names`), plus `score_name` =
    score(left payload, right payload). The wide payloads meet only
    candidates; callers apply their own threshold and projection."""
    (a, b), (pa, pb) = ids, names

    def side(t: DataFrame, i: str, p: str) -> DataFrame:
        return t.select(F.col("_id").alias(i), F.col(payload).alias(p))

    return (
        pairs.join(side(left, a, pa), a)
        .join(side(right, b, pb), b)
        .withColumn(score_name, score(F.col(pa), F.col(pb)))
    )


def jaccard(a: Column, b: Column) -> Column:
    """|a & b| / |a | b| of two arrays as a double. The denominator is
    floored at 1, so two empty arrays score 0.0 instead of dividing by
    zero (ANSI-safe)."""
    return (
        F.size(F.array_intersect(a, b))
        / F.greatest(F.size(F.array_union(a, b)), F.lit(1))
    ).cast("double")


# ---------------------------------------------------------------------------
# minhash + LSH
# ---------------------------------------------------------------------------


def _shingle_sig_bands(
    df: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """Shared shingle -> seeded-signature -> banding pipeline behind
    BOTH minhash variants (self-join `minhash_near_duplicates` and the
    incremental `minhash_cross_duplicates`) — one spelling, so the two
    can never drift apart. Returns (sh, banded):

    - sh (persisted): the shingle table; it feeds multiple plan
      branches (signature + exact-verify sides) — the analog of the
      "write the signature table first" step in production LSH dedup
      (recomputing shingling per branch tripled the cost). LIFECYCLE:
      the public operators attach it to their result as _owned_cache;
      callers unpersist via release_cache(result) once the result is
      materialized (long-lived sessions leak one cached table per call
      otherwise).
    - banded: narrow (_id, band, bhash) rows. Signature via explode +
      N_HASHES min() aggregates — whole-stage-codegen'd with map-side
      partial combine, an order of magnitude faster than interpreted
      array-lambda accumulators, and the seeded xxhash64(h, i) family
      is overflow-free so it is correct under ANSI mode. Shingle
      arrays are the WIDE payload: banding joins ride only the 16-byte
      rows, keeping the shuffle ~GBs at 10^9 docs.
    """
    r = N_HASHES // BANDS
    # explode(array(...)) is a Generate barrier: without it Catalyst
    # pushes the size() filter BELOW the projection and the whole
    # shingle expression (3 regex passes + HOF slices) is evaluated
    # twice per row, once in the Filter and once in the Project (the
    # net.py parse-once trick; measured ~2x on this stage at sf0.1)
    sh = (
        df.select(
            F.col(id_col).alias("_id"),
            F.explode(
                F.array(word_shingles(F.col(text_col), SHINGLE_WORDS))
            ).alias("_sh"),
        )
        .where(F.size("_sh") > 0)
        .persist()
    )
    hashed = sh.select(
        "_id", F.explode(F.transform("_sh", lambda s: F.xxhash64(s))).alias("_h")
    )
    # one parsed expression instead of N_HASHES*4 Column-API calls: each
    # py4j round trip costs ~0.5ms on this host and the wide aggregate
    # was ~3s of pure driver-side plan BUILD time per query (profiled;
    # the Catalyst tree is identical either way)
    sig_expr = (
        "array("
        + ", ".join(f"min(xxhash64(_h, {i}))" for i in range(N_HASHES))
        + ")"
    )
    sig = hashed.groupBy("_id").agg(F.expr(sig_expr).alias("_sig"))
    band_expr = (
        f"explode(transform(sequence(0, {BANDS - 1}), "
        f"b -> struct(b AS band, "
        f"xxhash64(concat_ws(',', slice(_sig, b * {r} + 1, {r}))) AS bhash)))"
    )
    banded = sig.select("_id", F.expr(band_expr).alias("bb")).select(
        "_id", "bb.band", "bb.bhash"
    )
    return sh, banded


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    jaccard_threshold: float = 0.7,
) -> DataFrame:
    """Near-duplicate pairs via minhash-LSH banding + exact-Jaccard verify.
    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.

    Byte-identical (normalized) documents are collapsed to their min-id
    representative BEFORE banding and emitted as (rep, member, 1.0) star
    pairs — O(k) instead of the O(k^2) pair blowup an exact-duplicate
    group would otherwise cause inside every band bucket. Pair semantics
    are keep-first: members pair with their representative, and only
    representatives pair across groups.
    """
    df, stars = _collapse_exact(
        _ensure_parallelism(df),
        id_col,
        F.sha2(normalize_text(F.col(text_col)), 256),
    )
    star = stars.select(
        "id_a", "id_b", F.lit(1.0).alias("jaccard")  # identical normalized text
    ).where(F.lit(1.0) >= F.lit(jaccard_threshold))
    sh, banded = _shingle_sig_bands(df, id_col, text_col)
    cand = _band_join(
        banded, banded, ["band", "bhash"], F.col("l._id") < F.col("r._id")
    )
    out = (
        _verify(cand, sh, sh, "_sh", "jaccard", jaccard)
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
        .unionAll(star)
    )
    out._owned_cache = [sh]  # caller releases via release_cache(out)
    return out


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------


def simhash64(col: Column) -> Column:
    """64-bit simhash of the normalized token stream: per-token xxhash64,
    each bit position votes +w/-w, sign of the sum sets the bit. Pure
    aggregate() expressions."""
    tokens = F.split(normalize_text(col), " ")
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    # One traversal: accumulate a 64-wide vote vector. Per-position bit
    # extraction uses the two's-complement binary string of the hash
    # (bin() -> 64 chars after left-pad), because shiftright demands a
    # literal shift amount and per-bit unrolled aggregates re-traverse the
    # token array 64x (measured ~6x slower at sf0.1).
    bits_of = lambda h: F.split(  # noqa: E731
        F.lpad(F.bin(h), 64, "0"), ""
    )
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, h: F.zip_with(
            acc,
            F.slice(bits_of(h), 1, 64),
            lambda a, c: a + F.when(c == "1", 1).otherwise(-1),
        ),
    )
    # assemble signature: bit b set iff votes[b] > 0; index 0 of the bin
    # string is the MOST significant bit (sign bit = -(2^63))
    sig = F.lit(0).cast("long")
    for b in range(64):
        bitval = -(1 << 63) if b == 0 else (1 << (63 - b))
        sig = sig + F.when(
            F.element_at(votes, b + 1) > 0, F.lit(bitval).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return sig


def _hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def md5_lower64(col: Column) -> Column:
    """Signed-long view of the LOWER 8 bytes of md5(col), little-endian —
    bit-identical to DuckDB's md5_number_lower() reinterpreted as a
    signed 64-bit integer. Slower than xxhash64 (hex-string slicing +
    base conversion); use ONLY where a hash must be reproducible outside
    Spark, e.g. the DuckDB oracle twin of the simhash contract query.
    Decimal arithmetic keeps the unsigned->signed fold ANSI-safe."""
    hx = F.md5(col)
    # digest bytes 8..15 live at hex chars 17..32; little-endian means
    # reading those byte pairs in reverse: (31,32),(29,30),...,(17,18)
    le = F.concat(*[F.substring(hx, 31 - 2 * i, 2) for i in range(8)])
    d = F.conv(le, 16, 10).cast("decimal(20,0)")
    half = F.lit("9223372036854775808").cast("decimal(20,0)")  # 2^63
    return F.when(d >= half, (d - half) - half).otherwise(d).cast("long")


def simhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    token_hash: Callable[[Column], Column] | None = None,
) -> DataFrame:
    """(_id, _sig) simhash table via explode + 64 codegen'd sum()
    aggregates (map-side partial combine): each token hash votes +-1 per
    bit position, bit b of the signature is set iff vote_b > 0. This is
    the bulk-path twin of the per-row `simhash64` Column API — identical
    signatures (pytest-asserted), with the aggregation inside whole-stage
    codegen instead of an interpreted higher-order lambda (measured 1.2x
    faster on 80k sf0.1-documents rows at local[8] INCLUDING its groupBy
    shuffle, which the downstream banding needs anyway; the gap widens
    with token count since the lambda re-traverses a 64-wide accumulator
    per token).

    token_hash: Column->Column token hasher; defaults to xxhash64
    (production). Pass `md5_lower64` for cross-engine-reproducible
    signatures (DuckDB oracle verification)."""
    th = token_hash or F.xxhash64
    hashed = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("_t"),
    ).select("_id", th(F.col("_t")).alias("_h"))
    # parsed expressions, not per-bit Column-API chains: the 64-wide
    # vote aggregate + 64-term assembly were ~1000 py4j round trips of
    # driver-side build time (~0.5ms each on this host); the Catalyst
    # tree is identical
    votes = hashed.groupBy("_id").agg(
        *[
            F.expr(f"sum((shiftright(_h, {b}) & 1) * 2 - 1)").alias(f"_b{b}")
            for b in range(64)
        ]
    )
    # assemble: distinct powers of two (sign bit as -(2^63)) — terms are
    # added in ascending bit order, so every partial sum stays inside
    # long range (the sign-bit term comes last): ANSI-safe
    terms = []
    for b in range(64):
        bit = (
            "shiftleft(CAST(-1 AS BIGINT), 63)"
            if b == 63
            else f"CAST({1 << b} AS BIGINT)"
        )
        terms.append(
            f"CASE WHEN _b{b} > 0 THEN {bit} ELSE CAST(0 AS BIGINT) END"
        )
    sig = F.expr("CAST(0 AS BIGINT) + " + " + ".join(terms))
    return votes.select("_id", sig.alias("_sig"))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    token_hash: Callable[[Column], Column] | None = None,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming. Blocking: by
    pigeonhole, two signatures within hamming 3 agree exactly on >=1 of 4
    16-bit chunks — candidates meet only in chunk buckets (1 shuffle).
    Output: (id_a, id_b, hamming). Identical normalized docs become
    (rep, member, 0) star pairs and only representatives are banded
    (see _collapse_exact — avoids O(k^2) bucket blowup)."""
    df, stars = _collapse_exact(
        _ensure_parallelism(df),
        id_col,
        F.sha2(normalize_text(F.col(text_col)), 256),
    )
    star = stars.select(
        "id_a", "id_b", F.lit(0).cast("int").alias("hamming")  # identical text
    )
    sigs = simhash_signatures(df, id_col, text_col, token_hash)
    chunks = sigs.select(
        "_id",
        "_sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("_sig"), c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("ckey"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cc"),
    ).select("_id", "_sig", "cc.chunk", "cc.ckey")
    l, r_ = chunks.alias("l"), chunks.alias("r")
    # hamming test INSIDE the join condition: candidate volume from
    # 16-bit chunk collisions is quadratic-ish on low-vocabulary corpora
    # (426k candidate rows for 5k docs at sf0.1) and dropDuplicates was
    # shuffling all of them; filtering to true near-dups first leaves
    # only the ~pair-count x 4 chunk hits to dedup (same output rows:
    # hamming is a function of the pair, so filter and dropDuplicates
    # commute)
    cand = (
        l.join(
            r_,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.ckey") == F.col("r.ckey"))
            & (F.col("l._id") < F.col("r._id"))
            & (_hamming64(F.col("l._sig"), F.col("r._sig")) <= max_hamming),
        )
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            _hamming64(F.col("l._sig"), F.col("r._sig")).cast("int").alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand.unionAll(star)


# ---------------------------------------------------------------------------
# corpus-level dedup decisions on top of the pair detectors
# ---------------------------------------------------------------------------


def near_dup_survivors(
    df: DataFrame, id_col: str, pairs: DataFrame
) -> DataFrame:
    """Greedy keep-first survivor set: drop every document that near-dup
    pairs with ANY smaller id (pairs are canonical id_a < id_b, so the
    dominated side is always id_b) — the reference's array-dedup
    keep-first contract (typic/constraints/array.py:30-87) lifted to
    corpus level. One-step dominance, not transitive closure (see
    dedup_groups_connected for closure): the standard greedy rule, one
    distinct + one anti-join, both broadcast-able when the dup set is
    small relative to the corpus."""
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(dropped, id_col, "left_anti")


def dedup_groups_connected(pairs: DataFrame, max_iterations: int = 25) -> DataFrame:
    """Connected components over the near-dup pair graph: (doc_id,
    group_id) for every id appearing in `pairs`, group_id = min id of the
    component. Iterative min-label propagation: each round every node
    takes the min of its own label and its neighbors' labels (one join +
    one groupBy shuffle per round); converges in O(graph diameter)
    rounds — near-dup components are dense and shallow, so single-digit
    rounds in practice. Lineage is cut per round with localCheckpoint so
    the plan stays bounded regardless of iteration count (the standard
    Spark iterative-algorithm pattern). Genuinely non-SQL-expressible
    one-pass; the DuckDB oracle uses a recursive CTE instead."""
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iterations):
        nbr = (
            edges.join(labels, edges["dst"] == labels["id"])
            .select(
                edges["src"].alias("id"), F.col("label"),
                F.lit(None).cast(labels.schema["label"].dataType).alias("_old"),
            )
        )
        # Carry each node's OWN previous label through the same aggregate
        # (self rows tag it in `_old`; labels are a min-semilattice so
        # label_new <= _old always): the convergence test then reads the
        # already-checkpointed output — a bounded scan with no shuffle —
        # instead of re-joining new vs old labels every round (one fewer
        # shuffle join + one fewer wide action per iteration).
        new_labels = (
            nbr.unionAll(labels.select("id", "label", F.col("label").alias("_old")))
            .groupBy("id")
            .agg(F.min("label").alias("label"), F.min("_old").alias("_old"))
            .localCheckpoint()
        )
        changed = new_labels.where(F.col("label") != F.col("_old")).count()
        labels = new_labels.select("id", "label")
        if changed == 0:
            converged = True
            break
    if not converged:
        # Unconverged labels are WRONG group ids (the component min has
        # not reached every node) — failing loudly beats silently
        # corrupting downstream keep-one-per-group decisions.
        raise RuntimeError(
            f"dedup_groups_connected did not converge in {max_iterations} "
            "rounds: a component's diameter exceeds the iteration budget; "
            "raise max_iterations (rounds needed = max component diameter)"
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("group_id"))


def ngram_contamination(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    bench_id_col: str,
    bench_text_col: str,
    k: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: (doc_id, bench_id, n_overlap) for every
    corpus document sharing >= min_overlap distinct word-k-grams with a
    benchmark document. The benchmark side is tiny by definition (eval
    sets vs a crawl), so its exploded shingles BROADCAST: the corpus is
    scanned once, shingled map-side, and hash-joined locally — no shuffle
    of the corpus, the only shape that works when docs is 100 TB.
    Output feeds the standard policy: drop/flag documents contaminated
    with eval data before training."""
    dsh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(F.col(text_col), k)).alias("_g"),
    )
    bsh = bench.select(
        F.col(bench_id_col).alias("bench_id"),
        F.explode(word_shingles(F.col(bench_text_col), k)).alias("_g"),
    )
    return (
        dsh.join(F.broadcast(bsh), "_g")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .where(F.col("n_overlap") >= min_overlap)
    )


def bloom_contamination(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    bench_id_col: str,
    bench_text_col: str,
    k: int = 3,
    min_overlap: int = 1,
    m_bits: int = 1 << 20,
    n_probes: int = 4,
) -> DataFrame:
    """Decontamination scale path for when the benchmark is too big to
    broadcast (ngram_contamination requires its exploded shingle table
    to fit executor memory; a multi-benchmark suite at 100 TB corpus
    scale may not). A Bloom filter built FROM the benchmark prunes the
    corpus's shingles BEFORE any shuffle, so only probable hits move.
    The output is EXACT and schema-identical to ngram_contamination:
    Bloom membership has no false negatives by construction, and an
    exact inner join re-verifies every survivor — false positives cost
    a little candidate shuffle, never correctness (so the same SQL
    oracle grades both operators).

    Build side: every distinct benchmark shingle sets n_probes
    positions of an m_bits-slot filter; the SET of set positions is a
    table of <= m_bits longs (8 MiB at the default 2^20 — constant in
    benchmark size once saturated) built with one map-side-combined
    distinct and persisted once. Probe side: each corpus shingle
    computes the same n_probes positions and must find ALL of them,
    expressed as n_probes successive BROADCAST LEFT-SEMI joins — the
    corpus never shuffles and rows missing any bit drop at the first
    miss. Survivors (~(1-e^{-kn/m})^k false-positive rate, <1% at the
    defaults for ~180k benchmark shingles) then join the benchmark
    shingles exactly; only candidates reach that shuffle.

    No reference analog (training-data-pipeline surface, same as
    ngram_contamination, whose output contract this matches exactly);
    the Bloom stage is pure pruning.
    """
    dsh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(F.col(text_col), k)).alias("_g"),
    )
    bsh = bench.select(
        F.col(bench_id_col).alias("bench_id"),
        F.explode(word_shingles(F.col(bench_text_col), k)).alias("_g"),
    ).persist()  # scanned twice: filter build + exact verify

    def positions(g) -> Column:
        return F.array(
            *[
                F.pmod(F.xxhash64(g, F.lit(i)), F.lit(int(m_bits)))
                for i in range(n_probes)
            ]
        )

    bits = (
        bsh.select(F.explode(positions(F.col("_g"))).alias("_pos"))
        .distinct()
        .persist()
    )
    probe = dsh
    for i in range(n_probes):
        probe = probe.withColumn(
            "_pos", F.pmod(F.xxhash64(F.col("_g"), F.lit(i)), F.lit(int(m_bits)))
        ).join(F.broadcast(bits), "_pos", "left_semi")
    out = (
        probe.drop("_pos")
        .join(bsh, "_g")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .where(F.col("n_overlap") >= min_overlap)
    )
    out._owned_cache = [bits, bsh]  # caller releases via release_cache(out)
    return out


# ---------------------------------------------------------------------------
# n-gram jaccard (exact verify kernel)
# ---------------------------------------------------------------------------


def ngram_jaccard(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
) -> DataFrame:
    """Exact word-k-gram Jaccard for given candidate (id_a, id_b) pairs.
    Two broadcast-or-shuffle hash joins against the docs table; the heavy
    set ops stay columnar."""
    sh = docs.select(
        F.col(id_col).alias("_id"), word_shingles(F.col(text_col), k).alias("_sh")
    )
    return _verify(pairs, sh, sh, "_sh", "jaccard", jaccard).drop("sh_a", "sh_b")


def minhash_band_tables(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> tuple[DataFrame, DataFrame]:
    """The persistable minhash index of a corpus: (shingles, banded).

    - shingles: (_id, _sh array<string>) — the exact-verify side
    - banded:   (_id, band int, bhash bigint) — the narrow LSH keys

    Both are pure functions of the text, so production pipelines write
    them to the lake ONCE and every later incremental run (daily crawl,
    streaming micro-batch) checks its new documents against the stored
    tables via `minhash_cross_duplicates_prebanded` — shingling cost is
    paid per NEW document only, never re-paid for the corpus. See
    streaming.incremental.minhash_stream_dedup for the foreachBatch
    recipe. LIFECYCLE: the shingle table IS persist()ed to executor
    storage (the shared _shingle_sig_bands pipeline reuses it across the
    signature and verify branches); call release_cache(banded) after
    writing both frames out, or each invocation leaks one cached table.
    Built with the module's fixed N_HASHES/BANDS/SHINGLE_WORDS, so a
    stored index always matches the batches that probe it."""
    sh, banded = _shingle_sig_bands(_ensure_parallelism(df), id_col, text_col)
    banded._owned_cache = [sh]
    return sh, banded


def minhash_cross_duplicates_prebanded(
    new_sh: DataFrame,
    new_banded: DataFrame,
    corpus_sh: DataFrame,
    corpus_banded: DataFrame,
    jaccard_threshold: float = 0.7,
) -> DataFrame:
    """Cross-corpus near-dup pairs from ALREADY-BANDED sides (the
    incremental path: corpus tables come from the lake via
    `minhash_band_tables`, only the new batch was shingled this run).
    Output: (new_id, corpus_id, jaccard >= threshold). Join cost is
    bounded by the new batch's bucket occupancy — corpus buckets the
    batch never touches are dropped at the join."""
    ids = ("new_id", "corpus_id")
    cand = _band_join(new_banded, corpus_banded, ["band", "bhash"], names=ids)
    return (
        _verify(cand, new_sh, corpus_sh, "_sh", "jaccard", jaccard,
                ids, ("sh_n", "sh_c"))
        .where(F.col("jaccard") >= F.lit(float(jaccard_threshold)))
        .select("new_id", "corpus_id", "jaccard")
    )


def minhash_cross_duplicates(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    jaccard_threshold: float = 0.7,
) -> DataFrame:
    """Cross-corpus near-duplicate detection: which NEW documents
    near-duplicate an EXISTING corpus document — the incremental-growth
    twin of `minhash_near_duplicates` (a daily crawl is checked against
    the standing index; the self-join variant would wastefully re-pair
    the corpus against itself).

    Same machinery as the self-join path — seeded xxhash64 signature
    family via codegen'd explode + min() aggregates, narrow
    (id, band, bhash) banding rows, exact-Jaccard verify of candidates
    — but the band join is new x corpus, so its cost is bounded by the
    NEW batch's bucket occupancy: the corpus side contributes only
    buckets the new batch actually touches (Catalyst drops the rest at
    the join). In production the corpus's banding table is computed
    once and persisted (it is a pure function of the text), so a daily
    run shingles only the new batch. Exact-duplicate groups WITHIN the
    corpus multiply matches k-fold by design (each copy is a real
    match); dedup the corpus first if star-collapsed output is wanted.

    Output: (new_id, corpus_id, jaccard) with jaccard >= threshold.
    """
    sh_new, band_new = _shingle_sig_bands(
        _ensure_parallelism(new_df), id_col, text_col
    )
    sh_cor, band_cor = _shingle_sig_bands(
        _ensure_parallelism(corpus_df), id_col, text_col
    )
    out = minhash_cross_duplicates_prebanded(
        sh_new, band_new, sh_cor, band_cor, jaccard_threshold
    )
    out._owned_cache = [sh_new, sh_cor]  # release_cache(out) after use
    return out


# ---------------------------------------------------------------------------
# asymmetric containment (doc-inside-doc)
# ---------------------------------------------------------------------------


def containment_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric containment pairs: (id_a, id_b, containment_r) where
    containment(a in b) = |S(a) & S(b)| / |S(a)| >= threshold over
    distinct word-SHINGLE_WORDS shingles, id_a != id_b.

    Jaccard-based near-dup (minhash/simhash) structurally MISSES the
    quote/excerpt case: a 100-shingle doc fully pasted inside a
    5000-shingle doc has Jaccard ~0.02 but containment 1.0. Training
    pipelines deduplicate these (the small doc adds no new tokens) and
    decontamination REQUIRES them (a benchmark item quoted inside a crawl
    page). Keep-first semantics mirror the reference's array uniqueness
    contract (typic/constraints/array.py:30-87): the contained (smaller)
    side is the candidate for removal, reported as id_a.

    Scale design — lossless PREFIX FILTERING (Chaudhuri et al. SSJoin;
    Vernica et al., "Efficient Parallel Set-Similarity Joins Using
    MapReduce", SIGMOD'10) instead of the O(n^2) all-pairs join:
    if |S(a) & S(b)| >= t where t = ceil(threshold * |S(a)|), then by
    pigeonhole ANY fixed (|S(a)| - t + 1)-subset of S(a) intersects
    S(b). Each doc therefore indexes only its |S(a)| - t + 1 rarest
    shingles (global document-frequency order, ties by shingle) — the
    candidate join is prefix(a) x full(b) on the shingle key, and the
    hot boilerplate shingles that would skew a naive inverted-index join
    sit at the END of the frequency order, so they essentially never
    enter a prefix: the join's per-key fan-out is (rare shingle) x (its
    few holders). Exact verify then computes true containment per
    candidate pair from the per-doc shingle arrays (the same `_verify`
    join as minhash_near_duplicates) — candidate
    generation is lossless, so the output is EXACTLY the all-pairs
    result. One groupBy (doc-frequency), one window (per-doc frequency
    rank), one equi-join on shingle, one verify join: all narrow rows
    except the verify's bounded per-doc arrays.

    At 10^9+ docs compose with exact_duplicates first (collapse
    byte-identical groups to representatives) exactly as
    minhash_near_duplicates' exact-group collapse does — containment within an
    exact group is trivially 1.0 both ways.

    Output: (id_a, id_b, containment) — id_a contained in id_b.
    Caller releases the persisted shingle table via release_cache(out).
    """
    from pyspark.sql import Window

    df = _ensure_parallelism(df)
    # explode(array(...)) Generate barrier: keeps Catalyst from pushing
    # the size() filter below the projection and shingling every row
    # twice (see _shingle_sig_bands)
    arrs = (
        df.select(
            F.col(id_col).alias("_id"),
            F.explode(
                F.array(word_shingles(F.col(text_col), SHINGLE_WORDS))
            ).alias("_sh_arr"),
        )
        .where(F.size("_sh_arr") > 0)
        .persist()
    )
    sh = arrs.select("_id", F.size("_sh_arr").alias("_sz"),
                     F.explode("_sh_arr").alias("_sh"))
    dfreq = sh.groupBy("_sh").agg(F.count(F.lit(1)).alias("_df"))
    # prefix length |S(a)| - ceil(tau*|S(a)|) + 1; rank rarest-first
    rk = Window.partitionBy("_id").orderBy(F.col("_df").asc(), F.col("_sh").asc())
    prefix = (
        sh.join(dfreq, "_sh")
        .withColumn("_rk", F.row_number().over(rk))
        .where(
            F.col("_rk")
            <= F.col("_sz") - F.ceil(F.lit(float(threshold)) * F.col("_sz")) + 1
        )
        .select(F.col("_id").alias("id_a"), "_sh")
    )
    cand = (
        prefix.join(sh.select(F.col("_id").alias("id_b"), "_sh"), "_sh")
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    out = (
        _verify(
            cand, arrs, arrs, "_sh_arr", "containment",
            lambda a, b: (F.size(F.array_intersect(a, b)) / F.size(a)).cast("double"),
        )
        .where(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )
    out._owned_cache = [arrs]
    return out

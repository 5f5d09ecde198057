"""Similarity search over an embedding column (array<float>).

Kernels are pure Catalyst higher-order functions (`zip_with` dot product,
`aggregate` norms) — JVM-side, no UDF, no Python in the scan.

- brute-force cosine top-k: one narrow pass computing similarity + a
  global top-k (TakeOrderedAndProject — no full sort, no shuffle of the
  table; this is the exact baseline).
- IVF (inverted-file) top-k: coarse k-means centroids fitted driver-side
  on a bounded sample (numpy, deterministic seed), broadcast; each row is
  assigned to its nearest centroid ONCE (one pass, written as a cell id);
  a query probes only the nprobe nearest cells -> scan prunes to
  ~nprobe/C of the data. The standard disk-ANN layout for 10^11-vector
  corpora: partition/bucket the table by cell_id so a probe is a
  partition-pruned scan.
- embedding near-dup pairs: random-hyperplane LSH buckets (sign bits of
  h random projections, one Arrow-batched numpy matmul per record batch
  -> one shuffle on the bucket key) + exact cosine verify within
  buckets, on dedup's shared exact-group collapse, band join and verify.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return (dot(a, b) / (l2_norm(a) * l2_norm(b))).cast("double")


def _vec_lit(vec) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def cosine_topk(
    df: DataFrame,
    query_vec,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact brute-force top-k by cosine similarity. The plan is scan ->
    project(similarity) -> TakeOrderedAndProject(k): no shuffle of data,
    per-partition heaps + driver merge. Ties break by id for determinism."""
    q = _vec_lit(query_vec)
    sims = df.select(
        F.col(id_col),
        cosine(F.col(vec_col).cast("array<double>"), q).alias("cosine_sim"),
    )
    return sims.orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc()).limit(k)


# ---------------------------------------------------------------------------
# IVF
# ---------------------------------------------------------------------------


def _kmeans_fit(sample: np.ndarray, n_cells: int, iters: int = 10, seed: int = 42) -> np.ndarray:
    """Tiny deterministic k-means (numpy) for coarse quantization."""
    rng = np.random.default_rng(seed)
    idx = rng.choice(len(sample), size=min(n_cells, len(sample)), replace=False)
    cent = sample[idx].astype(np.float64)
    for _ in range(iters):
        d = ((sample[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for c in range(len(cent)):
            pts = sample[assign == c]
            if len(pts):
                cent[c] = pts.mean(0)
    return cent


class IVFIndex:
    """Coarse-quantized index: fit centroids on a sample, materialize cell
    assignments once, probe nearest cells at query time."""

    def __init__(self, centroids: np.ndarray, assigned: DataFrame,
                 id_col: str, vec_col: str):
        self.centroids = centroids
        self.assigned = assigned  # df + cell_id column
        self.id_col = id_col
        self.vec_col = vec_col

    @classmethod
    def build(
        cls,
        df: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_cells: int = 16,
        sample_size: int = 10_000,
        seed: int = 42,
        persist_path: str | None = None,
    ) -> "IVFIndex":
        """Fit coarse centroids on a UNIFORM deterministic sample and
        materialize per-row cell assignments.

        The fit sample is the `sample_size` rows with the smallest
        engine-native id hash (the hash_bucket/hash_sample family) — a
        uniform function of the ids alone, independent of partition
        layout. An earlier `df.limit(sample_size)` pulled whichever
        partitions answered first (typically the first file), so on a
        corpus sharded by source/date the centroids modeled ONE shard
        and probe recall quietly degraded everywhere else. The plan is
        TakeOrderedAndProject: per-partition top-k heaps + driver merge,
        no shuffle of the table.

        persist_path: when set, cell assignments are written
        partitionBy('cell_id') and read back, so `query()`'s
        cell_id.isin(...) filter becomes a PARTITION-PRUNED scan — the
        disk layout an IVF probe needs at 10^11 vectors (on Iceberg:
        PARTITIONED BY (cell_id) or a bucket transform). Without it the
        assignment stays a lazy in-memory plan (fine for one-off use)."""
        from typical_spark.operators.sampling import hash_bucket

        h = hash_bucket(F.col(id_col), seed=seed, n_buckets=1 << 62)
        sample = np.array(
            [
                r[0]
                for r in df.select(F.col(vec_col), h.alias("_h"))
                # NULL ids hash to NULL, which sorts FIRST ascending —
                # a shard with lost ids would monopolize the "uniform"
                # sample, recreating the bias this fit avoids
                .where(F.col(vec_col).isNotNull() & F.col("_h").isNotNull())
                .orderBy(F.col("_h").asc())
                .limit(sample_size)
                .collect()
            ],
            dtype=np.float64,
        )
        cent = _kmeans_fit(sample, n_cells, seed=seed)
        # nearest-centroid assignment as a pure expression over a broadcast
        # literal array of centroids: argmin over cells of squared distance
        cent_col = F.array(*[_vec_lit(c) for c in cent])
        v = F.col(vec_col).cast("array<double>")
        dists = F.transform(
            cent_col,
            lambda c: F.aggregate(
                F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, d: acc + d,
            ),
        )
        assigned = df.withColumn(
            "cell_id", F.array_position(dists, F.array_min(dists)).cast("int") - 1
        )
        if persist_path is not None:
            assigned.write.mode("overwrite").partitionBy("cell_id").parquet(
                persist_path
            )
            assigned = df.sparkSession.read.parquet(persist_path)
        return cls(cent, assigned, id_col, vec_col)

    def query(self, query_vec, k: int = 10, nprobe: int = 4) -> DataFrame:
        q = np.asarray(query_vec, dtype=np.float64)
        d = ((self.centroids - q[None, :]) ** 2).sum(1)
        cells = [int(c) for c in np.argsort(d, kind="stable")[:nprobe]]
        # over a persist_path index this filter is a partition-pruned
        # scan (PartitionFilters on cell_id — plan-asserted in tests)
        probed = self.assigned.where(F.col("cell_id").isin(cells))
        return cosine_topk(probed, query_vec, self.id_col, self.vec_col, k)

    def query_batch(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 4,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vec",
    ) -> DataFrame:
        """Batch probe as ONE distributed job: `query()` serves a single
        driver-side vector per call, so a reranking pipeline probing
        millions of queries would pay one driver round-trip each. Here
        every query row is assigned its `nprobe` nearest cells by the
        SAME broadcast-centroid distance expression the index assigns
        data rows with (codegen'd array aggregate — identical cell
        choice to query()'s numpy argsort, ties broken toward the lower
        cell index in both), exploded to (query, cell_id), and
        equi-joined on cell_id against the assignments — never a
        cartesian/NLJ (plan-asserted in test_physical_plans). Exact
        cosine then per-query top-k via one row_number window
        partitioned by query id (ties break by data id, matching
        cosine_topk).

        Output: (query_id_col, id_col, cosine_sim), <= k rows per query.

        Scale shape: the exploded probe side carries |Q| * nprobe narrow
        rows; the join shuffles on cell_id (AQE broadcasts the probe
        side when |Q| is small, and over a `persist_path` index dynamic
        partition pruning can skip unprobed cells' files); the top-k
        window shuffles only (query_id, id, sim) triples. NULL query
        vectors yield no cells (excluded, same policy as build's NULL
        guard)."""
        n_cells = len(self.centroids)
        cent_col = F.array(*[_vec_lit(c) for c in self.centroids])
        qv = F.col(query_vec_col).cast("array<double>")
        # (distance, cell) structs: array_sort orders lexicographically,
        # so slice(nprobe) == stable argsort top-nprobe
        pairs = F.transform(
            F.sequence(F.lit(0), F.lit(int(n_cells) - 1)),
            lambda i: F.struct(
                F.aggregate(
                    F.zip_with(
                        qv,
                        F.element_at(cent_col, (i + 1).cast("int")),
                        lambda x, y: (x - y) * (x - y),
                    ),
                    F.lit(0.0),
                    lambda acc, d: acc + d,
                ).alias("d"),
                i.alias("cell"),
            ),
        )
        probe = F.transform(
            F.slice(F.array_sort(pairs), 1, int(nprobe)),
            lambda s: s["cell"].cast("int"),
        )
        exploded = queries.where(F.col(query_vec_col).isNotNull()).select(
            F.col(query_id_col),
            qv.alias("_qv"),
            F.explode(probe).alias("cell_id"),
        )
        scored = self.assigned.join(exploded, "cell_id").select(
            F.col(query_id_col),
            F.col(self.id_col),
            cosine(F.col(self.vec_col).cast("array<double>"),
                   F.col("_qv")).alias("cosine_sim"),
        )
        w = Window.partitionBy(query_id_col).orderBy(
            F.col("cosine_sim").desc(), F.col(self.id_col).asc()
        )
        return (
            scored.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= int(k))
            .drop("_rk")
        )


# ---------------------------------------------------------------------------
# near-dup pairs by random-hyperplane LSH
# ---------------------------------------------------------------------------


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    n_tables: int = 4,
    cosine_threshold: float = 0.95,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Pairs with cosine >= threshold. n_tables independent sign-bucket
    keys (n_planes random hyperplanes each); candidates meet only within
    a bucket; exact cosine verifies. Output: (id_a, id_b, cosine_sim).
    `dim` defaults to the length of the first non-NULL vector.

    The n_tables x n_planes sign projections are ONE Arrow-batched numpy
    matmul per record batch — the per-row cost an interpreted Catalyst
    dot product per hyperplane would pay is the operator's hot spot.

    Shuffle discipline: the bucket self-join (dedup._band_join) moves
    only narrow (id, table, bkey) rows; vectors are joined back for the
    cosine verify (dedup._verify) of candidates only — at 10^9 vectors
    the banding shuffle stays ~GBs instead of the corpus size.

    Bit-identical vectors are collapsed to their min-id representative
    before banding (dedup._collapse_exact) — (rep, member) star
    candidate pairs, O(k) not O(k^2) per exact-duplicate group. The
    collapse groups on xxhash64(vector) so only (id, 8-byte hash) rides
    its shuffle, and star candidates go through the SAME exact-cosine
    verify as banding candidates — a hash collision between different
    vectors therefore yields a correctly-filtered pair, never a false
    duplicate claim.

    NULL vectors and vectors of the wrong length never band (they cannot
    be near-duplicates of anything; they are skipped instead of failing
    the job)."""
    from pyspark.sql.functions import pandas_udf

    from typical_spark.operators.dedup import (
        _band_join,
        _collapse_exact,
        _ensure_parallelism,
        _verify,
    )

    if dim is None:
        first = df.where(F.col(vec_col).isNotNull()).select(vec_col).first()
        dim = len(first[0]) if first is not None else 0
    allv = _ensure_parallelism(df).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    )
    base, star_cand = _collapse_exact(
        allv, "_id",
        F.when(F.col("_v").isNull(), F.lit(None).cast("long"))
        .otherwise(F.xxhash64("_v")),
    )
    base = base.where(F.col("_v").isNotNull() & (F.size("_v") == dim))
    rng = np.random.default_rng(seed)
    planes_t = rng.standard_normal((n_tables * n_planes, dim)).T
    weights = 1 << np.arange(n_planes - 1, -1, -1, dtype=np.int64)

    @pandas_udf("array<long>")
    def bucket_keys(vecs: pd.Series) -> pd.Series:
        # ((batch x dim) @ (dim x tables*planes)) sign bits -> one key per
        # table. base pre-filters NULL/wrong-length vectors, but stay
        # defensive: a stray bad element must yield a NULL key array
        # (row silently unbanded), never crash the task
        vals = vecs.to_numpy()
        ok = np.array(
            [v is not None and len(v) == planes_t.shape[0] for v in vals]
        )
        out = np.empty(len(vals), dtype=object)
        if ok.any():
            m = np.stack(vals[ok])  # (n_ok, dim)
            bits = (m @ planes_t) >= 0  # (n_ok, tables*planes)
            bt = bits.reshape(int(ok.sum()), n_tables, n_planes)
            keys = bt @ weights  # (n_ok, tables) ints
            for j, i in enumerate(np.nonzero(ok)[0]):
                out[i] = keys[j]
        return pd.Series(out)

    # narrow banding rows: the wide vector payload does NOT ride the
    # bucket shuffle (keys are computed map-side, then dropped)
    tagged = base.select(
        "_id",
        F.posexplode(bucket_keys(F.col("_v").cast("array<double>"))),
    ).select(
        "_id", F.col("pos").alias("table"),
        F.col("col").cast("string").alias("bkey"),
    )
    cand = _band_join(
        tagged, tagged, ["table", "bkey"], F.col("l._id") < F.col("r._id")
    )
    # star candidates join the SAME verify as banding candidates (members
    # were semi-joined out of base, so no pair repeats); the verify reads
    # the FULL vector table, since star members are not in `base`
    out = _verify(
        cand.unionByName(star_cand), allv, allv, "_v", "cosine_sim",
        lambda a, b: cosine(a.cast("array<double>"), b.cast("array<double>")),
        names=("va", "vb"),
    )
    return out.where(F.col("cosine_sim") >= cosine_threshold).select(
        "id_a", "id_b", "cosine_sim"
    )


def semantic_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    eps_cosine: float = 0.95,
    sample_size: int = 10_000,
    seed: int = 42,
    index: "IVFIndex | None" = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means cluster blocking, then within-cluster
    cosine eps-ball dedup with keep-first (min-id) semantics — the
    standard "remove semantically redundant web data" pass that
    typically prunes 20-50% of a crawl with no quality loss.

    Keep rule (mirrors the reference's keep-first array-uniqueness
    contract, typic/constraints/array.py:30-87): a row is DROPPED iff
    some SMALLER id in its cell has cosine >= eps_cosine with it,
    regardless of whether that smaller row itself survives — the same
    "equal to an earlier element" scan the reference runs, generalized
    from equality to an eps-ball. This one-sided rule needs no
    connected-components iteration and is deterministic.

    Output: one row per input row — (id_col, kept boolean,
    dup_of nullable) where dup_of is the SMALLEST offending earlier id
    (NULL when kept). NULL vectors are kept (no evidence of redundancy)
    with dup_of NULL.

    Scale shape: blocking is the IVF cell assignment (broadcast-centroid
    codegen expression, zero shuffle); within-cell all-pairs — the
    SemDeDup design point — runs as ONE Arrow kernel per cell
    (groupBy(cell_id).applyInPandas): rows sort by id, normalize once,
    and a row-chunked BLAS matmul (1024-row slabs, so slab x cell is the
    peak memory, never cell x cell) scans each row's STRICTLY-SMALLER-id
    prefix for the first hit — first hit in id order IS the min
    offending id, no pair table ever materializes. This replaces a
    per-pair interpreted-HOF cosine equi-join that collapsed onto a
    single task at n_cells=1 (one join key value = one hash partition;
    measured 130 s on a 4k-row corpus where the kernel takes ~1 s).
    Pick n_cells ~ n/target_cell_size so cells stay 1-10k rows (the
    paper uses 50k clusters for LAION-scale); the one shuffle carries
    (id, vector) per row — inherent, cosine needs the vectors.
    Compose with embedding exact-collapse first at web duplication
    rates, exactly as embedding_near_duplicates does. Documented recall
    limit: an eps-pair whose members quantize into DIFFERENT cells is
    missed (the paper's own approximation); the contract configuration
    uses n_cells=1 where blocking is complete (a single kernel by
    construction — the price of exactness, fine at oracle scale).
    """
    idx = index or IVFIndex.build(
        df, id_col, vec_col, n_cells=n_cells,
        sample_size=sample_size, seed=seed,
    )
    assigned = idx.assigned.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
        "cell_id",
    ).where(F.col("_id").isNotNull() & F.col("_v").isNotNull())
    id_ddl = [f for f in assigned.schema.fields if f.name == "_id"][0]
    id_sql = id_ddl.dataType.simpleString()
    eps = float(eps_cosine)

    def cell_dups(pdf: pd.DataFrame) -> pd.DataFrame:
        order = pdf["_id"].to_numpy().argsort(kind="stable")
        ids = pdf["_id"].to_numpy()[order]
        vecs = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf["_v"].iloc[order]]
        )
        norms = np.linalg.norm(vecs, axis=1, keepdims=True)
        # zero-norm vectors can never reach eps > 0: normalize to 0
        vn = np.divide(vecs, norms, out=np.zeros_like(vecs), where=norms > 0)
        n = len(ids)
        out_b, out_d = [], []
        slab = 1024
        for s in range(1, n, slab):
            e = min(s + slab, n)
            sims = vn[s:e] @ vn.T  # (slab, n): peak memory, never n x n
            for k in range(e - s):
                i = s + k
                # strictly-smaller ids only (duplicate ids never self-match)
                lim = int(np.searchsorted(ids[:i], ids[i], side="left"))
                hits = np.nonzero(sims[k, :lim] >= eps)[0]
                if hits.size:
                    out_b.append(ids[i])
                    out_d.append(ids[int(hits[0])])  # sorted asc: first = min
        return pd.DataFrame({"id_b": out_b, "dup_of": out_d})

    dup_of = assigned.groupBy("cell_id").applyInPandas(
        cell_dups, f"id_b {id_sql}, dup_of {id_sql}"
    )
    return (
        df.select(F.col(id_col))
        .join(dup_of, F.col(id_col) == F.col("id_b"), "left")
        .select(
            id_col,
            F.col("dup_of").isNull().alias("kept"),
            "dup_of",
        )
    )


def semantic_survivors(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **kwargs,
) -> DataFrame:
    """The rows semantic_duplicates keeps, with original columns — the
    drop-in corpus-pruning form (left-semi join on the kept ids; the
    verdict frame stays narrow)."""
    verdict = semantic_duplicates(df, id_col, vec_col, **kwargs)
    kept = verdict.where(F.col("kept")).select(id_col)
    return df.join(kept, id_col, "left_semi")


def quantize_embeddings(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric int8 scalar quantization: per-vector scale = max|x|,
    q_i = round(x_i / scale * 127) in [-127, 127] — the standard 4x
    memory cut for ANN serving (dot products run in int arithmetic,
    reconstruction x ~ q * scale / 127, max error scale/254).

    All arithmetic is element->double FIRST (float32->float64 widening
    is exact), so a SQL engine replaying the same expression gets
    bit-identical codes — oracle-checked. The scale is let-bound via a
    one-element transform (HOF lambdas re-evaluate captured expressions
    per element otherwise — array_max over the vector would go
    quadratic in dimension). Zero/NULL vectors quantize to all-zero
    codes with scale 0.

    Output: (id_col, scale double, q array<tinyint>)."""

    def build(v: Column) -> Column:
        xd = F.transform(v, lambda x: F.abs(x.cast("double")))
        scale = F.coalesce(F.array_max(xd), F.lit(0.0))
        return F.element_at(
            F.transform(
                F.array(F.struct(scale.alias("s"), v.alias("v"))),
                lambda b: F.struct(
                    b["s"].alias("scale"),
                    F.when(
                        b["s"] > 0,
                        F.transform(
                            b["v"],
                            lambda x: F.round(
                                x.cast("double") / b["s"] * 127.0
                            ).cast("tinyint"),
                        ),
                    )
                    .otherwise(
                        F.transform(b["v"], lambda x: F.lit(0).cast("tinyint"))
                    )
                    .alias("q"),
                ),
            ),
            1,
        )

    out = df.select(
        F.col(id_col),
        build(F.col(vec_col)).alias("_qz"),
    )
    return out.select(
        id_col, F.col("_qz.scale").alias("scale"), F.col("_qz.q").alias("q")
    )

"""Physical-plan assertions: the optimizations we claim must be visible
in .explain() output — column pruning reaching the parquet scan, filters
pushed down, broadcast anti-join for referential, no shuffle in the fused
row-level pass, whole-stage codegen covering the check expressions.
These guard against regressions that correctness tests can't see."""

import uuid
from collections import Counter

import pytest
from pyspark.sql import functions as F

from typical_spark import compile_table_spec, report
from typical_spark.operators.referential import referential_violations
from typical_spark.specs import (
    EnumCheck,
    FieldSpec,
    NotNullCheck,
    NumberCheck,
    TableSpec,
    transcript_spec,
)


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet("/root/testdata/sf0.001/events.parquet")


def test_column_pruning_reaches_scan(spark, events):
    """A spec checking 2 of 6 columns must read only those + keys."""
    spec = TableSpec(
        name="events", key_columns=("event_id",),
        fields=(
            FieldSpec("event_type", "string", checks=(NotNullCheck(),)),
            FieldSpec("value", "double", checks=(NumberCheck(ge=0.0),)),
        ),
    )
    plan = compile_table_spec(spec)
    p = report.explain(plan.violations(events, with_message=False))
    # ReadSchema names exactly the referenced columns
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "event_type" in read_schema and "value" in read_schema
    assert "props" not in read_schema and "user_id" not in read_schema


def test_filter_pushdown(spark, events):
    """valid_predicate in a where() must push simple conjuncts into the
    parquet scan (PushedFilters non-empty)."""
    spec = TableSpec(
        name="events", key_columns=("event_id",),
        fields=(FieldSpec("value", "double", nullable=False,
                          checks=(NotNullCheck(),)),),
    )
    plan = compile_table_spec(spec)
    p = report.explain(events.where(plan.valid_predicate()).select("event_id", "value"))
    pushed = [l for l in p.splitlines() if "PushedFilters" in l][0]
    assert "IsNotNull(value)" in pushed


def test_fused_pass_has_no_shuffle(spark, events):
    plan = compile_table_spec(
        TableSpec(
            name="events", key_columns=("event_id",),
            fields=(FieldSpec("event_type", "string",
                              checks=(EnumCheck(values=("click", "view")),)),),
        )
    )
    p = report.explain(plan.violations(events, with_message=False))
    assert "Exchange" not in p  # scan -> project -> filter -> explode only
    assert "codegen id" in p  # the pass has whole-stage codegen spans


def test_violation_arrays_are_evaluated_once(spark, transcripts_df):
    """explode_violations explodes the check array as an expression. A
    Generate over a projected array column makes Spark infer a size() > 0
    filter, which lands below the projection and evaluates every check
    of the row a second time."""
    from typical_spark.operators.ordering import ordering_violations

    plan = compile_table_spec(transcript_spec())
    for out in (
        plan.violations(transcripts_df, with_message=False),
        ordering_violations(transcripts_df, ["conv_id"], "turn_idx", ts_col="ts"),
    ):
        optimized = report.plan(out, "logical").toString()
        assert "size(" not in optimized, optimized


def test_fused_check_arrays_have_no_higher_order_function(spark, transcripts_df):
    """Whole-stage codegen covers every transcript check: the physical
    plans of plan.violations and full_validation hold no lambda. A
    higher-order function (array_compact is a filter with a lambda) is a
    CodegenFallback, so every check inside it runs through the
    expression interpreter, row by row."""
    from typical_spark.pipeline import full_validation
    from typical_spark.sources.transcripts import generate_conversations_pdf

    plan = compile_table_spec(transcript_spec())
    conv = spark.createDataFrame(
        generate_conversations_pdf(transcripts_df.toPandas())[["conv_id"]]
    )
    for out in (
        plan.violations(transcripts_df, with_message=False),
        full_validation(plan, transcripts_df, conv),
    ):
        physical = report.plan(out).toString()
        assert "lambdafunction" not in physical, physical


def test_referential_uses_broadcast_anti_join(spark, events):
    dim = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    out = referential_violations(events, dim, ["user_id"], ["c_custkey"])
    p = report.explain(out)
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    # the fact side must NOT be exchanged (only the broadcast side moves)
    first_exchange = p.find("Exchange")
    assert "BroadcastExchange" in p


def test_transcript_violations_plan_shape(spark, transcripts_df):
    plan = compile_table_spec(transcript_spec())
    p = report.explain(plan.violations(transcripts_df, with_message=False))
    # one fused projection: no joins, no aggregates, no shuffles
    for op in ("Exchange", "SortMergeJoin", "HashAggregate"):
        assert op not in p, f"unexpected {op} in fused pass:\n{p[:2000]}"


def test_lsh_banding_shuffle_is_narrow(spark):
    """The banding self-join exchanges must NOT carry wide payloads:
    no shingle array in the minhash banding exchange, no embedding
    vector in the hyperplane bucket exchange (vectors/shingles join
    back only for candidate verify)."""
    from typical_spark.operators.dedup import minhash_near_duplicates
    from typical_spark.operators.similarity import embedding_near_duplicates

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = report.explain(minhash_near_duplicates(docs, "doc_id", "text"))
    # exchanges that partition by the banding key must be signature-only
    for line in p.splitlines():
        if "Exchange hashpartitioning" in line and "bhash" in line:
            assert "_sh" not in line, f"wide shingle payload in banding shuffle: {line}"

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pe = report.explain(
        embedding_near_duplicates(emb, n_planes=4, n_tables=2)
    )
    for line in pe.splitlines():
        if "Exchange hashpartitioning" in line and "bkey" in line:
            assert "_v" not in line, f"vector payload in bucket shuffle: {line}"


def test_minhash_signature_agg_is_codegen(spark):
    """The 64 min() aggregates must sit inside whole-stage codegen with a
    map-side partial (two HashAggregate nodes around the exchange)."""
    from typical_spark.operators.dedup import minhash_near_duplicates

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = report.explain(minhash_near_duplicates(docs, "doc_id", "text"))
    # partial + final HashAggregate around the signature exchange (the
    # AQE-wrapped formatted plan carries no `codegen id` markers, so we
    # pin the map-side combine via the aggregate pair instead)
    assert p.count("HashAggregate") >= 2
    assert "SortAggregate" not in p and "ObjectHashAggregate" not in p


def test_exact_collapse_uses_partial_min_agg(spark):
    """_exact_group_reps must compute reps via groupBy().min() — a
    map-side partial HashAggregate pair around the exchange — plus an
    equi-join back, never a per-key Window sort (which would put the
    whole largest exact-dup group into a single task's sort)."""
    from typical_spark.operators.dedup import _exact_group_reps

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    reps = _exact_group_reps(docs, "doc_id", F.sha2(F.col("text"), 256))
    p = report.explain(reps)
    assert "Window" not in p, "collapse regressed to a per-key window sort"
    assert p.count("HashAggregate") >= 2, "no partial+final min agg pair"
    assert "min(_id" in p, f"expected min(_id) aggregate in plan:\n{p}"


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed by the join key must SortMergeJoin without any
    Exchange — the co-located-join storage contract (Iceberg bucket(N)
    analog) that makes per-conv operators shuffle-free at scale."""
    from typical_spark.sources.tables import write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(0, 10000).selectExpr("id AS k", "id * 2 AS va")
        b = spark.range(0, 10000).selectExpr("id AS k", "id * 3 AS vb")
        write_bucketed(a, "bk_a", ["k"], n_buckets=8, sort_cols=["k"])
        write_bucketed(b, "bk_b", ["k"], n_buckets=8, sort_cols=["k"])
        j = spark.table("bk_a").join(spark.table("bk_b"), "k")
        p = report.explain(j)
        assert "SortMergeJoin" in p
        assert "Exchange" not in p, "bucketed join must not shuffle"
        assert j.count() == 10000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_bucketed_window_has_no_exchange(spark, transcripts_df):
    """A per-conversation window over a conv_id-bucketed table must run
    scan -> sort -> window with ZERO Exchange: at 10^12 turns this is the
    difference between a local sort and re-shuffling the corpus for
    every per-conv check."""
    from typical_spark.operators.ordering import ordering_violations
    from typical_spark.sources.tables import write_bucketed

    try:
        write_bucketed(
            transcripts_df, "bk_transcripts", ["conv_id"],
            n_buckets=8, sort_cols=["conv_id", "turn_idx"],
        )
        t = spark.table("bk_transcripts")
        out = ordering_violations(
            t.where("conv_id is not null"), ["conv_id"], "turn_idx", ts_col="ts"
        )
        p = report.explain(out)
        assert "Exchange" not in p, "bucketed window must not shuffle"
        assert "Bucketed: true" in p
        out.count()  # executes
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_transcripts")


def test_full_validation_bucketed_window_has_no_exchange_or_sort(
    spark, transcripts_df
):
    """On a table bucketed by conv_id and sorted by (conv_id, turn_idx,
    ts, role), the flagship's conv_id window must read the bucketed scan
    directly: no Exchange and no Sort between them. Losing either costs a
    full-table shuffle or sort at scale."""
    from typical_spark.pipeline import full_validation
    from typical_spark.sources.tables import write_bucketed
    from typical_spark.sources.transcripts import generate_conversations_pdf

    try:
        # one writer task per bucket -> one file per bucket, so the scan
        # can report the declared sort order
        write_bucketed(
            transcripts_df.repartition(8, "conv_id"), "bk_flagship", ["conv_id"],
            n_buckets=8, sort_cols=["conv_id", "turn_idx", "ts", "role"],
        )
        t = spark.table("bk_flagship")
        conv = spark.createDataFrame(
            generate_conversations_pdf(transcripts_df.toPandas())[["conv_id"]]
        )
        plan = compile_table_spec(transcript_spec())
        out = full_validation(plan, t, conv)
        windows = [
            n for n in report.walk(report.plan(out))
            if n.nodeName() == "Window"
            and n.partitionSpec().size() == 1
            and n.partitionSpec().apply(0).toString().split("#")[0] == "conv_id"
        ]
        assert windows, "no Window partitioned by conv_id in the plan"
        for w in windows:
            below = report.walk(w)
            assert [n for n in below if n.nodeName().startswith("Scan parquet")
                    and n.bucketedScan()], "conv_id window does not read the bucketed scan"
            names = [n.nodeName() for n in below]
            assert "Exchange" not in names and "Sort" not in names, names
        out.count()  # executes
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_flagship")


def test_full_validation_dim_check_is_merge_exists(
    spark, transcripts_df, tmp_path
):
    """The referential flag is a correlated EXISTS, planned as a
    sort-merge ExistenceJoin: the dim is scanned once and never
    deduplicated (no Aggregate on its side). On an input not bucketed
    by conv_id the only shuffles are the windows' Exchange on conv_id
    and the dim's own; the join takes the windows' output as it is. A
    dedup of the dim adds an Aggregate and another Exchange."""
    from typical_spark.pipeline import full_validation
    from typical_spark.sources.transcripts import generate_conversations_pdf

    dim_path = str(tmp_path / "conversations")
    spark.createDataFrame(
        generate_conversations_pdf(transcripts_df.toPandas())[["conv_id"]]
    ).write.parquet(dim_path)
    plan = compile_table_spec(transcript_spec())
    out = full_validation(plan, transcripts_df, spark.read.parquet(dim_path))
    nodes = report.walk(report.plan(out))
    names = [n.nodeName() for n in nodes]

    joins = [n for n, name in zip(nodes, names) if name == "SortMergeJoin"]
    assert len(joins) == 1, names
    join_type = joins[0].joinType().toString()
    assert join_type.startswith("ExistenceJoin"), join_type
    dim_side = report.names(joins[0].right())
    assert not [m for m in dim_side if "Aggregate" in m], dim_side
    assert "Exchange" in dim_side, dim_side
    assert "BroadcastExchange" not in names, names
    assert names.count("Exchange") == 2, names
    assert len([m for m in names if m.startswith("Scan parquet")]) == 1, names  # the dim, once
    out.count()  # executes


def _spark_jobs(spark, action) -> int:
    """How many Spark jobs `action()` runs."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4()}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_full_validation_on_co_bucketed_tables_is_one_spark_job(spark, tmp_path):
    """`scaled_dataset` buckets the conversations dim like the
    transcripts (conv_id, same bucket count): the merge join then reads
    each dim bucket beside its fact bucket, so the fused pass has no
    Exchange, no Sort and no broadcast, and `validation_summary` is one
    Spark job. The rows equal those of the plain copies."""
    from typical_spark.pipeline import full_validation, validation_summary
    from typical_spark.sources.transcripts import scaled_dataset

    n, seed, factor, buckets = 2000, 3, 1, 4
    key = f"n{n}_s{seed}_x{factor}_b{buckets}"
    try:
        tdf, cdf = scaled_dataset(
            spark, n, factor, seed=seed, cache_dir=str(tmp_path), buckets=buckets)
        plan = compile_table_spec(transcript_spec())
        out = full_validation(plan, tdf, cdf)
        nodes = report.walk(report.plan(out))
        names = [m.nodeName() for m in nodes]
        for name in ("Exchange", "Sort", "BroadcastExchange"):
            assert name not in names, names
        (join,) = [m for m, name in zip(nodes, names) if name == "SortMergeJoin"]
        assert join.joinType().toString().startswith("ExistenceJoin")
        assert _spark_jobs(spark, lambda: validation_summary(plan, tdf, cdf)) == 1

        plain = full_validation(
            plan,
            spark.read.parquet(str(tmp_path / f"transcripts_n{n}_s{seed}_x{factor}")),
            spark.read.parquet(str(tmp_path / f"conversations_n{n}_s{seed}_x{factor}")),
        )
        assert Counter(map(tuple, out.collect())) == Counter(map(tuple, plain.collect()))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS tx_{key}")
        spark.sql(f"DROP TABLE IF EXISTS cv_{key}")


def test_dim_bucket_count_decides_which_side_moves(spark, transcripts_df, tmp_path):
    """The layout rule for the referential merge join (SCALE.md
    "Bucketed storage"): against a fact bucketed by conv_id into 4, a
    dim bucketed into 4 moves nothing; a plain dim or one with fewer
    buckets (2) is shuffled to the fact's partitioning, and the fact
    does not move; a dim with more buckets (8) makes Spark shuffle and
    sort the fact instead. Every layout gives the same rows."""
    from typical_spark.pipeline import full_validation
    from typical_spark.sources.tables import write_bucketed
    from typical_spark.sources.transcripts import generate_conversations_pdf

    conv = spark.createDataFrame(
        generate_conversations_pdf(transcripts_df.toPandas())[["conv_id"]])
    conv.write.parquet(str(tmp_path / "conversations"))
    layouts = {"plain": (spark.read.parquet(str(tmp_path / "conversations")), "dim")}
    try:
        write_bucketed(transcripts_df, "bk_fact", ["conv_id"], n_buckets=4,
                       sort_cols=["conv_id", "turn_idx", "ts", "role"])
        for b, moves in ((2, "dim"), (4, None), (8, "fact")):
            write_bucketed(conv, f"bk_dim{b}", ["conv_id"], n_buckets=b, sort_cols=["conv_id"])
            layouts[b] = (spark.table(f"bk_dim{b}"), moves)
        plan = compile_table_spec(transcript_spec())
        rows = {}
        for b, (dim, moves) in layouts.items():
            out = full_validation(plan, spark.table("bk_fact"), dim)
            (join,) = [m for m in report.walk(report.plan(out))
                       if m.nodeName() == "SortMergeJoin"]
            moved = {
                side for side, child in (("fact", join.left()), ("dim", join.right()))
                if "Exchange" in report.names(child)
            }
            assert moved == ({moves} if moves else set()), (b, moved)
            rows[b] = Counter(map(tuple, out.collect()))
        assert all(r == rows["plain"] for r in rows.values())
    finally:
        for t in ("bk_fact", "bk_dim2", "bk_dim4", "bk_dim8"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_skew_safe_ordering_windows_turns_by_group_and_chunk(spark, transcripts_df):
    """ordering_violations_skew_safe runs in Catalyst: no Python-eval
    node, and the Window over the turn rows is partitioned by (conv_id,
    chunk), so no task holds more than a chunk of one conversation. The
    chunk window also reads each chunk's last (order, ts), so there is
    no min/max-struct SortAggregate; the one Window on conv_id alone lags
    the chunks' head rows. The chunk window runs under each branch of the
    union (Spark reuses no exchange across them), hence 3 Windows and 3
    Sorts."""
    from typical_spark.operators.ordering import ordering_violations_skew_safe

    out = ordering_violations_skew_safe(transcripts_df, ["conv_id"], "turn_idx", ts_col="ts")
    nodes = report.walk(report.plan(out))
    counts = report.counts(nodes[0])
    assert [counts[k] for k in ("Python", "SortAggregate", "Window", "Sort")] == [0, 0, 3, 3], counts

    def spec(w):
        return [w.partitionSpec().apply(i).toString().split("#")[0]
                for i in range(w.partitionSpec().size())]

    windows = sorted(spec(n) for n in nodes if n.nodeName() == "Window")
    assert windows == [["conv_id"], ["conv_id", "_chunk"], ["conv_id", "_chunk"]], windows


def test_parsed_url_computed_once_per_row(spark):
    """attach_parsed_url's Generate barrier must keep the URL parse at
    ONE evaluation per row: reading N components from an inline
    parse_url() duplicates the whole two-regex tree per output column
    (measured 4x wall time and a ~280 KB plan on the contract query).
    Pin: the executed plan contains the absolute-grammar regex at most
    twice (validity rlike + capture rewrite), not once per component."""
    from typical_spark.functions.net import attach_parsed_url

    df = spark.range(100).select(
        F.concat(F.lit("https://h"), F.col("id"), F.lit(".com/p?q=1")).alias("u")
    )
    parsed = attach_parsed_url(df, F.col("u"), alias="_p")
    out = parsed.select(
        *[F.col("_p")[f].alias(f)
          for f in ("scheme", "auth", "host", "port", "path", "qs", "fragment")]
    )
    p = report.explain(out)
    assert "Generate" in p, "barrier lost: projection collapsed"
    # the scheme group '://' appears once in the rlike + once in the
    # regexp_replace rewrite; per-component duplication would show 7+
    assert p.count("]*)://") <= 2, "URL grammar re-evaluated per component"
    assert out.count() == 100


def test_interval_join_is_hash_join_not_nlj(spark):
    """The bucketized interval join must compile to an equi hash/SMJ
    join on (key, bucket) — NEVER BroadcastNestedLoopJoin, which is
    what the naive range-predicate spelling degenerates to and what
    blows up on hot keys at scale."""
    from typical_spark.operators.interval import interval_join

    pts = spark.range(1000).select(
        (F.col("id") % 7).alias("k"), (F.col("id") * 10.0).alias("ts"),
        F.col("id").alias("pid"),
    )
    ivs = spark.range(200).select(
        (F.col("id") % 7).alias("k"), (F.col("id") * 50.0).alias("start"),
        (F.col("id") * 50.0 + 100.0).alias("end"), F.col("id").alias("iid"),
    )
    out = interval_join(
        pts, ivs, by=["k"], point_ts="ts", start_ts="start",
        end_ts="end", bucket_seconds=100,
    )
    p = report.explain(out)
    assert "NestedLoop" not in p and "CartesianProduct" not in p
    assert ("HashJoin" in p) or ("SortMergeJoin" in p)
    assert out.count() > 0


def test_span_dedup_single_corpus_pass(spark):
    """span_duplicates feeds two branches (distinct-count + join-back)
    from the PERSISTED narrow span table: both must read the cache, so
    the corpus is normalized/windowed/hashed once, not per branch."""
    from typical_spark.operators.dedup import release_cache
    from typical_spark.operators.spans import span_duplicates

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = span_duplicates(docs, "doc_id", "text")
    p = report.explain(out)
    assert p.count("InMemoryTableScan") >= 2
    release_cache(out)


def test_ivf_query_batch_is_equi_join(spark):
    """query_batch's probe must join assignments on cell_id as an EQUI
    join (hash/SMJ) — never CartesianProduct/BroadcastNestedLoopJoin,
    which is what an all-pairs rerank would cost at millions of
    queries."""
    import numpy as np
    import pandas as pd

    from typical_spark.operators.similarity import IVFIndex

    rng = np.random.default_rng(9)
    base = rng.standard_normal((400, 8))
    df = spark.createDataFrame(pd.DataFrame({
        "vec_id": np.arange(400), "embedding": [v.tolist() for v in base],
    }))
    idx = IVFIndex.build(df, n_cells=4, sample_size=200)
    qdf = spark.createDataFrame(pd.DataFrame({
        "query_id": np.arange(50),
        "query_vec": [v.tolist() for v in base[:50]],
    }))
    out = idx.query_batch(qdf, k=3, nprobe=2)
    p = report.explain(out)
    assert "NestedLoop" not in p and "CartesianProduct" not in p
    assert ("HashJoin" in p) or ("SortMergeJoin" in p)


def test_quality_expr_scorer_has_no_shuffle(spark):
    """score_documents_expr claims a single codegen'd projection — the
    scan IS the scorer. Zero Exchange anywhere in the plan; the filter
    (n_tokens > 0) stays in the scan stage."""
    from typical_spark.operators.quality_model import score_documents_expr

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = report.explain(score_documents_expr(docs, "doc_id", "text", dim=8192))
    assert "Exchange" not in p
    assert "codegen id" in p


def test_semantic_duplicates_cell_kernel_plan(spark):
    """SemDeDup's in-cell stage must be ONE Arrow kernel per cell —
    FlatMapGroupsInPandas downstream of a hashpartitioning(cell_id)
    exchange — never a per-pair join (the round-5 rewrite: an equi-join
    on cell_id collapses onto a single task whenever one cell dominates,
    e.g. the oracle's n_cells=1 config)."""
    import numpy as np
    import pandas as pd

    from typical_spark.operators.similarity import semantic_duplicates

    rng = np.random.default_rng(5)
    df = spark.createDataFrame(pd.DataFrame({
        "vec_id": np.arange(200),
        "embedding": [v.tolist() for v in rng.standard_normal((200, 8))],
    }))
    out = semantic_duplicates(df, "vec_id", "embedding", n_cells=2,
                              sample_size=100)
    p = report.explain(out)
    assert "FlatMapGroupsInPandas" in p
    assert "hashpartitioning(cell_id" in p
    assert "NestedLoop" not in p and "CartesianProduct" not in p


def test_ks_by_group_single_source_shuffle(spark):
    """ks_by_group touches the source through exactly ONE aggregation
    exchange into the persisted distinct-cell table; every downstream
    join is broadcast (the grid probe is a BroadcastHashJoin) and the
    cell table is reused via InMemoryTableScan, not rescanned."""
    from typical_spark.operators.drift import ks_by_group

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    p = report.explain(ks_by_group(ev, "value", "event_type"))
    # downstream reads come from the persisted cell table (formatted
    # explain reprints the scan inside each InMemoryRelation block, so
    # a textual scan count can't pin this — the cache reuse can)
    assert p.count("InMemoryTableScan") >= 3
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_psi_by_group_shuffles_only_cells(spark):
    """psi_by_group's only source-fed exchange is the (group, bin) count
    (<= |G| x n_bins cells); joins are broadcast-only."""
    from typical_spark.operators.drift import psi_by_group

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    p = report.explain(psi_by_group(ev, "value", "event_type"))
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert p.count("InMemoryTableScan") >= 3  # cells reused, not rebuilt


def test_global_shuffle_never_global_sorts(spark):
    """global_shuffle's ranking must be per-shard: one hash partition
    exchange on shard, never a range-partition (global sort) or
    single-partition exchange — the difference between n_shards-way
    parallel ranking and one task sorting the corpus."""
    from typical_spark.operators.sampling import global_shuffle

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = report.explain(global_shuffle(docs, "doc_id", n_shards=64))
    assert "hashpartitioning(shard" in p
    assert "rangepartitioning" not in p
    assert "SinglePartition" not in p


def test_partition_digests_shuffles_sketches_not_values(spark):
    """partition_digests is one native grouped aggregate: no Python-eval
    node, and its only Exchange sits above a partial aggregate, so the
    shuffle carries per-task quantile summaries, never the values."""
    from typical_spark.operators.drift import partition_digests

    df = spark.range(2000).select(
        (F.col("id") % 4).alias("g"), (F.col("id") * 0.5).alias("v")
    )
    nodes = report.walk(report.plan(partition_digests(df, "v", "g")))
    names = [n.nodeName() for n in nodes]
    assert report.counts(nodes[0])["Python"] == 0, names
    exchanges = [n for n, name in zip(nodes, names) if "Exchange" in name]
    assert len(exchanges) == 1, names
    partial = exchanges[0].child()
    assert partial.nodeName().endswith("Aggregate"), names
    modes = {
        partial.aggregateExpressions().apply(i).mode().toString()
        for i in range(partial.aggregateExpressions().size())
    }
    assert modes == {"Partial"}, modes


def test_partition_digests_evaluate_the_value_once(spark):
    """The NaN-to-NULL value is projected once below the aggregate, not
    inlined into both `count` and `percentile_approx`."""
    from typical_spark.operators.drift import partition_digests

    df = spark.range(2000).select(
        (F.col("id") % 4).alias("g"), (F.col("id") * 0.5).alias("v")
    )
    optimized = report.plan(partition_digests(df, "v", "g"), "logical").toString()
    assert optimized.count("nanvl(") == 1, optimized

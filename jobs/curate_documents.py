"""Cluster entrypoint: curate a document corpus for training.

    spark-submit --py-files typical_spark.zip \
        jobs/curate_documents.py \
        --input  <parquet dir | iceberg://cat.db.documents> \
        --out    <output dir | iceberg://cat.db> \
        [--id-col doc_id] [--text-col text] [--lang-col lang] \
        [--jaccard 0.8] [--min-logprob -3.45] \
        [--strata en=0.5,zh=1.0] [--default-fraction 1.0] \
        [--budget 2048] [--n-shards 64] \
        [--splits train=0.98,val=0.01,test=0.01]

The standard curation pipeline, each stage an oracle-verified operator:

    1. near-dup removal     keep-first survivors of minhash-LSH pairs
                            (dedup.minhash_near_duplicates + survivors)
    2. LM quality gate      drop documents below --min-logprob on the
                            add-k bigram model (bigram_logprob_score),
                            or --lm-keep-buckets head,middle for the
                            CCNet per-language bucket form (rank_buckets)
    3. mixture rebalance    exact-count stratified sampling per language
                            (sampling.stratified_sample)
    4. split assignment     deterministic hash split (sampling.hash_split)
    5. sequence packing     concat-and-split spans (packing.pack_sequences)

Outputs under --out: survivors/ (curated corpus + split + LM score) and
packing/ (doc -> sequence spans for the train split). Each stage's
row counts are printed as one JSON line for pipeline monitoring.

All stages are deterministic functions of the ids/text, so re-running
produces byte-identical curation decisions (audit/resume story); at
open-web scale train the LM counts on a hash_sample and persist the
corpus banding table between daily runs (see
dedup.minhash_cross_duplicates for the incremental variant).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _parse_weights(s: str) -> dict[str, float]:
    out: dict[str, float] = {}
    for part in s.split(","):
        if not part:
            continue
        name, _, w = part.partition("=")
        out[name] = float(w)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--lang-col", default="lang")
    ap.add_argument("--jaccard", type=float, default=0.8)
    ap.add_argument("--min-logprob", type=float, default=None,
                    help="drop docs with avg bigram logprob below this; "
                         "omit to skip the LM gate")
    ap.add_argument("--lm-keep-buckets", default=None,
                    help="CCNet-style alternative to --min-logprob: rank "
                         "each language's docs by LM score into "
                         "head/middle/tail (sampling.rank_buckets) and "
                         "keep only the named buckets, e.g. "
                         "'head,middle'. Unscored (<2-token) and "
                         "NULL-language docs pass through (no score/"
                         "bucket identity is not a drop verdict).")
    ap.add_argument("--strata", default="",
                    help="lang=frac[,lang=frac...] exact-count keep "
                         "fractions; omit to skip rebalancing")
    ap.add_argument("--default-fraction", type=float, default=1.0)
    ap.add_argument("--splits", default="train=0.98,val=0.01,test=0.01")
    ap.add_argument("--budget", type=int, default=2048)
    ap.add_argument("--n-shards", type=int, default=64)
    ap.add_argument("--length-col", default="n_chars",
                    help="token/length column used for packing")
    ap.add_argument("--strip-spans", type=int, default=None, metavar="W",
                    help="remove duplicated W-token spans (keep-first) "
                         "from survivor documents before the LM gate; "
                         "omit to skip span-level dedup")
    ap.add_argument("--checkpoint-dir", default=None,
                    help="stage-level resume directory: completed stages "
                         "(dedup_survivors, span_stripped, lm_gated, "
                         "rebalanced) reload from parquet instead of "
                         "recomputing")
    ap.add_argument("--fail-after-stage", default=None,
                    help=argparse.SUPPRESS)  # kill-and-resume test hook
    args = ap.parse_args(argv)
    if args.min_logprob is not None and args.lm_keep_buckets:
        ap.error("--min-logprob and --lm-keep-buckets are alternative "
                 "LM gates; pass one")

    # getOrCreate() would apply runtime confs to an ALREADY-RUNNING
    # session (permanently flipping ANSI off for a host embedding this
    # job next to other workloads); only configure a session we create
    spark = SparkSession.getActiveSession() or (
        SparkSession.builder.appName("typical-spark-curate")
        .config("spark.sql.session.timeZone", "UTC")
        # pinned tz: NTZ<->epoch conversions (watermarks, durations)
        # must agree across driver, executors, and oracles
        .config("spark.sql.ansi.enabled", "false")  # throughput knob
        .getOrCreate()                              # engine is ANSI-safe
    )

    from typical_spark.functions.text_analysis import bigram_logprob_score
    from typical_spark.operators.dedup import (
        minhash_near_duplicates,
        near_dup_survivors,
    )
    from typical_spark.operators.packing import pack_sequences
    from typical_spark.operators.sampling import hash_split, stratified_sample
    from typical_spark.sources.tables import read_target, sub_target, write_output

    docs = read_target(spark, args.input)
    counts = {"input": docs.count()}

    ck = None
    if args.checkpoint_dir:
        from typical_spark.checkpoint import StageCheckpoint

        # every argument a staged output depends on: resuming with a
        # changed value must fail loudly, not reload stale stage data
        ck = StageCheckpoint(spark, args.checkpoint_dir, fingerprint={
            "input": args.input, "id_col": args.id_col,
            "text_col": args.text_col, "lang_col": args.lang_col,
            "jaccard": args.jaccard, "min_logprob": args.min_logprob,
            "lm_keep_buckets": args.lm_keep_buckets,
            "strata": args.strata,
            "default_fraction": args.default_fraction,
            "strip_spans": args.strip_spans,
        })

    def run_stage(name, thunk, bound=False):
        """Materialize one pipeline stage. With --checkpoint-dir the
        stage goes through StageCheckpoint: written to parquet once,
        reloaded (not recomputed) on resume. Without it, behavior is the
        classic in-memory pipeline; `bound=True` stages cut lineage with
        localCheckpoint (they feed several downstream scans)."""
        if ck is not None:
            df, resumed = ck.stage(name, thunk)
            if resumed:
                counts[name + "_resumed"] = True
        else:
            df = thunk()
            if bound:
                owned = list(getattr(df, "_owned_cache", []))
                df = df.localCheckpoint()
                for c in owned:  # stage materialized -> caches are done
                    c.unpersist(blocking=False)
        if args.fail_after_stage == name:
            raise RuntimeError(f"injected failure after stage {name!r}")
        return df

    def _dedup():
        pairs = minhash_near_duplicates(
            docs, args.id_col, args.text_col, jaccard_threshold=args.jaccard
        )
        kept = near_dup_survivors(docs, args.id_col, pairs)
        # hand the shingle cache to the materializer for release
        kept._owned_cache = list(getattr(pairs, "_owned_cache", []))
        return kept

    kept = run_stage("dedup_survivors", _dedup, bound=True)
    counts["after_dedup"] = kept.count()

    if args.strip_spans is not None:
        from typical_spark.operators.spans import strip_duplicate_spans

        base_s = kept
        w = args.strip_spans

        def _strip():
            # boilerplate spans removed keep-first BEFORE the LM gate
            # (the gate should score what training will actually see);
            # cleaned text is the kept windows of the NORMALIZED stream,
            # so only documents that actually lost a span are rewritten
            # — untouched documents keep their raw text and length
            s = strip_duplicate_spans(
                base_s, args.id_col, args.text_col, span_tokens=w
            )
            joined = base_s.join(
                s.select(args.id_col, "clean_text", "n_dropped"),
                args.id_col, "left",
            )
            stripped = F.col("n_dropped").isNotNull() & (F.col("n_dropped") > 0)
            result = (
                joined
                .withColumn(
                    args.text_col,
                    F.when(stripped, F.col("clean_text"))
                    .otherwise(F.col(args.text_col)),
                )
                .withColumn(
                    args.length_col,
                    F.when(stripped, F.length(F.col(args.text_col)))
                    .otherwise(F.col(args.length_col)),
                )
                .drop("clean_text")
            )
            # hand strip_duplicate_spans' persisted keyed-window table to
            # the materializer — the join result, not `s`, is what the
            # stage materializes, so the cache handle must ride on it
            result._owned_cache = list(getattr(s, "_owned_cache", []))
            return result

        # bound: the stripped table feeds the span_stripped_docs count,
        # the LM gate, and the final writes — materialize once
        kept = run_stage("span_stripped", _strip, bound=True)
        counts["span_stripped_docs"] = kept.where(
            F.col("n_dropped").isNotNull() & (F.col("n_dropped") > 0)
        ).count()
        kept = kept.drop("n_dropped")

    if args.min_logprob is not None or args.lm_keep_buckets:
        base = kept

        def _lm_gate():
            lm = bigram_logprob_score(base, args.id_col, args.text_col)
            # LEFT join: docs with <2 tokens have no defined LM score
            # and must not be silently deleted by the gate — they pass
            # through rather than riding an inner join to /dev/null
            joined = base.join(
                lm.select(args.id_col, "avg_logprob", "ppl"),
                args.id_col, "left",
            )
            if args.lm_keep_buckets:
                from typical_spark.operators.sampling import rank_buckets

                labels = ("head", "middle", "tail")
                keep = {s.strip() for s in args.lm_keep_buckets.split(",")
                        if s.strip()}
                unknown = keep - set(labels)
                if unknown:
                    raise ValueError(
                        f"--lm-keep-buckets: unknown bucket(s) {sorted(unknown)}; "
                        f"valid: {labels}"
                    )
                # rank_buckets needs a score AND a language identity;
                # rows lacking either pass through (same policy as the
                # unscored path of the threshold gate / the NULL-lang
                # path of the rebalance stage)
                scored = joined.where(
                    F.col("avg_logprob").isNotNull()
                    & F.col(args.lang_col).isNotNull()
                )
                passthrough = joined.where(
                    F.col("avg_logprob").isNull()
                    | F.col(args.lang_col).isNull()
                )
                b = rank_buckets(
                    scored, args.id_col, "avg_logprob",
                    group_col=args.lang_col, n_buckets=3,
                    labels=labels, ascending=False,
                )
                return (
                    b.where(F.col("bucket_label").isin(*sorted(keep)))
                    .drop("bucket", "bucket_label")
                    .unionByName(passthrough)
                )
            return joined.where(
                F.col("avg_logprob").isNull()
                | (F.col("avg_logprob") >= args.min_logprob)
            )

        kept = run_stage("lm_gated", _lm_gate)
        # every unscored doc passes the gate, so the output counts them
        counts["lm_unscored_kept"] = kept.where(
            F.col("avg_logprob").isNull()
        ).count()
        counts["after_lm_gate"] = kept.count()

    strata = _parse_weights(args.strata)
    if strata:
        base2 = kept

        def _rebalance():
            # stratified_sample excludes NULL-stratum rows (no identity
            # to rank within); a NULL lang is "undetected", not "drop
            # me" — keep those rows whole
            null_lang = base2.where(F.col(args.lang_col).isNull())
            return stratified_sample(
                base2, args.id_col, args.lang_col, strata,
                default_fraction=args.default_fraction,
            ).drop("stratum_n", "rank").unionByName(null_lang)

        kept = run_stage("rebalanced", _rebalance)
        counts["null_lang_kept"] = kept.where(
            F.col(args.lang_col).isNull()
        ).count()
        counts["after_rebalance"] = kept.count()

    splits = [(n, w) for n, w in _parse_weights(args.splits).items()]
    curated = hash_split(kept, args.id_col, splits)
    write_output(curated, sub_target(args.out, "survivors"), mode="overwrite")

    # pack the split NAMED train if present, else the first listed one
    split_names = [n for n, _ in splits]
    pack_split = "train" if "train" in split_names else split_names[0]
    train = curated.where(F.col("split") == pack_split)
    packed = pack_sequences(
        train, args.id_col, args.length_col,
        budget=args.budget, n_shards=args.n_shards,
    )
    write_output(packed, sub_target(args.out, "packing"), mode="overwrite")
    counts["train_docs"] = train.count()
    counts["packed_rows"] = packed.count()
    print(json.dumps(counts))
    return 0


if __name__ == "__main__":
    sys.exit(main())

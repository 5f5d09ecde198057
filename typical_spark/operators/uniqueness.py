"""Key-uniqueness checking and dedup — the table-level generalization of
the reference's array dedup kernel (typic/constraints/array.py:30-87
`unique_fast`/`unique_slow`: order-preserving keep-first semantics; and
its *mutating* dedup-don't-reject contract, array.py:139-141).

Scale design
------------
`duplicate_key_counts` is a plain groupBy().count(): Spark's hash
aggregate does map-side partial aggregation, so even a very hot key sends
at most one partial row per input partition to the shuffle — this is the
skew-safe default for *detection*.

`duplicate_rows` / `dedup_keep_first` need per-row ranking, which a bare
`Window.partitionBy(keys)` would hash-shuffle; a pathologically hot key
(10^8 duplicates of one (conv_id, turn_idx) at 10^12 scale) would pin one
task. The salted two-phase variant (salt_buckets > 1) bounds any task at
~|dups|/salt_buckets rows:
  phase 1: window over (keys…, salt) — picks each salt-bucket's local
           first and counts bucket-local rows;
  phase 2: window over (keys…) on the tiny survivor set (≤ salt_buckets
           rows per key) to pick the global first.
This is the "salted repartition + window dedup" named by BASELINE.json's
north_star; Catalyst/AQE does not salt window partitions itself
(SURVEY.md §4.2 item 3), so it is hand-built here.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from typical_spark.plans.validation import keyed_entry
from typical_spark.sql_text import path, string


def keep_first_rank(keys: Sequence[str], order_by: Sequence[str] | None) -> str:
    """1-based position of a row among the rows sharing its `keys`, in
    `order_by` order (SQL text of a window function): rank 1 is the kept
    first occurrence, every rank > 1 a duplicate. Without `order_by` the
    rank among tied rows is arbitrary (a constant sort key)."""
    order = ", ".join(map(path, order_by)) if order_by else "1"
    return (f"row_number() OVER (PARTITION BY {', '.join(map(path, keys))} "
            f"ORDER BY {order})")


def unique_key_check(keys: Sequence[str], rank: str) -> dict[str, str]:
    """The unique-key check as a fused-array entry, by check id: a row
    whose `keep_first_rank` (`rank`, SQL text) is > 1 repeats an earlier
    row's `keys`. Reported on the last key column, with the rank as the
    observed value."""
    return keyed_entry("unique_key", f"{rank} > 1", keys[-1],
                       f"CAST({rank} AS STRING)", string(f"unique {tuple(keys)}"))


def duplicate_key_counts(
    df: DataFrame, keys: Sequence[str], min_count: int = 2
) -> DataFrame:
    """Keys appearing >= min_count times. Output: keys…, n_rows."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .where(F.col("n_rows") >= min_count)
    )


def duplicate_rows(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str] | None = None,
    salt_buckets: int = 1,
) -> DataFrame:
    """Rows that are duplicates beyond the kept-first occurrence
    (keep-first per `order_by`, mirroring array.py:30-43 order-preserving
    dedup). Output: df columns + dup_rank (>=2).

    The duplicate KEY set comes first, from a plain groupBy count —
    map-side partial aggregation makes this skew-proof and cheap — and
    only the rows of those keys are windowed (a null-safe semi-join;
    AQE broadcasts the key set when it is small).
    Ranking therefore touches ~2x the duplicate rows instead of the whole
    table: at 0.5% duplicates that is a 100x cut of window input. The
    salted path then only ever runs on the (small) candidate set, purely
    as pathological-hot-key insurance.
    """
    dup_keys = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_kn"))
        .where(F.col("_kn") > 1)
        .select(*[F.col(k).alias(f"_dk_{k}") for k in keys])
    )
    cond = F.lit(True)
    for k in keys:
        cond = cond & F.col(k).eqNullSafe(F.col(f"_dk_{k}"))
    df = df.join(dup_keys, cond, "inner").drop(*[f"_dk_{k}" for k in keys])
    if salt_buckets <= 1:
        return (
            df.withColumn("dup_rank", F.expr(keep_first_rank(keys, order_by)))
            .where(F.col("dup_rank") > 1)
        )
    # Salted: global rank = rows in earlier salt buckets + local rank.
    # Salt must be deterministic for resumability -> hash of the key +
    # cheap order columns (never the payload text: hashing wide columns
    # costs more than the window it protects).
    salt_cols = [*keys, *(order_by or [])]
    salt = F.pmod(F.xxhash64(*salt_cols), F.lit(salt_buckets))
    sdf = df.withColumn("_salt", salt)
    local = sdf.withColumn("_lrank", F.expr(keep_first_rank([*keys, "_salt"], order_by)))
    # survivor set: one row per (key, salt) carrying its bucket size
    wcnt = Window.partitionBy(*keys, "_salt")
    local = local.withColumn("_bucket_n", F.count(F.lit(1)).over(wcnt))
    # offset of each salt bucket within the key group (tiny: <= salt_buckets
    # rows per key reach this window). Buckets are ordered by their local
    # FIRST row's order_by values (tie-break by salt), so offset-0's local
    # first IS the global keep-first — without this, rank 1 would be salt
    # bucket 0's first, which is wrong whenever duplicates differ in
    # order_by. Ranks >= 2 remain bucket-interleaved (deterministic, but
    # not the exact global order positions — callers use rank 1 vs rest).
    head_order = [c for c in (order_by or [])]
    heads = (
        local.where(F.col("_lrank") == 1)
        .select(*keys, *head_order, "_salt", "_bucket_n")
    )
    wofs = (
        Window.partitionBy(*keys)
        .orderBy(*[F.col(c) for c in head_order], "_salt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = heads.withColumn(
        "_offset", F.coalesce(F.sum("_bucket_n").over(wofs), F.lit(0))
    ).select(*keys, "_salt", "_offset")
    # null-safe equi-join: NULL keys are legitimate groups here (their
    # not-null-ness is a different check's business), so <=> not =
    ofs = offsets
    for c in [*keys, "_salt"]:
        ofs = ofs.withColumnRenamed(c, f"_r_{c}")
    cond = F.lit(True)
    for c in [*keys, "_salt"]:
        cond = cond & F.col(c).eqNullSafe(F.col(f"_r_{c}"))
    out = (
        local.join(ofs, cond, "inner")
        .withColumn("dup_rank", (F.col("_offset") + F.col("_lrank")).cast("int"))
        .where(F.col("dup_rank") > 1)
        .drop("_salt", "_lrank", "_bucket_n", "_offset",
              *[f"_r_{c}" for c in [*keys, "_salt"]])
    )
    return out


def dedup_keep_first(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str] | None = None,
) -> DataFrame:
    """Mutating dedup (the reference's array-unique contract): keep the
    first row per key under order_by, drop the rest."""
    return (
        df.withColumn("_rn", F.expr(keep_first_rank(keys, order_by)))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )

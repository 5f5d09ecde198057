"""Table IO seam.

Batch reads are plain `spark.read.parquet` over the driver-provided
testdata (TESTDATA.md). The same functions take an `iceberg://catalog.db`
style locator so a cluster deployment swaps in
`spark.read.format("iceberg").load(...)` / `df.writeTo(...).append()`
without touching operator code; the local harness has no Iceberg jar, so
that branch is exercised only when the runtime provides it.

Scans stay declarative: callers `.select()` the columns they check and put
partition-prunable filters in `.where()`, so Catalyst pushes both into the
parquet/Iceberg scan (verify with .explain(): PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if sf_dir.startswith("iceberg://"):
        return spark.read.format("iceberg").load(f"{sf_dir[len('iceberg://'):]}.{name}")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in TABLE_NAMES}


def read_target(spark: SparkSession, locator: str) -> DataFrame:
    """One table by locator: `iceberg://catalog.db.table` or a parquet path."""
    if locator.startswith("iceberg://"):
        return spark.read.format("iceberg").load(locator[len("iceberg://"):])
    return spark.read.parquet(locator)


def sub_target(out: str, name: str) -> str:
    """Locator of output table `name` under the root `out`:
    `iceberg://cat.db` -> `iceberg://cat.db.name` (Iceberg identifiers
    take '.' separators; a '/' would make an unparseable multipart
    name), a directory -> `<out>/name`."""
    if out.startswith("iceberg://"):
        return f"{out.rstrip('.')}.{name}"
    return f"{out.rstrip('/')}/{name}"


def write_output(df: DataFrame, target: str, mode: str = "append") -> None:
    """Violations / verdicts / manifest sink. Iceberg `writeTo(...).append()`
    on a cluster; parquet locally."""
    if target.startswith("iceberg://"):
        w = df.writeTo(target[len("iceberg://"):])
        w.append() if mode == "append" else w.createOrReplace()
    else:
        df.write.mode("append" if mode == "append" else "overwrite").parquet(target)


def recover_swap(target: str) -> None:
    """Finish a `swap_in` that a crash cut short: an aside copy with no
    target is the whole old table, so it moves back; an aside copy next
    to the target is stale. A new copy that never moved in is dropped.
    Call before reading a table that `swap_in` rewrites."""
    # fixed sibling names, so that a later call finds them
    tmp, aside = target.rstrip("/") + ".swap_tmp", target.rstrip("/") + ".swap_old"
    if os.path.isdir(aside):
        if os.path.isdir(target):
            shutil.rmtree(aside)
        else:
            os.rename(aside, target)
    shutil.rmtree(tmp, ignore_errors=True)


def swap_in(df: DataFrame, target: str) -> None:
    """Replace the parquet directory `target` with `df`'s rows, safely
    under a crash at any point: write the new copy beside the target,
    rename the old copy aside, rename the new copy in, drop the aside
    copy. Until the new copy is in, the old rows stay whole in the
    target or its aside copy (see `recover_swap`). `df` may read the
    target: it is fully written before the target moves."""
    recover_swap(target)
    tmp, aside = target.rstrip("/") + ".swap_tmp", target.rstrip("/") + ".swap_old"
    df.write.mode("overwrite").parquet(tmp)
    if os.path.isdir(target):
        os.rename(target, aside)
    os.rename(tmp, target)
    shutil.rmtree(aside, ignore_errors=True)


def merge_keyed(df: DataFrame, target: str, key_cols: list[str]) -> None:
    """Exactly-once keyed upsert through the TableIO seam: rows in `df`
    REPLACE any existing target rows with the same key; everything else
    is retained. Re-applying the same batch is therefore a no-op — the
    idempotent-append primitive a retried foreachBatch micro-batch
    needs (streaming/incremental.py), where a plain .mode('append')
    duplicates rows on redelivery.

    iceberg:// targets run a real MERGE INTO (WHEN MATCHED UPDATE SET *
    / WHEN NOT MATCHED INSERT *) — atomic snapshot commit, the
    production path. The local-parquet stand-in rewrites the table
    (anti-join old rows on the keys, union the batch) and replaces it
    through `swap_in`, after `recover_swap` has finished any swap a
    crash interrupted: the prior rows survive a crash at any point, so
    the redelivered batch merges onto them. The rewrite is O(table)
    per merge — fine for a sandbox index, wrong at lake scale, which is
    exactly why the seam exists. Missing target == empty table (first
    micro-batch).

    NOTE for repeated merges in one job: the caller must ensure `df` is
    deterministic or materialized (foreachBatch batches are), since the
    stand-in reads the target it is about to replace."""
    if not key_cols:
        raise ValueError("merge_keyed requires at least one key column")
    if target.startswith("iceberg://"):
        tbl = target[len("iceberg://"):]
        spark = df.sparkSession
        df.createOrReplaceTempView("_merge_src")
        on = " AND ".join(f"t.{k} <=> s.{k}" for k in key_cols)
        spark.sql(
            f"MERGE INTO {tbl} t USING _merge_src s ON {on} "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        return
    recover_swap(target)
    merged = df
    if os.path.exists(target):
        existing = df.sparkSession.read.parquet(target)
        keys = df.select(*key_cols).dropDuplicates()
        merged = existing.join(keys, key_cols, "left_anti").unionByName(df)
    swap_in(merged, target)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a table hash-bucketed (and optionally sorted) by its join/
    window keys — the storage-side half of shuffle elimination: two
    tables bucketed by the same keys into the same bucket count join with
    ZERO Exchange (SortMergeJoin reads co-located buckets directly), and
    window/groupBy over the bucket keys skips its shuffle too. This is
    the parquet/warehouse analog of Iceberg's `bucket(N, col)` partition
    transform named in the deployment plan; at 10^12 turns, bucketing
    transcripts AND conversations by conv_id turns every per-conv
    operator from a shuffle into a local sort.

    Uses saveAsTable (bucket metadata lives in the session catalog/
    warehouse — plain .parquet(path) cannot record bucketing). The input
    is first hash-partitioned by the bucket columns into n_buckets
    partitions, so each bucket is written by one task as one file: a
    bucketed scan can report the declared sort order only then."""
    w = df.repartition(n_buckets, *bucket_cols).write.mode(mode).bucketBy(
        n_buckets, *bucket_cols
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a write_bucketed table WITH its bucket metadata (only the
    catalog path preserves it; reading the files directly would lose the
    co-location guarantee and reintroduce the shuffle)."""
    return spark.table(table)

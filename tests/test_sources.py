"""Table-IO seam: output locators, and the bucketed scaled table that
the flagship's Exchange-free plan depends on."""

import collections
import os
import re
import shutil

import pytest
from pyspark.errors import AnalysisException

from typical_spark.sources.tables import sub_target, write_bucketed
from typical_spark.sources.transcripts import scaled_dataset


def test_sub_target_directory():
    assert sub_target("/data/out", "violations") == "/data/out/violations"
    assert sub_target("/data/out/", "violations") == "/data/out/violations"


def test_sub_target_iceberg():
    # '.' separated: writeTo("cat.db/violations") cannot be parsed
    assert sub_target("iceberg://cat.db", "violations") == "iceberg://cat.db.violations"
    assert sub_target("iceberg://cat.db.", "packing") == "iceberg://cat.db.packing"


def test_scaled_dataset_raises_when_bucketed_table_is_unreadable(
    spark, transcripts_df, tmp_path
):
    """A broken bucketed copy must fail the read, not silently serve the
    plain copy: the plain copy has the same rows but plans with an
    Exchange and a Sort under every conv_id window."""
    n, seed, factor, buckets = 100, 7, 1, 2
    root = str(tmp_path)
    small = transcripts_df.limit(n)
    small.write.parquet(os.path.join(root, f"transcripts_n{n}_s{seed}_x{factor}"))
    small.select("conv_id").distinct().write.parquet(
        os.path.join(root, f"conversations_n{n}_s{seed}_x{factor}")
    )
    bdir = os.path.join(root, f"tx_n{n}_s{seed}_x{factor}_b{buckets}")
    os.makedirs(bdir)
    open(os.path.join(bdir, "_SUCCESS"), "w").close()

    with pytest.raises(AnalysisException):
        scaled_dataset(spark, n, factor, seed=seed, cache_dir=root, buckets=buckets)


def test_write_bucketed_writes_one_file_per_bucket(spark):
    """A 4-partition input written into 8 buckets holds one file per
    bucket, not one per input partition: a bucketed scan reports its
    declared sort order only when each bucket is a single file."""
    try:
        write_bucketed(
            spark.range(0, 20000, numPartitions=4), "bk_files", ["id"],
            n_buckets=8, sort_cols=["id"],
        )
        files = spark.table("bk_files").inputFiles()
        # bucket files are named part-<task>-<uuid>_<bucket id>.c000...
        per_bucket = collections.Counter(
            re.search(r"_(\d{5})\.c\d{3}", os.path.basename(f)).group(1)
            for f in files
        )
        assert len(per_bucket) == 8
        assert set(per_bucket.values()) == {1}, per_bucket
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_files")


def test_scaled_dataset_raises_when_a_bucket_holds_two_files(spark, tmp_path):
    """Reading the bucketed table checks one file per bucket id: a
    bucket split over two files scans unsorted, so the Exchange-free
    flagship plan would silently gain a Sort."""
    n, seed, factor, buckets = 300, 5, 1, 2
    root = str(tmp_path)
    tname = f"tx_n{n}_s{seed}_x{factor}_b{buckets}"
    try:
        scaled_dataset(spark, n, factor, seed=seed, cache_dir=root, buckets=buckets)
        bdir = os.path.join(root, tname)
        name = next(f for f in sorted(os.listdir(bdir)) if f.endswith(".parquet"))
        bucket = int(re.search(r"_(\d{5})\.c\d{3}", name).group(1))
        copy = f"part-00099-copy_{bucket:05d}.c000.snappy.parquet"
        shutil.copy(os.path.join(bdir, name), os.path.join(bdir, copy))

        with pytest.raises(RuntimeError, match=f"bucket {bucket} holds 2 files"):
            scaled_dataset(spark, n, factor, seed=seed, cache_dir=root, buckets=buckets)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tname}")
        spark.sql(f"DROP TABLE IF EXISTS cv{tname[2:]}")


def test_scaled_dataset_buckets_the_dimension_like_the_transcripts(spark, tmp_path):
    """The conversations dim is served bucketed by conv_id into the
    transcripts' bucket count and sorted by conv_id, one file per
    bucket, so the referential merge join needs no Exchange; a second
    file in a dim bucket raises as it does for the transcripts."""
    n, seed, factor, buckets = 300, 6, 1, 2
    root = str(tmp_path)
    key = f"n{n}_s{seed}_x{factor}_b{buckets}"

    def layout(table):
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        info = {r["col_name"]: r["data_type"] for r in rows}
        return info["Num Buckets"], info["Bucket Columns"], info["Sort Columns"]

    try:
        tdf, cdf = scaled_dataset(spark, n, factor, seed=seed, cache_dir=root, buckets=buckets)
        assert layout(f"tx_{key}")[:2] == layout(f"cv_{key}")[:2] == ("2", "[`conv_id`]")
        assert layout(f"cv_{key}")[2] == "[`conv_id`]"
        expected = spark.read.parquet(os.path.join(root, f"conversations_n{n}_s{seed}_x{factor}"))
        assert sorted(cdf.collect()) == sorted(expected.collect())

        cdir = os.path.join(root, f"cv_{key}")
        name = next(f for f in sorted(os.listdir(cdir)) if f.endswith(".parquet"))
        bucket = int(re.search(r"_(\d{5})\.c\d{3}", name).group(1))
        copy = f"part-00099-copy_{bucket:05d}.c000.snappy.parquet"
        shutil.copy(os.path.join(cdir, name), os.path.join(cdir, copy))
        with pytest.raises(RuntimeError, match=f"cv_{key} .* bucket {bucket} holds 2 files"):
            scaled_dataset(spark, n, factor, seed=seed, cache_dir=root, buckets=buckets)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS tx_{key}")
        spark.sql(f"DROP TABLE IF EXISTS cv_{key}")

"""Table-IO seam: output locators, and the bucketed scaled table that
the flagship's Exchange-free plan depends on."""

import os

import pytest
from pyspark.errors import AnalysisException

from typical_spark.sources.tables import sub_target
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

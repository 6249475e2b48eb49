"""fan_out (r10.14): scale-adaptive pre-explode repartition.

The optimization must be invisible in results (row multiset unchanged)
and inert at scale (no-op once the scan already has >=
defaultParallelism partitions) — both pinned here, plus the shingle
entry points that now route through it.
"""

from pyspark.sql import functions as F

from streamforge_data_pipeline_spark.functions import fan_out
from streamforge_data_pipeline_spark.operators.minhash import (
    char_shingles,
    shingles_raw,
)


def _docs(spark, n_rows=40):
    return spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta {i} tail{i % 7}")
         for i in range(n_rows)],
        "doc_id long, text string",
    )


def test_fan_out_spreads_narrow_input(spark):
    df = _docs(spark).coalesce(1)
    assert df.rdd.getNumPartitions() == 1
    out = fan_out(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # identical row multiset
    assert sorted(out.collect()) == sorted(df.collect())


def test_fan_out_noop_when_already_wide(spark):
    p = spark.sparkContext.defaultParallelism
    df = _docs(spark, n_rows=4 * p).repartition(p)
    out = fan_out(df)
    # no extra shuffle: partition count unchanged and plan identical
    assert out.rdd.getNumPartitions() == p
    assert out is df


def test_shingle_entry_points_results_unchanged(spark):
    df1 = _docs(spark).coalesce(1)
    wide = _docs(spark).repartition(spark.sparkContext.defaultParallelism)
    for fn, kw in ((shingles_raw, {}), (char_shingles, {"n": 5})):
        narrow_rows = sorted(
            fn(df1, "doc_id", "text", **kw).groupBy("doc_id", "sh")
            .agg(F.count(F.lit(1)).alias("c")).collect()
        )
        wide_rows = sorted(
            fn(wide, "doc_id", "text", **kw).groupBy("doc_id", "sh")
            .agg(F.count(F.lit(1)).alias("c")).collect()
        )
        assert narrow_rows == wide_rows and narrow_rows


def test_fan_out_unreadable_file_size_asks_the_scan(spark, tmp_path, monkeypatch):
    """A file whose size cannot be read (a non-local URI) falls back to
    the scan's partition count instead of assuming the scan is wide."""
    import os

    path = str(tmp_path / "docs")
    _docs(spark).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 1

    def no_size(_path):
        raise OSError("size unknown")

    monkeypatch.setattr(os.path, "getsize", no_size)
    out = fan_out(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

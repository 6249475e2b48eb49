"""session.load() infers each table's parquet schema once per session.

Without a schema, every ``spark.read.parquet`` runs a footer-read job to
infer one; ``load()`` caches the inferred ``StructType`` keyed on the
session, the file's stat and the schema-relevant SQL confs. These tests
pin that the cache saves the job, never serves a stale schema, and never
changes what a read returns.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F, types as T

from streamforge_data_pipeline_spark.session import (
    _NANOS_TS_COLS,
    TESTDATA_TABLES,
    load,
)

from tests.conftest import SF_SMALL
from tests.utils import compare, count_jobs, duckdb_connection


def test_second_load_runs_no_job(spark):
    load(spark, SF_SMALL, "lineitem")
    assert count_jobs(spark, lambda: load(spark, SF_SMALL, "lineitem")) == 0


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load(spark, str(tmp_path), "t").columns == ["a"]

    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    df = load(spark, str(tmp_path), "t")
    assert df.schema == T.StructType([
        T.StructField("b", T.StringType()),
        T.StructField("c", T.DoubleType()),
    ])
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


def test_schema_conf_change_is_inferred_again(spark, tmp_path):
    # a timestamp without a time zone is TIMESTAMP(isAdjustedToUTC=false)
    # in parquet: TimestampNTZ when inferTimestampNTZ is on, else Timestamp
    pq.write_table(
        pa.table({"t": pa.array([0], pa.timestamp("us"))}), str(tmp_path / "ts.parquet")
    )
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        assert load(spark, str(tmp_path), "ts").schema["t"].dataType == T.TimestampNTZType()
        spark.conf.set(key, "false")
        assert load(spark, str(tmp_path), "ts").schema["t"].dataType == T.TimestampType()
    finally:
        spark.conf.set(key, old)


def test_self_join_of_two_loads_matches_duckdb(spark):
    a = load(spark, SF_SMALL, "nation").alias("a")
    b = load(spark, SF_SMALL, "nation").alias("b")
    df = a.join(b, F.col("a.n_regionkey") == F.col("b.n_regionkey")).select(
        F.col("a.n_name").alias("left_name"), F.col("b.n_name").alias("right_name")
    )
    con = duckdb_connection(SF_SMALL)
    try:
        ok, msg = compare(df, con, (
            "SELECT a.n_name AS left_name, b.n_name AS right_name "
            "FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey"
        ))
    finally:
        con.close()
    assert ok, msg


def _uncached(spark, table):
    """What load() returned before the cache: an inferring read plus the
    nanos-timestamp rebuild."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(SF_SMALL, f"{table}.parquet"))
    for c in _NANOS_TS_COLS.get(table, ()):
        if isinstance(df.schema[c].dataType, T.LongType):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    return df


def test_load_equals_uncached_read_on_testdata(spark):
    for table in TESTDATA_TABLES:
        load(spark, SF_SMALL, table)  # the second load reads the cached schema
        got, want = load(spark, SF_SMALL, table), _uncached(spark, table)
        assert got.schema == want.schema, table
        assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect())), table

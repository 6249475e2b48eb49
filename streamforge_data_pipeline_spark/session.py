"""SparkSession factory tuned for this engine.

Used by tests/bench/CLI. The correctness driver passes its *own*
session, so every query in this package is written to be
config-independent: explicit ``try_cast``/``try_to_date`` instead of
relying on ANSI-off, no dependence on ``spark.sql.legacy.*``.

Scale notes (local[32] here, 1000-executor cluster in production):
- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic broadcast conversion.
- shuffle.partitions is a default only; AQE re-coalesces. On a real
  cluster set this ~2-3x total cores.
- maxPartitionBytes 128m keeps scan tasks memory-bounded at any input
  size (100 TB -> ~800k scan tasks, fine for a 1000-executor cluster).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import SparkSession


def get_session(app_name: str = "streamforge-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        # static conf: catalog home for bucketed tables (store.write_bucketed)
        .config("spark.sql.warehouse.dir", "/tmp/streamforge_spark/warehouse")
        .getOrCreate()
    )


ROCKSDB_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def enable_rocksdb_state(spark: SparkSession, enabled: bool = True) -> None:
    """Route streaming state stores through RocksDB instead of the
    default HDFS-backed in-memory provider. Runtime conf — applies to
    queries STARTED after the call (each query latches the provider at
    start). At cluster scale this is the configuration the stateful
    docstrings assume: state lives off-heap in per-partition RocksDB
    instances with incremental snapshot upload to the checkpoint
    location, so keyed state (e.g. dedup_stream's hash -> first_id
    map) is bounded by disk, not executor heap. Verified green for
    both applyInPandasWithState ops in
    tests/test_state_store_providers.py."""
    if enabled:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            ROCKSDB_STATE_PROVIDER,
        )
    else:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


TESTDATA_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)

# The driver's parquet stores TIMESTAMP(NANOS) (pandas-written), which
# Spark's vectorized reader rejects. We read nanos as long (runtime
# conf) and rebuild timestamps via exact integer division — DIV, not
# `/`, because ~1.7e18 ns exceeds double's 2^53 integer range.
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


# Every SQL conf Spark's parquet schema converter reads while inferring
# a file's schema: the same footer can infer differently under each.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
)
# (applicationId, absolute path) -> (file/conf stamp, inferred StructType)
_SCHEMAS: dict[tuple[str, str], tuple[tuple, object]] = {}


def _parquet_schema(spark: SparkSession, path: str):
    """The schema ``spark.read.parquet(path)`` infers, inferred once per
    session, file version and conf; None for a path that is not a local
    regular file (a non-local URI, a directory of parts)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    key = (spark.sparkContext.applicationId, os.path.abspath(path))
    stamp = (
        st.st_mtime_ns,
        st.st_size,
        st.st_ino,
        tuple(spark.conf.get(k) for k in _SCHEMA_CONFS),
    )
    hit = _SCHEMAS.get(key)
    if hit is None or hit[0] != stamp:
        hit = _SCHEMAS[key] = (stamp, spark.read.parquet(path).schema)
    return hit[1]


def load(spark: SparkSession, sf_dir: str, table: str):
    """Read one driver-provided parquet table (TESTDATA.md).

    Schema cache: ``spark.read.parquet(path)`` without a schema runs one
    Spark job per call (the footer read, ``parquet at <unknown>:0``) to
    infer it, and a registry key loads 2-5 tables. So the schema is
    inferred once and later reads pass it with ``spark.read.schema``,
    which runs no job. The cache key is the session
    (``applicationId``), the absolute path, the file's modification
    time, length and inode, and the values of ``_SCHEMA_CONFS``: a
    rewritten file or a different conf infers again. A path that is
    not a local regular file (a remote URI, a directory of parts) is
    inferred on every read. The cache holds the ``StructType``, not
    the DataFrame: every call builds a fresh relation with fresh
    attribute ids, so a key that reads one table twice (a self-join)
    still resolves unambiguously.

    No parallelism floor: each testdata table is ONE single-row-group
    parquet file, so it scans as one input split and pre-shuffle work
    runs on one task. A repartition-to-cores floor was measured (r3)
    and REJECTED: it helps wide-row JVM aggregations slightly
    (rollup_sales 2.7s -> 1.9s) but regresses every Arrow/Python-kernel
    path (embedding_near_dup 0.71s -> 1.28s warm, far worse cold — 32
    Python workers spun up for 2000 rows) and adds an exchange to all
    ~115 plans. At production scale the scan yields >= cores splits and
    the question disappears.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{table}.parquet")
    schema = _parquet_schema(spark, path)
    if schema is None:
        df = spark.read.parquet(path)
        schema = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    from pyspark.sql import functions as F, types as T

    for c in _NANOS_TS_COLS.get(table, ()):
        if isinstance(schema[c].dataType, T.LongType):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    return df

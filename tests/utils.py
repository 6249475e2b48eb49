"""Differential comparison mirroring the driver's correctness gate:
row-count + schema-width + order-insensitive value hash with columns
sorted by name."""

from __future__ import annotations

import math

import duckdb


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    import os

    con = duckdb.connect()
    # Resource bounds, measured at sf1 (see PERF_NOTES r5.9/r5.12):
    # keep DuckDB's DEFAULT memory_limit (80% of RAM) — the heavy
    # recursive-CTE closure oracles genuinely need it (a 24 GB and
    # then a 48 GB cap each pushed keys that pass under the default
    # into temp-spill exhaustion). The historical hard-OOMs under the
    # default limit came from per-CONNECTION state accumulating across
    # a long sweep, fixed by the sweep's fresh-connection-per-key
    # policy, not by shrinking the limit. The temp cap stays: it makes
    # a super-linear oracle (tfidf's quadratic term join) die cleanly
    # at 60 GB instead of taking the disk down (observed: ENOSPC).
    con.sql("SET max_temp_directory_size='60GB'")
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        path = f"{sf_dir}/{t}.parquet"
        # multi-file layouts store each table AS a directory of parts
        # (datagen_star --multi-file); the driver layout is one file
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # strict to ~1 ulp: catches real bugs, ignores sub-1e-9 noise
        return f"{v:.9g}"
    return str(v)


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


def compare(spark_df, con, sql: str) -> tuple[bool, str]:
    s_rows = [tuple(r) for r in spark_df.collect()]
    s_cols = spark_df.columns
    d = con.sql(sql)
    d_rows = d.fetchall()
    d_cols = d.columns
    if sorted(s_cols) != sorted(d_cols):
        return False, f"columns differ: spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return False, f"row count differs: spark={len(s_rows)} duckdb={len(d_rows)}"
    sc, dc = _canon(s_rows, s_cols), _canon(d_rows, d_cols)
    if sc != dc:
        diff = [(a, b) for a, b in zip(sc, dc) if a != b][:3]
        return False, f"values differ, first diffs: {diff}"
    return True, "ok"


def count_jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` runs on this thread, counted under a fresh
    job group once the listener bus has caught up."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))

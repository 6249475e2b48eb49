"""Continuous bounded-state skew profiling: the streaming twin of
operators.skew.heavy_hitters_sketch (E23), closing the profiler loop
for STREAMS — the statistic that decides between interval_join and
interval_join_spread exists batch-side; an unbounded ingestion needs
it maintained incrementally, without ever holding the full key-count
table.

Per micro-batch (foreachBatch — blocking, sequential, per-batch
atomic), the TABLE-state pattern of exact_dedup_stream (state is a
parquet table the engine re-plans aggregations against, not per-key
entries a Python function is invoked over):

1. exact batch counts: ``groupBy(key).count()`` — one partial-agg
   shuffle of the batch only; a hot key collapses map-side.
2. merge: union with the persisted summary, sum counters per key —
   Agarwal et al. 2012's mergeable-summaries property is exactly that
   MG summaries merge by counter addition + re-compaction.
3. compact: if the merged summary exceeds ``capacity`` keys, subtract
   the (capacity+1)-th largest counter from all and drop non-positive
   — the Misra-Gries decrement. The threshold lookup is a bounded
   collect (<= capacity + |batch keys| rows exist by construction;
   only 1 value is collected).
4. commit: overwrite the summary table (localCheckpoint first — we
   overwrite our own input path) and a (total_rows) sidecar.

Guarantee carried across batches (standard MG): for every key,
true_count - N/capacity <= counter <= true_count, with N the TOTAL
rows ever ingested — so any key with share > 1/capacity is present,
and reported counters never overestimate. The one-batch drain with
capacity >= distinct keys performs zero decrements, so counters are
EXACT group counts — which is what makes the drain registry key
(stream_heavy_hitters) DuckDB-oracle-checkable; the bounded-capacity
multi-batch behavior is pytest-asserted against the MG bound.

State size: <= capacity rows on disk, independent of stream length
and key cardinality — this is the 100 TB posture; the exact streaming
alternative (a running groupBy state) grows with distinct keys.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from streamforge_data_pipeline_spark.functions import local_rows

from streamforge_data_pipeline_spark.sources.store import TableStore
from streamforge_data_pipeline_spark.streaming.drain_conf import start_parquet_drain


def _merge_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    store: TableStore,
    key: str,
    summary_table: str,
    capacity: int,
) -> None:
    batch_counts = batch_df.groupBy(key).agg(F.count(F.lit(1)).alias("mg"))
    n_batch = batch_df.count()
    meta_table = f"{summary_table}__meta"
    if os.path.exists(store.path(summary_table)):
        merged = (
            store.read(spark, summary_table)
            .unionByName(batch_counts)
            .groupBy(key)
            .agg(F.sum("mg").alias("mg"))
        )
        prev_n = store.read(spark, meta_table).collect()[0]["total_rows"]
    else:
        merged = batch_counts
        prev_n = 0
    # pin BEFORE the conditional compaction (count action) and the
    # self-path overwrite
    merged = merged.localCheckpoint(eager=True)
    if merged.count() > capacity:
        # the (capacity+1)-th largest counter: bounded collect of ONE
        # value from a summary-sized relation
        thresh = (
            merged.orderBy(F.desc("mg"))
            .limit(capacity + 1)
            .orderBy(F.asc("mg"))
            .limit(1)
            .collect()[0]["mg"]
        )
        merged = (
            merged.withColumn("mg", F.col("mg") - F.lit(thresh))
            .filter(F.col("mg") > 0)
            .localCheckpoint(eager=True)
        )
    store.overwrite(merged, summary_table)
    store.overwrite(
        local_rows(spark, [(prev_n + n_batch,)], "total_rows long"),
        meta_table,
    )


def start_stream_heavy_hitters(
    spark: SparkSession,
    input_dir: str,
    store: TableStore,
    checkpoint_dir: str,
    schema: str,
    key: str = "user_id",
    summary_table: str = "hh_summary",
    capacity: int = 4096,
    max_files_per_trigger: int = 1,
    path_glob_filter: str | None = None,
) -> StreamingQuery:
    """Tail ``input_dir`` for parquet files and maintain the bounded
    Misra-Gries summary table per micro-batch. ``schema`` is the
    stream reader schema (file streams need one declared)."""

    def commit(batch_df: DataFrame, _batch_id: int) -> None:
        _merge_batch(
            batch_df.sparkSession, batch_df, store, key, summary_table,
            capacity,
        )

    return start_parquet_drain(
        spark, input_dir, schema, commit, checkpoint_dir,
        max_files_per_trigger, path_glob_filter,
    )


def top_k(
    spark: SparkSession,
    store: TableStore,
    summary_table: str = "hh_summary",
    key: str = "user_id",
    k: int = 20,
) -> DataFrame:
    """(key, n, share) for the summary's current top-k — the profile a
    planner consults. Shares use the TRUE ingested total (the meta
    sidecar), so they are exact denominators over (possibly
    under-counted, never over-counted) MG numerators."""
    total = store.read(spark, f"{summary_table}__meta").collect()[0][
        "total_rows"
    ]
    return (
        store.read(spark, summary_table)
        .select(
            key,
            F.col("mg").alias("n"),
            F.round(F.col("mg") / F.lit(float(total)), 4).alias("share"),
        )
        .orderBy(F.desc("n"), F.asc(key))
        .limit(k)
    )

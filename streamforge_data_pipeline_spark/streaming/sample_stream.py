"""Continuous bounded-state uniform sampling: the streaming twin of
operators.sampling.bottomk_sample.

An unbounded ingestion needs a fixed-size uniform sample maintained
incrementally — for audit rows, eval-set drawing, or the KMV distinct
estimate — without ever holding more than k rows of state. Bottom-k is
the textbook mergeable sketch for this: bottom-k(A ∪ B) ==
bottom-k(bottom-k(A) ∪ bottom-k(B)) EXACTLY, so per-batch partial
samples merge losslessly and the state after ANY batch slicing of the
same input is byte-identical to the batch operator's output. That
exactness is what lets the drain registry key share the batch key's
DuckDB oracle even for multi-batch drains (most streaming twins can
only oracle their one-batch drain).

Per micro-batch (foreachBatch — blocking, sequential, per-batch
atomic), the TABLE-state pattern of heavy_hitters_stream:

1. batch bottom-k: orderBy(h, id).limit(k) — TakeOrderedAndProject,
   per-partition partial top-k, only k rows move.
2. merge: union with the persisted sample, dedup on id (a key may
   re-arrive), bottom-k again over <= 2k rows.
3. commit: localCheckpoint (we overwrite our own input path), then
   overwrite the sample table.

State size: <= k rows on disk, independent of stream length — the
100 TB posture.

Replay safety without a marker: foreachBatch is at-least-once, but
this merge is IDEMPOTENT by algebra — re-merging a batch re-offers
the same (id, hash) rows, the id-dedup absorbs them, and bottom-k of
an idempotent union is unchanged — so unlike the dedup/SCD2 twins
(whose decision LOGS are append-only and need the marker-gated replay
guard) no replay bookkeeping exists here at all. A crash between the
localCheckpoint and the overwrite leaves the previous committed
sample, and the replayed batch reproduces the identical merge.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from streamforge_data_pipeline_spark.functions import hash60
from streamforge_data_pipeline_spark.sources.store import TableStore
from streamforge_data_pipeline_spark.streaming.drain_conf import start_parquet_drain


def _merge_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    store: TableStore,
    id_col: str,
    table: str,
    k: int,
) -> None:
    h = hash60(F.col(id_col).cast("string"))
    batch_k = (
        batch_df.select(id_col, h.alias("h"))
        .dropDuplicates([id_col])
        .orderBy("h", id_col)
        .limit(k)
    )
    if os.path.exists(store.path(table)):
        merged = (
            store.read(spark, table)
            .unionByName(batch_k)
            .dropDuplicates([id_col])
            .orderBy("h", id_col)
            .limit(k)
        )
    else:
        merged = batch_k
    store.overwrite(merged.localCheckpoint(eager=True), table)


def start_stream_bottomk_sample(
    spark: SparkSession,
    input_dir: str,
    store: TableStore,
    checkpoint_dir: str,
    schema: str,
    id_col: str = "doc_id",
    table: str = "bottomk_sample",
    k: int = 100,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Tail ``input_dir`` for parquet files and maintain the k-row
    bottom-k sample table per micro-batch."""

    def commit(batch_df: DataFrame, _batch_id: int) -> None:
        _merge_batch(batch_df.sparkSession, batch_df, store, id_col, table, k)

    return start_parquet_drain(
        spark, input_dir, schema, commit, checkpoint_dir,
        max_files_per_trigger,
    )


def read_sample(
    spark: SparkSession, store: TableStore, table: str = "bottomk_sample"
) -> DataFrame:
    """The current sample, in (h, id) order."""
    return store.read(spark, table).orderBy("h")


def distinct_estimate(
    spark: SparkSession,
    store: TableStore,
    table: str = "bottomk_sample",
    k: int = 100,
) -> DataFrame:
    """KMV distinct estimate over EVERYTHING ever ingested, computed
    from the k-row state alone (see sampling.kmv_distinct_estimate)."""
    c = float(k - 1) * float(2**60)
    return store.read(spark, table).agg(
        F.count(F.lit(1)).cast("long").alias("n_sample"),
        F.when(F.count(F.lit(1)) < k, F.count(F.lit(1)).cast("long"))
        .otherwise(F.floor(F.lit(c) / F.max("h")).cast("long"))
        .alias("est_distinct"),
    )

"""Continuous training-sequence packing: the streaming twin of
operators.sampling.sequence_pack (E51).

Packing is inherently order-dependent — inserting a document with a
smaller (hash, id) key shifts every later offset in its shard — so
unlike eval_split there is no per-doc assignment that stays fixed
under growth, and pretending otherwise would be wrong. What CAN be
maintained incrementally is the expensive part: the accounting pass.
Each micro-batch tokenizes its documents ONCE and journals the ~16
bytes a doc the pack arithmetic needs (doc_id, shard, h, slot); the
plan itself is re-derived at read time by one window over that
journal (~1% of corpus bytes at 100 TB — no text is ever re-read).

Two properties make the journal the right primitive:

1. **Replay idempotence / crash safety**: the journal is
   batch_id-partitioned with dynamic partition overwrite, so an
   at-least-once redelivery rewrites its own partition with identical
   rows; the read dedups by doc_id (slot is a pure function of the
   doc, so any surviving copy is the same row).
2. **Pinnable plans**: the journal is append-only by batch, so a
   training run pins its pack plan by high-water mark —
   ``read_pack_plan(..., upto_batch=B)`` re-derives the identical
   plan forever (the manifest a run records is just (B, ctx_len)),
   while ingestion keeps appending past it. A one-batch drain equals
   the batch key by construction and shares its oracle verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from streamforge_data_pipeline_spark.operators.sampling import (
    pack_accounting,
    pack_plan,
)
from streamforge_data_pipeline_spark.sources.store import TableStore
from streamforge_data_pipeline_spark.streaming.drain_conf import start_parquet_drain

ACCT_TABLE = "sequence_pack_acct"


def _commit_batch(
    batch_df: DataFrame,
    store: TableStore,
    n_shards: int,
    id_col: str,
    text: str,
    batch_id: int,
) -> None:
    (
        pack_accounting(batch_df, n_shards=n_shards, id_col=id_col, text=text)
        .withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(store.path(ACCT_TABLE))
    )


def read_pack_plan(
    spark: SparkSession,
    store: TableStore,
    ctx_len: int = 2048,
    id_col: str = "doc_id",
    upto_batch: int | None = None,
) -> DataFrame:
    """The pack plan over everything ingested (or over batches <=
    ``upto_batch`` — the pinned-manifest read): equals batch
    sequence_pack on the same corpus. One window over the accounting
    journal; the corpus text is never touched."""
    acct = store.read(spark, ACCT_TABLE)
    if upto_batch is not None:
        acct = acct.filter(F.col("batch_id") <= int(upto_batch))
    return pack_plan(
        acct.dropDuplicates([id_col]).drop("batch_id"),
        ctx_len=ctx_len,
        id_col=id_col,
    )


def start_stream_sequence_pack(
    spark: SparkSession,
    input_dir: str,
    store: TableStore,
    checkpoint_dir: str,
    schema: str,
    n_shards: int = 64,
    id_col: str = "doc_id",
    text: str = "text",
    max_files_per_trigger: int = 1,
    path_glob_filter: str | None = None,
) -> StreamingQuery:
    """Tail ``input_dir`` for document parquet and maintain the pack
    accounting journal incrementally."""

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        _commit_batch(batch_df, store, n_shards, id_col, text, batch_id)

    return start_parquet_drain(
        spark, input_dir, schema, commit, checkpoint_dir,
        max_files_per_trigger, path_glob_filter,
    )

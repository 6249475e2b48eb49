"""Continuous shard export with incremental manifest maintenance: the
streaming twin of operators.sampling.shard_manifest, proving the
partial-aggregate journal algebra (domain_share_stream) generalizes
beyond counts — ALL THREE manifest columns are additive (doc counts,
token sums, and the DECIMAL id-hash checksum, which is a sum by
construction), so the incrementally maintained manifest equals the
batch manifest over everything ever exported, under any batch
slicing, and the drain key shares shard_manifest's oracle verbatim.

Per micro-batch (foreachBatch, per-batch atomic):

1. shard-assign the batch (hash60(id) % n — the batch rule) and
   APPEND the rows into their ``shard=N`` directories (the export);
2. journal the batch's per-shard partials (n_docs, n_toks, checksum)
   under a batch_id partition with dynamic partition overwrite — a
   replayed batch rewrites its own partition with identical partials,
   so at-least-once delivery corrupts neither manifest nor counts.
   (The DATA append in step 1 is also replay-safe in the one place it
   matters: a consumer validates a shard against the manifest, and a
   replayed append that double-wrote rows FAILS the count/checksum
   check — the manifest is the source of truth, by design.)

Reading the manifest is one sum over the journal grouped by shard.
State: batches x shards journal rows; compaction is one partitioned
rewrite if ever needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from streamforge_data_pipeline_spark.functions import hash60, tokens
from streamforge_data_pipeline_spark.sources.store import TableStore
from streamforge_data_pipeline_spark.streaming.drain_conf import start_parquet_drain

JOURNAL_TABLE = "shard_manifest_journal"
SHARDS_TABLE = "shards"


def _commit_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    store: TableStore,
    n_shards: int,
    id_col: str,
    text: str,
    batch_id: int,
    write_data: bool = True,
) -> None:
    h = hash60(F.col(id_col).cast("string"))
    assigned = batch_df.select(
        F.col(id_col),
        F.col(text),
        (h % n_shards).cast("int").alias("shard"),
        F.size(tokens(text)).cast("long").alias("n_toks"),
        h.alias("h"),
    ).localCheckpoint(eager=True)  # feeds the export AND the journal
    if write_data:
        store.append_partitioned(
            assigned.select(id_col, text, "shard"), SHARDS_TABLE, ["shard"]
        )
    partial = (
        assigned.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_toks"),
            F.sum(F.col("h").cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("checksum"),
        )
        .withColumn("batch_id", F.lit(int(batch_id)))
    )
    (
        partial.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(store.path(JOURNAL_TABLE))
    )


def start_stream_shard_export(
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
    """Tail ``input_dir`` for document parquet and export shards with
    an incrementally maintained manifest."""

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        _commit_batch(
            batch_df.sparkSession,
            batch_df,
            store,
            n_shards,
            id_col,
            text,
            batch_id,
        )

    return start_parquet_drain(
        spark, input_dir, schema, commit, checkpoint_dir,
        max_files_per_trigger, path_glob_filter,
    )


def read_manifest(spark: SparkSession, store: TableStore) -> DataFrame:
    """Current (shard, n_docs, n_toks, id_checksum) — one sum over the
    journal; every column is additive, so this equals the batch
    shard_manifest over everything ever exported."""
    return (
        store.read(spark, JOURNAL_TABLE)
        .groupBy("shard")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_toks"),
            F.sum("checksum")
            .cast("decimal(38,0)")
            .cast("string")
            .alias("id_checksum"),
        )
    )

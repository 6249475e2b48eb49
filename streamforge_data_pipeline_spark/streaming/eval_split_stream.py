"""Continuous eval-split maintenance: the streaming twin of
operators.sampling.eval_split_assign (E50), r9 VERDICT #7.

The batch rule ranks docs by (hash60(id), id) within each stratum and
assigns rank <= k_val to 'val', the next k_test to 'test', the rest to
'train'. Two properties make it streamable:

1. **The val/test frontier is a mergeable bottom-K sketch** (K =
   k_val + k_test): any doc in the GLOBAL bottom-K of its stratum is
   necessarily in its own BATCH's bottom-K, so journaling each batch's
   per-stratum bottom-K rows loses nothing — the drained re-rank over
   the union of batch partials equals the batch window over everything
   ever ingested, under any slicing (the stream_bottomk_sample
   algebra, per-stratum).
2. **Assignments are monotone-demoting** (the E50 invariant): a new
   arrival can only push existing docs DOWN (val -> test -> train),
   never promote one — rank by (h, id) only grows as rows are added.
   That is exactly the contamination-safe direction: a doc that has
   ever been visible as 'train' (and may have been trained on) can
   never later claim eval membership; a brand-new doc entering 'val'
   was never trained on. Pytest-pinned in
   tests/test_streaming_eval_split.py.

Per micro-batch (foreachBatch, per-batch atomic, replay-idempotent —
both tables are batch_id-partitioned with dynamic partition overwrite,
so an at-least-once redelivery rewrites its own partition with
identical rows):

1. journal the batch's per-stratum bottom-K candidate rows
   (doc_id, stratum, h) — bounded at strata x K rows per batch;
2. record the batch's (doc_id, stratum) membership — the complement
   that reads back as 'train'.

Reading the current assignment is one window over the (bounded)
candidate journal re-ranked globally, left-joined onto membership with
'train' as the default — strata x K x batches rows ranked, not the
corpus. Compaction, if the journal ever needs it, is one re-rank +
partitioned rewrite keeping only the global bottom-K per stratum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from streamforge_data_pipeline_spark.functions import hash60
from streamforge_data_pipeline_spark.sources.store import TableStore
from streamforge_data_pipeline_spark.streaming.drain_conf import start_parquet_drain

CANDIDATES_TABLE = "eval_split_candidates"
MEMBERS_TABLE = "eval_split_members"


def _commit_batch(
    batch_df: DataFrame,
    store: TableStore,
    stratum: str,
    id_col: str,
    k_val: int,
    k_test: int,
    batch_id: int,
) -> None:
    from pyspark.sql import Window

    h = hash60(F.col(id_col).cast("string"))
    rows = (
        batch_df.select(
            F.col(stratum).alias("stratum"),
            F.col(id_col).alias("doc_id"),
            h.alias("h"),
        )
        .dropDuplicates(["stratum", "doc_id"])
        .withColumn("batch_id", F.lit(int(batch_id)))
        .localCheckpoint(eager=True)  # feeds both tables
    )
    w = Window.partitionBy("stratum").orderBy("h", "doc_id")
    frontier = (
        rows.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k_val + k_test)
        .drop("__rk")
    )
    for df, table in ((frontier, CANDIDATES_TABLE), (rows.drop("h"), MEMBERS_TABLE)):
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(store.path(table))
        )


def read_assignments(
    spark: SparkSession,
    store: TableStore,
    k_val: int = 50,
    k_test: int = 50,
) -> DataFrame:
    """Current (doc_id, source, split) over everything ever ingested —
    equals the batch eval_split_assign on the union corpus. The window
    runs over the BOUNDED candidate journal; membership supplies the
    'train' complement via the default of the left join. A doc
    redelivered across batches dedups by (stratum, doc_id) — same
    contract as the batch rule's dropDuplicates."""
    from pyspark.sql import Window

    cand = (
        store.read(spark, CANDIDATES_TABLE)
        .dropDuplicates(["stratum", "doc_id"])
    )
    w = Window.partitionBy("stratum").orderBy("h", "doc_id")
    ranked = (
        cand.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k_val + k_test)
        .select(
            "stratum",
            "doc_id",
            F.when(F.col("__rk") <= k_val, "val").otherwise("test").alias(
                "__split"
            ),
        )
    )
    members = store.read(spark, MEMBERS_TABLE).dropDuplicates(
        ["stratum", "doc_id"]
    )
    return (
        members.join(ranked, ["stratum", "doc_id"], "left")
        .select(
            "doc_id",
            F.col("stratum").alias("source"),
            F.coalesce("__split", F.lit("train")).alias("split"),
        )
    )


def start_stream_eval_split(
    spark: SparkSession,
    input_dir: str,
    store: TableStore,
    checkpoint_dir: str,
    schema: str,
    stratum: str = "source",
    id_col: str = "doc_id",
    k_val: int = 50,
    k_test: int = 50,
    max_files_per_trigger: int = 1,
    path_glob_filter: str | None = None,
) -> StreamingQuery:
    """Tail ``input_dir`` for document parquet and maintain the
    train/val/test assignment incrementally."""

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        _commit_batch(
            batch_df, store, stratum, id_col, k_val, k_test, batch_id
        )

    return start_parquet_drain(
        spark, input_dir, schema, commit, checkpoint_dir,
        max_files_per_trigger, path_glob_filter,
    )

"""Continuous eval-set decontamination: the streaming twin of
operators.text.decontaminate — arriving TRAIN documents are probed
per micro-batch against a persisted held-out-shingle index; every doc
gets a logged verdict (overlap stats + contaminated flag) and clean
docs are admitted to the train corpus table.

Why a streaming twin: benchmark leakage is a property a training
pipeline must enforce AT INGESTION — by the time a batch decontaminate
runs over an assembled corpus, contaminated shards may already have
shipped. The eval index is STATIC by definition (the held-out set is
fixed before training data is collected), which makes this the
simplest of the ingestion twins: decisions are a pure function of
(batch, eval index), so the commit is idempotent under replay with no
residual window (the exact_dedup_stream argument), and no cross-batch
state grows at all — per-batch cost is flat by construction.

Per micro-batch (foreachBatch — blocking, sequential, per-batch
atomic):

1. eval index ensure: distinct eval-set token 3-grams, built once at
   the first batch and persisted beside the corpus
   (``{log}__eval_shingles``); restarts reuse it (deterministic
   rebuild would produce the identical set).
2. probe: batch docs' distinct shingles equi-join the (broadcast)
   eval index, count hits per doc — the exact decontaminate probe,
   batch-sized.
3. verdict log: one row per doc — (doc_id, n_hits, n_shingles,
   overlap_frac, contaminated). Shingle-less docs (under 3 tokens)
   log n_shingles=0, frac NULL, clean.
4. admit: contaminated=false docs append to the corpus table.

Scale notes: the eval shingle index is held-out-sized (small by
construction; if it outgrows broadcast the join degrades to a
shuffled semi-join with no code change — the batch op's argument);
per-batch work is one shingle aggregation + one probe join over the
BATCH only. The replay guard is marker-gated exactly as
exact_dedup_stream's, so normal batches never pay a log-sized scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from streamforge_data_pipeline_spark.functions import local_rows

from streamforge_data_pipeline_spark.sources.store import TableStore
from streamforge_data_pipeline_spark.streaming.drain_conf import start_parquet_drain


def _ensure_eval_index(
    spark: SparkSession,
    store: TableStore,
    eval_docs: DataFrame,
    index_table: str,
    id_col: str,
    text: str,
) -> None:
    if os.path.exists(store.path(index_table)):
        return
    from streamforge_data_pipeline_spark.operators.minhash import shingles

    store.overwrite(
        shingles(eval_docs, id_col, text).select("sh").distinct(), index_table
    )


def _resolve_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    store: TableStore,
    eval_index_table: str,
    log_table: str,
    corpus_table: str,
    id_col: str,
    text: str,
    batch_id: int | None = None,
    run_id: str | None = None,
) -> None:
    from streamforge_data_pipeline_spark.operators.minhash import shingles
    from streamforge_data_pipeline_spark.streaming.exact_dedup_stream import (
        _replay_guard_decision,
    )

    marker = f"{log_table}__last_batch"
    log_exists = os.path.exists(store.path(log_table))
    guard, owns = _replay_guard_decision(
        spark, store, marker, log_exists, batch_id, run_id
    )
    if guard and log_exists:
        seen = store.read(spark, log_table).select("doc_id")
        batch_df = batch_df.join(
            seen.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
        )
    if batch_id is not None and run_id is not None:
        store.overwrite(
            local_rows(spark, 
                [(run_id, batch_id, owns)],
                "run_id string, batch_id long, owns_store boolean",
            ),
            marker,
        )
    batch_df = batch_df.localCheckpoint(eager=True)

    ev = F.broadcast(store.read(spark, eval_index_table))
    # persist: both aggregates below (sizes + index hits) read the
    # batch shingle set, and lazily each re-ran the tokenize + 3-gram
    # window + distinct chain — the batch's expensive stage (r11).
    # Released right after the verdicts checkpoint materializes.
    sh = shingles(batch_df, id_col, text).persist()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        sh.join(ev, "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    verdicts = (
        batch_df.select(F.col(id_col).alias("doc_id"))
        .join(sizes, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.when(
                F.coalesce("n_shingles", F.lit(0)) > 0,
                F.round(
                    F.coalesce("n_hits", F.lit(0))
                    / F.col("n_shingles").cast("double"),
                    4,
                ),
            ).alias("overlap_frac"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
        # pin decisions before the two appends read through this plan
        .localCheckpoint(eager=True)
    )
    sh.unpersist()  # both consumers materialized by the checkpoint
    store.append(verdicts, log_table)
    clean = verdicts.filter(~F.col("contaminated")).select("doc_id")
    store.append(
        batch_df.join(
            clean.withColumnRenamed("doc_id", id_col), id_col, "left_semi"
        ),
        corpus_table,
    )


def start_stream_decontaminate(
    spark: SparkSession,
    input_dir: str,
    store: TableStore,
    checkpoint_dir: str,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    log_table: str = "decontam_log",
    corpus_table: str = "train_corpus",
    max_files_per_trigger: int = 1,
    path_glob_filter: str | None = None,
) -> StreamingQuery:
    """Tail ``input_dir`` for parquet document files and run the
    probe/verdict/admit pipeline per micro-batch against the static
    ``eval_docs`` held-out set."""
    eval_index_table = f"{log_table}__eval_shingles"
    _ensure_eval_index(spark, store, eval_docs, eval_index_table, id_col, text)
    run_id = os.path.abspath(checkpoint_dir)

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        _resolve_batch(
            batch_df.sparkSession,
            batch_df,
            store,
            eval_index_table,
            log_table,
            corpus_table,
            id_col,
            text,
            batch_id=batch_id,
            run_id=run_id,
        )

    return start_parquet_drain(
        spark, input_dir, f"{id_col} long, {text} string", commit, checkpoint_dir,
        max_files_per_trigger, path_glob_filter,
    )

"""Structured Streaming ingest path (S6 + §2.8).

CHUNK_COMMIT semantics (BackgroundCsvProcessor.java:170-220): commit in
micro-batches, partial success allowed, progress status along the way.
Spark-first: file-source readStream -> the SAME validate/dedup column
expressions as batch -> foreachBatch sink (per-batch atomicity). A
crash between batches re-processes at-least-once; the anti-join dedup
makes re-runs idempotent — the same recovery story as the reference,
which re-rejects committed ids on retry (SURVEY §7).

availableNow trigger gives bounded 'drain the directory' runs; in
production the same query tails an arriving-files bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from streamforge_data_pipeline_spark.operators.validate import split_valid, to_items, validate
from streamforge_data_pipeline_spark.schemas import INTAKE_SCHEMA
from streamforge_data_pipeline_spark.sources.csv_intake import intake_order
from streamforge_data_pipeline_spark.sources.store import TableStore
from streamforge_data_pipeline_spark.streaming.status import Status, StatusStore


def start_stream_ingest(
    spark: SparkSession,
    input_dir: str,
    store: TableStore,
    checkpoint_dir: str,
    job_id: str,
    status: StatusStore | None = None,
) -> StreamingQuery:
    status = status or StatusStore()
    status.put(job_id, Status("INIT"))

    raw = (
        spark.readStream.schema(INTAKE_SCHEMA)
        .option("header", True)
        .option("maxFilesPerTrigger", 8)
        .csv(input_dir)
    )

    processed = {"rows": 0}

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        status.put(job_id, Status("PROCESS_CHUNK_COMMIT", f"batch {batch_id}"))
        spark_b = batch_df.sparkSession
        # row ordinal is per-batch (monotonically_increasing_id is
        # illegal on the unbounded stream itself); cross-batch
        # first-wins comes from the store-level anti-join. Persist so
        # the insert action and the progress count scan the input once.
        batch_df = batch_df.withColumn(
            "row_id", F.monotonically_increasing_id()
        ).withColumn("__src_file", F.input_file_name()).persist()
        try:
            existing = store.existing_ids_or_empty(spark_b)
            validated = validate(batch_df, existing, intake_order())
            valid, _rejected = split_valid(validated)
            status.put(job_id, Status("DB_COMMIT", f"batch {batch_id}"))
            store.insert_items(to_items(valid))
            processed["rows"] += batch_df.count()
        finally:
            batch_df.unpersist()
        status.put(
            job_id,
            Status("DB_COMMIT_SUCCESS", f"batch {batch_id}", processed["rows"]),
        )

    query = (
        raw.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # carries the running count: a batch may commit before start() returns
    status.put(job_id, Status("PROCESSING", str(query.id), processed["rows"]))
    return query


def finish(query: StreamingQuery, status: StatusStore, job_id: str) -> None:
    """Wait for the drain, then report JOB_COMPLETE with the rows it
    processed, as the reference's completion Status does."""
    query.awaitTermination()
    done = status.get(job_id).processed_rows
    status.put(job_id, Status("JOB_COMPLETE", processed_rows=done))

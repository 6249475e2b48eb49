"""The flagship ingest pipeline — reference §3.1 retold in Spark.

POST /api/uploads end-to-end (CsvUploadController.java:27-54 ->
CsvUploadService.java:64-86 -> BackgroundCsvProcessor.java:56-220):

  staged CSV -> all-string scan -> ordered validation -> valid/invalid
  split -> dedup (broadcast anti-join vs existing ids + first-wins
  in-file window) -> typed items insert + error report + error-category
  counts + summary.

One declarative DAG: Catalyst pipelines scan->validate->split in a
single codegen stage; the only shuffles are the dedup window (keyed on
external_id) and the final aggregations. The reference's two passes
over the file (count + process) collapse into one.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from streamforge_data_pipeline_spark.functions import conf_bytes
from streamforge_data_pipeline_spark.operators.validate import split_valid, to_items, validate
from streamforge_data_pipeline_spark.schemas import INTAKE_COLUMNS
from streamforge_data_pipeline_spark.sources.csv_intake import (
    CORRUPT_COL,
    intake_order,
    read_intake_csv,
)
from streamforge_data_pipeline_spark.sources.error_report import write_error_report
from streamforge_data_pipeline_spark.sources.store import TableStore
from streamforge_data_pipeline_spark.streaming.drain_conf import local_bytes


@dataclass
class UploadResult:
    """UploadResult record (CsvUploadService.java:27)."""

    job_id: str
    processed: int
    inserted: int
    failed: int
    error_counts: dict[str, int]


def run_upload(
    spark: SparkSession,
    csv_path: str,
    store: TableStore,
    error_report_path: str | None = None,
) -> UploadResult:
    """Batch ingest. The reference's ALL_OR_NOTHING vs CHUNK_COMMIT
    distinction collapses here: one distributed write is already
    atomic via the Spark commit protocol (= ALL_OR_NOTHING), while
    per-micro-batch commit semantics (CHUNK_COMMIT) live in the
    streaming path (streaming/ingest_stream.py).
    """
    job_id = str(uuid.uuid4())
    # Scale-derived CSV split size (r11, guide §6): a single staged CSV
    # under maxPartitionBytes (the reference's flagship 50 MB upload)
    # scans as ONE split, so parse+validate ran on one core. Derive the
    # split size so the scan lands ~defaultParallelism tasks, floored
    # at 4 MB and capped at the session value — at production input
    # sizes bytes/parallelism exceeds the cap and this is a no-op. An
    # input whose size is unknown (a URI, nothing on the local disk)
    # keeps the session value. Order semantics are unaffected: the
    # dedup key is (file, row_id) and within one file equal-size splits
    # keep offset order (csv_intake docstring); the conf is restored on
    # exit.
    mpb_key = "spark.sql.files.maxPartitionBytes"
    old_mpb = spark.conf.get(mpb_key)
    total = local_bytes(csv_path)
    if total:
        p = spark.sparkContext.defaultParallelism
        derived = min(conf_bytes(spark, mpb_key), max(4 * 1024 * 1024, total // p))
        spark.conf.set(mpb_key, str(derived))
    try:
        raw = read_intake_csv(spark, csv_path)
        existing = store.existing_ids_or_empty(spark)
        validated = validate(raw, existing, intake_order()).cache()
        valid, rejected = split_valid(validated)

        store.insert_items(to_items(valid))
        if error_report_path:
            write_error_report(
                rejected, INTAKE_COLUMNS, error_report_path, raw=CORRUPT_COL
            )

        # One aggregation pass serves both A1 and A2: the null-error
        # group is the inserted count, the rest are the per-category
        # counts.
        by_error = {
            r["error"]: r["cnt"]
            for r in validated.groupBy("error")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        inserted = by_error.pop(None, 0)
        failed = sum(by_error.values())
        validated.unpersist()
    finally:
        if total:
            spark.conf.set(mpb_key, old_mpb)
    return UploadResult(
        job_id=job_id,
        processed=inserted + failed,
        inserted=inserted,
        failed=failed,
        error_counts=by_error,
    )

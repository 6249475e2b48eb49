"""Structured Streaming ingest (S6 chunk-commit semantics + §2.8
status state machine) driven end-to-end on real CSV files."""

from __future__ import annotations

import os

from streamforge_data_pipeline_spark.sources.store import TableStore
from streamforge_data_pipeline_spark.streaming.ingest_stream import (
    finish,
    start_stream_ingest,
)
from streamforge_data_pipeline_spark.streaming.status import StatusStore


def test_stream_ingest_commits_batches_and_tracks_status(spark, tmp_path):
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    # two arriving files; F2 has an in-file duplicate of F1's id --
    # cross-batch dedup happens against the store (J1), so B1 commits
    # first and B2's copy is rejected.
    (inbox / "a.csv").write_text(
        "externalId,name,quantity,expiryDate\n"
        "S1,First,1,2026-09-01\n"
        "S2,Second,2,2026-09-02\n"
    )
    (inbox / "b.csv").write_text(
        "externalId,name,quantity,expiryDate\n"
        "S3,Third,3,2026-09-03\n"
        "S1,Dup,9,2026-09-09\n"
    )

    store = TableStore(str(tmp_path / "store"))
    status = StatusStore()
    q = start_stream_ingest(
        spark,
        str(inbox),
        store,
        checkpoint_dir=str(tmp_path / "ckpt"),
        job_id="job-1",
        status=status,
    )
    finish(q, status, "job-1")

    assert status.get("job-1").step == "JOB_COMPLETE"
    assert status.get("job-1").processed_rows == 4  # both files' data rows
    assert status.get("unknown").step == "NOT_FOUND"

    items = store.read(spark, "items")
    rows = {(r["external_id"], r["quantity"]) for r in items.collect()}
    # S1 inserted exactly once regardless of batch interleaving
    assert ("S1", 1) in rows or ("S1", 9) in rows
    assert {"S2", "S3"} <= {r[0] for r in rows}
    assert len([r for r in rows if r[0] == "S1"]) == 1


def test_stream_ingest_restart_resumes_from_checkpoint(spark, tmp_path):
    """Stop/restart semantics: a second run over the SAME checkpoint
    must not reprocess already-committed files (file-source exactly-once
    bookkeeping), must pick up files that arrived in between, and the
    store-level dedup keeps the table correct even across restarts."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    (inbox / "a.csv").write_text(
        "externalId,name,quantity,expiryDate\n"
        "R1,First,1,2026-09-01\n"
        "R2,Second,2,2026-09-02\n"
    )
    store = TableStore(str(tmp_path / "store"))
    status = StatusStore()
    ckpt = str(tmp_path / "ckpt")

    q = start_stream_ingest(
        spark, str(inbox), store, checkpoint_dir=ckpt, job_id="j1", status=status
    )
    finish(q, status, "j1")
    n1 = store.read(spark, "items").count()
    assert n1 == 2

    # new file lands while the query is down: fresh id + dup of R2
    (inbox / "b.csv").write_text(
        "externalId,name,quantity,expiryDate\n"
        "R3,Third,3,2026-09-03\n"
        "R2,DupAgain,9,2026-09-09\n"
    )
    q2 = start_stream_ingest(
        spark, str(inbox), store, checkpoint_dir=ckpt, job_id="j2", status=status
    )
    finish(q2, status, "j2")
    items = {(r["external_id"], r["quantity"]) for r in store.read(spark, "items").collect()}
    # a.csv NOT reprocessed (R1/R2 still single rows), R3 added, dup rejected
    assert items == {("R1", 1), ("R2", 2), ("R3", 3)}

    # third restart with nothing new: a no-op
    q3 = start_stream_ingest(
        spark, str(inbox), store, checkpoint_dir=ckpt, job_id="j3", status=status
    )
    finish(q3, status, "j3")
    assert store.read(spark, "items").count() == 3

"""Continuous near-dup corpus ingestion: the streaming composition of
the batch dedup operators into the pipeline a training corpus actually
runs — arriving document files are near-dup-resolved WITHIN their
micro-batch, probed against the already-admitted corpus, and only
genuinely novel documents are appended; every decision is logged.

Per micro-batch (foreachBatch — blocking, sequential, per-batch
atomic):

1. in-batch resolution: minhash_lsh_dedup pairs -> connected
   components -> each cluster's lowest id is the batch representative;
   other members are logged (origin='batch', dup_of=representative).
2. index probe: representatives are probed against the corpus table
   with lsh_probe_dedup (banded equi-join, never an all-corpus
   re-join); hits are logged (origin='index', dup_of=the indexed doc,
   exact jaccard).
3. admission: surviving representatives append to the corpus table —
   which IS the next batch's probe index.

A batch-origin dup_of can point at a representative that the index
probe then rejected; the log resolves transitively (doc -> rep ->
indexed doc). That is deliberate: the in-batch decision is local and
final when made, matching how an append-only dedup log works in
production (tests assert the transitive resolution lands in the
corpus).

Scale notes: all three steps are the audited batch operators — banded
candidates, never all-pairs; the probe is |batch| x BANDS rows against
an indexed table. At 100 TB the corpus side's band keys would be a
stored append-only table (band -> doc_id, bucketed on the band hash)
instead of recomputed per batch; lsh_probe_dedup's docstring carries
that design, and the shingle recompute here is the local-test stand-in
with identical semantics. Crash recovery: foreachBatch re-runs a batch
at-least-once; re-admitting the same doc_ids is prevented by the
anti-join against already-logged ids, the same idempotency story as
ingest_stream.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from streamforge_data_pipeline_spark.functions import local_rows

from streamforge_data_pipeline_spark.operators.dedup import connected_components
from streamforge_data_pipeline_spark.operators.minhash import (
    lsh_probe_dedup,
    minhash_lsh_dedup,
)
from streamforge_data_pipeline_spark.sources.store import TableStore
from streamforge_data_pipeline_spark.streaming.drain_conf import start_parquet_drain


def _resolve_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    store: TableStore,
    corpus_table: str,
    log_table: str,
    tau: float,
    batch_id: int | None = None,
    run_id: str | None = None,
) -> None:
    # Every stage boundary below is localCheckpoint(eager=True), NOT
    # persist: persist caches data but keeps the LOGICAL plan, and this
    # composition references upstream subtrees multiplicatively (CC
    # iterations over the minhash plan; the probe reads its input 4x) —
    # measured: plan ANALYSIS blew past 200 s/batch and then OOM'd the
    # driver generating the plan string. Checkpointing flattens each
    # stage to a LogicalRDD, and the frames are micro-batch-sized by
    # construction, so the blocks are tiny and die with the batch.
    # ---- idempotent re-run guard: drop doc_ids already decided.
    # Gated behind the last-batch-id marker (shared helper): the
    # log/corpus anti-joins scan tables that grow with stream age, so
    # they run only on crash replays, never on normal batches.
    from streamforge_data_pipeline_spark.streaming.exact_dedup_stream import (
        _replay_guard_decision,
    )

    marker = f"{log_table}__last_batch"
    log_exists = os.path.exists(store.path(log_table))
    guard, owns = _replay_guard_decision(
        spark, store, marker, log_exists, batch_id, run_id
    )
    if guard:
        if log_exists:
            seen_log = store.read(spark, log_table)
            # crash-window repair: a doc logged 'admitted' whose corpus
            # row is missing (the process died between the log append
            # and the corpus append) is re-appended from the replayed
            # batch rows BEFORE the guard drops it — the log stays the
            # decision source and the probe index converges to it, so
            # the once-documented residual window is closed, not just
            # "repairable".
            replay_admitted = batch_df.join(
                seen_log.filter(F.col("origin") == "admitted").select("doc_id"),
                "doc_id",
                "left_semi",
            )
            if os.path.exists(store.path(corpus_table)):
                replay_admitted = replay_admitted.join(
                    store.read(spark, corpus_table).select("doc_id"),
                    "doc_id",
                    "left_anti",
                )
            replay_admitted = replay_admitted.localCheckpoint(eager=True)
            if replay_admitted.count():
                store.append(replay_admitted, corpus_table)
            batch_df = batch_df.join(
                seen_log.select("doc_id"), "doc_id", "left_anti"
            )
        if os.path.exists(store.path(corpus_table)):
            admitted_ids = store.read(spark, corpus_table).select("doc_id")
            batch_df = batch_df.join(admitted_ids, "doc_id", "left_anti")
    if batch_id is not None and run_id is not None:
        store.overwrite(
            local_rows(spark, 
                [(run_id, batch_id, owns)],
                "run_id string, batch_id long, owns_store boolean",
            ),
            marker,
        )
    batch_df = batch_df.localCheckpoint(eager=True)

    # ---- 1. in-batch near-dup resolution
    pairs = minhash_lsh_dedup(batch_df, tau=tau).localCheckpoint(eager=True)
    cc = connected_components(pairs).localCheckpoint(eager=True)
    members = cc.filter(F.col("doc_id") != F.col("cluster_id"))
    batch_log = members.select(
        "doc_id",
        F.col("cluster_id").alias("dup_of"),
        F.lit(None).cast("double").alias("jaccard"),
        F.lit("batch").alias("origin"),
    )
    reps = batch_df.join(
        members.select("doc_id"), "doc_id", "left_anti"
    ).localCheckpoint(eager=True)

    # ---- 2. probe the admitted corpus. The checkpoint ALSO pins the
    # decisions to the pre-append corpus state: the probe's lazy plan
    # re-scans the corpus table, so without it the admitted docs would
    # match THEMSELVES when later actions recompute past the append
    # (observed: their log rows vanished).
    if os.path.exists(store.path(corpus_table)):
        index = store.read(spark, corpus_table)
        # lsh_probe_dedup returns an already-localCheckpoint'ed frame
        # (and releases its internal caches before returning)
        probed = lsh_probe_dedup(reps, index, tau=tau)
        index_log = probed.filter(F.col("dup_of").isNotNull()).select(
            "doc_id", "dup_of", "jaccard", F.lit("index").alias("origin")
        )
        novel_ids = probed.filter(F.col("dup_of").isNull()).select("doc_id")
    else:
        index_log = None
        novel_ids = reps.select("doc_id")

    # ---- 3. admit + log (plans above are flat + pinned; the appends
    # commit the already-determined decisions). The LOG commits FIRST:
    # it is the decision record the at-least-once re-run guard replays
    # from. If the process dies between the two appends, the re-run's
    # anti-join on logged doc_ids drops the whole batch and the only
    # loss is the admitted docs' corpus rows — content the log already
    # marks admitted, repairable by a log-vs-corpus anti-join backfill.
    # The OLD order (corpus first) was worse than lossy: a crash after
    # the corpus append but before the log append re-resolved the
    # orphaned cluster members, which could elect a NEW representative
    # whose jaccard against the already-admitted one falls below tau
    # (clusters are transitive closures) — double-admitting near-dup
    # content with no record tying the two together. Residual window:
    # log-committed-but-corpus-missing batches under-populate the
    # probe index ONLY until the crashed batch's at-least-once
    # redelivery, whose replay guard backfills the corpus from the
    # replayed rows (see the admitted-backfill above); decisions stay
    # consistent because the log, not the corpus, is the idempotency
    # source.
    admitted = reps.join(novel_ids, "doc_id", "left_semi")
    log = batch_log if index_log is None else batch_log.unionByName(index_log)
    admitted_log = admitted.select(
        "doc_id",
        F.lit(None).cast("long").alias("dup_of"),
        F.lit(None).cast("double").alias("jaccard"),
        F.lit("admitted").alias("origin"),
    )
    store.append(log.unionByName(admitted_log), log_table)
    store.append(admitted, corpus_table)


def start_stream_near_dedup(
    spark: SparkSession,
    input_dir: str,
    store: TableStore,
    checkpoint_dir: str,
    tau: float = 0.5,
    corpus_table: str = "corpus",
    log_table: str = "near_dup_log",
    max_files_per_trigger: int = 1,
    path_glob_filter: str | None = None,
) -> StreamingQuery:
    """Tail ``input_dir`` for parquet document files and run the
    resolve/probe/admit pipeline per micro-batch. Returns the running
    query, which drains the present files and stops.
    ``path_glob_filter`` scopes a mixed-table directory to the
    document files — without it every sibling table is read with the
    (doc_id, text) schema as junk null rows."""
    # lineage identity for the replay-guard marker: the checkpoint dir
    # is stable across crash restarts of the same stream (batch ids
    # stay monotone and comparable) and differs for fresh
    # re-ingestions (which must guard — see _replay_guard_decision)
    run_id = os.path.abspath(checkpoint_dir)

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        _resolve_batch(
            batch_df.sparkSession,
            batch_df,
            store,
            corpus_table,
            log_table,
            tau,
            batch_id=batch_id,
            run_id=run_id,
        )

    return start_parquet_drain(
        spark, input_dir, "doc_id long, text string", commit, checkpoint_dir,
        max_files_per_trigger, path_glob_filter,
    )

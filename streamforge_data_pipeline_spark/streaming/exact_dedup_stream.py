"""Continuous exact-dedup corpus ingestion — the all-JVM scan-scale
counterpart of streaming/stateful.dedup_stream.

Same contract as dedup_stream (annotate-don't-drop, lowest-id-wins
within a batch, first-arrival-wins across batches), different engine:
foreachBatch + a persistent (content_hash -> first_id) index table,
so every per-batch step is a Catalyst-planned JVM aggregation/join —
no Python touches any row.

Why this exists next to dedup_stream: applyInPandasWithState invokes
the Python state function once per KEY per batch (~0.65 ms/key
measured at sf1 — linear in distinct hashes, the one ~linear scaler in
the r4 sf1 table). The r4 brief's proposed fix — a JVM
``groupBy(content_hash)`` pre-compaction in front of the state op — is
rejected by Spark ("applyInPandasWithState in update mode is not
supported with aggregation on a streaming DataFrame", the
multiple-stateful-operators rule) and would not have moved the number
anyway: the sf1 corpus has 49,854 distinct hashes over 50,000 docs, so
collapsing rows-per-key shaves 0.3% while the per-key invocation count
— the actual cost — stays put. The scalable shape is to keep the state
in a TABLE and let joins do the probing, exactly like
near_dedup_stream does for the fuzzy case:

Per micro-batch (foreachBatch — blocking, sequential, per-batch
atomic):

1. hash: sha256 over content (JVM codegen).
2. in-batch winners: ``groupBy(content_hash).agg(min(doc_id))`` — one
   partial-agg shuffle, content skew collapses map-side.
3. index probe: left join winners against the stored index; a hit
   means the hash's first arrival is already fixed (its first_id wins
   over any in-batch id — first-ARRIVAL-wins, as dedup_stream).
4. annotate: join the batch's hashed rows back to the per-hash winner;
   dup_of NULL for the winner row, the winner id everywhere else.
5. index-first commit: append novel (hash, first_id) rows to the
   index, THEN append annotations to the decision log. Winners are a
   pure function of (batch content, index state), so this ordering is
   fully idempotent under at-least-once replay — a crash between the
   appends re-derives byte-identical annotations from the
   just-appended index (the near-dup pipeline must commit its log
   first instead, because ITS in-batch resolution is not replayable).
   The replay guard's log scan is gated behind a last-batch-id marker
   so normal batches never pay the stream-age-sized anti-join.

Scale notes: the index is corpus-distinct-hash-sized (32-byte hash +
one long per distinct content — ~3 TB of index for 100 TB of raw text,
mostly the hashes themselves) and append-only. With ``index_buckets``
set (r5 brief #3) the index is LAID OUT hash-partitioned: each row
carries hb = pmod(xxhash64(content_hash), index_buckets) and is
written hive-partitioned by hb, and the probe filters the index scan
to the batch's OWN hb values (a bounded IN-list, <= index_buckets
entries collected from the batch). The decision log is byte-identical
with the layout on or off (asserted in tests). REGIME (measured,
PERF_NOTES r6.6): a batch with k distinct hashes touches
~B(1-(1-1/B)^k) buckets, so pruning pays only when k << B — the
trickle-upload shape — while bulk batches (k >> B) hit every bucket
and pay small-file overhead for nothing (2x slower at sf1, B=64,
k~4,500); hence the None default. At 100 TB the partitioned layout is
still how the index stays operationally compactable (bounded
directories), independent of pruning. Per-batch work is two shuffles
of |batch| rows plus the probe join (batch side broadcasts at
ordinary sizes — the index never shuffles either way); nothing grows
with the number of batches. State-store framing: the "state" is
a parquet table the engine re-plans joins against, not per-key entries
a Python function is invoked over — that is what removes the ~linear
term (measured in PERF_NOTES r5: sf0.1 -> sf1 wall ratio ~2x vs the
state op's 9.8x).

Reference parity: annotate-don't-drop mirrors the reference's
duplicate REPORTING (BackgroundCsvProcessor.java:242 marks in-file
duplicates as errors rather than silently skipping); the index table
is the scaled-out form of its in-memory existingIds set
(BackgroundCsvProcessor.java:61).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from streamforge_data_pipeline_spark.functions import local_rows

from streamforge_data_pipeline_spark.sources.store import TableStore
from streamforge_data_pipeline_spark.streaming.drain_conf import (
    local_bytes,
    start_parquet_drain,
)


def _replay_guard_decision(
    spark: SparkSession,
    store: TableStore,
    marker_table: str,
    log_exists: bool,
    batch_id: int | None,
    run_id: str | None,
) -> tuple[bool, bool]:
    """(guard_needed, owns_store) for this batch. The marker holds
    (run_id, batch_id, owns_store) of the last batch STARTED, where
    run_id is the CHECKPOINT LINEAGE identity (the checkpoint dir —
    stable across crash restarts of the same stream, different for a
    fresh re-ingestion) and owns_store records whether the lineage
    found an EMPTY store at its first batch.

    The skip path — no log-sized replay anti-join — is exactly: same
    lineage, lineage owns the store, strictly higher batch_id. Within
    one lineage Spark's checkpoint guarantees a higher batch_id never
    re-delivers rows from that lineage's earlier batches, and
    ownership guarantees there are no OTHER lineages' decisions the
    redelivered files could collide with. Everything else guards:
    - batch_id or run_id None (direct calls, tests);
    - marker missing/empty/unreadable (pre-marker store, or a crash
      inside the non-atomic marker overwrite);
    - a different lineage in the marker (fresh checkpoint over an
      existing store — its batches re-deliver already-decided docs at
      ANY batch_id, so such a lineage guards for its whole lifetime:
      owns_store stays False);
    - a lineage that never owned the store.
    Callers must OVERWRITE the marker with their identity BEFORE any
    append, so a crash mid-commit leaves marker >= batch_id and the
    re-run takes the guarded path."""
    if batch_id is None or run_id is None:
        return True, False
    row = None
    try:
        if os.path.exists(store.path(marker_table)):
            rows = store.read(spark, marker_table).collect()
            row = rows[0] if rows else None
    except Exception:
        row = None
    if row is None:
        # lineage (re)start over this store: it owns the store only if
        # nothing has been logged yet
        return True, not log_exists
    if row["run_id"] != run_id or not row["owns_store"]:
        return True, False
    return batch_id <= row["batch_id"], True


# auto-layout regime constants (r6 brief #5). The r7 sf1 A/B
# (PERF_NOTES r7.8, "auto index layout") settled the
# decision variable: it is NOT the batch's shape but the INDEX'S
# MEASURED SIZE. At small index sizes the flat probe is nearly free
# while a bucketed append touches ~k directories of small files per
# batch — measured ~10x slower per batch at sf1 in BOTH regimes — so
# auto starts every new index flat and MIGRATES to the bucketed
# layout only once the on-disk index crosses AUTO_MIGRATE_BYTES
# (where scanning the whole index per probe becomes the dominant
# term) AND the arriving batches are trickle-shaped (k <= AUTO_BULK_K:
# with B capped at 2^12, k above ~B/8 reads most buckets through the
# IN-list anyway — the r6.6 2x regression regime). The migration is
# one O(index) partitioned rewrite, amortized exactly like the
# trained quantizer's re-cell.
AUTO_BULK_K = 512
AUTO_MIN_BUCKETS_LOG2, AUTO_MAX_BUCKETS_LOG2 = 6, 12
AUTO_MIGRATE_BYTES = 4 << 30  # 4 GiB: ~seconds of flat scan per probe


def _auto_index_buckets(
    spark: SparkSession,
    store: TableStore,
    index_table: str,
    batch_df: DataFrame,
    text: str,
    migrate_bytes: int | None = None,
) -> int | None:
    """Resolve ``index_buckets="auto"`` to a concrete layout.

    A NEW index starts FLAT — the r7 sf1 A/B measured flat winning
    BOTH batch regimes while the index is small (see the module
    constants; trickle flat 1.05 s/batch vs bucketed ~10 s). A flat
    auto index is then re-evaluated per batch against the MEASURED
    batch/index ratio: once the on-disk index exceeds
    ``migrate_bytes`` (default AUTO_MIGRATE_BYTES) and the current
    batch is trickle-shaped (distinct count k <= AUTO_BULK_K), the
    index MIGRATES to the hive-bucketed layout with
    B = next_pow2(16k) in [2^6, 2^12] (expected probe reads ~6% of a
    now-large index) via one partitioned rewrite + sidecar restamp —
    the same O(index)-rewrite-at-a-measured-threshold amortization as
    the trained quantizer's re-cell. An index already bucketed (by
    auto migration or an explicit setting) is adopted as-is.
    Decisions and the log are layout-independent throughout — only
    cost moves (asserted by the A/B's identical-logs postcondition)."""
    import math

    layout_table = f"{index_table}__layout"
    if not os.path.exists(store.path(index_table)):
        return None  # new index: flat until the measured ratio says otherwise
    if not os.path.exists(store.path(layout_table)):
        raise ValueError(
            f"index table {index_table!r} predates the layout sidecar; "
            "index_buckets='auto' cannot adopt its layout — pass the "
            "original explicit setting once to stamp it."
        )
    rows = store.read(spark, layout_table).collect()
    b = rows[0]["index_buckets"] if rows else 0
    if b:
        return b
    threshold = AUTO_MIGRATE_BYTES if migrate_bytes is None else migrate_bytes
    if local_bytes(store.path(index_table)) < threshold:
        return None
    k = (
        batch_df.select(F.sha2(F.col(text).cast("binary"), 256))
        .distinct()
        .count()
    )
    if k > AUTO_BULK_K:
        return None  # bulk batches would read most buckets anyway
    log2_b = max(
        AUTO_MIN_BUCKETS_LOG2,
        min(AUTO_MAX_BUCKETS_LOG2, math.ceil(math.log2(max(16 * k, 2)))),
    )
    buckets = 1 << log2_b
    # migrate: one O(index) partitioned rewrite (localCheckpoint before
    # overwriting our own input path — the _ensure_centroids pattern),
    # then restamp the sidecar LAST so a crash mid-migration re-runs
    # the deterministic rewrite instead of mixing layouts.
    idx = store.read(spark, index_table)
    recast = idx.withColumn(
        "hb", F.pmod(F.xxhash64("content_hash"), F.lit(buckets))
    ).localCheckpoint(eager=True)
    store.overwrite_partitioned(recast, index_table, ["hb"])
    store.overwrite(
        local_rows(spark, [(buckets,)], "index_buckets int"),
        layout_table,
    )
    return buckets


def _index_layout_guard(
    spark: SparkSession,
    store: TableStore,
    index_table: str,
    index_buckets: int | None,
) -> None:
    """Refuse to mix index layouts in one parquet dir (r6 advice).

    An index created flat must never receive hive-partitioned appends
    (hb=... subdirs beside root-level files) and vice versa: Spark's
    partition discovery then fails with conflicting-directory-structure
    errors — or silently reads without the hb column — on the NEXT
    batch, far from the config flip that caused it. The declared bucket
    count is committed to a one-row ``{index}__layout`` sidecar when
    the index is created; on open it must equal the configured
    ``index_buckets`` exactly (a bucket-COUNT flip is as wrong as a
    flat/bucketed flip: stored hb values are pmod(hash, old_B), so
    pruning with new_B would skip directories that hold real hashes).
    Pre-sidecar indexes fall back to a directory sniff, which can only
    adjudicate flat-vs-bucketed."""
    layout_table = f"{index_table}__layout"
    declared_flag = index_buckets or 0
    if not os.path.exists(store.path(index_table)):
        store.overwrite(
            local_rows(spark, [(declared_flag,)], "index_buckets int"),
            layout_table,
        )
        return
    if os.path.exists(store.path(layout_table)):
        rows = store.read(spark, layout_table).collect()
        on_disk = rows[0]["index_buckets"] if rows else 0
        if on_disk != declared_flag:
            raise ValueError(
                f"index table {index_table!r} was created with "
                f"index_buckets={on_disk or None} but this stream is "
                f"configured with index_buckets={index_buckets}; mixing "
                "layouts (or bucket counts) in one index dir corrupts "
                "partition discovery and probe pruning. Re-point the "
                "stream at a fresh index table or restore the original "
                "setting."
            )
        return
    # pre-sidecar index: sniff flat vs hive-partitioned, then stamp
    has_hb = any(
        name.startswith("hb=") for name in os.listdir(store.path(index_table))
    )
    if has_hb != bool(index_buckets):
        raise ValueError(
            f"index table {index_table!r} is "
            f"{'hive-partitioned by hb' if has_hb else 'flat'} on disk "
            f"but this stream is configured with "
            f"index_buckets={index_buckets}; mixing layouts in one "
            "index dir corrupts partition discovery. Re-point the "
            "stream at a fresh index table or restore the original "
            "setting."
        )
    store.overwrite(
        local_rows(spark, [(declared_flag,)], "index_buckets int"),
        layout_table,
    )


def _resolve_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    store: TableStore,
    index_table: str,
    log_table: str,
    id_col: str,
    text: str,
    batch_id: int | None = None,
    run_id: str | None = None,
    index_buckets: int | None | str = None,
    auto_migrate_bytes: int | None = None,
) -> None:
    if index_buckets == "auto":
        index_buckets = _auto_index_buckets(
            spark, store, index_table, batch_df, text,
            migrate_bytes=auto_migrate_bytes,
        )
    _index_layout_guard(spark, store, index_table, index_buckets)
    # idempotent re-run guard: the log is the decision record — a
    # doc_id it already holds was fully decided, drop it from the
    # batch. Gated behind the (run_id, batch_id) marker so the log
    # scan (which grows with every batch ever ingested) runs only on
    # crash replays, keeping normal per-batch work independent of
    # stream age.
    marker = f"{log_table}__last_batch"
    log_exists = os.path.exists(store.path(log_table))
    guard, owns = _replay_guard_decision(
        spark, store, marker, log_exists, batch_id, run_id
    )
    if guard and log_exists:
        seen = store.read(spark, log_table).select("doc_id")
        batch_df = batch_df.join(seen, "doc_id", "left_anti")
    if batch_id is not None and run_id is not None:
        store.overwrite(
            local_rows(spark, 
                [(run_id, batch_id, owns)],
                "run_id string, batch_id long, owns_store boolean",
            ),
            marker,
        )

    hashed = batch_df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.sha2(F.col(text).cast("binary"), 256).alias("content_hash"),
    ).localCheckpoint(eager=True)

    # in-batch winner per hash: min(doc_id) — partial agg, skew-proof
    firsts = hashed.groupBy("content_hash").agg(
        F.min("doc_id").alias("batch_first")
    )
    hb = F.pmod(F.xxhash64("content_hash"), F.lit(index_buckets or 1))
    if index_buckets:
        firsts = firsts.withColumn("hb", hb)
    if os.path.exists(store.path(index_table)):
        idx = store.read(spark, index_table)
        if index_buckets and "hb" in idx.columns:
            # bounded collect (<= index_buckets values): prune the
            # index scan to the hash-partition directories this batch
            # can possibly hit. Measured-ratio routing (r6 brief #5):
            # when the batch's bucket list covers most of the index
            # anyway, the IN-list buys nothing and costs listing +
            # filter planning — read the index flat for THIS batch
            # (layout untouched; the next trickle batch prunes again).
            hbs = [
                r["hb"]
                for r in hashed.select(hb.alias("hb")).distinct().collect()
            ]
            if len(hbs) < 0.5 * index_buckets:
                idx = idx.filter(F.col("hb").isin(hbs)).drop("hb")
            else:
                idx = idx.drop("hb")
        elif "hb" in idx.columns:
            idx = idx.drop("hb")
        firsts = firsts.join(idx, "content_hash", "left")
    else:
        firsts = firsts.withColumn("first_id", F.lit(None).cast("long"))
    # the hash's winner: the indexed first arrival if the hash is
    # known, else this batch's lowest id (which then becomes indexed)
    winner_cols = [
        "content_hash",
        F.coalesce("first_id", "batch_first").alias("winner"),
        F.col("first_id").isNull().alias("novel"),
    ] + (["hb"] if index_buckets else [])
    winners = firsts.select(*winner_cols).localCheckpoint(
        eager=True
    )  # pin decisions to the PRE-append index

    out = (
        hashed.join(winners, "content_hash")
        .select(
            "doc_id",
            "content_hash",
            F.when(F.col("doc_id") == F.col("winner"), F.lit(None).cast("long"))
            .otherwise(F.col("winner"))
            .alias("dup_of"),
        )
        .localCheckpoint(eager=True)
    )

    # INDEX-first commit: unlike the near-dup pipeline (where in-batch
    # resolution could elect a different representative on replay, so
    # the decision log must commit first), this engine's winners are a
    # pure function of (batch content, index state) — so appending the
    # index first makes the whole commit idempotent with NO residual
    # window: a crash after the index append replays the batch, the
    # probe now HITS the appended hashes, re-derives the identical
    # annotations (same winner ids), finds novel empty, and appends
    # the log exactly once; a crash after both appends replays into
    # the replay guard, which drops the batch entirely.
    novel = winners.filter("novel")
    if index_buckets:
        store.append_partitioned(
            novel.select(
                "content_hash", F.col("winner").alias("first_id"), "hb"
            ),
            index_table,
            ["hb"],
        )
    else:
        store.append(
            novel.select("content_hash", F.col("winner").alias("first_id")),
            index_table,
        )
    store.append(out, log_table)


def start_stream_exact_dedup(
    spark: SparkSession,
    input_dir: str,
    store: TableStore,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text: str = "text",
    index_table: str = "hash_index",
    log_table: str = "exact_dedup_log",
    max_files_per_trigger: int = 1,
    path_glob_filter: str | None = None,
    index_buckets: int | None | str = None,
    auto_migrate_bytes: int | None = None,
) -> StreamingQuery:
    """Tail ``input_dir`` for parquet document files and run the
    hash/probe/annotate pipeline per micro-batch. The decision log
    table accumulates one row per document: (doc_id, content_hash,
    dup_of) with dup_of NULL for each content's first arrival —
    byte-identical contract to stateful.dedup_stream's output.
    ``index_buckets`` turns on the hash-partitioned index layout +
    partition-pruned probes (see module docstring Scale notes);
    ``"auto"`` starts flat and migrates to bucketed once the MEASURED
    index size crosses ``auto_migrate_bytes`` (default 4 GiB) under
    trickle-shaped batches — see :func:`_auto_index_buckets` and the
    r7 sf1 A/B that fixed this policy; per-batch probes additionally
    skip the IN-list whenever it would cover most of the buckets
    anyway."""
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
            index_table,
            log_table,
            id_col,
            text,
            batch_id=batch_id,
            run_id=run_id,
            index_buckets=index_buckets,
            auto_migrate_bytes=auto_migrate_bytes,
        )

    return start_parquet_drain(
        spark, input_dir, f"{id_col} long, {text} string", commit, checkpoint_dir,
        max_files_per_trigger, path_glob_filter,
    )

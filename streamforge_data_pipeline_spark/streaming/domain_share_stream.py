"""Continuous per-domain share monitoring: the streaming twin of
operators.web.domain_share, built on the PARTIAL-AGGREGATE JOURNAL
pattern — the third state algebra in the streaming matrix:

- exact_dedup/domain_caps: append-only decision LOG (order-dependent,
  lineage-marker replay guard);
- bottom-k sampling: idempotent-by-algebra merge (no bookkeeping);
- THIS: additive partials journaled PER BATCH under a batch_id
  partition key, committed with dynamic partition overwrite — a
  replayed batch overwrites ITS OWN partition with identical rows, so
  at-least-once delivery is absorbed by the storage layout itself
  (no marker, no anti-join, no algebraic trick).

Per micro-batch: one domain hash-agg over the batch (map-side
combinable), one small partitioned write. Reading the current shares
is a sum over the journal grouped by domain — counts are ADDITIVE, so
the drained result equals the batch operator under ANY batch slicing,
and the registry drain key shares domain_share's DuckDB oracle
verbatim (the bottom-k twin's mergeability argument, applied to the
simplest mergeable algebra there is).

State size: batches x domains rows — compact forever for bounded
domain sets; a compaction (re-journal the summed table under one
batch_id) is one partitioned write if journals ever grow long.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from streamforge_data_pipeline_spark.operators.web import normalized_host
from streamforge_data_pipeline_spark.sources.store import TableStore
from streamforge_data_pipeline_spark.streaming.drain_conf import start_parquet_drain

JOURNAL_TABLE = "domain_share_journal"


def _commit_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    store: TableStore,
    id_col: str,
    url_col: str,
    batch_id: int,
) -> None:
    partial = (
        batch_df.select(
            F.col(id_col).alias("doc_id"),
            normalized_host(url_col).alias("domain"),
        )
        .dropDuplicates(["doc_id"])
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn("batch_id", F.lit(int(batch_id)))
    )
    # dynamic partition overwrite: a replayed batch rewrites exactly
    # its own batch_id directory with identical partials — replay
    # safety from the layout, not from bookkeeping
    (
        partial.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(store.path(JOURNAL_TABLE))
    )


def start_stream_domain_share(
    spark: SparkSession,
    input_dir: str,
    store: TableStore,
    checkpoint_dir: str,
    schema: str,
    id_col: str = "doc_id",
    url_col: str = "url",
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Tail ``input_dir`` for (id, url) parquet and journal per-batch
    domain partials."""

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        _commit_batch(
            batch_df.sparkSession, batch_df, store, id_col, url_col, batch_id
        )

    return start_parquet_drain(
        spark, input_dir, schema, commit, checkpoint_dir,
        max_files_per_trigger,
    )


def read_shares(spark: SparkSession, store: TableStore) -> DataFrame:
    """Current (domain, n_docs, share) — one sum over the journal; the
    additive algebra makes this equal the batch domain_share over
    everything ever ingested."""
    j = store.read(spark, JOURNAL_TABLE)
    counts = j.groupBy("domain").agg(F.sum("n_docs").alias("n_docs"))
    total = j.agg(F.sum("n_docs").alias("__t"))
    return counts.crossJoin(F.broadcast(total)).select(
        "domain",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round(F.col("n_docs") / F.col("__t"), 4).alias("share"),
    )


# --- decayed-counts twin: the journal algebra with a TIME-keyed bucket ---
#
# Exponential decay looks stateful (every tick rescales every
# counter), but bucketing by event DAY makes the state additive and
# clock-free: the journal holds exact per-(key, day) counts (additive
# -> replay-safe via the same dynamic partition overwrite, mergeable
# -> slicing-invariant), and the decay weights are applied AT READ
# TIME against the current max day. Advancing time never rewrites
# state — the read just re-weights; the drain equals the batch
# operator (aggregates.decayed_counts) and shares its oracle.

DECAY_JOURNAL_TABLE = "decayed_counts_journal"


def _commit_decay_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    store: TableStore,
    key: str,
    ts: str,
    batch_id: int,
) -> None:
    partial = (
        batch_df.select(F.col(key), F.to_date(ts).alias("day"))
        .groupBy(key, "day")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("batch_id", F.lit(int(batch_id)))
    )
    (
        partial.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(store.path(DECAY_JOURNAL_TABLE))
    )


def read_decayed_counts(
    spark: SparkSession,
    store: TableStore,
    key: str = "event_type",
    max_age_days: int = 40,
) -> DataFrame:
    """(key, n_events, decayed_count) over everything ever ingested —
    the aggregates.decayed_counts formula over the journal's exact
    per-day counts: integer 2^(A-age) weights, exact int64 sum, one
    final exact division."""
    j = store.read(spark, DECAY_JOURNAL_TABLE)
    maxd = j.agg(F.max("day").alias("__maxd"))
    age = F.datediff(F.col("__maxd"), F.col("day"))
    w = F.when(
        (age >= 0) & (age <= max_age_days),
        F.pow(F.lit(2.0), (F.lit(max_age_days) - age)).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    return (
        j.crossJoin(F.broadcast(maxd))
        .select(F.col(key), (F.col("n") * w).alias("__w"), "n")
        .groupBy(key)
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.round(
                F.sum("__w") / F.pow(F.lit(2.0), F.lit(max_age_days)), 6
            ).alias("decayed_count"),
        )
    )


def start_stream_decayed_counts(
    spark: SparkSession,
    input_dir: str,
    store: TableStore,
    checkpoint_dir: str,
    schema: str,
    key: str = "event_type",
    ts: str = "ts",
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Tail ``input_dir`` for event parquet and journal per-batch
    (key, day) count partials; decay is applied at read time."""

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        _commit_decay_batch(
            batch_df.sparkSession, batch_df, store, key, ts, batch_id
        )

    return start_parquet_drain(
        spark, input_dir, schema, commit, checkpoint_dir,
        max_files_per_trigger,
    )

"""The composed curation funnel AT INGESTION TIME (r8 VERDICT #5):
raw -> exact dedup -> length gate -> repetition gate -> per-domain cap
as ONE foreachBatch pipeline with per-stage journaled accounting —
every stage already has a streaming twin; this is the COMPOSITION, so
a 100 TB crawl is gated as it arrives instead of in a later sweep.

State algebra: everything is the batch_id-partitioned journal pattern
(domain_share_stream / the r9 domain_caps rework) — per batch, two
dynamic-partition-overwrite writes, both derived deterministically
from (batch, state-before-this-batch):

- SURVIVOR LOG, one row per batch doc: (doc_id, domain, content md5,
  token count, the highest stage survived) under batch_id=N. The
  cross-batch state READS are partition-pruned sums/distincts over
  batch_id < N: the seen-content index (stage-1 survivors' hashes)
  and the per-domain admitted counters (stage-4). A replayed batch
  rewrites its own partition with identical rows; the crash window
  between the two writes repairs by construction.
- FUNNEL JOURNAL: the per-batch (stage, stage_name, n_docs, n_tokens)
  partials. Counts are additive, so the current funnel is one sum
  grouped by stage.

Stage rules are BYTE-IDENTICAL to plans.curation.curation_funnel:
within-batch first-wins = min(doc_id) per exact text; token floor;
the Gopher top-bigram gate; the (hash60(id), id) domain rank with
admit iff prior_admitted + batch_rank <= k. With an empty store and
one batch every cross-batch state is empty, so the drain equals the
batch funnel ROW FOR ROW and the registry key shares its chained
DuckDB oracle verbatim.

Cross-batch semantics (pytest, not oracle): exact dedup keeps the
FIRST ARRIVAL of a content (the batch operator keeps min doc_id —
equal whenever ingestion is id-ordered, the normal crawl discipline);
the domain cap admits first-come (never more than k per domain, the
caps-stream invariant). Stage counts are monotone non-increasing per
batch by construction.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from streamforge_data_pipeline_spark.functions import empty_df, hash60, local_rows, tokens
from streamforge_data_pipeline_spark.operators.text import repetition_filter
from streamforge_data_pipeline_spark.operators.web import normalized_host
from streamforge_data_pipeline_spark.sources.store import TableStore
from streamforge_data_pipeline_spark.streaming.drain_conf import start_parquet_drain

SURVIVOR_LOG = "funnel_survivor_log"
FUNNEL_JOURNAL = "funnel_journal"

_STAGES = ["raw", "exact_dedup", "length_gate", "repetition_gate", "domain_cap"]


def _write_partition(df: DataFrame, store: TableStore, table: str) -> None:
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(store.path(table))
    )


def _commit_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    store: TableStore,
    batch_id: int,
    min_toks: int = 10,
    max_bigram_frac: float = 0.18,
    k_domain: int = 20,
    id_col: str = "doc_id",
    text: str = "text",
    url_col: str = "url",
) -> None:
    from pyspark.sql import Window

    log_exists = os.path.exists(store.path(SURVIVOR_LOG))
    if log_exists:
        prior_log = store.read(spark, SURVIVOR_LOG).filter(
            F.col("batch_id") < batch_id
        )
        seen = prior_log.filter(F.col("stage") >= 1).select("content_md5").distinct()
        prior_counts = (
            prior_log.filter(F.col("stage") >= 4)
            .groupBy("domain")
            .agg(F.count(F.lit(1)).alias("__adm"))
        )
    else:
        seen = empty_df(spark, "content_md5 string")
        prior_counts = empty_df(spark, "domain string, __adm long")

    base = (
        batch_df.select(
            F.col(id_col).alias("doc_id"),
            F.col(text).alias("__text"),
            normalized_host(url_col).alias("domain"),
            F.size(tokens(text)).cast("long").alias("__nt"),
            F.md5(F.col(text)).alias("content_md5"),
            hash60(F.col(id_col).cast("string")).alias("__h"),
        )
        .dropDuplicates(["doc_id"])
        .localCheckpoint(eager=True)  # feeds 4 stage computations
    )

    # stage 1: within-batch first-wins (min id per exact text, the
    # batch rule) AND not seen in any earlier batch
    k1 = base.groupBy("__text").agg(F.min("doc_id").alias("doc_id"))
    s1 = base.join(k1.select("doc_id"), "doc_id").join(
        seen, "content_md5", "left_anti"
    )
    # stage 2: token floor
    s2 = s1.filter(F.col("__nt") >= min_toks)
    # stage 3: Gopher top-bigram repetition gate. The survivor id set
    # is checkpointed (r11): s3 feeds both the domain-cap ranking and
    # the log's stage marks, and lazily each consumer re-ran the whole
    # bigram window+aggregation chain — the drain's most expensive
    # stage, measured twice at ~0.78 s per evaluation at sf0.1.
    rep = repetition_filter(
        s2.select("doc_id", F.col("__text").alias("text")),
        max_top_bigram_frac=max_bigram_frac,
    )
    rep_ok = (
        rep.filter(~F.col("flagged")).select("doc_id").localCheckpoint(eager=True)
    )
    s3 = s2.join(rep_ok, "doc_id")
    # stage 4: first-come per-domain cap against prior admitted counts
    w = Window.partitionBy("domain").orderBy("__h", "doc_id")
    s4_ids = (
        s3.withColumn("__rkb", F.row_number().over(w))
        .join(F.broadcast(prior_counts), "domain", "left")
        .filter(
            F.coalesce(F.col("__adm"), F.lit(0)) + F.col("__rkb") <= k_domain
        )
        .select("doc_id")
    )

    stage = (
        F.when(F.col("__s4").isNotNull(), F.lit(4))
        .when(F.col("__s3").isNotNull(), F.lit(3))
        .when(F.col("__s2").isNotNull(), F.lit(2))
        .when(F.col("__s1").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
    )

    def mark(ids, name):
        return ids.select("doc_id", F.lit(1).alias(name))

    log = (
        base.join(mark(s1.select("doc_id"), "__s1"), "doc_id", "left")
        .join(mark(s2.select("doc_id"), "__s2"), "doc_id", "left")
        .join(mark(s3.select("doc_id"), "__s3"), "doc_id", "left")
        .join(mark(s4_ids, "__s4"), "doc_id", "left")
        .select(
            "doc_id",
            "domain",
            "content_md5",
            F.col("__nt").alias("n_tokens"),
            stage.cast("int").alias("stage"),
            F.lit(int(batch_id)).alias("batch_id"),
        )
        .localCheckpoint(eager=True)  # feeds the log AND the partials
    )
    _write_partition(log, store, SURVIVOR_LOG)

    partial = (
        log.select(
            "doc_id",
            "n_tokens",
            "batch_id",
            F.explode(
                F.sequence(F.lit(0), F.col("stage").cast("int"))
            ).alias("stage_i"),
        )
        .groupBy("stage_i", "batch_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .select(
            F.col("stage_i").alias("stage"),
            "n_docs",
            "n_tokens",
            "batch_id",
        )
    )
    _write_partition(partial, store, FUNNEL_JOURNAL)


def read_funnel(spark: SparkSession, store: TableStore) -> DataFrame:
    """Current funnel report — one sum over the journal; matches the
    batch curation_funnel's (stage, stage_name, n_docs, n_tokens)
    contract, including zero rows for stages nothing reached."""
    stages = local_rows(spark, 
        [(i, n) for i, n in enumerate(_STAGES)], "stage int, stage_name string"
    )
    j = (
        store.read(spark, FUNNEL_JOURNAL)
        .groupBy("stage")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )
    return stages.join(j, "stage", "left").select(
        "stage",
        "stage_name",
        F.coalesce(F.col("n_docs"), F.lit(0)).cast("long").alias("n_docs"),
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
    )


def start_stream_curation_funnel(
    spark: SparkSession,
    input_dir: str,
    store: TableStore,
    checkpoint_dir: str,
    schema: str = "doc_id long, text string, url string",
    min_toks: int = 10,
    max_bigram_frac: float = 0.18,
    k_domain: int = 20,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Tail ``input_dir`` for (id, text, url) parquet and run the
    composed funnel per micro-batch."""

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        _commit_batch(
            batch_df.sparkSession,
            batch_df,
            store,
            batch_id,
            min_toks=min_toks,
            max_bigram_frac=max_bigram_frac,
            k_domain=k_domain,
        )

    return start_parquet_drain(
        spark, input_dir, schema, commit, checkpoint_dir,
        max_files_per_trigger,
    )

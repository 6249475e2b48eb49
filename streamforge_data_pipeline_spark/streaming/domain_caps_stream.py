"""Continuous per-domain admission caps: the streaming twin of
operators.web.domain_caps — the C4/RefinedWeb anti-dominance rule
applied AT INGESTION TIME, so a crawl that suddenly floods one domain
is capped as it arrives instead of in a later batch sweep.

State algebra (r9 rework, closing the r8 ADVICE non-atomic-commit
finding): the module now runs ENTIRELY on the partial-aggregate
JOURNAL pattern (domain_share_stream) — both outputs are keyed by
``batch_id`` and committed with dynamic partition overwrite, so a
replayed batch rewrites exactly its own partitions with identical
rows and NO window between two writes can strand state:

1. normalize each new doc's URL to its domain (pure Column exprs);
2. rank the batch's docs WITHIN domain by (hash60(id), id) — the
   deterministic order every sampler in this repo uses;
3. probe the per-domain counters derived from the journal RESTRICTED
   TO EARLIER BATCHES (batch_id < current): a doc admits iff
   prior_admitted + batch_rank <= k, and its journal rank is
   rk = prior_seen + batch_rank — the doc's TRUE cumulative arrival
   rank within its domain (r8 ADVICE #2: n_seen, not n_admitted,
   feeds rk, so rk values never repeat across batches);
4. write the decision log partition (doc_id, domain, rk, admitted)
   under batch_id=N — idempotent by layout;
5. write the per-batch counter partial (domain, n_seen, n_admitted)
   under batch_id=N — same idempotence; current counters are one sum
   over the journal (batches x domains rows, domain-bounded).

A crash between (4) and (5) — the r8 ADVICE scenario that silently
lost the admitted-counter update forever — is now repaired by
CONSTRUCTION: the replayed batch recomputes both partitions from the
same deterministic inputs (priors exclude the current batch_id), so
the log and the counters can never disagree. No marker table, no
log anti-join, no read-modify-write counter state.

Invariant (pytest-asserted across batches, oracle-checked on the
one-batch drain): ``admitted == (rk <= k)``. Proof sketch: a domain
only ever rejects once it holds k admissions, so any ADMITTED doc saw
prior_seen == prior_admitted, making rk = prior_admitted +
batch_rank <= k; conversely rk <= k forces batch_rank <=
k - prior_seen <= k - prior_admitted.

Drain semantics: with an empty store and one batch, rk is exactly the
batch-wide within-domain rank, so the decision log equals the batch
domain_caps ranking with an admitted flag — SQL-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from streamforge_data_pipeline_spark.functions import empty_df, hash60
from streamforge_data_pipeline_spark.operators.web import normalized_host
from streamforge_data_pipeline_spark.sources.store import TableStore
from streamforge_data_pipeline_spark.streaming.drain_conf import start_parquet_drain

LOG_TABLE = "domain_cap_log"
JOURNAL_TABLE = "domain_cap_journal"


def _write_partition(df: DataFrame, store: TableStore, table: str) -> None:
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(store.path(table))
    )


def read_counts(spark: SparkSession, store: TableStore) -> DataFrame:
    """Current per-domain counters — one sum over the journal; the
    additive algebra makes this equal the batch ranking's tallies over
    everything ever ingested."""
    import os

    if not os.path.exists(store.path(JOURNAL_TABLE)):
        return empty_df(spark, "domain string, n_seen long, n_admitted long"
        )
    return (
        store.read(spark, JOURNAL_TABLE)
        .groupBy("domain")
        .agg(
            F.sum("n_seen").alias("n_seen"),
            F.sum("n_admitted").alias("n_admitted"),
        )
    )


def _commit_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    store: TableStore,
    k: int,
    id_col: str,
    url_col: str,
    batch_id: int,
) -> None:
    import os

    from pyspark.sql import Window

    if os.path.exists(store.path(JOURNAL_TABLE)):
        prior = (
            store.read(spark, JOURNAL_TABLE)
            # priors must exclude the current batch so a REPLAY of
            # batch N derives the identical decisions it wrote the
            # first time (its own journal partition must not feed it)
            .filter(F.col("batch_id") < batch_id)
            .groupBy("domain")
            .agg(
                F.sum("n_seen").alias("__seen"),
                F.sum("n_admitted").alias("__adm"),
            )
        )
    else:
        prior = empty_df(spark, "domain string, __seen long, __adm long"
        )

    d = (
        batch_df.select(
            F.col(id_col).alias("doc_id"),
            normalized_host(url_col).alias("domain"),
            hash60(F.col(id_col).cast("string")).alias("h"),
        )
        .dropDuplicates(["doc_id"])
    )
    w = Window.partitionBy("domain").orderBy("h", "doc_id")
    decided = (
        d.withColumn("__rkb", F.row_number().over(w))
        .join(F.broadcast(prior), "domain", "left")
        .select(
            "doc_id",
            "domain",
            (F.coalesce(F.col("__seen"), F.lit(0)) + F.col("__rkb"))
            .cast("int")
            .alias("rk"),
            (
                F.coalesce(F.col("__adm"), F.lit(0)) + F.col("__rkb") <= k
            ).alias("admitted"),
        )
        .withColumn("batch_id", F.lit(int(batch_id)))
        .localCheckpoint(eager=True)  # decisions feed log AND journal
    )
    _write_partition(decided, store, LOG_TABLE)
    partial = decided.groupBy("domain", "batch_id").agg(
        F.count(F.lit(1)).alias("n_seen"),
        F.sum(F.col("admitted").cast("long")).alias("n_admitted"),
    )
    _write_partition(partial, store, JOURNAL_TABLE)


def start_stream_domain_caps(
    spark: SparkSession,
    input_dir: str,
    store: TableStore,
    checkpoint_dir: str,
    schema: str,
    k: int = 20,
    id_col: str = "doc_id",
    url_col: str = "url",
    max_files_per_trigger: int = 1,
    path_glob_filter: str | None = None,
) -> StreamingQuery:
    """Tail ``input_dir`` for (id, url) parquet and run the capped
    admission per micro-batch."""

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        _commit_batch(
            batch_df.sparkSession,
            batch_df,
            store,
            k,
            id_col,
            url_col,
            batch_id=batch_id,
        )

    return start_parquet_drain(
        spark, input_dir, schema, commit, checkpoint_dir,
        max_files_per_trigger, path_glob_filter,
    )

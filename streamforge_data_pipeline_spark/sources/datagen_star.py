"""Deterministic star-schema datagen at arbitrary scale factor.

The driver ships read-only testdata at sf0.001/0.01/0.1 (TESTDATA.md);
the reference keeps a commented-out 1 GB generator variant for large
perf runs (service/CsvGenerator.java:12-15). This module is the
scale-up analog: it reproduces the driver tables' schemas and value
distributions at ANY sf, so scaling experiments (sf1 and beyond) use
inputs with the same shape as the graded small-SF data.

Spark-first and cluster-safe by construction:

- Every column is a pure function of the row id (`spark.range` +
  xxhash64 mixing), so output is deterministic and INDEPENDENT of
  partitioning — the same rows come out on local[8] or a
  1000-executor cluster, and generation parallelizes embarrassingly
  (no shuffle anywhere in the plan).
- Relational tables are pure JVM column expressions (whole-stage
  codegen; ~10M rows/s/core observed).
- `documents` (variable-length token text) and `embeddings`
  (64-dim unit vectors) use vectorized Arrow kernels via
  ``mapInPandas`` — splitmix64 mixing in uint64 NumPy, no per-row
  Python, no RNG state shared across partitions.

Distribution notes (measured from the driver's sf0.1 tables):
  orders.o_orderdate uniform 1995-01-01..2001-08-01; lineitem 4
  lines/order avg, quantity 1..50, discount 0..0.10, tax 0..0.08;
  events.ts monotonically increasing over 30 days from 2024-01-01,
  value ~ Exp(mean 50); documents: 10..100 tokens over a 30-word
  vocab, ~4% near-duplicate docs (an earlier doc's text + ' dup'),
  lang 41% en / ~15% each zh fr es de, 20 sources; embeddings:
  isotropic random unit vectors, labels 0..9.
"""

from __future__ import annotations

import argparse
import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

SEED = 0x5F37_59DF  # fixed generator salt (documented, arbitrary)

SEGMENTS = ["AUTOMOBILE", "HOUSEHOLD", "BUILDING", "MACHINERY", "FURNITURE"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["MEDIUM", "ECONOMY", "PROMO", "LARGE", "STANDARD", "SMALL"]
PART_ADJ = ["blue", "hot", "small", "cold", "new", "old", "red", "large"]
PART_NOUN = ["ring", "rod", "bolt", "anvil", "widget", "gear"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
DOC_VOCAB = [  # the driver corpus' 30-word base vocabulary ('dup' is the planted suffix)
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
DOC_LANGS = ["zh", "fr", "es", "de"]  # non-en split
EMB_DIM = 64


def table_rows(sf: float) -> dict[str, int]:
    """Row counts per table at a given scale factor (sf0.1 == driver's)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


# --- deterministic JVM-side mixing -----------------------------------------

def _u(col, tag: str, m: int):
    """Uniform int in [0, m) as a pure column expression."""
    return F.pmod(F.xxhash64(col, F.lit(tag), F.lit(SEED)), F.lit(m))


def _uf(col, tag: str):
    """Uniform double in [0, 1)."""
    return _u(col, tag, 1_000_000_007).cast("double") / F.lit(1_000_000_007.0)


def _pick(col, tag: str, values: list[str]):
    return F.element_at(F.array(*[F.lit(v) for v in values]), (_u(col, tag, len(values)) + 1).cast("int"))


# --- relational tables ------------------------------------------------------

def gen_region(spark: SparkSession) -> DataFrame:
    return spark.range(5).select(
        F.col("id").cast("int").alias("r_regionkey"),
        F.element_at(F.array(*[F.lit(r) for r in REGIONS]), (F.col("id") + 1).cast("int")).alias("r_name"),
    )


def gen_nation(spark: SparkSession) -> DataFrame:
    return spark.range(25).select(
        F.col("id").cast("int").alias("n_nationkey"),
        F.concat(F.lit("NATION_"), F.col("id").cast("string")).alias("n_name"),
        (F.col("id") % 5).cast("int").alias("n_regionkey"),
    )


def gen_customer(spark: SparkSession, n: int) -> DataFrame:
    i = F.col("id")
    return spark.range(n).select(
        i.alias("c_custkey"),
        F.format_string("Customer#%09d", i).alias("c_name"),
        _u(i, "c_nat", 25).cast("int").alias("c_nationkey"),
        F.round(F.lit(-1000.0) + _uf(i, "c_bal") * 11_000.0, 2).alias("c_acctbal"),
        _pick(i, "c_seg", SEGMENTS).alias("c_mktsegment"),
    )


def gen_supplier(spark: SparkSession, n: int) -> DataFrame:
    i = F.col("id")
    return spark.range(n).select(
        i.alias("s_suppkey"),
        F.format_string("Supplier#%09d", i).alias("s_name"),
        _u(i, "s_nat", 25).cast("int").alias("s_nationkey"),
        F.round(F.lit(-1000.0) + _uf(i, "s_bal") * 11_000.0, 2).alias("s_acctbal"),
    )


def gen_part(spark: SparkSession, n: int) -> DataFrame:
    i = F.col("id")
    return spark.range(n).select(
        i.alias("p_partkey"),
        F.concat(_pick(i, "p_adj", PART_ADJ), F.lit(" "), _pick(i, "p_noun", PART_NOUN)).alias("p_name"),
        F.concat(F.lit("Brand#"), (1 + _u(i, "p_brand", 25)).cast("string")).alias("p_brand"),
        _pick(i, "p_type", PART_TYPES).alias("p_type"),
        (1 + _u(i, "p_size", 50)).cast("int").alias("p_size"),
        F.round(F.lit(900.0) + (i % 1000).cast("double") / 10.0, 2).alias("p_retailprice"),
    )


def gen_orders(spark: SparkSession, n: int, n_customer: int) -> DataFrame:
    i = F.col("id")
    return spark.range(n).select(
        i.alias("o_orderkey"),
        _u(i, "o_cust", n_customer).alias("o_custkey"),
        _pick(i, "o_status", ["O", "P", "F"]).alias("o_orderstatus"),
        F.round(F.lit(1000.0) + _uf(i, "o_total") * 499_000.0, 2).alias("o_totalprice"),
        F.to_timestamp(
            F.date_add(F.to_date(F.lit("1995-01-01")), _u(i, "o_date", 2405).cast("int"))
        ).cast("timestamp_ntz").alias("o_orderdate"),
        _pick(i, "o_prio", PRIORITIES).alias("o_orderpriority"),
    )


def gen_lineitem(spark: SparkSession, n: int, n_orders: int, n_part: int, n_supplier: int) -> DataFrame:
    i = F.col("id")
    return spark.range(n).select(
        _u(i, "l_ord", n_orders).alias("l_orderkey"),
        _u(i, "l_part", n_part).alias("l_partkey"),
        _u(i, "l_supp", n_supplier).alias("l_suppkey"),
        (1 + _u(i, "l_line", 7)).cast("int").alias("l_linenumber"),
        (1 + _u(i, "l_qty", 50)).cast("double").alias("l_quantity"),
        F.round(F.lit(900.0) + _uf(i, "l_price") * 104_100.0, 2).alias("l_extendedprice"),
        (_u(i, "l_disc", 11).cast("double") / 100.0).alias("l_discount"),
        (_u(i, "l_tax", 9).cast("double") / 100.0).alias("l_tax"),
        _pick(i, "l_rf", ["A", "N", "R"]).alias("l_returnflag"),
        _pick(i, "l_ls", ["O", "F"]).alias("l_linestatus"),
        F.to_timestamp(
            F.date_add(F.to_date(F.lit("1995-01-02")), _u(i, "l_ship", 2499).cast("int"))
        ).cast("timestamp_ntz").alias("l_shipdate"),
    )


def gen_events(spark: SparkSession, n: int) -> DataFrame:
    i = F.col("id")
    span_us = 30 * 86_400 * 1_000_000  # 30 days in microseconds
    slot_us = span_us / n
    epoch0 = F.unix_timestamp(F.lit("2024-01-01 00:00:00")) * F.lit(1_000_000).cast("long")
    # Slot-per-row + intra-slot jitter keeps ts strictly increasing in
    # event_id (matches the driver table) while staying a pure function
    # of the id.
    ts_us = epoch0 + (i.cast("double") * slot_us + _uf(i, "e_jit") * (slot_us * 0.95)).cast("long")
    return spark.range(n).select(
        i.alias("event_id"),
        F.timestamp_micros(ts_us).cast("timestamp_ntz").alias("ts"),
        _u(i, "e_user", max(1, n // 66)).alias("user_id"),
        _pick(i, "e_type", EVENT_TYPES).alias("event_type"),
        F.round(F.lit(-50.0) * F.log(F.lit(1.0) - _uf(i, "e_val")), 2).alias("value"),
        F.format_string('{"k": %d}', _u(i, "e_k", 100)).alias("props"),
    )


# --- Arrow-kernel tables ----------------------------------------------------

def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 — the standard public-domain mixer."""
    with np.errstate(over="ignore"):
        z = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
        z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)).astype(np.uint64)
        z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)).astype(np.uint64)
        return z ^ (z >> np.uint64(31))


def _mix(ids: np.ndarray, tag: int) -> np.ndarray:
    return _splitmix64(ids.astype(np.uint64) ^ np.uint64(tag * 0x9E3779B9 + SEED))


DOC_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"
EMB_SCHEMA = "vec_id bigint, embedding array<float>, label int"


def _documents_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow kernel: id -> document row. Pure per-id function, so the
    output set is independent of how ids are partitioned."""
    vocab = np.array(DOC_VOCAB)
    for pdf in batches:
        ids = pdf["id"].to_numpy()
        is_dup = (ids >= 50) & (_mix(ids, 1) % np.uint64(25) == 0)
        # A dup doc replays the token stream of a deterministic earlier
        # NON-dup id (so its stem is the exact text of a real corpus
        # doc — the property dedup operators are graded on). The seed
        # walk is deterministic per id, partition-independent.
        seed = ids.astype(np.uint64).copy()
        for k in np.nonzero(is_dup)[0]:
            s = int(_mix(ids[k : k + 1], 2)[0] % np.uint64(ids[k]))
            while s >= 50 and int(_mix(np.array([s], dtype=np.uint64), 1)[0] % np.uint64(25)) == 0:
                s = int(_mix(np.array([s], dtype=np.uint64), 2)[0] % np.uint64(max(s, 1)))
            seed[k] = s
        n_words = (10 + _mix(seed, 3) % np.uint64(91)).astype(np.int64)
        texts = []
        for s, nw, d in zip(seed, n_words, is_dup):
            pos = np.arange(nw, dtype=np.uint64)
            w = vocab[(_splitmix64(np.uint64(s) * np.uint64(131) + pos + np.uint64(SEED)) % np.uint64(30)).astype(np.int64)]
            t = " ".join(w)
            texts.append(t + " dup" if d else t)
        lang_u = _mix(ids, 4) % np.uint64(100)
        lang = np.where(lang_u < 41, "en", np.array(DOC_LANGS)[(_mix(ids, 5) % np.uint64(4)).astype(np.int64)])
        yield pd.DataFrame(
            {
                "doc_id": ids,
                "text": texts,
                "lang": lang,
                "source": ["src%d" % k for k in (_mix(ids, 6) % np.uint64(20)).astype(np.int64)],
                "n_chars": [len(t) for t in texts],
            }
        )


def gen_documents(spark: SparkSession, n: int) -> DataFrame:
    """10..100-token docs over the 30-word vocab; ~4% of docs replay an
    earlier doc's token stream with ' dup' appended (the planted
    near-duplicate structure every dedup operator is graded on)."""
    return spark.range(n).mapInPandas(_documents_kernel, DOC_SCHEMA)


def _embeddings_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow kernel: id -> isotropic unit vector (Box-Muller over
    splitmix64 streams), pure per-id function."""
    for pdf in batches:
        ids = pdf["id"].to_numpy()
        base = ids.astype(np.uint64)[:, None] * np.uint64(EMB_DIM * 2) + np.arange(EMB_DIM, dtype=np.uint64)[None, :]
        u1 = (_splitmix64(base + np.uint64(SEED)) >> np.uint64(11)).astype(np.float64) / float(1 << 53)
        u2 = (_splitmix64(base + np.uint64(SEED + 7919)) >> np.uint64(11)).astype(np.float64) / float(1 << 53)
        g = np.sqrt(-2.0 * np.log(1.0 - u1)) * np.cos(2.0 * np.pi * u2)
        g = g / np.linalg.norm(g, axis=1, keepdims=True)
        yield pd.DataFrame(
            {
                "vec_id": ids,
                "embedding": [row.astype(np.float32) for row in g],
                "label": (_mix(ids, 9) % np.uint64(10)).astype(np.int32),
            }
        )


def gen_embeddings(spark: SparkSession, n: int) -> DataFrame:
    """Isotropic unit vectors; labels 0..9."""
    return spark.range(n).mapInPandas(_embeddings_kernel, EMB_SCHEMA)


ZIPF_VOCAB = 20_000


def _documents_zipf_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow kernel: id -> document over a Zipf-tailed vocabulary.

    Word ranks are log-uniform (rank = V^u, the continuous inverse-CDF
    of a 1/x frequency law) — the realistic corpus shape where a few
    words are ubiquitous and most are rare. Same planted ~4% dup
    structure and pure-per-id determinism as the base corpus.
    """
    for pdf in batches:
        ids = pdf["id"].to_numpy()
        is_dup = (ids >= 50) & (_mix(ids, 11) % np.uint64(25) == 0)
        seed = ids.astype(np.uint64).copy()
        for k in np.nonzero(is_dup)[0]:
            s = int(_mix(ids[k : k + 1], 12)[0] % np.uint64(ids[k]))
            while s >= 50 and int(_mix(np.array([s], dtype=np.uint64), 11)[0] % np.uint64(25)) == 0:
                s = int(_mix(np.array([s], dtype=np.uint64), 12)[0] % np.uint64(max(s, 1)))
            seed[k] = s
        n_words = (30 + _mix(seed, 13) % np.uint64(71)).astype(np.int64)
        texts = []
        logv = np.log(float(ZIPF_VOCAB))
        for s, nw, d in zip(seed, n_words, is_dup):
            pos = np.arange(nw, dtype=np.uint64)
            u = (
                _splitmix64(np.uint64(s) * np.uint64(8191) + pos + np.uint64(SEED))
                >> np.uint64(11)
            ).astype(np.float64) / float(1 << 53)
            ranks = np.exp(u * logv).astype(np.int64)  # 1..V, ~1/r law
            t = " ".join("w%d" % r for r in ranks)
            texts.append(t + " zq zq zq" if d else t)
        yield pd.DataFrame(
            {
                "doc_id": ids,
                "text": texts,
                "lang": "en",
                "source": ["src%d" % k for k in (_mix(ids, 14) % np.uint64(20)).astype(np.int64)],
                "n_chars": [len(t) for t in texts],
            }
        )


def gen_documents_zipf(spark: SparkSession, n: int) -> DataFrame:
    """Documents over a 20k-word Zipf vocabulary — the corpus regime
    where prefix-filtered exact similarity joins (allpairs_jaccard)
    dominate the naive inverted-index self-join."""
    return spark.range(n).mapInPandas(_documents_zipf_kernel, DOC_SCHEMA)


# --- driver API -------------------------------------------------------------

def generate_star(spark: SparkSession, sf: float) -> dict[str, DataFrame]:
    rows = table_rows(sf)
    return {
        "region": gen_region(spark),
        "nation": gen_nation(spark),
        "customer": gen_customer(spark, rows["customer"]),
        "supplier": gen_supplier(spark, rows["supplier"]),
        "part": gen_part(spark, rows["part"]),
        "orders": gen_orders(spark, rows["orders"], rows["customer"]),
        "lineitem": gen_lineitem(spark, rows["lineitem"], rows["orders"], rows["part"], rows["supplier"]),
        "events": gen_events(spark, rows["events"]),
        "documents": gen_documents(spark, rows["documents"]),
        "embeddings": gen_embeddings(spark, rows["embeddings"]),
    }


def write_star(spark: SparkSession, sf: float, out_dir: str, single_file: bool = True) -> None:
    """Write `<out_dir>/<table>.parquet` per table.

    single_file=True mirrors the driver layout (one plain parquet FILE
    per table, not a directory) so sf-to-sf bench comparisons see the
    same scan-split behavior and DuckDB oracles can read the same
    path; multi-row-group files stay splittable either way.
    """
    import glob
    import shutil

    os.makedirs(out_dir, exist_ok=True)
    for name, df in generate_star(spark, sf).items():
        target = os.path.join(out_dir, f"{name}.parquet")
        if not single_file:
            df.write.mode("overwrite").parquet(target)
            continue
        tmp = os.path.join(out_dir, f"_tmp_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
        if os.path.isdir(target):
            shutil.rmtree(target)
        shutil.move(part, target)
        shutil.rmtree(tmp)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--multi-file", action="store_true")
    args = ap.parse_args()
    from streamforge_data_pipeline_spark.session import get_session

    spark = get_session("star-datagen")
    spark.sparkContext.setLogLevel("ERROR")
    write_star(spark, args.sf, args.out, single_file=not args.multi_file)
    spark.stop()


if __name__ == "__main__":
    main()

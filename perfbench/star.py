"""Seeded star-schema tables for the query, curate and drain workloads.

``sources.datagen_star`` derives every column from the row id mixed with a
fixed salt, ``datagen_star.SEED``. The benchmark varies that salt with its
seed: the JVM-side tables read it when their column expressions are built
on the driver, and the Arrow kernels (documents, embeddings) read it inside
Spark's Python workers, so the kernels are wrapped to set it there too.
The layout is ``write_star``'s: one parquet file per table, the shape the
registry keys and their DuckDB oracles read.
"""

from __future__ import annotations

import glob
import os
import shutil
from contextlib import contextmanager

from streamforge_data_pipeline_spark.sources import datagen_star as ds


def salt(seed: int) -> int:
    """The generator salt for a benchmark seed (a 31-bit value, like the default)."""
    return (ds.SEED ^ (seed * 0x9E3779B1)) & 0x7FFF_FFFF


def _seeded_kernel(kernel, value: int):
    def run(batches):
        ds.SEED = value
        yield from kernel(batches)

    return run


@contextmanager
def _salted(value: int):
    old = ds.SEED
    ds.SEED = value
    try:
        yield
    finally:
        ds.SEED = old


def write_tables(spark, out_dir: str, seed: int, sf: float, tables: list[str]) -> None:
    """Write ``<out_dir>/<table>.parquet`` for each named table at scale ``sf``."""
    rows = ds.table_rows(sf)
    value = salt(seed)
    gens = {
        "region": lambda: ds.gen_region(spark),
        "nation": lambda: ds.gen_nation(spark),
        "customer": lambda: ds.gen_customer(spark, rows["customer"]),
        "supplier": lambda: ds.gen_supplier(spark, rows["supplier"]),
        "part": lambda: ds.gen_part(spark, rows["part"]),
        "orders": lambda: ds.gen_orders(spark, rows["orders"], rows["customer"]),
        "lineitem": lambda: ds.gen_lineitem(
            spark, rows["lineitem"], rows["orders"], rows["part"], rows["supplier"]
        ),
        "events": lambda: ds.gen_events(spark, rows["events"]),
        "documents": lambda: spark.range(rows["documents"]).mapInPandas(
            _seeded_kernel(ds._documents_kernel, value), ds.DOC_SCHEMA
        ),
        "embeddings": lambda: spark.range(rows["embeddings"]).mapInPandas(
            _seeded_kernel(ds._embeddings_kernel, value), ds.EMB_SCHEMA
        ),
    }
    os.makedirs(out_dir, exist_ok=True)
    with _salted(value):
        for name in tables:
            tmp = os.path.join(out_dir, f"_tmp_{name}")
            gens[name]().coalesce(1).write.mode("overwrite").parquet(tmp)
            (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
            shutil.move(part, os.path.join(out_dir, f"{name}.parquet"))
            shutil.rmtree(tmp)

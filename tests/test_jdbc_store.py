"""JDBC store parity (S3/S5 over a real JDBC database): the reference
persists to Postgres over JDBC (pom.xml:47-59); here the same store
interface runs against embedded Derby — the JDBC engine shipped with
Spark — and the full ingest pipeline executes against it unchanged."""

from __future__ import annotations

import os
import tempfile

import pytest

from streamforge_data_pipeline_spark import registry
from streamforge_data_pipeline_spark.sources.jdbc_store import JdbcTableStore

from tests.conftest import SF_SMALL


@pytest.fixture
def store(tmp_path):
    return JdbcTableStore(f"jdbc:derby:{tmp_path}/db;create=true")


def _items(spark, n, start=0):
    return spark.range(start, start + n).selectExpr(
        "concat('EXT', CAST(id AS STRING)) AS external_id",
        "concat('Item_', CAST(id AS STRING)) AS name",
        "CAST(id % 100 AS INT) AS quantity",
        "CAST('2026-09-01' AS DATE) AS expiry_date",
    )


def test_insert_read_roundtrip_and_pk_uniqueness(spark, store):
    store.insert_items(_items(spark, 50))
    store.insert_items(_items(spark, 30, start=50))  # second upload
    items = store.read(spark, "items")
    assert items.count() == 80
    # SERIAL-PK parity: ids unique across appended uploads
    assert items.select("id").distinct().count() == 80
    ids = {r["external_id"] for r in items.collect()}
    assert ids == {f"EXT{i}" for i in range(80)}


def test_prefetch_projection_and_filter_pushdown(spark, store):
    store.insert_items(_items(spark, 20))
    proj = store.existing_ids(spark)
    plan = proj._jdf.queryExecution().executedPlan().toString()
    # only external_id crosses the wire (ItemRepository.java:16-17)
    assert "ReadSchema: struct<external_id:string>" in plan
    assert "quantity" not in plan

    from pyspark.sql import functions as F

    lookup = store.read(spark, "items").filter(F.col("external_id") == "EXT7")
    lplan = lookup._jdf.queryExecution().executedPlan().toString()
    # equality predicate pushed into the database's WHERE clause
    assert "PushedFilters" in lplan and "EXT7" in lplan
    assert lookup.count() == 1


def test_missing_table_is_empty_prefetch(spark, store):
    assert store.existing_ids_or_empty(spark).count() == 0


def test_partitioned_parallel_read(spark, store):
    store.insert_items(_items(spark, 100))
    df = store.read_partitioned(spark, "items", column="id", num_partitions=4)
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 100
    # same rows as the single-connection read
    single = store.read(spark, "items")
    assert df.exceptAll(single).count() == 0 and single.exceptAll(df).count() == 0


def test_full_ingest_pipeline_against_jdbc(spark, store, tmp_path):
    """plans.ingest.run_upload duck-types on the store: the flagship
    pipeline (validate -> dedup -> typed insert) against JDBC."""
    from streamforge_data_pipeline_spark.plans.ingest import run_upload

    csv = tmp_path / "f.csv"
    csv.write_text(
        "externalId,name,quantity,expiryDate\n"
        "A1,First,5,2026-09-01\n"
        "A1,Dup,6,2026-09-01\n"
        "B2,Second,bad,2026-09-01\n"
        "C3,Third,7,2026-09-02\n"
    )
    res = run_upload(spark, str(csv), store)
    assert (res.processed, res.inserted, res.failed) == (4, 2, 2)
    assert res.error_counts == {
        "duplicate externalId": 1,
        "quantity invalid": 1,
    }
    rows = {(r["external_id"], r["quantity"]) for r in store.read(spark, "items").collect()}
    assert rows == {("A1", 5), ("C3", 7)}

    # re-upload: committed ids re-reject via the JDBC prefetch anti-join
    res2 = run_upload(spark, str(csv), store)
    assert res2.inserted == 0
    assert res2.error_counts["duplicate externalId"] == 3


def test_jdbc_roundtrip_key_keeps_its_database_in_a_stage_dir(spark, monkeypatch):
    """The ``jdbc_roundtrip`` key writes and reads its Derby database on
    every call, inside a per-process ``_stage_once`` dir that is removed
    at exit, never under the old fixed ``streamforge_spark/jdbc`` dir."""
    legacy = "/tmp/streamforge_spark/jdbc"  # the fixed path it used to write

    def legacy_entries():
        return sorted(os.listdir(legacy)) if os.path.isdir(legacy) else []

    before = legacy_entries()
    monkeypatch.setattr(registry, "_STAGED", {})
    fn = registry.REGISTRY["jdbc_roundtrip"].fn
    first = sorted(map(tuple, fn(spark, SF_SMALL).collect()))
    second = sorted(map(tuple, fn(spark, SF_SMALL).collect()))
    assert first and first == second
    db_dir = registry._STAGED[(os.path.abspath(SF_SMALL), "jdbc")]
    work = os.path.dirname(db_dir)
    assert os.path.dirname(work) == tempfile.gettempdir()
    assert os.path.basename(work).startswith(registry.STAGE_PREFIX)
    assert os.path.isdir(os.path.join(db_dir, "derby"))
    assert legacy_entries() == before

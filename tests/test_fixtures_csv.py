"""Golden fixtures from FIXTURES.md F1a/F1b — the reference's exact
error labels and the dedup quirk (BackgroundCsvProcessor.java:226-258),
driven through the real CSV intake + ingest pipeline."""

from __future__ import annotations

import os

import pytest

from streamforge_data_pipeline_spark.plans.ingest import run_upload
from streamforge_data_pipeline_spark.sources.store import TableStore

F1 = """externalId,name,quantity,expiryDate
X1,First,bad,2026-09-01
X1,Second,5,2026-09-01
A1,Widget
B1,Widget,5
 ,Widget,5,2026-09-01
A2, ,5,2026-09-01
A4,Widget,lots,2026-09-01
A5,Widget,5,01/09/2026
OK1,Good,7,2026-09-01
C1,Short
C1,Full,3,2026-09-02
E5,Extra,5,,x
"""


@pytest.fixture
def csv_path(tmp_path):
    p = tmp_path / "f1.csv"
    p.write_text(F1)
    return str(p)


def test_f1_error_labels_and_dedup_quirk(spark, csv_path, tmp_path):
    store = TableStore(str(tmp_path / "store"))
    res = run_upload(spark, csv_path, store, error_report_path=str(tmp_path / "err"))

    assert res.processed == 12
    assert res.inserted == 2
    assert res.failed == 10
    # F1b quirk: X1/First claims the id despite failing quantity, so
    # X1/Second is 'duplicate externalId' though First never inserted.
    # But C1/Short fails the ARITY check, which short-circuits BEFORE
    # the claim (:227 vs :242) — so C1/Full is valid.
    # B1 (3 cells) is the true-arity case: univocity row.length == 3
    # -> 'too few columns' (:227), NOT 'expiryDate invalid'.
    # E5 (5 tokens, EMPTY 4th cell) is the converse: row.length == 5
    # PASSES arity (:227 is >= 4), then expiryDate '' fails the date
    # parse — 'expiryDate invalid', NOT 'too few columns' (the parsed
    # 4th cell is null, so a null-based arity heuristic mislabels it).
    assert res.error_counts == {
        "quantity invalid": 2,  # X1/First + A4
        "duplicate externalId": 1,  # X1/Second
        "too few columns": 3,  # A1, B1 (3 cells), C1/Short
        "externalId empty": 1,
        "name empty": 1,
        "expiryDate invalid (expected yyyy-MM-dd)": 2,  # A5, E5
    }

    items = store.read(spark, "items")
    rows = {(r["external_id"], r["quantity"], str(r["expiry_date"])) for r in items.collect()}
    assert rows == {("OK1", 7, "2026-09-01"), ("C1", 3, "2026-09-02")}
    # SERIAL-PK parity: ids unique
    assert items.select("id").distinct().count() == items.count()

    # error report: cells comma-joined + error appended (S7)
    lines = {
        r["value"]
        for r in spark.read.text(str(tmp_path / "err")).collect()
    }
    assert "X1,Second,5,2026-09-01,duplicate externalId" in lines
    # malformed rows render their TRUE cells (String.join over the
    # parsed row, BackgroundCsvProcessor.java:145,286-293) — a 2-cell
    # row renders 2 cells, not padded to 4.
    assert "A1,Widget,too few columns" in lines
    assert "B1,Widget,5,too few columns" in lines


F_QUOTED = """externalId,name,quantity,expiryDate
Q1,"Name, with comma",5,2026-09-01
Q3,"A, B",5
Q4,"He said ""hi"", twice",7,2026-09-01
OKQ,Plain,3,2026-09-01
"""


def test_quoted_commas_reference_arity(spark, tmp_path):
    """r5 (r4 brief #6): a quoted comma must not shift the arity
    label. univocity's row.length for 'Q3,"A, B",5' is 3 -> 'too few
    columns' (BackgroundCsvProcessor.java:227); the r4 naive comma
    split counted 4 and mislabeled it 'expiryDate invalid'. Quoted
    4-cell rows (incl. '""' escapes) parse as ordinary valid rows."""
    p = tmp_path / "fq.csv"
    p.write_text(F_QUOTED)
    store = TableStore(str(tmp_path / "store_q"))
    res = run_upload(spark, str(p), store,
                     error_report_path=str(tmp_path / "err_q"))

    assert res.processed == 4
    assert res.inserted == 3
    assert res.failed == 1
    assert res.error_counts == {"too few columns": 1}

    items = store.read(spark, "items")
    names = {r["external_id"]: r["name"] for r in items.collect()}
    # parsed cells are the unquoted, unescaped contents
    assert names == {
        "Q1": "Name, with comma",
        "Q4": 'He said "hi", twice',
        "OKQ": "Plain",
    }

    # report rendering: univocity-cell semantics — the in-cell comma
    # is STRIPPED (safeArray, BackgroundCsvProcessor.java:286-293),
    # field separators survive, 3 cells render as 3 cells
    lines = {
        r["value"] for r in spark.read.text(str(tmp_path / "err_q")).collect()
    }
    assert "Q3,A B,5,too few columns" in lines


def test_reupload_is_idempotent(spark, csv_path, tmp_path):
    store = TableStore(str(tmp_path / "store"))
    run_upload(spark, csv_path, store)
    res2 = run_upload(spark, csv_path, store)
    # committed rows re-reject as duplicates on retry (SURVEY §7) —
    # OK1 and C1 now exist in the table, X1/Second still an in-file dup.
    assert res2.inserted == 0
    assert res2.error_counts["duplicate externalId"] == 3
    # id uniqueness must hold across appended uploads too
    items = store.read(spark, "items")
    assert items.select("id").distinct().count() == items.count()


MPB = "spark.sql.files.maxPartitionBytes"


def _upload_seeing_split_size(spark, monkeypatch, path, tmp_path):
    """run_upload, returning the maxPartitionBytes its CSV scan planned with."""
    from streamforge_data_pipeline_spark.plans import ingest

    seen = []

    def spy(spark_, csv_path):
        seen.append(spark_.conf.get(MPB))
        return read(spark_, csv_path)

    read = ingest.read_intake_csv
    monkeypatch.setattr(ingest, "read_intake_csv", spy)
    res = run_upload(spark, path, TableStore(str(tmp_path / "store")))
    assert res.processed == 12
    (value,) = seen
    return value


@pytest.mark.parametrize(
    "spelling, nbytes", [("128MB", 128 << 20), ("1g", 1 << 30), ("64k", 64 << 10)]
)
def test_upload_split_size_reads_every_byte_spelling(
    spark, monkeypatch, csv_path, tmp_path, spelling, nbytes
):
    from streamforge_data_pipeline_spark.functions import conf_bytes

    old = spark.conf.get(MPB)
    try:
        spark.conf.set(MPB, spelling)
        assert conf_bytes(spark, MPB) == nbytes
        # a tiny file: 4 MB floor, capped at the session value
        want = min(nbytes, 4 << 20)
        assert _upload_seeing_split_size(spark, monkeypatch, csv_path, tmp_path) == str(want)
        assert spark.conf.get(MPB) == spelling  # restored
    finally:
        spark.conf.set(MPB, old)


def test_upload_of_unsized_uri_keeps_session_split_size(
    spark, monkeypatch, csv_path, tmp_path
):
    # the local disk cannot size a URI: the session value stays as it is
    old = spark.conf.get(MPB)
    seen = _upload_seeing_split_size(spark, monkeypatch, f"file://{csv_path}", tmp_path)
    assert seen == old
    assert spark.conf.get(MPB) == old

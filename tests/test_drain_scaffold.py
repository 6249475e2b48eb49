"""The shared drain scaffolds of the registry's streaming keys:
``registry._drain`` (scratch TableStore drains), the stage-once inputs
(``registry._stage_once``) and ``drain_conf.drain_to_memory``
(memory-sink drains). Each must leave nothing behind: no scratch dir,
even when the drain fails, no temp view, and no second staging write.
"""

from __future__ import annotations

import os
import tempfile

import pytest

from streamforge_data_pipeline_spark import registry
from streamforge_data_pipeline_spark.registry import REGISTRY

from tests.conftest import SF_SMALL
from tests.utils import count_jobs


def test_failing_drain_removes_its_scratch_dir(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def start_fn(spark, src, store, checkpoint_dir, **_):
        os.makedirs(checkpoint_dir)
        assert os.listdir(tmp_path)  # the scratch dir exists
        raise RuntimeError("start failed")

    with pytest.raises(RuntimeError, match="start failed"):
        registry._drain(
            spark,
            start_fn,
            lambda spark, store: store.read(spark, "log"),
            src=os.path.join(SF_SMALL, "documents.parquet"),
        )
    assert os.listdir(tmp_path) == []


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@pytest.mark.parametrize(
    "key",
    [
        "stream_interval_join",
        "stream_session_window",
        "stream_running_totals",
        "stream_exact_dedup",
        "stream_interval_join_spread_outer",
    ],
)
def test_memory_sink_drain_leaves_no_temp_view(spark, key):
    before = _temp_views(spark)
    REGISTRY[key].fn(spark, SF_SMALL).count()
    assert _temp_views(spark) - before == set()


@pytest.mark.parametrize(
    "key, sub, single_file",
    [("csv_scan", "events_csv", False), ("row_count", "events_csv1", True)],
)
def test_csv_stage_is_written_once_per_process(
    spark, monkeypatch, key, sub, single_file
):
    monkeypatch.setattr(registry, "_STAGED", {})
    fn = REGISTRY[key].fn
    assert count_jobs(spark, lambda: fn(spark, SF_SMALL)) >= 1
    assert count_jobs(spark, lambda: fn(spark, SF_SMALL)) == 0
    path = registry._csv_stage(spark, SF_SMALL, sub, single_file)
    work = os.path.dirname(path)
    assert os.path.dirname(work) == tempfile.gettempdir()
    assert os.path.basename(work).startswith(registry.STAGE_PREFIX)
    assert not path.startswith("/tmp/streamforge_spark")

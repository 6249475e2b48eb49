"""Registry-wide cache-lifecycle gate (r5 brief #4): after ANY registry
query runs to completion, the Spark cache manager must be EMPTY — no
operator may return while a DataFrame.persist() it took is still
registered, because the caller has no handle to release it and a
long-lived service session would accumulate executor storage until
eviction pressure (the creep class ADVICE r4 first flagged in
lsh_probe_dedup, and r5's verdict found re-grown in dup_ngram_fraction
and dup_span_removal).

The rule operators follow is functions.finalize_released: materialize
the result eagerly (localCheckpoint — blocks live under ContextCleaner's
GC-managed lifetime), then unpersist every cached intermediate.
localCheckpoint blocks are deliberately OUT of scope here: they never
enter the cache manager, and they are freed when the result handle is
dropped — the unbounded-creep failure mode is specific to persist().

The same loop checks temp directories: a key must not leave an
``sfdp_*`` scratch dir behind in ``tempfile.gettempdir()``. Stage-once
inputs (prefix ``registry.STAGE_PREFIX``) are exempt: they are meant to
live until interpreter exit.
"""

from __future__ import annotations

import os
import tempfile

import pytest

from streamforge_data_pipeline_spark.registry import REGISTRY, STAGE_PREFIX

from tests.conftest import SF_SMALL


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _scratch_dirs() -> set[str]:
    return {
        d
        for d in os.listdir(tempfile.gettempdir())
        if d.startswith("sfdp_") and not d.startswith(STAGE_PREFIX)
    }


def test_detector_actually_detects(spark):
    """Guard against jvm-API drift silently green-lighting everything:
    a sentinel persist must flip the emptiness probe."""
    spark.catalog.clearCache()
    assert _cache_empty(spark)
    df = spark.range(10).persist()
    df.count()
    assert not _cache_empty(spark)
    df.unpersist()
    assert _cache_empty(spark)


@pytest.mark.parametrize("key", sorted(REGISTRY))
def test_no_cache_creep(spark, key):
    spark.catalog.clearCache()
    dirs_before = _scratch_dirs()
    REGISTRY[key].fn(spark, SF_SMALL).count()
    assert _scratch_dirs() <= dirs_before, (
        f"registry key {key!r} left temp dirs "
        f"{sorted(_scratch_dirs() - dirs_before)} behind"
    )
    assert _cache_empty(spark), (
        f"registry key {key!r} left persisted DataFrames in the cache "
        "manager after running — release intermediates with "
        "functions.finalize_released (or an explicit unpersist after "
        "the consuming action)"
    )

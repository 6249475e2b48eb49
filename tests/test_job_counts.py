"""Spark job-count ceilings for registry keys whose speed comes from
running few jobs: the relational keys of the benchmark's ``query``
workload, where per-job fixed cost dominates, and the keys whose earlier
wins came from cutting jobs (checkpointed subtrees, driver-side replays).

Each key runs once to warm one-time state (the schema cache of
``session.load``, staged inputs), then its second run is counted under a
job group. A count above the ceiling is a regression to explain; a count
below it should lower the ceiling.
"""

from __future__ import annotations

import pytest

from streamforge_data_pipeline_spark.registry import REGISTRY

from tests.conftest import SF_SMALL
from tests.utils import count_jobs

CEILINGS = {
    # query workload
    "pricing_summary": 2,
    "top_revenue": 4,
    "region_sales": 6,
    "rollup_sales": 6,
    "rank_orders": 2,
    "error_counts": 4,
    "upload_summary": 4,
    # job-count wins
    "minhash_lsh_dedup": 23,
    "pagerank_canonical_blocked": 19,
    "stream_curation_funnel": 5,
    "minhash_estimate": 24,
    "stream_simhash_dedup": 3,
}


@pytest.mark.parametrize("key", sorted(CEILINGS))
def test_job_count_within_ceiling(spark, key):
    def run():
        REGISTRY[key].fn(spark, SF_SMALL).collect()

    run()
    jobs = count_jobs(spark, run)
    assert jobs <= CEILINGS[key], f"{key}: {jobs} jobs > ceiling {CEILINGS[key]}"

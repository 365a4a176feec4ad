"""Build-job budget: the Spark jobs a registry entry runs while its
plan is built (schema reads, size gates, driver pulls, refinement
collects), at sf0.001, as a committed table. Wall-clock noise hides a
plan-shape regression; a job count does not. A count may only go down:
lower it in the change that lowers it."""

from __future__ import annotations

import pytest

from vectorsearchutil_spark import queries as Q

#: entry -> most build jobs allowed at sf0.001
_BUILD_JOBS = {
    "dedup_connected_components": 3,
    "dedup_ngram_jaccard": 2,
}


@pytest.mark.parametrize("name", sorted(_BUILD_JOBS))
def test_build_jobs_within_budget(spark, sf_dir, run_jobs, name):
    Q.QUERIES[name](spark, sf_dir)  # warm the code paths once
    spark.catalog.clearCache()
    _, jobs = run_jobs(lambda: Q.QUERIES[name](spark, sf_dir))
    assert len(jobs) <= _BUILD_JOBS[name], jobs

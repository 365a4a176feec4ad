from __future__ import annotations

import itertools
import os

import pytest

from vectorsearchutil_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


#: Slow tier (VERDICT r10 #3): base test ids (parametrizations
#: included) whose max single-test call time measured ≥ 5 s in the
#: duration-ranked full-suite run of 2026-08-18 (681 passed, 33 min
#: wall on the r11 host; per-test log: --durations=0). These names
#: account for ~70% of suite call time (1364 s vs 609 s for the other
#: 643 tests); every one re-verifies an invariant the fast tier
#: already covers at smaller sizes (registry-wide sweeps, brute-force
#: property comparisons, multi-restart ACID/streaming scenarios), so
#: the split is a runtime-budget tier, not a coverage cut. Keep this
#: list CENTRAL — one auditable place instead of 14 scattered marks.
_SLOW_TESTS = {
    "test_empty_registry.py::test_every_query_executes_on_tiny_tables",
    "test_tz_parity.py::test_tz_parity_hostile_zones",
    "test_plan_lint.py::test_no_cartesian_or_rowwise_udf_anywhere",
    "test_acid_store.py::test_acid_replace_wipes",
    "test_properties.py::test_triplet_mining_matches_numpy",
    "test_properties.py::test_weighted_quantile_exact_matches_bruteforce",
    "test_properties.py::test_funnel_matches_naive",
    "test_properties.py::test_heavy_hitters_equals_naive_on_arbitrary_data",
    "test_properties.py::test_containment_equals_bruteforce",
    "test_properties.py::test_split_leakage_matches_naive",
    "test_properties.py::test_triangle_count_matches_naive",
    "test_properties.py::test_token_budget_invariants",
    "test_ties_parity.py::test_tie_sensitive_queries_match_oracles",
    "test_streaming.py::test_streaming_attribution_matches_batch_twin",
    "test_streaming.py::test_streaming_funnel_matches_batch_twin",
    "test_streaming.py::test_streaming_token_budget_matches_batch_twin",
    "test_streaming.py::test_stateful_profiles_accumulate_across_restarts",
    "test_streaming.py::test_watermark_drops_late_data",
    "test_streaming.py::test_stream_stream_interval_join_matches_batch",
    "test_streaming.py::test_stream_ingest_deduped_rejects_near_dups",
    "test_mlops.py::test_logreg_partitioning_invariant_bitwise",
    "test_knn.py::test_self_knn_strategy_equality",
    "test_knn.py::test_self_knn_blocked_odd_block_counts",
    "test_sketches.py::test_weighted_quantile_generalization",
    "test_edge_inputs.py::test_session3_wave3_ops_on_degenerate_inputs",
    "test_edge_inputs.py::test_session3_ops_on_degenerate_inputs",
    "test_edge_inputs.py::test_vector_ops_on_degenerate_embeddings",
    "test_store.py::test_ann_index_compaction",
    "test_round10_properties.py::test_fdr_bh_matches_naive_step_up",
    "test_round10_properties.py::test_mann_kendall_matches_naive",
    "test_round10_properties.py::test_nelson_aalen_matches_naive",
    "test_round10_properties.py::test_quality_ece_matches_naive",
}


@pytest.hookimpl(tryfirst=True)
def pytest_collection_modifyitems(config, items):
    """Tiered suite (VERDICT r10 #3): the serial full suite outran the
    driver's test budget (VERIFY_r10 cut off mid-run at ~47% with zero
    failures), so the heaviest tests are marked ``slow`` and skipped by
    default — the default `pytest tests/` run must FINISH. Set
    SPARK_GRAFT_SLOW_TESTS=1 to run everything (done at least once per
    round; the round-close log records it).

    Runs before ``-k``/``--deselect`` filtering, so it sees everything
    collected. When that is the whole suite (every ``test_*.py`` file
    contributed a test), every ``_SLOW_TESTS`` entry must name a
    collected test: a renamed or deleted test fails collection instead
    of leaving a stale entry behind."""
    bases = {
        item.nodeid.split("[", 1)[0].removeprefix("tests/") for item in items
    }
    files = {
        f for f in os.listdir(os.path.dirname(__file__))
        if f.startswith("test_") and f.endswith(".py")
    }
    if files <= {b.split("::", 1)[0] for b in bases}:
        stale = sorted(_SLOW_TESTS - bases)
        if stale:
            raise pytest.UsageError(
                f"_SLOW_TESTS names tests that were not collected: {stale}"
            )
    if os.environ.get("SPARK_GRAFT_SLOW_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="slow tier — set SPARK_GRAFT_SLOW_TESTS=1 to include"
    )
    for item in items:
        base = item.nodeid.split("[", 1)[0].removeprefix("tests/")
        if "slow" in item.keywords or base in _SLOW_TESTS:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("vectorsearchutil-tests", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


_JOB_GROUPS = itertools.count()


@pytest.fixture
def run_jobs(spark):
    """``run_jobs(fn)`` calls ``fn()`` under a Spark job group of its
    own and returns ``(fn's result, sorted ids of the jobs it ran)``."""
    sc = spark.sparkContext

    def run(fn):
        group = f"test-jobs-{next(_JOB_GROUPS)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, sorted(sc.statusTracker().getJobIdsForGroup(group))

    return run

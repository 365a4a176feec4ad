"""Physical-plan assertions: the scale posture is a property of the
plan, not a hope — filters reach the scan, dims broadcast, top-k never
global-sorts, fact joins never go cartesian."""

import pyspark.sql.functions as F
import pytest

from vectorsearchutil_spark import queries as Q
from vectorsearchutil_spark.plans.explain import (
    assert_no_cartesian,
    formatted_plan,
    has_broadcast_join,
    pushed_filters,
)


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    df = Q.QUERIES["tpch_q1_pricing_summary"](spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed  # predicate reaches parquet


def test_q1_column_pruning(spark, sf_dir):
    df = Q.QUERIES["tpch_q1_pricing_summary"](spark, sf_dir)
    plan = formatted_plan(df)
    # lineitem has 11 columns; the scan must not read join keys we
    # never use
    assert "l_partkey" not in plan
    assert "l_suppkey" not in plan


def test_q3_broadcasts_customer(spark, sf_dir):
    df = Q.QUERIES["tpch_q3_shipping_priority"](spark, sf_dir)
    assert has_broadcast_join(df)
    assert_no_cartesian(df)


def test_q5_single_fact_shuffle(spark, sf_dir):
    df = Q.QUERIES["tpch_q5_local_supplier"](spark, sf_dir)
    plan = formatted_plan(df)
    assert_no_cartesian(df)
    # orders⋈lineitem is the only sort-merge/shuffled-hash join; all
    # dims broadcast
    non_broadcast_joins = plan.count("SortMergeJoin") + plan.count(
        "ShuffledHashJoin"
    )
    assert non_broadcast_joins <= 1


def test_knn_single_is_take_ordered(spark, sf_dir):
    df = Q.QUERIES["knn_single"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan  # distributed top-k
    assert "Exchange" not in plan  # no shuffle at all


def test_dedup_exact_prunes_columns(spark, sf_dir):
    df = Q.QUERIES["dedup_exact"](spark, sf_dir)
    plan = formatted_plan(df)
    # only doc_id + text needed; lang/source/n_chars must be pruned
    assert "n_chars" not in plan


def test_zeroshot_broadcasts_labels(spark, sf_dir):
    df = Q.QUERIES["zeroshot_cosine"](spark, sf_dir)
    assert "BroadcastNestedLoopJoin" in formatted_plan(df) or has_broadcast_join(df)


def test_q6_all_predicates_pushed(spark, sf_dir):
    df = Q.QUERIES["tpch_q6_forecast_revenue"](spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed
    assert "l_discount" in pushed
    assert "l_quantity" in pushed
    # 4-column projection: returnflag/linestatus never leave the scan
    assert "l_returnflag" not in formatted_plan(df)


def test_q4_semi_join_not_cartesian(spark, sf_dir):
    df = Q.QUERIES["tpch_q4_order_priority"](spark, sf_dir)
    plan = formatted_plan(df)
    assert_no_cartesian(df)
    assert "LeftSemi" in plan  # EXISTS became a semi-join


def test_q7_single_fact_shuffle(spark, sf_dir):
    df = Q.QUERIES["tpch_q7_volume_shipping"](spark, sf_dir)
    plan = formatted_plan(df)
    assert_no_cartesian(df)
    non_broadcast_joins = plan.count("SortMergeJoin") + plan.count(
        "ShuffledHashJoin"
    )
    assert non_broadcast_joins <= 1  # only orders⋈lineitem shuffles


def test_q10_take_ordered_top20(spark, sf_dir):
    df = Q.QUERIES["tpch_q10_returned_items"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan  # limit 20 never global-sorts
    assert_no_cartesian(df)


def test_q19_brand_filter_reaches_part_scan(spark, sf_dir):
    df = Q.QUERIES["tpch_q19_disjunctive"](spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    # Catalyst extracts brand IN (...) from the disjunction and pushes
    # it below the join into the part scan
    assert "p_brand" in pushed


def test_q22_anti_join(spark, sf_dir):
    df = Q.QUERIES["tpch_q22_dormant_customers"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "LeftAnti" in plan  # NOT EXISTS became an anti-join
    assert_no_cartesian(df)


def test_knn_batch_window_group_limit(spark, sf_dir):
    # Spark's WindowGroupLimit must prune to top-k map-side (Partial)
    # BEFORE the exchange — the property that keeps batched kNN's
    # shuffle at k×queries rows instead of corpus×queries
    df = Q.QUERIES["knn_batch"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan.split("Exchange")[1]  # partial below shuffle


def test_q16_anti_join_and_distinct_count(spark, sf_dir):
    df = Q.QUERIES["tpch_q16_supplier_counts"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "LeftAnti" in plan  # NOT IN became an anti-join
    assert_no_cartesian(df)


def test_q21_single_fact_scan_per_pass(spark, sf_dir):
    # the decorrelated rewrite must not expand into three correlated
    # joins against lineitem: the qualifying-line join and the
    # per-order aggregate are the only lineitem consumers
    import re

    df = Q.QUERIES["tpch_q21_waiting_supplier"](spark, sf_dir)
    plan = formatted_plan(df)
    assert_no_cartesian(df)
    # numbered plan nodes count each scan once (the formatted text
    # repeats every scan in the details section)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 5


def test_q12_shipdate_pushdown(spark, sf_dir):
    df = Q.QUERIES["tpch_q12_priority_lines"](spark, sf_dir)
    assert "l_shipdate" in " ".join(pushed_filters(df))


def test_hash_sample_is_pure_filter_no_shuffle(spark, sf_dir):
    df = Q.QUERIES["documents_hash_sample"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Exchange" not in plan  # deterministic sample = narrow filter
    assert "text" not in plan  # unused wide column pruned from scan


def test_stratified_sample_no_join_no_shuffle(spark, sf_dir):
    df = Q.QUERIES["orders_stratified_sample"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Exchange" not in plan  # literal rate map, not a rate-table join
    assert "Join" not in plan


def test_histogram_single_shuffle_partial_agg(spark, sf_dir):
    df = Q.QUERIES["events_value_histogram"](spark, sf_dir)
    plan = formatted_plan(df)
    import re

    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_funnel_stages_broadcast(spark, sf_dir):
    df = Q.QUERIES["events_funnel"](spark, sf_dir)
    assert_no_cartesian(df)  # the 1-row crossJoins are broadcast-NL
    assert has_broadcast_join(df)


def test_filter_pipeline_narrow_projection(spark, sf_dir):
    df = Q.QUERIES["docs_filter_pipeline"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Exchange" not in plan  # all rules in one pass, no shuffle


def test_pack_windows_no_text_in_window_shuffle(spark, sf_dir):
    df = Q.QUERIES["docs_pack_windows"](spark, sf_dir)
    plan = formatted_plan(df)
    # the prefix-sum window must see (id, count) rows only — text is
    # projected away before the sort/exchange
    assert "Window" in plan
    win_part = plan[plan.index("Window"):]
    assert "text" not in win_part.split("Scan parquet")[0]


def test_pii_redaction_narrow_no_shuffle(spark, sf_dir):
    df = Q.QUERIES["docs_pii_redaction"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Exchange" not in plan  # one narrow regexp projection


def test_incremental_ingest_broadcasts_batch(spark, sf_dir, monkeypatch):
    """Above the driver gate the store side joins a broadcast of the
    incoming batch (at this scale the batch is under the gate, so the
    gate is lowered to 0 to plan it)."""
    from vectorsearchutil_spark.operators import dedup as dd

    monkeypatch.setattr(dd, "INGEST_GATE_MAX_ROWS", 0)
    df = Q.QUERIES["dedup_incremental_ingest"](spark, sf_dir)
    assert has_broadcast_join(df)
    assert_no_cartesian(df)


def test_tfidf_broadcasts_vocab(spark, sf_dir):
    df = Q.QUERIES["docs_tfidf_hashed"](spark, sf_dir)
    assert has_broadcast_join(df)  # df-table joins map-side
    assert_no_cartesian(df)


def test_weighted_sample_windowgrouplimit(spark, sf_dir):
    """Per-stratum weighted reservoir: the rank cut must run map-side
    (WindowGroupLimit) so each task forwards at most k rows per
    stratum into the single window shuffle."""
    df = Q.QUERIES["docs_weighted_sample"](spark, sf_dir)
    assert "WindowGroupLimit" in formatted_plan(df)


def test_cms_probe_broadcasts_sketch(spark, sf_dir):
    """CMS point queries join the (d x w row) counter table broadcast
    — the corpus-side aggregation is the only shuffle."""
    df = Q.QUERIES["docs_token_cms"](spark, sf_dir)
    assert has_broadcast_join(df)
    assert_no_cartesian(df)


def test_neardup_blocked_no_driver_collect_in_plan(spark, sf_dir):
    """The blocked exact all-pairs plan: block-pair tasks via
    applyInPandas, the tiny task list broadcast, and NO driver-side
    corpus materialization anywhere (the point of the strategy)."""
    from vectorsearchutil_spark.operators.similarity import (
        neardup_pairs_blocked,
    )
    from vectorsearchutil_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    df = neardup_pairs_blocked(emb, threshold=0.4, n_blocks=4)
    plan = formatted_plan(df)
    assert "FlatMapGroupsInPandas" in plan
    assert "BroadcastExchange" in plan  # the 10-row task list
    assert "CollectLimit" not in plan


def test_zorder_key_stays_jvm_side(spark, sf_dir):
    """The Morton key is closed-form bit arithmetic evaluated in the
    JVM aggregate projection — no Python eval nodes, one partial-agg
    shuffle, and the shift/mask expressions visible in the plan."""
    df = Q.QUERIES["events_zorder_histogram"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # exactly one Exchange NODE (tree line + its detail block): the
    # partial+final aggregate shuffle and nothing else
    tree = plan.partition("\n\n")[0]
    assert tree.count("Exchange") == 1
    assert "<<" in plan and "1431655765" in plan


def test_vocab_oov_broadcasts_vocab(spark, sf_dir):
    """The top-k vocabulary LEFT-joins back onto the token stream
    broadcast — the corpus-side explode+agg are the only shuffles."""
    df = Q.QUERIES["docs_vocab_oov"](spark, sf_dir)
    assert has_broadcast_join(df)
    assert_no_cartesian(df)


def test_bigram_logprob_text_never_shuffles(spark, sf_dir):
    """Bigrams derive array-side from one tokenize pass: every
    Exchange carries narrow (id/w1/w2/count) rows — the raw text
    column must not appear below any Exchange."""
    df = Q.QUERIES["docs_bigram_logprob"](spark, sf_dir)
    plan = formatted_plan(df)
    assert_no_cartesian(df)
    tree = plan.partition("\n\n")[0]
    for chunk in tree.split("Exchange")[1:]:
        head = chunk.splitlines()[0]
        assert "text#" not in head


def test_markov_single_window_partition(spark, sf_dir):
    """One per-user lead window + the tiny transition aggregate; the
    normalizing row-sum windows over the (type x type) table only."""
    df = Q.QUERIES["events_markov_transitions"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Window" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_fuzzy_pairs_query_no_cartesian(spark, sf_dir):
    """Deletion-neighborhood blocking must hash-join on signature —
    never a cartesian/nested-loop pairing."""
    df = Q.QUERIES["customers_fuzzy_name_pairs"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pagerank_long_sum_aggregate(spark, sf_dir, monkeypatch):
    """The per-iteration reduction must be a hash aggregate over the
    fixed-point longs (map-side combine), not a collect_list fold.
    Forced distributed through the edge gate: below it the registry
    query returns a local result frame with no aggregate to assert
    on."""
    from vectorsearchutil_spark.operators import graph
    from vectorsearchutil_spark.operators.graph import pagerank_over_pairs
    from vectorsearchutil_spark.operators.similarity import neardup_pairs
    from vectorsearchutil_spark.queries import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = neardup_pairs(emb, threshold=0.35)
    monkeypatch.setattr(graph, "_DRIVER_MAX_EDGES", -1)
    df = pagerank_over_pairs(pairs)
    plan = formatted_plan(df)
    assert "collect_list" not in plan
    assert "sum(" in plan


def test_cdc_merge_snapshot_never_shuffles(spark, sf_dir):
    """The snapshot side must reach the anti-join unshuffled (the
    changelog's window is the only wide op on the merge path; with a
    small changelog the anti-join broadcasts)."""
    df = Q.QUERIES["customers_cdc_merge"](spark, sf_dir)
    plan = formatted_plan(df)
    assert_no_cartesian(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_session_concurrency_day_partitioned_windows(spark, sf_dir):
    """The sweep-line must run day-partitioned; the only empty-
    partitionBy window is over the days-sized carry table."""
    df = Q.QUERIES["events_session_concurrency"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("Window") >= 2  # user sessionize + day windows
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_snapshot_diff_hashes_before_join(spark, sf_dir):
    """Only (id, md5) rows may enter the full-outer join — the text
    column must not appear below the join's Exchanges."""
    df = Q.QUERIES["docs_snapshot_diff"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "FullOuter" in plan or "full_outer" in plan
    tree = plan.partition("\n\n")[0]
    for chunk in tree.split("Exchange")[1:]:
        assert "text#" not in chunk.splitlines()[0]


def test_ohlc_single_aggregate_no_window(spark, sf_dir):
    """OHLC bars are min_by/max_by aggregates — no sort, no window,
    one partial-agg shuffle."""
    df = Q.QUERIES["events_ohlc_hourly"](spark, sf_dir)
    plan = formatted_plan(df)
    tree = plan.partition("\n\n")[0]
    assert "Window" not in tree
    assert tree.count("Exchange") == 1


# ------------------------------------------- session-3 plan posture


def test_weighted_median_never_sorts_raw_rows(spark, sf_dir):
    """The refinement plan's only Sorts feed windows over AGGREGATED
    state (histogram buckets / crossing-bucket distinct values) —
    every Sort sits above an Aggregate, never directly on the scan."""
    from vectorsearchutil_spark import queries as Q
    from vectorsearchutil_spark.plans.explain import formatted_plan

    plan = formatted_plan(
        Q.QUERIES["lineitem_weighted_median"](spark, sf_dir)
    )
    # raw-row sort would appear as a Sort whose child scans lineitem
    # without an intervening partial aggregate; assert every window's
    # input went through HashAggregate first
    assert "WindowGroupLimit" not in plan  # no top-k shortcut hides it
    before_first_window = plan.split("Window")[0]
    assert "HashAggregate" in before_first_window


def test_winsorize_broadcasts_bounds(spark, sf_dir):
    from vectorsearchutil_spark import queries as Q
    from vectorsearchutil_spark.plans.explain import formatted_plan

    plan = formatted_plan(
        Q.QUERIES["events_value_winsorized"](spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pareto_semi_join_broadcast_no_cartesian(spark, sf_dir):
    from vectorsearchutil_spark import queries as Q
    from vectorsearchutil_spark.plans.explain import formatted_plan

    plan = formatted_plan(Q.QUERIES["docs_pareto_frontier"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan


def test_logreg_gradient_is_partial_aggregated(spark, sf_dir):
    """The per-iteration gradient aggregate must partial-aggregate
    (map-side combine) so only d+1 longs per partition shuffle."""
    import pyspark.sql.functions as F

    from vectorsearchutil_spark.plans.explain import formatted_plan
    from vectorsearchutil_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(F.col("embedding").cast("array<double>").alias("x"))

    def fake(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame({"i": [1], "q": [0]})

    agg = (
        base.mapInPandas(fake, "i int, q long")
        .groupBy("i")
        .agg(F.sum("q"))
    )
    plan = formatted_plan(agg)
    # partial + final HashAggregate pair around the exchange
    assert plan.count("HashAggregate") >= 2


def test_neyman_rank_sample_has_group_limit(spark, sf_dir):
    """The literal rank bound restores the WindowGroupLimit pushdown
    the data-dependent n_h blocks — each partition keeps ≤ max_n rows
    per stratum before the window shuffle."""
    from vectorsearchutil_spark import queries as Q
    from vectorsearchutil_spark.plans.explain import formatted_plan

    plan = formatted_plan(Q.QUERIES["orders_neyman_sample"](spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_calibrated_quality_windows_over_aggregates(spark, sf_dir):
    """The percent-rank window runs over per-(source, quality)
    aggregates, never raw docs: a HashAggregate precedes the first
    Window."""
    from vectorsearchutil_spark import queries as Q
    from vectorsearchutil_spark.plans.explain import formatted_plan

    plan = formatted_plan(
        Q.QUERIES["docs_calibrated_quality"](spark, sf_dir)
    )
    # the Window sits inside the broadcast (pct-table) branch, above
    # the (source, quality) count aggregate; the probe side never
    # windows. Formatted plans print branches out of line, so assert
    # structurally: a Window exists, an aggregate exists, and the
    # join is broadcast.
    assert "Window" in plan and "HashAggregate" in plan
    assert "BroadcastHashJoin" in plan
    # the window's direct lineage contains the count aggregate: the
    # logical plan nests Aggregate under Window
    logical = Q.QUERIES["docs_calibrated_quality"](
        spark, sf_dir
    )._jdf.queryExecution().optimizedPlan().toString()
    w = logical.find("Window")
    assert w >= 0 and "Aggregate" in logical[w:]


# -- round-5 window plan pins: the 43-query rotation's scale posture --


def test_mad_outliers_single_scan_broadcast_only(spark, sf_dir):
    """The medians come from histogram refinement MATERIALIZED to
    literal relations at build time (the r7 lineage fix: the lazy
    nested composition compounded to 36 raw-relation references), so
    the FINAL plan is exactly one fact scan + two broadcast joins —
    no Window, no raw-row sort, no sort-merge join, no re-derivation
    of the medians per consumer."""
    df = Q.QUERIES["events_value_mad_outliers"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan  # medians are literals, not windows
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    import re as _re

    # base (file) relations only: the two driver-built median tables
    # are LocalRelations
    assert len(_re.findall(r"\bRelation \[", opt)) == 1


def test_ahash_neardup_cached_signatures_no_cartesian(spark, sf_dir):
    """The banded self-join runs off the CACHED narrow signature
    table (the 132 s -> 1.9 s Catalyst-inlining fix) and never goes
    cartesian — candidates come from (band, value) equi-joins."""
    plan = formatted_plan(
        Q.QUERIES["multimodal_ahash_neardup"](spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_tfidf_cosine_pairs_equi_joins_only(spark, sf_dir):
    """Sparse cosine via token-postings equi-join: no cartesian and
    no nested-loop anywhere — the pair space is the df-capped
    posting-list join, not an all-pairs comparison."""
    plan = formatted_plan(
        Q.QUERIES["docs_tfidf_cosine_pairs"](spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_duplicate_spans_anchor_equi_join(spark, sf_dir):
    """Span detection joins 60-bit gram anchors (equi), never raw
    text: no cartesian, and the only join inputs are the narrow
    (id, pos, hash) projections."""
    plan = formatted_plan(
        Q.QUERIES["docs_duplicate_spans"](spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_attribution_windows_partitioned_by_user(spark, sf_dir):
    """The batch attribution window is per-user — a global
    unpartitioned window over raw events would serialize the whole
    table through one task."""
    plan = formatted_plan(Q.QUERIES["events_attribution"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the window spec names the user partition key
    window_section = plan.split("Window")[1] if "Window" in plan else ""
    assert "user_id" in window_section


def test_binary_rerank_take_ordered(spark, sf_dir):
    """Hamming prefilter + exact rerank ends in TakeOrderedAndProject
    — top-k never global-sorts the candidate set."""
    plan = formatted_plan(Q.QUERIES["knn_binary_rerank"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_incident_overlap_bucketed_equi_join(spark, sf_dir):
    """Interval overlap joins through canonical buckets (equi-join
    keys), NOT the bare range predicate Spark would nested-loop."""
    plan = formatted_plan(
        Q.QUERIES["events_incident_overlap_join"](spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


@pytest.mark.parametrize(
    "name",
    [
        "events_basket_lift",
        "embeddings_dim_covariance",
        "text_token_pmi",
        "events_running_distinct_hll",
        "orders_abc_analysis",
        "events_cohort_ltv",
        "events_time_to_convert",
        "docs_ngram_diversity",
        "dedup_minhash_recall",
        "text_gopher_repetition",
        "lineitem_weighted_quantiles",
        "embeddings_dim_drift_psi",
        "embeddings_random_projection",
        "docs_unimax_allocation",
        "docs_curriculum_order",
        "events_trend_by_type",
        "events_seasonality",
        "customers_cdc_merge",
        "docs_scrub_spans",
        "orders_neyman_sample",
    ],
)
def test_window_queries_no_cartesian_no_sortmerge_fact_join(
    spark, sf_dir, name
):
    """Blanket scale pin for the round-5 rotation: no cartesian
    products, and any nested-loop join is broadcast-bounded (the
    sanctioned 1-row aggregate / label / grid cross joins) — a
    CartesianProduct or an unbounded nested loop is how an operator
    silently goes quadratic at 100x."""
    plan = formatted_plan(Q.QUERIES[name](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_ngram_jaccard_per_doc_lists_planned_once(
    spark, sf_dir, monkeypatch
):
    """The per-doc shingle lists feed four consumers (both prefix
    sides and both verify sides) without a cache: the executed plan
    holds no InMemoryRelation, one exchange over the per-doc aggregate,
    and ReusedExchange for the other consumers. (The gate constant is
    patched so that this small input takes the plan, not the driver.)"""
    from vectorsearchutil_spark.operators import dedup
    from vectorsearchutil_spark.operators.dedup import ngram_jaccard_pairs
    from vectorsearchutil_spark.sources.readers import load_table

    monkeypatch.setattr(dedup, "_NGRAM_DRIVER_MAX_DOCS", -1)
    df = ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5
    )
    assert "InMemoryRelation" not in formatted_plan(df)
    df.collect()
    final = formatted_plan(df).split("== Initial Plan ==")[0]
    assert "InMemoryRelation" not in final
    nodes = [ln.strip(" :+-*") for ln in final.splitlines()]
    per_doc = sum(
        1
        for above, below in zip(nodes, nodes[1:])
        if above.startswith("Exchange ")
        and below.startswith("ObjectHashAggregate ")
    )
    assert per_doc == 1, final
    assert final.count("ReusedExchange") >= 2, final

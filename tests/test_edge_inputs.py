"""Degenerate-input sweep: every operator family must tolerate empty
frames, single rows, and null-heavy columns without raising — the
failure class ADVICE r3 found three times (empty block sides, null
histogram buckets, empty manifests). Results need not be meaningful on
these inputs, but plans must execute and produce a well-formed frame.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


@pytest.fixture(scope="module")
def frames(spark):
    return {
        "empty_docs": spark.createDataFrame(
            [], "doc_id long, text string, lang string, source string"
        ),
        "null_docs": spark.createDataFrame(
            [(0, None, None, "s0"), (1, "a b", "en", None)],
            "doc_id long, text string, lang string, source string",
        ),
        "one_doc": spark.createDataFrame(
            [(0, "hello world", "en", "s0")],
            "doc_id long, text string, lang string, source string",
        ),
        "empty_emb": spark.createDataFrame(
            [], "vec_id long, label int, embedding array<double>"
        ),
        "one_emb": spark.createDataFrame(
            [(0, 1, [1.0] * 8)],
            "vec_id long, label int, embedding array<double>",
        ),
        "empty_ev": spark.createDataFrame(
            [],
            "event_id long, user_id long, ts timestamp,"
            " event_type string, value double",
        ),
    }


def test_text_ops_on_degenerate_docs(frames):
    from vectorsearchutil_spark.operators import textanalysis as T

    for df in (frames["empty_docs"], frames["null_docs"]):
        assert T.token_stats(df).count() == df.count()
        assert T.quality_score(df).count() == df.count()
        assert T.language_id(df).count() == df.count()
        T.token_entropy(df).count()  # null/empty text rows drop


def test_dedup_ops_on_degenerate_docs(frames):
    from vectorsearchutil_spark.operators import dedup as D

    assert D.segment_dedup(frames["empty_docs"]).count() == 0
    D.segment_dedup(frames["null_docs"]).count()


def test_sampling_ops_on_degenerate_docs(frames):
    from vectorsearchutil_spark.operators import sampling as S

    assert (
        S.dsir_importance(
            frames["empty_docs"], F.col("source") == "s0"
        ).count()
        == 0
    )
    # no doc matches the target predicate → uniform-ish model, no crash
    assert (
        S.dsir_importance(
            frames["one_doc"], F.col("source") == "zzz"
        ).count()
        == 1
    )
    S.dsir_importance(frames["null_docs"], F.col("source") == "s0").count()


def test_sketch_ops_on_empty_events(frames):
    from vectorsearchutil_spark.operators import sketches as K

    ev = frames["empty_ev"]
    assert K.histogram_quantiles(ev, "value", 0.0, 1.0).count() == 0
    assert K.kmv_sketch(ev, ["event_type"], "user_id").count() == 0
    assert K.hll_distinct(ev, ["event_type"], "user_id").count() == 0
    tok = ev.select(F.col("event_type").alias("token"))
    assert K.heavy_hitters_exact(tok, "token").count() == 0
    assert K.cms_table(tok, "token").count() == 0


def test_vector_ops_on_degenerate_embeddings(frames):
    from vectorsearchutil_spark.operators import embeddings as E
    from vectorsearchutil_spark.operators import similarity as Sim

    empty, one = frames["empty_emb"], frames["one_emb"]
    assert E.normalize_vectors(empty).count() == 0
    assert E.quantize_int8(one).count() == 1
    assert E.centroid_outliers(empty).count() == 0
    # single vector per label: stddev is NULL → z NULL, still a row
    assert E.centroid_outliers(one).count() == 1
    assert Sim.neardup_pairs_matrix(empty).count() == 0
    assert Sim.semdedup(one, k=2, iterations=1).count() == 1
    q = empty.selectExpr(
        "vec_id AS query_id", "embedding AS query_vector"
    )
    assert Sim.knn_batch_matrix(one, q, k=3).count() == 0
    oq = one.selectExpr("vec_id AS query_id", "embedding AS query_vector")
    assert Sim.knn_batch_matrix(empty, oq, k=3).count() == 0
    assert Sim.hard_negative_mining(empty, one, k=2).count() == 0


def test_session3_ops_on_degenerate_inputs(frames, spark):
    """Session-3 operators under the same sweep: empty frames,
    single rows, nulls — execute and stay well-formed."""
    from vectorsearchutil_spark.operators.dedup import duplicate_spans
    from vectorsearchutil_spark.operators.mlops import ols_trend_by_group
    from vectorsearchutil_spark.operators.sampling import unimax_allocation
    from vectorsearchutil_spark.operators.sketches import (
        hll_running_distinct,
        weighted_median_exact,
    )
    from vectorsearchutil_spark.operators.skyline import pareto_frontier_2d

    empty_docs = frames["empty_docs"]
    null_docs = frames["null_docs"]
    one_doc = frames["one_doc"]

    assert duplicate_spans(empty_docs).count() == 0
    assert duplicate_spans(null_docs).count() == 0
    assert duplicate_spans(one_doc).count() == 0

    assert unimax_allocation(empty_docs, budget=100).count() == 0
    assert unimax_allocation(one_doc, budget=100).count() == 1

    wm_empty = spark.createDataFrame([], "g string, v double, w double")
    assert weighted_median_exact(wm_empty, "g", "v", "w").count() == 0
    one = spark.createDataFrame([("a", 1.5, 2.0)], "g string, v double, w double")
    got = weighted_median_exact(one, "g", "v", "w").collect()
    assert [(r["g"], r["weighted_median"]) for r in got] == [("a", 1.5)]

    trend_empty = spark.createDataFrame([], "g string, x long, y double")
    assert ols_trend_by_group(trend_empty, "g", "x", "y").count() == 0
    trend_null = spark.createDataFrame(
        [("a", None, 1.0), ("a", 5, None)], "g string, x long, y double"
    )
    assert ols_trend_by_group(trend_null, "g", "x", "y").count() == 0

    sky_empty = spark.createDataFrame([], "id long, n int, q double")
    assert pareto_frontier_2d(sky_empty, "q", "n").count() == 0

    rd_empty = spark.createDataFrame([], "day date, user_id long")
    assert hll_running_distinct(rd_empty, "day", "user_id").count() == 0


def test_session3_wave3_ops_on_degenerate_inputs(frames, spark):
    from vectorsearchutil_spark.operators.dedup import (
        scrub_duplicate_spans,
    )
    from vectorsearchutil_spark.operators.intervals import (
        interval_overlap_join,
    )
    from vectorsearchutil_spark.streaming.windows import histogram_psi

    empty_docs = frames["empty_docs"]
    null_docs = frames["null_docs"]
    one_doc = frames["one_doc"]

    assert scrub_duplicate_spans(empty_docs).count() == 0
    # null/short docs pass through untouched with 0 removed
    got = {
        r["doc_id"]: r["n_removed_tokens"]
        for r in scrub_duplicate_spans(null_docs).collect()
    }
    assert got == {0: 0, 1: 0}
    assert scrub_duplicate_spans(one_doc).count() == 1

    iv_schema = "id long, start_ts timestamp, end_ts timestamp"
    empty_iv = spark.createDataFrame([], iv_schema)
    one_iv = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "2024-01-01 01:00:00")],
        "id long, start_ts string, end_ts string",
    ).selectExpr(
        "id", "cast(start_ts AS timestamp) AS start_ts",
        "cast(end_ts AS timestamp) AS end_ts",
    )
    assert interval_overlap_join(empty_iv, one_iv).count() == 0
    assert interval_overlap_join(one_iv, empty_iv).count() == 0

    hist_schema = "event_type string, bucket int, n long"
    empty_hist = spark.createDataFrame([], hist_schema)
    base = spark.createDataFrame([("a", 0, 10)], hist_schema)
    # empty current: no keys -> empty verdicts, no crash
    assert histogram_psi(empty_hist, base).count() == 0
    # empty baseline: Laplace smoothing keeps PSI finite
    rows = histogram_psi(base, empty_hist).collect()
    assert len(rows) == 1 and rows[0]["psi"] is not None

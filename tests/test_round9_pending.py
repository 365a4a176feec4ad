"""Unit tests for the round-9 staging wave (queries.py wave
7: triangle census, ordered funnel, dup-cluster-aware split leakage,
semi-hard triplet mining, audience overlap). The oracle gate runs
separately via CHECK_ORACLES_PENDING=1; these pin the operator
SEMANTICS on hand-checkable inputs."""

from __future__ import annotations

import datetime as dt

import pytest

from vectorsearchutil_spark.operators.graph import triangle_count
from vectorsearchutil_spark.operators.similarity import triplet_mining
from vectorsearchutil_spark.queries import (
    audience_overlap,
    funnel_conversion,
    split_leakage,
)


def _pairs(spark, edges):
    return spark.createDataFrame(
        [(a, b) for a, b in edges], "id_a long, id_b long"
    )


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    )


def _t(minute):
    return dt.datetime(2024, 1, 1, 12, minute, 0)


# ---------------------------------------------------------------- triangles


def test_triangle_single(spark):
    row = triangle_count(_pairs(spark, [(1, 2), (1, 3), (2, 3)])).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (3, 3, 1)
    # each node closes one wedge: 3 wedges, coeff = 3*1/3 = 1
    assert row.n_wedges == 3
    assert row.clustering_coeff == pytest.approx(1.0)


def test_triangle_star_has_none(spark):
    # a star: hub 1 with 4 leaves — wedges but zero triangles
    row = triangle_count(
        _pairs(spark, [(1, 2), (1, 3), (1, 4), (1, 5)])
    ).collect()[0]
    assert row.n_triangles == 0
    assert row.n_wedges == 6  # C(4,2) around the hub
    assert row.clustering_coeff == 0.0


def test_triangle_k4(spark):
    # complete graph on 4 nodes: C(4,3)=4 triangles, 12 wedges
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    row = triangle_count(_pairs(spark, edges)).collect()[0]
    assert row.n_triangles == 4
    assert row.n_wedges == 12
    assert row.clustering_coeff == pytest.approx(1.0)


def test_triangle_chain_plus_triangle(spark):
    # path 1-2-3-4 (no triangle) disjoint from triangle 10-11-12
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12)]
    row = triangle_count(_pairs(spark, edges)).collect()[0]
    assert row.n_triangles == 1
    assert row.n_nodes == 7
    assert row.n_edges == 6


def test_triangle_empty(spark):
    row = triangle_count(
        spark.createDataFrame([], "id_a long, id_b long")
    ).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles, row.n_wedges) == (
        0, 0, 0, 0,
    )
    assert row.clustering_coeff == 0.0


# ------------------------------------------------------------------- funnel


def _funnel_rows(df):
    return {r.step: r for r in df.collect()}


def test_funnel_strict_ordering(spark):
    # user 1 completes in order; user 2 purchases BEFORE clicking —
    # the purchase must NOT count (that's the funnel, not 3 counts)
    ev = _ev(spark, [
        (1, "view", _t(0)), (1, "click", _t(1)), (1, "purchase", _t(2)),
        (2, "view", _t(0)), (2, "purchase", _t(1)), (2, "click", _t(2)),
    ])
    rows = _funnel_rows(funnel_conversion(ev, ("view", "click", "purchase")))
    assert rows[1].users == 2
    assert rows[2].users == 2
    assert rows[3].users == 1
    assert rows[3].conv_from_prev == pytest.approx(0.5)
    assert rows[3].conv_overall == pytest.approx(0.5)


def test_funnel_same_timestamp_not_counted(spark):
    # strictly-after: a click at the exact view instant doesn't qualify
    ev = _ev(spark, [(1, "view", _t(0)), (1, "click", _t(0))])
    rows = _funnel_rows(funnel_conversion(ev, ("view", "click", "purchase")))
    assert rows[1].users == 1
    assert rows[2].users == 0
    assert rows[3].users == 0


def test_funnel_no_step1_event(spark):
    # clicks without any view reach nothing; empty funnel still 3 rows
    ev = _ev(spark, [(1, "click", _t(0)), (2, "purchase", _t(1))])
    rows = _funnel_rows(funnel_conversion(ev, ("view", "click", "purchase")))
    assert [rows[k].users for k in (1, 2, 3)] == [0, 0, 0]
    assert rows[1].conv_overall is None  # 0/0 -> NULL, not a crash
    assert rows[2].conv_from_prev is None


def test_funnel_retry_after_step(spark):
    # user views late AND early: earliest view anchors; a click
    # between the two views still counts (it's after the earliest)
    ev = _ev(spark, [
        (1, "view", _t(0)), (1, "click", _t(1)), (1, "view", _t(2)),
    ])
    rows = _funnel_rows(funnel_conversion(ev, ("view", "click", "purchase")))
    assert rows[2].users == 1


# ----------------------------------------------------------- split leakage


def _docs(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id long")


def _comp(spark, pairs):
    return spark.createDataFrame(
        [(d, c) for d, c in pairs], "doc_id long, component long"
    )


def test_split_cluster_aware_never_leaks(spark):
    # every doc of a cluster must land in its rep's split: per-cluster
    # aware-split spread == 1 by construction
    docs = _docs(spark, range(200))
    # clusters: {0..9} -> rep 0, {10..19} -> rep 10
    comp = _comp(
        spark,
        [(i, 0) for i in range(10)] + [(i, 10) for i in range(10, 20)],
    )
    out = split_leakage(docs, comp).collect()
    assert sum(r.n_docs for r in out) == 200
    assert sum(r.naive_docs for r in out) == 200
    # the two 10-doc clusters collapse to one rep each: total distinct
    # clusters = 200 - 20 + 2
    assert sum(r.n_clusters for r in out) == 182


def test_split_naive_leak_counts_straddlers(spark):
    # singletons can't leak: every naive_leaked doc must come from a
    # multi-doc cluster, and leaked docs are counted in their own
    # naive split
    docs = _docs(spark, range(1000))
    comp = _comp(spark, [(i, 0) for i in range(50)])  # one 50-doc cluster
    out = split_leakage(docs, comp).collect()
    leaked = sum(r.naive_leaked_docs for r in out)
    # the 50-doc cluster straddles splits under the naive hash with
    # overwhelming probability (0.8^49 ~ 2e-5 to stay together)
    assert leaked == 50 or leaked == 0
    assert leaked == 50  # deterministic hash: pinned by construction


def test_split_deterministic(spark):
    docs = _docs(spark, range(300))
    comp = _comp(spark, [])
    a = sorted(map(tuple, split_leakage(docs, comp).collect()))
    b = sorted(map(tuple, split_leakage(docs, comp).collect()))
    assert a == b


# ----------------------------------------------------------- triplet mining


def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )


def test_triplet_semihard_window(spark):
    # anchor 0 (label 0): positive 100 at cos 1.0; negatives at
    # cos ~0.98 (semi-hard: within 0.05 below pos), ~0.0 (neither),
    # and 1.0 (hard: >= pos)
    import math

    def vec(theta):
        return [math.cos(theta), math.sin(theta)]

    rows = [
        (0, 0, vec(0.0)),            # anchor
        (100, 0, vec(0.0)),          # positive, cos 1.0
        (101, 1, vec(0.2)),          # cos ~0.980 -> semi-hard
        (102, 1, vec(math.pi / 2)),  # cos 0 -> neither
        (103, 1, vec(0.0)),          # cos 1.0 -> hard
    ]
    out = {r.vec_id: r for r in triplet_mining(_emb(spark, rows)).collect()}
    a = out[0]
    assert a.pos_sim == pytest.approx(1.0)
    assert a.n_hard == 1
    assert a.n_semihard == 1
    assert a.hardest_neg_sim == pytest.approx(1.0)


def test_triplet_no_positive(spark):
    # an anchor with no same-label partner: pos_sim NULL, counts 0
    rows = [(0, 0, [1.0, 0.0]), (100, 1, [0.9, 0.1])]
    a = triplet_mining(_emb(spark, rows)).collect()[0]
    assert a.pos_sim is None
    assert a.n_hard == 0 and a.n_semihard == 0
    assert a.hardest_neg_sim is not None


def test_triplet_excludes_nonfinite_and_zero(spark):
    rows = [
        (0, 0, [1.0, 0.0]),
        (1, 0, [float("nan"), 1.0]),  # excluded: non-finite
        (2, 0, [0.0, 0.0]),           # excluded: zero norm
        (100, 0, [1.0, 0.0]),
    ]
    out = triplet_mining(_emb(spark, rows)).collect()
    assert sorted(r.vec_id for r in out) == [0]
    assert out[0].pos_sim == pytest.approx(1.0)


def test_triplet_strategy_equality(spark, monkeypatch):
    # the size gate must be invisible: expr (interpreted HOF, at the
    # default Arrow wall) and matrix (Arrow/BLAS partial stats, at a
    # zero wall) produce identical rows on the 1e-6-quantized grid
    import random

    from vectorsearchutil_spark import session

    rng = random.Random(7)
    rows = [
        (i, i % 4, [rng.uniform(-1, 1) for _ in range(16)])
        for i in range(400)
    ]
    emb = _emb(spark, rows)
    a = sorted(map(tuple, triplet_mining(emb).collect()))
    monkeypatch.setattr(session, "ARROW_MIN_CELLS", 0)
    b = sorted(map(tuple, triplet_mining(emb).collect()))
    assert a == b


# --------------------------------------------------------- audience overlap


def test_audience_overlap_exact(spark):
    ev = _ev(spark, [
        (1, "a", _t(0)), (1, "b", _t(1)),
        (2, "a", _t(0)),
        (3, "b", _t(0)), (3, "b", _t(1)),  # duplicate (user,type)
    ])
    out = audience_overlap(ev).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.type_a, r.type_b) == ("a", "b")
    assert (r.n_a, r.n_b, r.n_both) == (2, 2, 1)
    assert r.jaccard == pytest.approx(1.0 / 3.0, abs=1e-6)


def test_audience_overlap_disjoint_pairs_absent(spark):
    ev = _ev(spark, [(1, "a", _t(0)), (2, "b", _t(0))])
    assert audience_overlap(ev).count() == 0


# ------------------------------------------------------------- recall curve


def test_recall_curve_hand_built(spark):
    from vectorsearchutil_spark.queries import recall_curve

    # cluster 0 around x=0, cluster 1 around x=10; one query vector
    # (vec_id 0) sits inside cluster 0. Its true top-7 = itself + the
    # 5 cluster-0 points + ONE cluster-1 point, so probing only list
    # 0 recalls 6/7 and probing both recalls 7/7.
    rows = [(0, [0.5, 0.0])]
    rows += [(10 + i, [0.2 * i, 0.0]) for i in range(5)]        # 0.0..0.8
    rows += [(20 + i, [9.5 + 0.2 * i, 0.0]) for i in range(5)]  # 9.5..10.3
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 0.0])],
        "centroid_id long, centroid_vec array<double>",
    )
    out = {
        r.nprobe: r
        for r in recall_curve(
            emb, cents, query_below=8, k=7, max_probe=2
        ).collect()
    }
    assert out[1].matches == 6
    assert out[1].recall == pytest.approx(6 / 7, abs=1e-6)
    assert out[1].scanned_rows == 6          # list 0 holds 6 vectors
    assert out[2].matches == 7
    assert out[2].recall == pytest.approx(1.0)
    assert out[2].scanned_rows == 11         # both lists = the corpus
    assert out[2].scanned_frac == pytest.approx(1.0)


# -------------------------------------------------------- conformal coverage


def test_conformal_coverage_hand_built(spark):
    from vectorsearchutil_spark.operators.analytics import (
        conformal_coverage_daily,
    )

    # 27 daily totals, lag 7 -> 20 scored days; calibration = first 14
    # (residuals 1..14 dollars, so q = ceil(15*0.9)=14th smallest =
    # $14), eval = last 6 with residuals 5,10,14,15,20,14 -> 4 of 6
    # inside +/- q
    base = dt.datetime(2024, 1, 1)
    prices = {}
    for i in range(7):
        prices[i] = 100.0
    cal_deltas = {i: float(i - 6) for i in range(7, 21)}       # 1..14
    ev_deltas = dict(zip(range(21, 27), [5.0, 10.0, 14.0, 15.0, 20.0, 14.0]))
    for i in range(7, 27):
        d = cal_deltas.get(i, ev_deltas.get(i))
        prices[i] = prices[i - 7] + d
    rows = [
        (i, base + dt.timedelta(days=i), prices[i]) for i in range(27)
    ]
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate timestamp, o_totalprice double"
    )
    r = conformal_coverage_daily(orders).collect()[0]
    assert r.n_calibration == 14
    assert r.n_eval == 6
    assert r.q_cents == 1400
    assert r.coverage == pytest.approx(4 / 6, abs=1e-6)


def test_conformal_coverage_degenerate(spark):
    from vectorsearchutil_spark.operators.analytics import (
        conformal_coverage_daily,
    )

    empty = spark.createDataFrame(
        [], "o_orderkey long, o_orderdate timestamp, o_totalprice double"
    )
    r = conformal_coverage_daily(empty).collect()[0]
    assert (r.n_calibration, r.n_eval) == (0, 0)
    assert r.q_cents is None and r.coverage is None


# ------------------------------------------------------------- mutual kNN


def test_mutual_knn_hand_built(spark):
    from vectorsearchutil_spark.operators.knn import knn_mutual_pairs

    # two tight pairs + one outlier whose NN is not reciprocated at
    # k=1: (0,1) mutual, (2,3) mutual, 4 points at 5's side but 5's
    # NN is 4 while 4's NN is... build explicitly in 2D
    rows = [
        (0, [0.0, 1.0]),
        (1, [0.05, 1.0]),    # 0 <-> 1 mutual at k=1
        (2, [1.0, 0.0]),
        (3, [1.0, 0.05]),    # 2 <-> 3 mutual at k=1
        (4, [0.7, 0.7]),     # 4's NN is 5, 5's NN is 4: also mutual
        (5, [0.72, 0.7]),
    ]
    df = spark.createDataFrame(rows, "id long, vector array<double>")
    r = knn_mutual_pairs(df, k=1).collect()[0]
    assert r.n_points == 6
    assert r.n_knn_edges == 6
    assert r.n_mutual_pairs == 3
    assert r.n_mutual_points == 6
    assert r.reciprocity == pytest.approx(1.0)


def test_mutual_knn_asymmetric(spark):
    from vectorsearchutil_spark.operators.knn import knn_mutual_pairs

    # hub geometry at k=1: a tight pair (0,1) and a far point 2 whose
    # NN is 1, but 1's NN is 0 — 2's edge is unreciprocated
    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.02]),
        (2, [0.5, 0.5]),
    ]
    df = spark.createDataFrame(rows, "id long, vector array<double>")
    r = knn_mutual_pairs(df, k=1).collect()[0]
    assert r.n_knn_edges == 3
    assert r.n_mutual_pairs == 1
    assert r.n_mutual_points == 2
    assert r.reciprocity == pytest.approx(2 / 3, abs=1e-6)


def test_mutual_knn_strategy_equality(spark, monkeypatch):
    import random

    from vectorsearchutil_spark import session
    from vectorsearchutil_spark.operators.knn import knn_mutual_pairs

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id long, vector array<double>")
    a = knn_mutual_pairs(df, k=5).collect()[0]
    monkeypatch.setattr(session, "ARROW_MIN_CELLS", 0)  # the arrow path
    b = knn_mutual_pairs(df, k=5).collect()[0]
    assert tuple(a) == tuple(b)


def test_mutual_knn_excludes_invalid(spark):
    from vectorsearchutil_spark.operators.knn import knn_mutual_pairs

    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.01]),
        (2, [float("nan"), 1.0]),
        (3, [0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "id long, vector array<double>")
    r = knn_mutual_pairs(df, k=1).collect()[0]
    assert r.n_points == 2
    assert r.n_mutual_pairs == 1

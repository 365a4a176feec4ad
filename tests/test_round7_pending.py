"""Unit tests for the round-7 staging wave (queries.py:
hapax ratio, daily peaks, Theil-Sen trend, block bootstrap, top-2
PCA, sharded curriculum). The oracle gate runs separately via
CHECK_ORACLES_PENDING=1; these pin the operator semantics on
hand-checkable inputs."""

from __future__ import annotations

import datetime as dt

import pytest


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )


def test_daily_peaks_detects_strict_spike(spark):
    from vectorsearchutil_spark.operators.analytics import daily_peaks

    base = dt.datetime(2024, 1, 1, 12)
    rows = []
    # 9 consecutive days of value 10.0, day 5 spikes to 100.0
    for d in range(9):
        v = 100.0 if d == 4 else 10.0
        rows.append((d, base + dt.timedelta(days=d), "a", v))
    got = daily_peaks(_ev(spark, rows)).collect()
    assert len(got) == 1
    r = got[0]
    assert r["day"] == "2024-01-05"
    assert r["day_value"] == 100.0
    assert r["n_neighbors"] == 6
    assert r["neighbor_mean"] == 10.0


def test_daily_peaks_prominence_boundary_exact(spark):
    """The 1.5x test is >= via integer cross-multiplication: a day at
    exactly 1.5x the neighbour mean IS a peak; one cent below is
    not."""
    from vectorsearchutil_spark.operators.analytics import daily_peaks

    base = dt.datetime(2024, 1, 1, 12)

    def series(center):
        rows = []
        for d in range(7):
            v = center if d == 3 else 10.0
            rows.append((d, base + dt.timedelta(days=d), "a", v))
        return rows

    at = daily_peaks(_ev(spark, series(15.0))).collect()
    assert [r["day"] for r in at] == ["2024-01-04"]
    below = daily_peaks(_ev(spark, series(14.99))).collect()
    assert below == []


def test_daily_peaks_requires_strictly_greater(spark):
    from vectorsearchutil_spark.operators.analytics import daily_peaks

    base = dt.datetime(2024, 1, 1, 12)
    rows = []
    # twin spikes a day apart: neither strictly exceeds the other
    for d in range(7):
        v = 100.0 if d in (3, 4) else 1.0
        rows.append((d, base + dt.timedelta(days=d), "a", v))
    assert daily_peaks(_ev(spark, rows)).collect() == []


def test_theil_sen_ignores_outlier_day(spark):
    from vectorsearchutil_spark.operators.analytics import (
        theil_sen_daily_trend,
    )

    base = dt.datetime(2024, 1, 1).date()
    # perfect +1.00/day trend except one crazy day
    rows = []
    for d in range(9):
        amt = 10.0 + d if d != 4 else 10000.0
        rows.append((d, base + dt.timedelta(days=d), amt))
    o = spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate date, o_totalprice double"
    )
    got = theil_sen_daily_trend(
        o, date_col="o_orderdate", amount_col="o_totalprice"
    ).collect()
    assert len(got) == 1
    assert got[0]["n_pairs"] == 36
    # the median pairwise slope stays 1.0 despite the outlier
    assert got[0]["slope_per_day"] == pytest.approx(1.0)


def test_theil_sen_lower_median_definition(spark):
    """Even pair count: the LOWER median (smallest slope with
    rank*2 >= n) — pinned so the oracle's definition can't drift."""
    from vectorsearchutil_spark.operators.analytics import (
        theil_sen_daily_trend,
    )

    base = dt.datetime(2024, 1, 1).date()
    # days 0,1,2,3 values 0,1,3,6 -> pairwise slopes: (0,1)=1,
    # (1,2)=2, (2,3)=3, (0,2)=1.5, (1,3)=2.5, (0,3)=2
    # sorted [1, 1.5, 2, 2, 2.5, 3]; lower median (smallest slope
    # with rank*2 >= 6 -> rank 3) = 2.0
    vals = [0.0, 1.0, 3.0, 6.0]
    rows = [
        (i, base + dt.timedelta(days=i), v) for i, v in enumerate(vals)
    ]
    o = spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate date, o_totalprice double"
    )
    got = theil_sen_daily_trend(o).collect()[0]
    assert got["n_pairs"] == 6
    assert got["slope_per_day"] == pytest.approx(2.0)


def test_block_bootstrap_deterministic_and_sane(spark):
    from vectorsearchutil_spark.operators.analytics import (
        block_bootstrap_mean_ci,
    )

    base = dt.datetime(2024, 1, 1, 12)
    rows = []
    k = 0
    for d in range(30):
        for _ in range(3):
            rows.append(
                (k, base + dt.timedelta(days=d), "a", 10.0 + (d % 7))
            )
            k += 1
    e = _ev(spark, rows)
    a = block_bootstrap_mean_ci(e).collect()[0]
    b = block_bootstrap_mean_ci(e.repartition(8)).collect()[0]
    assert a == b  # hash draw: partitioning/run invariant
    assert a["n_days"] == 30
    assert a["n_boot"] == 200
    assert a["ci_lo"] <= a["mean_daily"] <= a["ci_hi"]
    # daily totals are 3*(10+d%7) in [30, 48]; any resample mean too
    assert 30.0 <= a["ci_lo"] and a["ci_hi"] <= 48.0


def test_hapax_ratio_counts(spark, sf_dir):
    from vectorsearchutil_spark.queries import QUERIES

    docs = spark.createDataFrame(
        [
            (1, "a b b c", "en", "s1", 7),
            (2, "c d", "en", "s1", 3),
            (3, "x x", "en", "s2", 3),
        ],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        docs.write.parquet(os.path.join(tmp, "documents.parquet"))
        got = {
            r["source"]: r
            for r in QUERIES["docs_hapax_ratio"](
                spark, tmp
            ).collect()
        }
    s1 = got["s1"]
    # s1 tokens: a b b c | c d -> counts a1 b2 c2 d1
    assert s1["n_tokens"] == 6 and s1["vocab"] == 4 and s1["hapax"] == 2
    assert s1["hapax_frac"] == pytest.approx(0.5)
    assert s1["type_token_ratio"] == pytest.approx(4 / 6, abs=1e-6)
    s2 = got["s2"]
    assert s2["vocab"] == 1 and s2["hapax"] == 0


def test_pca_top2_recovers_two_planted_directions(spark):
    import numpy as np

    from vectorsearchutil_spark.operators.embeddings import (
        power_iteration_top2,
    )

    rng = np.random.RandomState(3)
    n, d = 400, 8
    m = rng.randn(n, d) * 0.01
    m[:, 2] += rng.randn(n) * 10.0   # dominant direction: dim 3
    m[:, 5] += rng.randn(n) * 5.0    # second direction: dim 6
    rows = [(i, [float(x) for x in m[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = sorted(
        power_iteration_top2(df).collect(), key=lambda r: r["dim"]
    )
    assert len(got) == d
    lam1 = got[0]["eigenvalue"]
    lam2 = got[0]["eigenvalue2"]
    gap = got[0]["spectral_gap"]
    # planted variances ~100 and ~25
    assert 70.0 < lam1 < 130.0
    assert 15.0 < lam2 < 40.0
    assert gap == pytest.approx(lam1 - lam2, abs=1e-6)
    lead1 = max(got, key=lambda r: abs(r["loading"]))
    lead2 = max(got, key=lambda r: abs(r["loading2"]))
    assert lead1["dim"] == 3
    assert lead2["dim"] == 6
    # near-orthogonality of the two fixed-point loadings
    dot = sum(r["loading"] * r["loading2"] for r in got)
    n1 = sum(r["loading"] ** 2 for r in got) ** 0.5
    n2 = sum(r["loading2"] ** 2 for r in got) ** 0.5
    assert abs(dot / (n1 * n2)) < 0.05


def test_pca_top2_partition_invariant(spark):
    import numpy as np

    from vectorsearchutil_spark.operators.embeddings import (
        power_iteration_top2,
    )

    rng = np.random.RandomState(9)
    rows = [
        (i, [float(x) for x in rng.randn(6)]) for i in range(250)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    a = sorted(map(tuple, power_iteration_top2(df).collect()))
    b = sorted(
        map(tuple, power_iteration_top2(df.repartition(16)).collect())
    )
    assert a == b


def test_curriculum_sharded_equals_serial(spark, sf_dir):
    """The sharded (no-serial-window) construction must produce the
    IDENTICAL total order as the windowed docs_curriculum_order —
    row-for-row, including global_pos."""
    from vectorsearchutil_spark.queries import QUERIES
    from vectorsearchutil_spark.queries import QUERIES

    a = sorted(
        map(tuple, QUERIES["docs_curriculum_order"](spark, sf_dir).collect())
    )
    b = sorted(
        map(
            tuple,
            QUERIES["docs_curriculum_sharded"](
                spark, sf_dir
            ).collect(),
        )
    )
    assert a == b


def test_retention_triangle_hand_case(spark):
    from vectorsearchutil_spark.queries import QUERIES
    import os
    import tempfile

    base = dt.datetime(2024, 1, 1, 9)  # a Monday
    rows = [
        # u1: first event week 0, active weeks 0 and 2
        (1, base, 1, "view", 1.0),
        (2, base + dt.timedelta(days=15), 1, "view", 1.0),
        # u2: first event week 0 only
        (3, base + dt.timedelta(days=2), 2, "click", 1.0),
        # u3: first event week 1, active weeks 1 and 2 (ages 0, 1)
        (4, base + dt.timedelta(days=7), 3, "view", 1.0),
        (5, base + dt.timedelta(days=14), 3, "view", 1.0),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double",
    )
    with tempfile.TemporaryDirectory() as tmp:
        ev.write.parquet(os.path.join(tmp, "events.parquet"))
        got = {
            (r["cohort_week"], r["age_w"]): r
            for r in QUERIES["events_retention_triangle"](
                spark, tmp
            ).collect()
        }
    w0 = "2024-01-01"
    w1 = "2024-01-08"
    assert got[(w0, 0)]["n_active"] == 2
    assert got[(w0, 0)]["cohort_size"] == 2
    assert got[(w0, 0)]["retention"] == 1.0
    assert (w0, 1) not in got          # nobody from week-0 active in week 1
    assert got[(w0, 2)]["n_active"] == 1
    assert got[(w0, 2)]["retention"] == 0.5
    assert got[(w1, 0)]["cohort_size"] == 1
    assert got[(w1, 1)]["n_active"] == 1


def test_cluster_profile_counts(spark, sf_dir):
    """Totals must reconcile: sum(n_docs) over all size buckets ==
    total docs; singleton row = docs not in any near-dup cluster."""
    from vectorsearchutil_spark.queries import QUERIES
    from vectorsearchutil_spark.sources.readers import load_table

    out = QUERIES["dedup_cluster_profile"](
        spark, sf_dir
    ).collect()
    n_docs_total = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in out) == n_docs_total
    for r in out:
        assert r["n_docs"] == r["cluster_size"] * r["n_clusters"]
        if r["cluster_size"] > 1:
            assert r["n_clusters"] >= 1


def test_readability_hand_case(spark):
    import os
    import tempfile

    from vectorsearchutil_spark.queries import QUERIES

    docs = spark.createDataFrame(
        [(1, "the cat sat. it sat!", "en", "s1", 20)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    with tempfile.TemporaryDirectory() as tmp:
        docs.write.parquet(os.path.join(tmp, "documents.parquet"))
        r = QUERIES["docs_readability"](spark, tmp).collect()[0]
    # words: the cat sat. it sat! -> 5; terminator runs: 2;
    # vowel groups in lowercase: e,a,a,i,a -> 5
    assert r["n_words"] == 5
    assert r["n_sentences"] == 2
    assert r["n_syllables"] == 5
    import math

    want = 206.835 - 1.015 * (5 / 2) - 84.6 * (5 / 5)
    want = math.floor(want * 10000 + 0.5) / 10000
    assert r["flesch"] == want


def test_seasonal_decompose_identity_and_exactness(spark):
    """value == trend + seasonal + residual EXACTLY (integer-cents
    contract), on a constant series trend==value and both seasonal
    and residual are 0."""
    import os
    import tempfile

    from vectorsearchutil_spark.queries import QUERIES

    base = dt.datetime(2024, 1, 1, 12)
    rows = [
        (d, base + dt.timedelta(days=d), 1, "a", 25.0)
        for d in range(21)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double",
    )
    with tempfile.TemporaryDirectory() as tmp:
        ev.write.parquet(os.path.join(tmp, "events.parquet"))
        out = QUERIES["events_seasonal_decompose"](
            spark, tmp
        ).collect()
    assert len(out) == 21
    for r in out:
        assert r["value"] == r["trend"] + r["seasonal"] + r["residual"]
        assert r["value"] == 25.0
        assert r["trend"] == 25.0
        assert r["seasonal"] == 0.0
        assert r["residual"] == 0.0


def test_silhouette_separated_clusters_near_one(spark):
    """Two far-apart blobs (k=2): mean silhouette ≈ 1 for both."""
    import numpy as np

    from vectorsearchutil_spark.operators.clustering import kmeans
    from vectorsearchutil_spark.functions.vector import finite_vector
    import pyspark.sql.functions as F

    rng = np.random.RandomState(5)
    rows = []
    for i in range(60):
        center = 0.0 if i % 2 == 0 else 100.0
        v = (rng.randn(4) * 0.1 + center).tolist()
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    _, cents = kmeans(emb, k=2, iterations=3)
    # reuse the registered query's math inline at k=2
    pts = emb.filter(finite_vector(F.col("embedding"))).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("_v")
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("_v"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    x = pts.crossJoin(F.broadcast(cents)).select("vec_id", "cid", dist.alias("_d"))
    arr = x.groupBy("vec_id").agg(
        F.array_sort(F.collect_list(F.struct(F.col("_d"), F.col("cid")))).alias("_arr")
    )
    a = F.col("_arr")[0]["_d"]
    b = F.filter(
        F.col("_arr"), lambda e: e["cid"] != F.col("_arr")[0]["cid"]
    )[0]["_d"]
    s = (b - a) / F.greatest(a, b)
    got = arr.agg(F.min(s).alias("lo")).collect()[0]
    assert got["lo"] > 0.95


def test_silhouette_ab_strategy_equality(spark, sf_dir, monkeypatch):
    """Expression path vs gated Arrow path of silhouette_ab — same
    (cluster, a, b) per row on the real sf0.001 table plus a NULL and
    a zero-norm vector (the clustering strategy-equality discipline;
    near-tie caveat documented in the docstring)."""
    from vectorsearchutil_spark import session
    from vectorsearchutil_spark.operators.clustering import (
        kmeans,
        silhouette_ab,
    )
    from vectorsearchutil_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    _, cents_df = kmeans(emb, k=8, iterations=3)
    cents = [(r["cid"], list(r["cv"])) for r in cents_df.collect()]
    pts = emb.select("vec_id", "embedding")
    pts = pts.unionByName(
        spark.createDataFrame(
            [(10**6, None), (10**6 + 1, [0.0] * len(cents[0][1]))],
            pts.schema,
        )
    )
    expr = sorted(map(tuple, silhouette_ab(pts, cents).collect()))
    monkeypatch.setattr(session, "ARROW_MIN_CELLS", 0)
    arrow_plan = silhouette_ab(pts, cents)
    assert "MapInPandas" in arrow_plan._jdf.queryExecution().toString()
    arrow = sorted(map(tuple, arrow_plan.collect()))
    assert expr == arrow
    assert (10**6, 0, None, None) in expr

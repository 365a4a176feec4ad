"""Unit tests for the round-10 staging wave (queries.py:
Nelson-Aalen, Mann-Kendall + BH-FDR, EWMA forecast, DAU/MAU
stickiness, diff-in-diff, trigram stupid backoff, template clusters,
LOO source influence, quality ECE, price elasticity). The oracle gate
runs separately via CHECK_ORACLES_PENDING=1; these pin the operator
SEMANTICS on hand-checkable inputs."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from vectorsearchutil_spark.operators.analytics import (
    dau_mau_stickiness,
    diff_in_diff,
    ewma_forecast_daily,
    fdr_bh_trend,
    kaplan_meier,
    mann_kendall_daily,
    nelson_aalen,
    normal_sf,
    price_elasticity,
)
from vectorsearchutil_spark.operators.textanalysis import (
    loo_source_influence,
    quality_ece,
    template_clusters,
    trigram_stupid_backoff,
)


def _ev(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )


def _d(day, hour=12):
    return dt.datetime(2024, 1, day, hour, 0, 0)


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )


# -------------------------------------------------------- nelson-aalen


def test_nelson_aalen_hand_example(spark):
    # 3 users sign up on day 1; conversions on day 1 (+0) and day 3
    # (+2); one never converts (censored at horizon day 3).
    rows = [
        (1, _d(1), 1, "signup", None),
        (2, _d(1), 1, "purchase", None),     # delay 0
        (3, _d(1), 2, "signup", None),
        (4, _d(3), 2, "purchase", None),     # delay 2
        (5, _d(1), 3, "signup", None),
        (6, _d(3), 3, "view", None),         # censored at day 3 (delay 2)
    ]
    out = {r.delay_days: r for r in nelson_aalen(_ev(spark, rows)).collect()}
    # t=0: 3 at risk, 1 event -> H = 1/3
    assert out[0].n_at_risk == 3 and out[0].n_events == 1
    assert out[0].cum_hazard == pytest.approx(1 / 3, abs=1e-6)
    # t=2: 2 at risk (censor day == event day keeps both at risk),
    # 1 event -> H = 1/3 + 1/2
    assert out[2].n_at_risk == 2 and out[2].n_events == 1
    assert out[2].cum_hazard == pytest.approx(1 / 3 + 1 / 2, abs=1e-6)


def test_nelson_aalen_shares_risk_table_with_km(spark, sf001_events):
    km = {
        r.delay_days: (r.n_at_risk, r.n_events)
        for r in kaplan_meier(sf001_events).collect()
    }
    na = {
        r.delay_days: (r.n_at_risk, r.n_events)
        for r in nelson_aalen(sf001_events).collect()
    }
    assert km == na  # the estimators differ, the risk sets cannot


def test_nelson_aalen_dominates_km_loglike(spark, sf001_events):
    # -ln(KM survival) >= NA cumulative hazard pointwise (standard)
    km = {r.delay_days: r.survival for r in kaplan_meier(sf001_events).collect()}
    na = {r.delay_days: r.cum_hazard for r in nelson_aalen(sf001_events).collect()}
    for d, s in km.items():
        if s > 0:
            assert -math.log(s) >= na[d] - 1e-6


# -------------------------------------------------------- mann-kendall


def test_mann_kendall_monotone_series(spark):
    # strictly increasing daily values for one type -> S = C(n,2),
    # no ties, z > 0
    rows = [
        (i, _d(i), 1, "up", float(i)) for i in range(1, 11)
    ]
    r = mann_kendall_daily(_ev(spark, rows)).collect()[0]
    n = 10
    assert r.s_stat == n * (n - 1) // 2 == 45
    var_s = n * (n - 1) * (2 * n + 5) / 18.0
    assert r.var_s == pytest.approx(var_s, abs=1e-6)
    z = (45 - 1) / math.sqrt(var_s)
    assert r.z_mk == pytest.approx(z, abs=1e-5)
    assert r.p_value < 0.05


def test_mann_kendall_constant_series_all_ties(spark):
    rows = [(i, _d(i), 1, "flat", 5.0) for i in range(1, 11)]
    r = mann_kendall_daily(_ev(spark, rows)).collect()[0]
    # all values tied: S = 0, tie term wipes the variance numerator
    assert r.s_stat == 0 and r.var_s == 0.0 and r.z_mk == 0.0
    assert r.p_value == 1.0


def test_mann_kendall_single_day_type_absent(spark):
    rows = [(1, _d(1), 1, "once", 1.0), (2, _d(1), 1, "once", 2.0)]
    assert mann_kendall_daily(_ev(spark, rows)).count() == 0


def test_normal_sf_against_scipy_free_reference(spark):
    # reference values of the standard normal SF (Φ̄), 4dp: the A&S
    # 26.2.19 polynomial is good to ~1.5e-7
    df = spark.range(1).select(
        normal_sf(F.lit(0.0)).alias("a"),
        normal_sf(F.lit(1.0)).alias("b"),
        normal_sf(F.lit(1.96)).alias("c"),
        normal_sf(F.lit(3.0)).alias("d"),
    ).collect()[0]
    assert df.a == pytest.approx(0.5, abs=1e-6)
    assert df.b == pytest.approx(0.158655, abs=1e-5)
    assert df.c == pytest.approx(0.024998, abs=1e-5)
    assert df.d == pytest.approx(0.001350, abs=1e-5)


# -------------------------------------------------------- BH FDR


def test_fdr_bh_step_up_textbook(spark):
    # craft 4 types: one strong trend, one moderate, two noise-flat.
    rows = []
    eid = 0
    for i in range(1, 21):
        eid += 1
        rows.append((eid, _d(i), 1, "strong", float(i)))        # monotone
    for i in range(1, 21):
        eid += 1
        # moderate: mostly increasing with two inversions
        v = float(i if i not in (5, 15) else 40 - i)
        rows.append((eid, _d(i), 1, "mid", v))
    for i in range(1, 21):
        eid += 1
        rows.append((eid, _d(i), 1, "flatA", 7.0))
        eid += 1
        rows.append((eid, _d(i), 1, "flatB", float(i % 2)))
    out = {r.event_type: r for r in fdr_bh_trend(_ev(spark, rows)).collect()}
    assert out["strong"].rejected
    assert not out["flatA"].rejected
    # BH step-up: every rank <= the largest passing rank is rejected,
    # and ranks are 1..m over p ascending
    ranks = sorted(r.p_rank for r in out.values())
    assert ranks == [1, 2, 3, 4]
    rejected_ranks = [r.p_rank for r in out.values() if r.rejected]
    if rejected_ranks:
        k = max(rejected_ranks)
        assert sorted(rejected_ranks) == list(range(1, k + 1))


def test_fdr_bh_threshold_formula(spark):
    rows = [
        (i * 10 + d, _d(d), 1, f"t{i}", float(d * (i + 1)))
        for i in range(3)
        for d in range(1, 6)
    ]
    for r in fdr_bh_trend(_ev(spark, rows)).collect():
        assert r.bh_threshold == pytest.approx(
            0.1 * r.p_rank / r.m_tests, abs=1e-6
        )


# -------------------------------------------------------- EWMA forecast


def test_ewma_forecast_hand_rolled(spark):
    vals = [100.0, 200.0, 100.0, 300.0]
    rows = [(i, _d(i + 1), 1, "x", vals[i]) for i in range(4)]
    r = ewma_forecast_daily(_ev(spark, rows)).collect()[0]
    cents = [v * 100 for v in vals]
    s = cents[0]
    err_sum = 0
    abs_sum = 0
    for t in range(1, 4):
        err_sum += math.floor(abs(cents[t] - s) * 1e2 + 0.5)
        abs_sum += math.floor(abs(cents[t]) * 1e2 + 0.5)
        s = 0.3 * cents[t] + 0.7 * s
    assert r.n_days == 4
    assert r.wape == pytest.approx(err_sum / abs_sum, abs=1e-6)
    assert r.next_forecast_cents == pytest.approx(s, abs=1e-3)


def test_ewma_forecast_single_day_absent_and_null_days_skipped(spark):
    rows = [
        (1, _d(1), 1, "one", 5.0),
        (2, _d(1), 1, "nulls", None),
        (3, _d(2), 1, "nulls", None),
        (4, _d(3), 1, "nulls", 1.0),
    ]
    out = {r.event_type for r in ewma_forecast_daily(_ev(spark, rows)).collect()}
    assert out == set()  # 'one' has 1 day; 'nulls' has 1 non-null day


# -------------------------------------------------------- DAU/MAU


def test_dau_mau_exact_window(spark):
    # user 1 active day 1 and day 40 (island break: gap > 29);
    # user 2 active days 1..3
    rows = [
        (1, _d(1), 1, "a", None),
        (2, dt.datetime(2024, 2, 9, 12), 1, "a", None),  # day 40
        (3, _d(1), 2, "a", None),
        (4, _d(2), 2, "a", None),
        (5, _d(3), 2, "a", None),
    ]
    out = {r.day: r for r in dau_mau_stickiness(_ev(spark, rows)).collect()}
    d1 = dt.date(2024, 1, 1)
    assert out[d1].dau == 2 and out[d1].mau == 2
    d3 = dt.date(2024, 1, 3)
    assert out[d3].dau == 1 and out[d3].mau == 2  # both still in window
    d40 = dt.date(2024, 2, 9)
    # user 2's last activity (Jan 3) is 37 days before Feb 9 -> out
    assert out[d40].dau == 1 and out[d40].mau == 1
    assert out[d40].stickiness == 1.0


def test_dau_mau_user_counted_once_in_window(spark):
    # one user active every day for 10 days: MAU stays 1
    rows = [(i, _d(i), 7, "a", None) for i in range(1, 11)]
    for r in dau_mau_stickiness(_ev(spark, rows)).collect():
        assert r.dau == 1 and r.mau == 1 and r.stickiness == 1.0


# -------------------------------------------------------- diff-in-diff


def test_diff_in_diff_recovers_planted_effect(spark):
    # plant: everyone 10.0 pre; post: control 10.0, treated 14.0.
    # assignment must match hash_uniform('did', user) — derive it.
    import hashlib

    def treated(uid):
        h = hashlib.md5(f"did:{uid}".encode()).hexdigest()[:8]
        return int(h, 16) / 2**32 < 0.5

    rows = []
    eid = 0
    for uid in range(40):
        for day, post in ((1, False), (20, True)):
            eid += 1
            v = 10.0
            if post and treated(uid):
                v = 14.0
            rows.append((eid, _d(day), uid, "x", v))
    r = diff_in_diff(_ev(spark, rows)).collect()[0]
    assert r.pre_treat == 10.0 and r.pre_control == 10.0
    assert r.post_control == 10.0 and r.post_treat == 14.0
    assert r.did_estimate == pytest.approx(4.0, abs=1e-4)


# -------------------------------------------------------- trigram SBO


def test_trigram_backoff_score_bounds_and_presence(spark, sf001_docs):
    rows = trigram_stupid_backoff(sf001_docs).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.n_trigrams >= 1
        assert 0.0 <= r.sbo_score <= 1.0 + 1e-9


def test_trigram_backoff_seen_vs_unseen(spark):
    # doc 6 hashes into the reference half (verified via the same md5
    # draw); craft a corpus where doc 6's trigram is the only content
    # so its score is exactly c3/c_ctx = 1.0; a doc with disjoint
    # vocabulary backs off to alpha^2 * 0 = 0.
    import hashlib

    def in_ref(did):
        h = hashlib.md5(f"sbo:{did}".encode()).hexdigest()[:8]
        return int(h, 16) / 2**32 < 0.5

    ref_id = next(i for i in range(1, 50) if in_ref(i))
    out_id = next(i for i in range(1, 50) if not in_ref(i))
    docs = _docs(
        spark,
        [
            (ref_id, "alpha beta gamma", "en", "s", 10),
            (out_id, "zeta eta theta", "en", "s", 10),
        ],
    )
    out = {r.doc_id: r for r in trigram_stupid_backoff(docs).collect()}
    assert out[ref_id].sbo_score == pytest.approx(1.0, abs=1e-6)
    assert out[out_id].sbo_score == pytest.approx(0.0, abs=1e-6)


# -------------------------------------------------------- templates


def test_template_clusters_groups_same_shape(spark):
    docs = _docs(
        spark,
        [
            (1, "Hello user123, your code is 99!", "en", "s", 31),
            (2, "Howdy admin42, your code is 7!", "en", "s", 30),
            (3, "totally different.", "en", "s", 18),
        ],
    )
    rows = template_clusters(docs).collect()
    assert len(rows) == 1
    assert rows[0].n_docs == 2
    assert rows[0].example_doc_id == 1
    assert rows[0].total_chars == 61


def test_template_clusters_whitespace_folding(spark):
    docs = _docs(
        spark,
        [
            (1, "a  b\tc", "en", "s", 6),
            (2, "x y\nz", "en", "s", 5),
        ],
    )
    # both skeletons are "x x x"
    rows = template_clusters(docs).collect()
    assert len(rows) == 1 and rows[0].n_docs == 2


# -------------------------------------------------------- LOO influence


def test_loo_influence_algebra(spark):
    # 2 sources; hand-checkable quality: 'w '*n tokens, no stopwords,
    # so quality = min(1, n/100)
    docs = _docs(
        spark,
        [
            (1, " ".join(["w"] * 50), "en", "A", 0),   # q = 0.5
            (2, " ".join(["w"] * 100), "en", "A", 0),  # q = 1.0
            (3, " ".join(["w"] * 10), "en", "B", 0),   # q = 0.1
        ],
    )
    out = {r.source: r for r in loo_source_influence(docs).collect()}
    assert out["A"].source_mean == pytest.approx(0.75, abs=1e-6)
    assert out["A"].loo_mean == pytest.approx(0.1, abs=1e-6)
    mean_all = (0.5 + 1.0 + 0.1) / 3
    assert out["A"].influence == pytest.approx(mean_all - 0.1, abs=1e-6)
    assert out["B"].influence == pytest.approx(
        mean_all - 0.75, abs=1e-6
    )


def test_loo_influence_sums_to_zero_weighted(spark, sf001_docs):
    # Σ_s (n - n_s)·influence_s = (S-1 sources)·0 identity check:
    # mean - loo_s weighted by remaining count telescopes to 0
    rows = loo_source_influence(sf001_docs).collect()
    n = sum(r.n_docs for r in rows)
    total = sum((n - r.n_docs) * r.influence for r in rows)
    assert total == pytest.approx(0.0, abs=1e-2)


# -------------------------------------------------------- quality ECE


def test_quality_ece_bins_and_weights(spark, sf001_docs):
    rows = quality_ece(sf001_docs).collect()
    n = sum(r.n_docs for r in rows)
    assert n > 0
    for r in rows:
        assert 0 <= r.bin <= 9
        assert 0.0 <= r.avg_conf <= 1.0
        assert 0.0 <= r.frac_pos <= 1.0
        # contribution consistent with its parts
        expect = r.n_docs / n * abs(r.frac_pos - r.avg_conf)
        assert r.ece_contrib == pytest.approx(expect, abs=2e-6)
        # confidence lives inside its bin's score range
        assert r.bin / 10 - 1e-4 <= r.avg_conf <= (r.bin + 1) / 10 + 1e-4


# -------------------------------------------------------- elasticity


def test_price_elasticity_recovers_exact_powerlaw(spark):
    # plant q = 100 * p^-2 exactly: slope must be -2
    import math as m

    prices = [1.0, 2.0, 4.0, 8.0]
    li = spark.createDataFrame(
        [
            (i + 1, 1, 1, 1, 100.0 * p**-2.0, (100.0 * p**-2.0) * p,
             0.0, 0.0, "N", "O", _d(1))
            for i, p in enumerate(prices)
        ],
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp",
    )
    part = spark.createDataFrame(
        [(1, "p", "BrandX", "t", 1, 1.0)],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    )
    r = price_elasticity(li, part).collect()[0]
    assert r.n_obs == 4
    assert r.elasticity == pytest.approx(-2.0, abs=1e-4)
    assert r.ln_q_intercept == pytest.approx(m.log(100.0), abs=1e-4)


def test_price_elasticity_filters_degenerate_rows(spark):
    li = spark.createDataFrame(
        [
            (1, 1, 1, 1, 0.0, 10.0, 0.0, 0.0, "N", "O", _d(1)),
            (2, 1, 1, 1, None, 10.0, 0.0, 0.0, "N", "O", _d(1)),
            (3, 1, 1, 1, 2.0, -1.0, 0.0, 0.0, "N", "O", _d(1)),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp",
    )
    part = spark.createDataFrame(
        [(1, "p", "BrandX", "t", 1, 1.0)],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    )
    assert price_elasticity(li, part).count() == 0


# -------------------------------------------------------- fixtures


@pytest.fixture(scope="module")
def sf001_events(spark):
    from vectorsearchutil_spark.sources.readers import load_table

    return load_table(spark, "/root/testdata/sf0.001", "events")


@pytest.fixture(scope="module")
def sf001_docs(spark):
    from vectorsearchutil_spark.sources.readers import load_table

    return load_table(spark, "/root/testdata/sf0.001", "documents")


# ---------------------------------------------------- metric drift guard


def test_qsrc_quality_matches_live_quality_oracle():
    """_QSRC_CTE re-expresses the quality metric of _QUALITY_ORACLE
    (list-side instead of explode-side). The formula lives in
    three places (textanalysis.QUALITY_STOPWORDS and queries.py's
    _QUALITY_ORACLE / _QSRC_CTE) — this DuckDB-only gate pins the two SQL
    formulations to per-doc equality on real data, so a future metric
    edit that misses one site goes red here instead of silently
    desyncing the LOO/ECE oracles (review r9)."""
    import duckdb

    from vectorsearchutil_spark.queries import _QSRC_CTE, _QUALITY_ORACLE

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    live = dict(
        con.execute(
            f"SELECT doc_id, quality_score FROM ({_QUALITY_ORACLE})"
        ).fetchall()
    )
    staged = dict(
        con.execute(
            "WITH " + _QSRC_CTE + " SELECT doc_id, quality FROM q"
        ).fetchall()
    )
    assert staged, "staged quality CTE returned nothing"
    assert staged == {k: live[k] for k in staged}


def test_quality_stopword_lists_agree_across_sites():
    from vectorsearchutil_spark.operators.textanalysis import (
        QUALITY_STOPWORDS,
    )
    from vectorsearchutil_spark.queries import _QSRC_CTE, _QUALITY_ORACLE

    canonical = ",".join(f"'{w}'" for w in QUALITY_STOPWORDS)
    assert canonical in _QSRC_CTE.replace("\n", "").replace(" ", "").replace(
        "','", "','"
    ) or all(f"'{w}'" in _QSRC_CTE for w in QUALITY_STOPWORDS)
    assert all(f"'{w}'" in _QUALITY_ORACLE for w in QUALITY_STOPWORDS)


# ------------------------------------------- review-r9 parity regressions


def test_mann_kendall_all_null_values_s_zero(spark):
    """Review r9: a type whose every day has only NULL values must
    emit s_stat=0 (the oracle's CASE...ELSE 0), not NULL."""
    rows = [(1, _d(1), 1, "x", None), (2, _d(2), 1, "x", None)]
    r = mann_kendall_daily(_ev(spark, rows)).collect()[0]
    assert r.s_stat == 0 and r.z_mk == 0.0 and r.p_value == 1.0


def test_price_elasticity_excludes_infinite_rows(spark):
    """Review r9: +Inf passes isnan/>0 but the oracle's isfinite
    drops it — Spark must drop it too."""
    li = spark.createDataFrame(
        [
            (1, 1, 2.0, float("inf")),
            (2, 1, 3.0, 30.0),
            (3, 1, 4.0, 40.0),
            (4, 1, float("inf"), 10.0),
        ],
        "l_orderkey long, l_partkey long, l_quantity double,"
        " l_extendedprice double",
    )
    part = spark.createDataFrame(
        [(1, "B")], "p_partkey long, p_brand string"
    )
    r = price_elasticity(li, part).collect()[0]
    assert r.n_obs == 2

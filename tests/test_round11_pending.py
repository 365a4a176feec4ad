"""Unit tests for the round-11 staging wave (queries.py:
log-rank, Poisson rate test, Holt forecast, Hurst exponent, degree
assortativity, common-neighbour link prediction, term burstiness,
rater agreement, OCR garbage, TwoNN intrinsic dim, dim-split CKA).
The oracle gate runs separately via CHECK_ORACLES_PENDING=1; these
pin the operator SEMANTICS on hand-checkable inputs and naive
Python re-implementations."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from vectorsearchutil_spark.operators.analytics import (
    holt_forecast_daily,
    hurst_exponent_daily,
    logrank_test,
    poisson_rate_test,
)
from vectorsearchutil_spark.operators.graph import (
    common_neighbor_link_prediction,
    degree_assortativity,
)
from vectorsearchutil_spark.operators.knn import intrinsic_dim_twonn
from vectorsearchutil_spark.operators.embeddings import cka_dim_split
from vectorsearchutil_spark.operators.textanalysis import (
    ocr_garbage_score,
    rater_agreement,
    term_burstiness,
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


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "id_a long, id_b long")


# ------------------------------------------------------------ log-rank


def test_logrank_naive_reference(spark):
    """Full naive recompute: learn the md5 group of each user via the
    SAME hash_uniform draw, rebuild per-group risk sets and the
    O/E/V sums in plain Python with the operator's quantization, and
    demand equality — the no-drift pin promised in the docstring."""
    from vectorsearchutil_spark.operators.sampling import hash_uniform

    rows = []
    eid = 0
    # 12 users: signup day (u % 3) + 1; users 0..7 purchase at
    # signup+delay (u % 4) days; the rest censored at horizon.
    for u in range(12):
        s = (u % 3) + 1
        rows.append((eid, _d(s), u, "signup", 1.0)); eid += 1
        if u < 8:
            rows.append((eid, _d(s + (u % 4)), u, "purchase", 1.0))
            eid += 1
    rows.append((eid, _d(9), 99, "view", 1.0))  # horizon extender
    ev = _ev(spark, rows)

    got = logrank_test(ev).collect()[0]

    draws = spark.createDataFrame(
        [(u,) for u in range(12)], "user_id long"
    ).select(
        "user_id",
        (hash_uniform(F.col("user_id").cast("string"), "logrank")
         < F.lit(0.5)).alias("is_a"),
    ).collect()
    grp = {r.user_id: ("A" if r.is_a else "B") for r in draws}
    # per-user (group, event_delay or None, censor_delay)
    hmax = 9  # horizon day: user 99 has no signup, so horizon comes
    # from signup-having users' max seen — users' own events reach
    # day s + delay <= 6; but user 99 is excluded from pu (no
    # signup), so horizon is the max seen among signup users
    per = []
    hmax = 0
    for u in range(12):
        s = (u % 3) + 1
        seen = s + (u % 4) if u < 8 else s
        hmax = max(hmax, seen)
    for u in range(12):
        s = (u % 3) + 1
        e = (u % 4) if u < 8 else None
        per.append((grp[u], e, hmax - s))
    days = sorted(
        {e for _, e, _ in per if e is not None}
        | {c for _, e, c in per if e is None}
    )
    oa = ea = ob = eb = vv = 0
    for t in [d for d in days
              if any(e == d for _, e, _ in per)]:
        na = sum(1 for g, e, c in per if g == "A"
                 and (e if e is not None else c) >= t
                 and not (e is not None and e < t))
        nb = sum(1 for g, e, c in per if g == "B"
                 and (e if e is not None else c) >= t
                 and not (e is not None and e < t))
        da = sum(1 for g, e, _ in per if g == "A" and e == t)
        db = sum(1 for g, e, _ in per if g == "B" and e == t)
        d, n = da + db, na + nb
        oa += da
        ob += db
        ea += math.floor(d * na / n * 1e9 + 0.5)
        eb += math.floor(d * nb / n * 1e9 + 0.5)
        if n > 1:
            vv += math.floor(
                d * na / n * nb / n * (n - d) / (n - 1.0) * 1e9 + 0.5
            )
    assert got.observed_a == oa and got.observed_b == ob
    assert got.expected_a == math.floor(ea / 1e9 * 1e6 + 0.5) / 1e6
    assert got.expected_b == math.floor(eb / 1e9 * 1e6 + 0.5) / 1e6
    z = (oa - ea / 1e9) / math.sqrt(vv / 1e9)
    assert got.chi2 == math.floor(z * z * 1e6 + 0.5) / 1e6


def test_logrank_empty_and_degenerate(spark):
    assert logrank_test(_ev(spark, [])).count() == 0
    # signups but zero conversions anywhere: no event days -> no
    # pooled rows -> aggregate yields the O=0 row with NULL chi2
    ev = _ev(spark, [(1, _d(1), 1, "signup", 1.0),
                     (2, _d(5), 2, "signup", 1.0)])
    out = logrank_test(ev).collect()
    assert len(out) == 0 or out[0].observed_a + out[0].observed_b == 0


# --------------------------------------------------- poisson rate test


def test_poisson_rate_balanced_is_zero(spark):
    # span 0..10 (11 days), mid=5: t1=6, t2=5; 6 pre + 5 post events
    # at one per day -> n1*t2 == n2*t1 -> z == 0, p == 1
    rows = [(i, _d(1 + i), i, "a", 1.0) for i in range(11)]
    out = poisson_rate_test(_ev(spark, rows)).collect()[0]
    assert out.n_pre == 6 and out.n_post == 5
    assert out.z_stat == 0.0
    assert out.p_value == 1.0
    assert out.rate_pre == 1.0 and out.rate_post == 1.0


def test_poisson_rate_detects_shift(spark):
    # all events in the post period
    rows = [(i, _d(9), i, "b", 1.0) for i in range(40)]
    rows += [(100, _d(1), 100, "b", 1.0)]  # pin the span start
    out = poisson_rate_test(_ev(spark, rows)).collect()[0]
    assert out.n_post == 40 and out.n_pre == 1
    assert out.z_stat < -3
    assert out.p_value < 0.01


# ------------------------------------------------------- holt forecast


def _holt_naive(vals, alpha=0.3, beta=0.1):
    l, b = vals[0], 0.0
    states = [(l, b)]
    for v in vals[1:]:
        nl = 0.3 * v + 0.7 * (l + b)
        nb = 0.1 * (nl - l) + 0.9 * b
        l, b = nl, nb
        states.append((l, b))
    es = 0
    asum = 0
    for t in range(1, len(vals)):
        pl, pb = states[t - 1]
        es += math.floor(abs(vals[t] - (pl + pb)) * 100 + 0.5)
        asum += math.floor(abs(vals[t]) * 100 + 0.5)
    return es, asum, states[-1][0] + states[-1][1]


def test_holt_matches_naive_fold(spark):
    cents = [1000, 1200, 1500, 1100, 1700, 1600, 2000]
    rows = [(i, _d(i + 1), 1, "t", c / 100.0)
            for i, c in enumerate(cents)]
    out = holt_forecast_daily(_ev(spark, rows)).collect()[0]
    es, asum, fc = _holt_naive([float(c) for c in cents])
    assert out.n_days == len(cents)
    assert out.wape == math.floor(es / asum * 1e6 + 0.5) / 1e6
    assert out.mae_cents == math.floor(
        es / 100.0 / (len(cents) - 1) * 1e4 + 0.5
    ) / 1e4
    assert out.next_forecast_cents == math.floor(fc * 1e4 + 0.5) / 1e4


def test_holt_beats_ewma_on_trend(spark):
    """On a clean linear trend the trend term must pay: Holt WAPE
    strictly below the level-only EWMA twin's."""
    from vectorsearchutil_spark.operators.analytics import (
        ewma_forecast_daily,
    )

    rows = [(i, _d(i + 1), 1, "t", 100.0 + 50.0 * i)
            for i in range(20)]
    ev = _ev(spark, rows)
    h = holt_forecast_daily(ev).collect()[0]
    e = ewma_forecast_daily(ev).collect()[0]
    assert h.wape < e.wape


# ------------------------------------------------------ hurst exponent


def test_hurst_random_walkish_vs_trend(spark):
    # deterministic hash noise -> H near 0.5; linear ramp -> block
    # means stay maximally dispersed at every scale -> H near 1
    import hashlib

    def h(i):
        return int(
            hashlib.md5(f"hurst:{i}".encode()).hexdigest()[:8], 16
        ) / 0xFFFFFFFF

    rows = [(i, _d(1) + dt.timedelta(days=i), 1, "noise",
             round(100 + 50 * h(i), 2)) for i in range(64)]
    rows += [(1000 + i, _d(1) + dt.timedelta(days=i), 1, "trend",
              float(100 + 10 * i)) for i in range(64)]
    out = {r.event_type: r for r in
           hurst_exponent_daily(_ev(spark, rows)).collect()}
    assert out["noise"].n_scales == 5
    assert 0.2 < out["noise"].hurst < 0.75
    assert out["trend"].hurst > 0.85


def test_hurst_short_series_dropped(spark):
    # 3 days: only m=1 has >= 2 full blocks BUT m=1 variance exists;
    # n_scales < 2 -> no OLS -> type absent
    rows = [(i, _d(i + 1), 1, "s", float(i)) for i in range(3)]
    out = hurst_exponent_daily(_ev(spark, rows)).collect()
    assert out == [] or all(r.n_scales >= 2 for r in out)


# ------------------------------------------------- degree assortativity


def test_assortativity_star_is_minus_one(spark):
    out = degree_assortativity(
        _pairs(spark, [(0, 1), (0, 2), (0, 3)])
    ).collect()[0]
    assert out.n_nodes == 4 and out.n_edges == 3
    assert out.assortativity == -1.0


def test_assortativity_regular_graph_undefined(spark):
    # triangle: all degrees equal -> zero variance -> NULL
    out = degree_assortativity(
        _pairs(spark, [(1, 2), (2, 3), (1, 3)])
    ).collect()[0]
    assert out.assortativity is None


# ------------------------------------------------ common-neighbour LP


def test_link_prediction_path_graph(spark):
    # a-b-c: one open wedge (a, c) with cn=1; deg 1+1-1 -> jaccard 1
    out = common_neighbor_link_prediction(
        _pairs(spark, [(1, 2), (2, 3)])
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.id_a, r.id_b, r.common_neighbors) == (1, 3, 1)
    assert r.jaccard == 1.0


def test_link_prediction_excludes_existing_edges(spark):
    # triangle: every distance-2 pair is already an edge -> empty
    assert common_neighbor_link_prediction(
        _pairs(spark, [(1, 2), (2, 3), (1, 3)])
    ).count() == 0


def test_link_prediction_ranks_by_cn(spark):
    # K shape: hub 0 adjacent to 1,2,3; 4 adjacent to 1,2.
    # non-edge (0,4): cn=2; non-edges (1,2),(1,3),(2,3): cn=2/2/2?
    # (1,2): common {0,4} cn=2; (1,3): {0}; (2,3): {0}; (0,4): {1,2}
    out = common_neighbor_link_prediction(
        _pairs(spark, [(0, 1), (0, 2), (0, 3), (1, 4), (2, 4)]), k=2
    ).collect()
    assert len(out) == 2
    assert out[0].common_neighbors == 2
    assert (out[0].id_a, out[0].id_b) == (0, 4)
    assert (out[1].id_a, out[1].id_b) == (1, 2)


# ------------------------------------------------------ term burstiness


def test_burstiness_hand_counts(spark):
    docs = _docs(spark, [
        (1, "x x x x", "en", "s", 7),
        (2, "y", "en", "s", 1),
    ])
    out = {r.term: r for r in term_burstiness(docs).collect()}
    # x: n=2, df=1, cf=4, scc=16 -> vmr = (2*16-16)/(2*4) = 2
    assert out["x"].doc_freq == 1 and out["x"].coll_freq == 4
    assert out["x"].burstiness_vmr == 2.0
    assert out["x"].doc_rate == 0.5
    # y: vmr = (2*1-1)/(2*1) = 0.5
    assert out["y"].burstiness_vmr == 0.5


def test_burstiness_uniform_term_low_vmr(spark):
    # a term appearing exactly once in every doc: variance 0 -> vmr 0
    docs = _docs(spark, [(i, "w filler%d" % i, "en", "s", 9)
                         for i in range(10)])
    out = {r.term: r for r in term_burstiness(docs).collect()}
    assert out["w"].burstiness_vmr == 0.0
    assert out["w"].doc_rate == 1.0


# ------------------------------------------------------ rater agreement


def test_kappa_all_four_cells(spark):
    long_diverse = " ".join(f"w{i}" for i in range(30))      # A&B
    long_repetitive = " ".join(
        ["a"] * 16 + ["b"] * 14
    )                                                        # A only
    short_diverse = "p q r s t"                              # B only
    short_repetitive = "a a a a"                             # neither
    docs = _docs(spark, [
        (1, long_diverse, "en", "s", 1),
        (2, long_repetitive, "en", "s", 1),
        (3, short_diverse, "en", "s", 1),
        (4, short_repetitive, "en", "s", 1),
    ])
    out = rater_agreement(docs).collect()[0]
    assert (out.n_both_good, out.n_only_a, out.n_only_b,
            out.n_neither) == (1, 1, 1, 1)
    assert out.p_observed == 0.5
    assert out.p_expected == 0.5
    assert out.kappa == 0.0


def test_kappa_perfect_agreement(spark):
    good = " ".join(f"w{i}" for i in range(40))
    bad = "a a a a a a"
    docs = _docs(spark, [(1, good, "en", "s", 1),
                         (2, bad, "en", "s", 1)])
    out = rater_agreement(docs).collect()[0]
    assert out.p_observed == 1.0
    assert out.kappa == 1.0


# --------------------------------------------------------- OCR garbage


def test_ocr_garbage_hand_counts(spark):
    docs = _docs(spark, [(1, "ab3 x . .", "en", "s", 9)])
    out = ocr_garbage_score(docs).collect()[0]
    assert out.n_tokens == 4
    assert out.mixed_token_share == 0.25
    assert out.single_char_share == 0.75
    # 9 chars, non-[a-zA-Z0-9 ]: the two dots
    got = out.nonalnum_char_share
    assert got == math.floor(2 / 9 * 1e6 + 0.5) / 1e6
    want = math.floor(((0.25 + 0.75) + 2 / 9) / 3 * 1e6 + 0.5) / 1e6
    assert out.garbage_score == want


def test_ocr_garbage_clean_text_zero(spark):
    docs = _docs(spark, [(1, "clean plain words here", "en", "s", 1)])
    out = ocr_garbage_score(docs).collect()[0]
    assert out.mixed_token_share == 0.0
    assert out.single_char_share == 0.0
    assert out.nonalnum_char_share == 0.0
    assert out.garbage_score == 0.0


def test_ocr_garbage_empty_doc_nulls(spark):
    docs = _docs(spark, [(1, "", "en", "s", 0)])
    out = ocr_garbage_score(docs).collect()[0]
    assert out.n_tokens == 0
    assert out.garbage_score is None


# ------------------------------------------------- TwoNN intrinsic dim


def test_twonn_matches_naive(spark):
    import hashlib

    def vec(i):
        return [
            int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:6], 16)
            / 0xFFFFFF
            for j in range(8)
        ]

    pts = [(i, vec(i)) for i in range(30)]
    df = spark.createDataFrame(
        pts, "vec_id long, embedding array<double>"
    )
    out = intrinsic_dim_twonn(
        df, vector_col="embedding", id_col="vec_id"
    ).collect()[0]

    def cos(a, b):
        # the engine fold: dim-at-a-time dot and norms
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot += x * y
            na += x * x
            nb += y * y
        return dot / (math.sqrt(na) * math.sqrt(nb))

    ls = 0
    nu = 0
    for qid, qv in pts:
        sims = sorted(
            ((cos(cv, qv), cid) for cid, cv in pts if cid != qid),
            key=lambda t: (-t[0], t[1]),
        )
        d1 = math.floor((1.0 - sims[0][0]) * 1e6 + 0.5)
        d2 = math.floor((1.0 - sims[1][0]) * 1e6 + 0.5)
        if d1 > 0:
            nu += 1
            ls += math.floor(math.log(d2 / d1) * 1e9 + 0.5)
    assert out.n_points == 30 and out.n_used == nu
    want = math.floor(nu / (ls / 1e9) * 1e6 + 0.5) / 1e6
    assert out.intrinsic_dim == want


def test_twonn_exact_duplicates_discarded(spark):
    # two identical points: their d1 == 0 -> not usable; the third
    # distinct point keeps the estimate defined
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.6, 0.8])],
        "vec_id long, embedding array<double>",
    )
    out = intrinsic_dim_twonn(
        df, vector_col="embedding", id_col="vec_id"
    ).collect()[0]
    assert out.n_points == 3
    assert out.n_used == 1  # only point 3 has distinct 1st/2nd NN


# ----------------------------------------------------------------- CKA


def _emb_df(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def _mkvec(i, half_fn_x, half_fn_y):
    return [half_fn_x(i, j) for j in range(32)] + [
        half_fn_y(i, j) for j in range(32)
    ]


def test_cka_identical_halves_is_one(spark):
    import hashlib

    def h(i, j):
        return round(
            int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:4], 16)
            / 65535.0,
            4,
        )

    rows = [(i, _mkvec(i, h, h)) for i in range(20)]
    out = cka_dim_split(_emb_df(spark, rows)).collect()[0]
    assert out.n_points == 20
    assert out.cka == 1.0


def test_cka_scaled_half_is_one(spark):
    import hashlib

    def h(i, j):
        return round(
            int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:4], 16)
            / 65535.0,
            4,
        )

    def h2(i, j):
        return round(2.0 * h(i, j), 4)

    rows = [(i, _mkvec(i, h, h2)) for i in range(20)]
    out = cka_dim_split(_emb_df(spark, rows)).collect()[0]
    assert out.cka == 1.0


def test_cka_constant_half_undefined(spark):
    import hashlib

    def h(i, j):
        return round(
            int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:4], 16)
            / 65535.0,
            4,
        )

    rows = [(i, _mkvec(i, h, lambda i, j: 1.0)) for i in range(10)]
    out = cka_dim_split(_emb_df(spark, rows)).collect()[0]
    assert out.cka is None


def test_cka_short_vectors_excluded(spark):
    rows = [(1, [1.0] * 10)]
    out = cka_dim_split(_emb_df(spark, rows)).collect()[0]
    assert out.n_points == 0


def test_poisson_rate_single_day_corpus(spark):
    # span 0: t2 = 0 -> rate_post/z/p NULL, no ANSI divide-by-zero
    # (caught by the one-row degenerate fixture)
    rows = [(1, _d(5), 1, "a", 1.0), (2, _d(5), 2, "a", 2.0)]
    out = poisson_rate_test(_ev(spark, rows)).collect()[0]
    assert out.n_pre == 2 and out.n_post == 0
    assert out.rate_pre == 2.0
    assert out.rate_post is None
    assert out.z_stat is None and out.p_value is None

"""Unit tests for the round-8 staging wave (queries.py:
Spearman / Kendall tau-b on the daily grid, transition entropy, Fano
burstiness, boilerplate prefixes, n-gram novelty, chunk-overlap
stats, PQ subspace distortion). The oracle gate runs separately via
CHECK_ORACLES_PENDING=1; these pin the operator semantics on
hand-checkable inputs."""

from __future__ import annotations

import datetime as dt

import pytest

from vectorsearchutil_spark.operators.analytics import (
    fano_daily,
    kendall_tau_daily,
    spearman_daily,
    transition_entropy,
)
from vectorsearchutil_spark.operators.textanalysis import (
    boilerplate_prefixes,
    chunk_overlap_stats,
    ngram_novelty,
)


def _ev(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )


def _day_events(spark, day_specs):
    """day_specs: list of (day_offset, n_events, per_event_value)."""
    rows = []
    eid = 0
    for off, n, v in day_specs:
        for _ in range(n):
            rows.append(
                (eid, dt.datetime(2024, 1, 1 + off, 12, 0, 0), 1, "x", v)
            )
            eid += 1
    return _ev(spark, rows)


def test_spearman_perfect_monotone(spark):
    # counts 1<2<3 and per-day value sums strictly increasing -> rho 1
    df = _day_events(spark, [(0, 1, 1.0), (1, 2, 2.0), (2, 3, 3.0)])
    row = spearman_daily(df).collect()[0]
    assert row.n_days == 3
    assert row.spearman_rho == pytest.approx(1.0)


def test_spearman_perfect_antitone(spark):
    # counts increase while value sums DECREASE -> rho -1
    df = _day_events(spark, [(0, 1, 30.0), (1, 2, 10.0), (2, 3, 1.0)])
    row = spearman_daily(df).collect()[0]
    assert row.spearman_rho == pytest.approx(-1.0)


def test_spearman_all_tied_is_null(spark):
    # identical counts every day -> zero rank variance -> NULL not crash
    df = _day_events(spark, [(0, 2, 1.0), (1, 2, 1.0), (2, 2, 1.0)])
    row = spearman_daily(df).collect()[0]
    assert row.spearman_rho is None


def test_kendall_hand_counts(spark):
    # days: (n, v_sum) = (1,10), (2,40), (3,30):
    # pairs: (1,2) concordant, (1,3) concordant, (2,3) discordant
    df = _day_events(spark, [(0, 1, 10.0), (1, 2, 20.0), (2, 3, 10.0)])
    row = kendall_tau_daily(df).collect()[0]
    assert row.n_pairs == 3
    assert row.concordant == 2
    assert row.discordant == 1
    # no ties: tau_b = (2-1)/3
    assert row.tau_b == pytest.approx((2 - 1) / 3, abs=1e-6)


def test_kendall_tie_in_x(spark):
    # counts tied on two days: that pair leaves C/D and enters tx
    df = _day_events(spark, [(0, 2, 10.0), (1, 2, 20.0), (2, 3, 30.0)])
    row = kendall_tau_daily(df).collect()[0]
    assert row.n_pairs == 3
    assert row.concordant == 2
    assert row.discordant == 0
    # tau_b = 2 / sqrt((3-1)*(3-0))
    assert row.tau_b == pytest.approx(2 / (2 * 3) ** 0.5, abs=1e-6)


def test_transition_entropy_uniform_and_deterministic(spark):
    t0 = dt.datetime(2024, 1, 1)

    def r(eid, user, typ):
        return (eid, t0 + dt.timedelta(minutes=eid), user, typ, 1.0)

    # consecutive-event transitions:
    # user 1: a->b, b->a, a->c   user 2: a->c, c->b, b->a
    # from a: {b:1, c:2} -> H(1/3, 2/3); from b: {a:2} -> 0 bits
    rows = [
        r(0, 1, "a"), r(1, 1, "b"), r(2, 1, "a"), r(3, 1, "c"),
        r(4, 2, "a"), r(5, 2, "c"), r(6, 2, "b"), r(7, 2, "a"),
    ]
    out = {
        x.from_type: x for x in transition_entropy(_ev(spark, rows)).collect()
    }
    import math

    h_13_23 = -(1 / 3) * math.log2(1 / 3) - (2 / 3) * math.log2(2 / 3)
    assert out["a"].n_next_types == 2
    assert out["a"].h_bits == pytest.approx(h_13_23, abs=1e-6)
    assert out["b"].n_next_types == 1
    assert out["b"].h_bits == pytest.approx(0.0)
    # shares sum to 1 over all from-states
    assert sum(x.share for x in out.values()) == pytest.approx(1.0, abs=1e-5)


def test_fano_zero_fills_missing_days(spark):
    # counts on days 0 and 2; day 1 missing -> series [2,0,4]
    # n=3, S=6, Q=20 -> var=(3*20-36)/(3*2)=4, mean=2 -> fano=2
    df = _day_events(spark, [(0, 2, 1.0), (2, 4, 1.0)])
    row = fano_daily(df).collect()[0]
    assert row.n_days == 3
    assert row.n_events == 6
    assert row.fano_factor == pytest.approx(2.0)


def test_fano_single_day_null(spark):
    df = _day_events(spark, [(0, 3, 1.0)])
    row = fano_daily(df).collect()[0]
    assert row.fano_factor is None  # n-1 == 0 -> NULL, not a crash


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_boilerplate_prefix_share_and_tiebreak(spark):
    pre_a = "A" * 24
    pre_b = "B" * 24
    docs = _docs(
        spark,
        [
            (1, "s1", pre_a + " tail one"),
            (2, "s1", pre_a + " tail two"),
            (3, "s1", "unique document text here"),
            # s2: two prefixes tied 1-1 -> lexicographically smaller wins
            (4, "s2", pre_b + " x"),
            (5, "s2", pre_a + " y"),
        ],
    )
    out = {r.source: r for r in boilerplate_prefixes(docs).collect()}
    assert out["s1"].n_docs == 3
    assert out["s1"].top_prefix == pre_a
    assert out["s1"].top_prefix_docs == 2
    assert out["s1"].top_prefix_share == pytest.approx(2 / 3, abs=1e-6)
    assert out["s2"].top_prefix == pre_a  # tie -> min(prefix)


def test_ngram_novelty_first_introduction(spark):
    base = "t1 t2 t3 t4 t5 t6"  # grams: (t1..t5), (t2..t6)
    docs = _docs(
        spark,
        [
            (1, "s", base),            # introduces both grams
            (2, "s", base + " t7"),    # repeats both, introduces (t3..t7)
            (3, "s", "too short"),     # <5 tokens -> no grams, no row
        ],
    )
    out = {r.doc_id: r for r in ngram_novelty(docs).collect()}
    assert set(out) == {1, 2}
    assert out[1].n_grams == 2 and out[1].n_novel == 2
    assert out[1].novelty_ratio == pytest.approx(1.0)
    assert out[2].n_grams == 3 and out[2].n_novel == 1
    assert out[2].novelty_ratio == pytest.approx(1 / 3, abs=1e-6)


def test_chunk_overlap_closed_form(spark):
    docs = _docs(
        spark,
        [
            (1, "s", " ".join(["w"] * 256)),  # exactly one chunk
            (2, "s", " ".join(["w"] * 257)),  # 2 chunks, +64 overlap
            (3, "s", " ".join(["w"] * 700)),  # 1+ceil(444/192)=4 chunks
        ],
    )
    row = chunk_overlap_stats(docs).collect()[0]
    assert row.n_docs == 3
    assert row.total_tokens == 256 + 257 + 700
    assert row.total_chunks == 1 + 2 + 4
    assert row.emitted_tokens == 256 + (257 + 64) + (700 + 3 * 64)
    expected = row.emitted_tokens / row.total_tokens
    assert row.inflation == pytest.approx(expected, abs=1e-6)


def test_pq_distortion_zero_on_codebook_points(spark):
    from vectorsearchutil_spark.operators.pq import (
        pq_subspace_distortion,
        pq_train,
    )

    # 32 vectors = two copies of 16 base patterns; k-means with
    # vec_id<16 init converges to the patterns themselves -> every
    # subspace reconstructs exactly
    base = [[float((i * 7 + j) % 5) for j in range(64)] for i in range(16)]
    rows = [(i, base[i % 16]) for i in range(32)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = pq_train(df, m=8, k=16, iterations=2)
    out = pq_subspace_distortion(df, books).collect()
    assert len(out) == 8
    for r in out:
        assert r.n_vectors == 32
        assert r.mean_sq_err == pytest.approx(0.0)
        assert r.max_sq_err == pytest.approx(0.0)
        assert r.exact_zero == 32


def test_hill_tail_index_known_pareto(spark):
    from vectorsearchutil_spark.operators.analytics import hill_tail_index

    # exact Pareto(alpha=2) order statistics: x_(i) = (n/i)^(1/2);
    # Hill over top k with x_(k+1) as base estimates 1/alpha = 0.5
    import math

    n, k = 5000, 100
    rows = [
        (i, dt.datetime(2024, 1, 1), 1, "p", math.sqrt(n / i))
        for i in range(1, n + 1)
    ]
    out = hill_tail_index(_ev(spark, rows), k=k).collect()[0]
    assert out.k == k
    # hill = (1/k) sum ln(x_i/x_(k+1)) with x_(i)=(n/i)^0.5:
    expected = sum(
        0.5 * math.log((k + 1) / i) for i in range(1, k + 1)
    ) / k
    assert out.hill == pytest.approx(expected, abs=1e-6)
    assert out.alpha == pytest.approx(1.0 / expected, abs=1e-4)


def test_hill_requires_k_plus_one(spark):
    from vectorsearchutil_spark.operators.analytics import hill_tail_index

    rows = [(i, dt.datetime(2024, 1, 1), 1, "x", float(i + 1))
            for i in range(50)]
    assert hill_tail_index(_ev(spark, rows), k=100).count() == 0


def test_norm_anova_separated_vs_identical(spark):
    from vectorsearchutil_spark.operators.analytics import norm_anova

    # two labels at radii 1 and 2 with zero within-class variance ->
    # SSW == 0 -> F is NULL (division guard), not a crash
    rows = [(i, [1.0, 0.0], 0) for i in range(10)]
    rows += [(100 + i, [2.0, 0.0], 1) for i in range(10)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = norm_anova(df).collect()[0]
    assert out.n == 20 and out.k_labels == 2
    assert out.f_stat is None

    # identical norm MIX per label (within-variance > 0, between == 0)
    # -> SSB == 0 -> F == 0
    rows2 = [(i, [1.0 if i % 4 < 2 else 2.0, 0.0], i % 2)
             for i in range(20)]
    df2 = spark.createDataFrame(
        rows2, "vec_id long, embedding array<float>, label int"
    )
    assert norm_anova(df2).collect()[0].f_stat == pytest.approx(0.0)


def test_int_quantiles_lower_definition(spark):
    from vectorsearchutil_spark.operators.analytics import (
        _int_value_quantiles,
    )

    df = spark.createDataFrame(
        [("g", v) for v in [1, 2, 3, 4]], "g string, v int"
    )
    out = _int_value_quantiles(
        df, "g", "v", [0.5, 0.9], ["p50", "p90"]
    ).collect()[0]
    # lower (type-1) quantile: ceil(0.5*4)=2 -> v=2; ceil(0.9*4)=4 -> 4
    assert out.n == 4 and out.p50 == 2 and out.p90 == 4


def test_interpurchase_gaps(spark):
    from vectorsearchutil_spark.operators.analytics import (
        interpurchase_median,
    )

    orders = spark.createDataFrame(
        [
            (1, 10, dt.datetime(2024, 1, 1)),
            (2, 10, dt.datetime(2024, 1, 4)),   # gap 3
            (3, 10, dt.datetime(2024, 1, 11)),  # gap 7
            (4, 20, dt.datetime(2024, 1, 1)),   # single order: no gap
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp",
    )
    customer = spark.createDataFrame(
        [(10, "SEG_A"), (20, "SEG_A")], "c_custkey long, c_mktsegment string"
    )
    out = interpurchase_median(orders, customer).collect()[0]
    assert out.segment == "SEG_A"
    assert out.n_gaps == 2
    assert out.median_days == 3  # lower median of {3, 7}
    assert out.p90_days == 7


def test_pair_similarity_histogram_bins(spark, sf_dir):
    from vectorsearchutil_spark.queries import QUERIES

    rows = QUERIES["docs_pair_similarity_histogram"](
        spark, sf_dir
    ).collect()
    assert all(10 <= r.sim_bin <= 19 for r in rows)  # j >= 0.5
    for r in rows:
        assert r.bin_lo == pytest.approx(r.sim_bin / 20.0, abs=1e-9)
        assert r.n_pairs > 0


def test_source_overlap_is_unordered_and_consistent(spark, sf_dir):
    from vectorsearchutil_spark.operators import dedup as _dd
    from vectorsearchutil_spark.queries import QUERIES
    from vectorsearchutil_spark.sources.readers import load_table

    out = QUERIES["docs_source_overlap"](spark, sf_dir).collect()
    # unordered pair labels: source_a <= source_b always
    assert all(r.source_a <= r.source_b for r in out)
    # total pair mass equals the raw pair table
    docs = load_table(spark, sf_dir, "documents")
    n_pairs = _dd.ngram_jaccard_pairs(docs, n=3, threshold=0.8).count()
    assert sum(r.n_pairs for r in out) == n_pairs


def test_token_quantiles_monotone(spark, sf_dir):
    from vectorsearchutil_spark.queries import QUERIES

    rows = QUERIES["docs_token_quantiles"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.p50_tokens <= r.p90_tokens <= r.p99_tokens
        assert r.n > 0


# ---------------------------------------------------------------- wave 4


def test_lorenz_curve_hand_checked(spark):
    from vectorsearchutil_spark.operators.analytics import (
        lorenz_curve_by_user,
    )

    # 10 users with totals 1..10 dollars -> each decile is one user,
    # cum_share of decile k = k(k+1)/2 / 55
    df = spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1, 12), u, "x", float(u))
         for i, u in enumerate(range(1, 11))],
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double",
    )
    out = {r.decile: r for r in lorenz_curve_by_user(df).collect()}
    assert len(out) == 10
    assert all(out[d].n_users == 1 for d in out)
    assert out[1].decile_value == pytest.approx(1.0)
    assert out[10].cum_share == pytest.approx(1.0)
    assert out[4].cum_share == pytest.approx(10.0 / 55.0, abs=1e-6)


def test_lorenz_rank_ties_deterministic(spark):
    from vectorsearchutil_spark.operators.analytics import (
        lorenz_curve_by_user,
    )

    # 20 users all with the SAME total: deciles must still be 2 users
    # each (row_number tiebreak on user_id), shares exactly k/10
    df = spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1, 12), i, "x", 5.0)
         for i in range(20)],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    out = sorted(lorenz_curve_by_user(df).collect(), key=lambda r: r.decile)
    assert [r.n_users for r in out] == [2] * 10
    for k, r in enumerate(out, start=1):
        assert r.cum_share == pytest.approx(k / 10.0, abs=1e-6)


def test_max_drawdown_hand_checked(spark):
    from vectorsearchutil_spark.operators.analytics import (
        max_drawdown_daily,
    )

    # daily values: +10, -4, +2, -7, +20  -> cum 10,6,8,1,21
    # peak 10,10,10,10,21 -> drawdowns 0,4,2,9,0 -> max 9 on day 4
    df = _day_events(
        spark,
        [(0, 1, 10.0), (1, 1, -4.0), (2, 1, 2.0), (3, 1, -7.0),
         (4, 1, 20.0)],
    )
    row = max_drawdown_daily(df).collect()[0]
    assert row.n_days == 5
    assert row.max_drawdown == pytest.approx(9.0)
    assert row.trough_day == "2024-01-04"
    assert row.peak_at_trough == pytest.approx(10.0)


def test_max_drawdown_monotone_series_is_zero(spark):
    from vectorsearchutil_spark.operators.analytics import (
        max_drawdown_daily,
    )

    df = _day_events(spark, [(0, 1, 1.0), (1, 1, 2.0), (2, 1, 3.0)])
    row = max_drawdown_daily(df).collect()[0]
    assert row.max_drawdown == 0.0
    # ties on drawdown=0 resolve to the EARLIEST day
    assert row.trough_day == "2024-01-01"


def test_rolling_corr_perfect_and_window_gate(spark):
    from vectorsearchutil_spark.operators.analytics import (
        rolling_corr_daily,
    )

    # y = 2x daily for 9 days -> corr exactly 1 for every full window;
    # first 6 days emit nothing (window not full)
    rows = []
    eid = 0
    for off in range(9):
        x = float(off + 1)
        rows.append((eid, dt.datetime(2024, 1, 1 + off, 9), 1,
                     "purchase", x)); eid += 1
        rows.append((eid, dt.datetime(2024, 1, 1 + off, 9), 1,
                     "click", 2 * x)); eid += 1
    df = _ev(spark, rows)
    out = rolling_corr_daily(df).collect()
    assert len(out) == 3  # days 7,8,9
    assert all(r.rolling_corr == pytest.approx(1.0) for r in out)


def test_rolling_corr_constant_side_is_null(spark):
    from vectorsearchutil_spark.operators.analytics import (
        rolling_corr_daily,
    )

    rows = []
    eid = 0
    for off in range(7):
        rows.append((eid, dt.datetime(2024, 1, 1 + off, 9), 1,
                     "purchase", 5.0)); eid += 1
        rows.append((eid, dt.datetime(2024, 1, 1 + off, 9), 1,
                     "click", float(off))); eid += 1
    out = rolling_corr_daily(_ev(spark, rows)).collect()
    assert len(out) == 1 and out[0].rolling_corr is None


def test_corr_matrix_exact_signs(spark):
    from vectorsearchutil_spark.operators.analytics import (
        numeric_corr_matrix,
    )

    df = spark.createDataFrame(
        [(1.0, 2.0, 9.0), (2.0, 4.0, 6.0), (3.0, 6.0, 3.0)],
        "a double, b double, c double",
    )
    out = {r.pair: r for r in numeric_corr_matrix(
        df, [("a", 1), ("b", 1), ("c", 1)]).collect()}
    assert out["a~b"].pearson_r == pytest.approx(1.0)
    assert out["a~c"].pearson_r == pytest.approx(-1.0)
    assert out["b~c"].pearson_r == pytest.approx(-1.0)
    assert all(r.n_rows == 3 for r in out.values())


def test_scd2_intervals_and_deletes(spark):
    from vectorsearchutil_spark.operators.cdc import scd2_build

    log = spark.createDataFrame(
        [
            (1, 1, "upsert", 10.0),   # v1 closed by v2
            (1, 2, "upsert", 20.0),   # current
            (2, 1, "upsert", 30.0),   # closed by the delete, NOT current
            (2, 2, "delete", 30.0),
            (3, 1, "upsert", 40.0),   # current (never touched)
        ],
        "k long, seq int, op string, bal double",
    )
    out = {(r.k, r.valid_from_seq): r
           for r in scd2_build(log, "k", "seq").collect()}
    assert len(out) == 4  # the delete row itself is not a version
    assert out[(1, 1)].valid_to_seq == 2 and not out[(1, 1)].is_current
    assert out[(1, 2)].valid_to_seq is None and out[(1, 2)].is_current
    assert out[(2, 1)].valid_to_seq == 2 and not out[(2, 1)].is_current
    assert out[(3, 1)].is_current


def test_tokenizer_fertility_hand_checked(spark):
    from vectorsearchutil_spark.operators.textanalysis import (
        tokenizer_fertility,
    )

    # "ab cd" -> ws=2, bpe=['ab',' cd']=2, chars=5 -> fertility 1.0
    # "a1!" -> ws=1, bpe=['a','1','!']=3, chars=3 -> fertility 3.0
    df = spark.createDataFrame(
        [(1, "ab cd", "en"), (2, "a1!", "xx")],
        "doc_id long, text string, lang string",
    )
    out = {r.lang: r for r in tokenizer_fertility(df).collect()}
    assert out["en"].fertility == pytest.approx(1.0)
    assert out["en"].chars_per_token == pytest.approx(2.5)
    assert out["xx"].fertility == pytest.approx(3.0)
    assert out["xx"].n_bpe_tokens == 3


def test_storage_budget_exact_p95(spark):
    from vectorsearchutil_spark.operators.multimodal import (
        storage_budget,
        synthesize_binary,
    )

    # 20 docs with strictly increasing byte sizes: p95 over n=20 is
    # the ceil(0.95*20)=19th smallest
    df = spark.createDataFrame(
        [(i, "x" * i, "s") for i in range(1, 21)],
        "doc_id long, text string, source string",
    )
    row = storage_budget(synthesize_binary(df)).collect()[0]
    assert row.n_objects == 20
    assert row.max_bytes == 20 + 8
    assert row.p95_bytes == 19 + 8
    assert row.total_bytes == sum(range(1, 21)) + 8 * 20


# ---------------------------------------------------------------- wave 5


def test_unicode_health_counts(spark):
    from vectorsearchutil_spark.operators.textanalysis import (
        unicode_health,
    )

    df = spark.createDataFrame(
        [
            (1, "clean ascii", "a"),
            (2, "bad � byte �", "a"),       # 2 repl chars, 1 doc
            (3, "ctl\x01\x02 and café", "a"),    # 2 ctrl, 1 non-ascii
        ],
        "doc_id long, text string, source string",
    )
    row = unicode_health(df).collect()[0]
    assert row.n_docs == 3
    assert row.n_replacement_docs == 1
    assert row.n_control_chars == 2
    # non-ascii chars: 2x U+FFFD + e-acute = 3
    total_chars = len("clean ascii") + len("bad � byte �") + len(
        "ctl\x01\x02 and café")
    assert row.non_ascii_share == pytest.approx(3 / total_chars, abs=1e-6)


def test_diversity_indices_uniform_and_degenerate(spark):
    from vectorsearchutil_spark.operators.textanalysis import (
        diversity_indices,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c d", "u"),       # 4 uniform types: H=2 bits,
                                       # simpson=0.75, ttr=1
            (2, "x x x x", "r"),       # 1 type: H=0, simpson=0, ttr=.25
        ],
        "doc_id long, text string, source string",
    )
    out = {r.source: r for r in diversity_indices(df).collect()}
    assert out["u"].shannon_bits == pytest.approx(2.0)
    assert out["u"].gini_simpson == pytest.approx(0.75)
    assert out["u"].ttr == pytest.approx(1.0)
    assert out["r"].shannon_bits == pytest.approx(0.0)
    assert out["r"].gini_simpson == pytest.approx(0.0)
    assert out["r"].vocab == 1 and out["r"].n_tokens == 4


def test_basket_histogram_shares_sum_to_one(spark, sf_dir):
    from vectorsearchutil_spark.queries import QUERIES

    out = QUERIES["orders_basket_size_histogram"](
        spark, sf_dir
    ).collect()
    assert sum(r.n_orders for r in out) > 0
    assert sum(r.share for r in out) == pytest.approx(1.0, abs=1e-4)
    assert all(r.basket_size >= 1 for r in out)


def test_discount_band_net_le_gross(spark, sf_dir):
    from vectorsearchutil_spark.queries import QUERIES

    out = QUERIES["lineitem_discount_band_profit"](
        spark, sf_dir
    ).collect()
    assert out
    for r in out:
        assert r.net_revenue <= r.gross_revenue + 1e-9
        if r.disc_pts == 0:
            assert r.net_revenue == pytest.approx(r.gross_revenue)


def test_cluster_lang_purity_hand_built(spark):
    from vectorsearchutil_spark.operators import dedup as _dd
    from vectorsearchutil_spark.queries import (  # noqa: F401
        dedup_cluster_lang_purity,
    )

    # two near-identical docs in different langs + one singleton:
    # expect one 2-lang cluster of 2 docs, majority share 0.5
    base = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [(1, base, "en", "s", len(base)),
         (2, base + " iota", "fr", "s", len(base) + 5),
         (3, "totally different words here now", "en", "s", 32)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    pairs = _dd.ngram_jaccard_pairs(df, n=3, threshold=0.5)
    comp = _dd.connected_components(pairs)
    from pyspark.sql import functions as F
    cl = comp.join(df.select("doc_id", "lang"),
                   comp.node == F.col("doc_id"))
    assert cl.count() == 2  # the singleton never enters the pair graph


# ---------------------------------------------------------------- wave 6


def test_completeness_gaps_hand_built(spark):
    from vectorsearchutil_spark.operators.analytics import (
        completeness_gaps,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 30)

    def r(eid, hours, typ):
        return (eid, t0 + dt.timedelta(hours=hours), 1, typ, 1.0)

    # global window = hours 0..5 (6 hours).
    # type a: hours 0,1,5    -> internal gap 3, present 3, missing 3
    # type b: hours 2,3,4,5  -> leading gap 2, present 4, missing 2
    rows = [r(0, 0, "a"), r(1, 1, "a"), r(2, 5, "a"),
            r(3, 2, "b"), r(4, 3, "b"), r(5, 4, "b"), r(6, 5, "b")]
    out = {x.event_type: x
           for x in completeness_gaps(_ev(spark, rows)).collect()}
    assert out["a"].n_expected_hours == 6
    assert out["a"].n_present_hours == 3
    assert out["a"].n_missing_hours == 3
    assert out["a"].longest_gap_hours == 3
    assert out["b"].n_present_hours == 4
    assert out["b"].longest_gap_hours == 2  # leading truncation


def test_seasonal_naive_wape_perfect_weekly(spark):
    from vectorsearchutil_spark.operators.analytics import (
        seasonal_naive_wape,
    )

    # exact 7-day periodic series -> WAPE 0, bias 0, 7 scored days
    rows = []
    for d in range(14):
        rows.append((d, dt.datetime(2024, 1, 1 + d), 1,
                     float(10 + (d % 7))))
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate timestamp, o_custkey long,"
        " o_totalprice double")
    row = seasonal_naive_wape(df).collect()[0]
    assert row.n_days_scored == 7
    assert row.wape == pytest.approx(0.0)
    assert row.mae == pytest.approx(0.0)
    assert row.bias == pytest.approx(0.0)


def test_seasonal_naive_wape_known_error(spark):
    from vectorsearchutil_spark.operators.analytics import (
        seasonal_naive_wape,
    )

    # week 1 all 10.0, week 2 all 12.0: |err|=2 on each of 7 days
    rows = [(d, dt.datetime(2024, 1, 1 + d), 1,
             10.0 if d < 7 else 12.0) for d in range(14)]
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate timestamp, o_custkey long,"
        " o_totalprice double")
    row = seasonal_naive_wape(df).collect()[0]
    assert row.wape == pytest.approx(2.0 / 12.0, abs=1e-6)
    assert row.mae == pytest.approx(2.0)
    assert row.bias == pytest.approx(2.0 / 12.0, abs=1e-6)  # over-forecast... y>yhat


def test_seasonal_anomalies_flags_planted_spike(spark):
    from vectorsearchutil_spark.operators.analytics import (
        seasonal_anomalies_daily,
    )

    # 28 flat days + one 100x spike: the spike day must flag, flat
    # days must not
    rows = []
    eid = 0
    for d in range(28):
        v = 1000.0 if d == 13 else 10.0
        rows.append((eid, dt.datetime(2024, 1, 1 + d, 12), 1, "x", v))
        eid += 1
    out = {r.day: r for r in
           seasonal_anomalies_daily(_ev(spark, rows)).collect()}
    assert out["2024-01-14"].is_anomaly
    flagged = [d for d, r in out.items() if r.is_anomaly]
    # the spike bleeds into its +-3-day trend neighbours; the spike
    # day itself must dominate and far-away days must stay clean
    assert "2024-01-14" in flagged
    # far-away days NOT sharing the spike's day-of-week stay clean
    # (same-dow days legitimately inherit part of the spike through
    # the dow-seasonal term — that is what the decomposition does)
    assert not out["2024-01-02"].is_anomaly
    assert not out["2024-01-27"].is_anomaly


def test_exact_dup_vectors_synthetic(spark, sf_dir):
    from vectorsearchutil_spark.queries import QUERIES

    out = QUERIES["embeddings_exact_dup_vectors"](
        spark, sf_dir).collect()
    tot_red = sum(r.n_redundant for r in out)
    tot_groups = sum(r.n_dup_groups for r in out)
    # every vec_id % 7 == 0 vector was re-inserted once
    assert tot_red == tot_groups > 0
    for r in out:
        assert r.n_vectors == r.n_signatures + r.n_redundant


def test_dedup_impact_reconciles(spark, sf_dir):
    from vectorsearchutil_spark.queries import QUERIES

    out = QUERIES["docs_dedup_impact"](spark, sf_dir).collect()
    assert out
    for r in out:
        assert r.docs_after <= r.docs_before
        assert r.tokens_after <= r.tokens_before
        if r.tokens_before:
            assert r.token_removal_share == pytest.approx(
                1.0 - r.tokens_after / r.tokens_before, abs=1e-6)

"""Business/stream analytics operators staged for round 6.

Mirrors the reference's analytics query surface style (ad-hoc SQL
over the store's tables, ``vsu/VectorSearchBase.py`` exposes the raw
connection for exactly this) re-expressed as scale-safe DataFrame
plans. Everything here follows the repo's two conventions:

- **Two-level windows**: no window function ever runs over raw rows
  on an unbounded partition. Rankings (RFM quintiles) derive from
  DISTINCT-VALUE histograms; per-entity windows (rolling z-score,
  inter-arrival lag) are bounded by the rows-per-entity, which is
  data-model-bounded, not corpus-bounded.
- **Cross-engine-exact arithmetic**: money and metric values go
  through fixed-point longs (cents) so sums are order-free; the few
  genuinely-real-valued outputs round via the floor form
  (``round_half_up``) both engines compute identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vectorsearchutil_spark.functions.vector import round_half_up
from vectorsearchutil_spark.functions.datetime import epoch_seconds

__all__ = [
    "exact_ntile",
    "rolling_zscore",
    "yoy_growth",
    "rfm_scores",
    "interarrival_quantiles",
    "ab_test_ztest",
    "cusum_changepoint",
    "benford_digits",
    "gini_coefficient",
    "kaplan_meier",
    "mann_whitney_u",
    "ks_two_sample",
    "daily_acf",
    "daily_peaks",
    "theil_sen_daily_trend",
    "block_bootstrap_mean_ci",
    "seasonal_decompose_daily",
    # standalone decomposition probes of yoy_growth / rfm_scores
    # (documented public API — ADVICE r8)
    "monthly_revenue",
    "rfm_per_customer",
    # round-10 staging wave
    "normal_sf",
    "nelson_aalen",
    "mann_kendall_daily",
    "fdr_bh_trend",
    "ewma_forecast_daily",
    "dau_mau_stickiness",
    "diff_in_diff",
    "price_elasticity",
]


def _cents(col: Column) -> Column:
    """value → fixed-point cents long; NULL for null/non-finite."""
    return (
        F.when(
            col.isNotNull()
            & ~F.isnan(col)
            & (col != F.lit(float("inf")))
            & (col != F.lit(float("-inf"))),
            F.floor(col * F.lit(100.0) + F.lit(0.5)),
        )
        .cast("long")
    )


def exact_ntile(
    df: DataFrame,
    value_col: str,
    k: int,
    *,
    ascending: bool = True,
    tie_col: str,
    out_col: str = "bucket",
) -> DataFrame:
    """Exact ``NTILE(k) OVER (ORDER BY value [ASC|DESC], tie ASC)``
    WITHOUT a global sort — the ``customers_acctbal_deciles`` plan
    (queries.py) generalized into a reusable helper.

    rank = (rows strictly before this value, cumulated over the
    DISTINCT-VALUE histogram — bounded by the value domain, never the
    row count) + a within-value rank on the unique ``tie_col``,
    itself TWO-LEVEL (order-preserving tie-key magnitude buckets +
    per-(value, bucket) row_number with per-value bucket carries):
    small-integer metrics — order counts, scores — tie MILLIONS of
    rows per value at corpus scale, and a flat within-value
    row_number would serialize each tie group through ONE sort task.
    The bucket then derives from rank and n arithmetically per the
    NTILE definition (first ``n mod k`` buckets take one extra row).
    The only serial window runs over the aggregated histogram.

    Returns the input columns plus ``out_col`` (int bucket 1..k).
    """
    vals = df.groupBy(value_col).agg(F.count(F.lit(1)).alias("_c"))
    # NULLS LAST pinned explicitly: Spark's bare asc() defaults nulls
    # FIRST while standard SQL engines default them LAST — the oracle
    # spells ASC/DESC NULLS LAST to match
    order = (
        F.col(value_col).asc_nulls_last()
        if ascending
        else F.col(value_col).desc_nulls_last()
    )
    vw = Window.orderBy(order).rowsBetween(
        Window.unboundedPreceding, -1
    )
    vcum = vals.select(
        value_col,
        F.coalesce(F.sum("_c").over(vw), F.lit(0)).alias("_before"),
    )
    # order-preserving tie-key bucket: octave × 64 mantissa
    # sub-buckets for positive keys, bucket 0 for everything ≤ 0
    # (still ordered within by the tie column itself)
    tk = F.col(tie_col).cast("double")
    kb = (
        F.when(
            F.col(tie_col) > 0,
            (F.floor(F.log2(tk)) + F.lit(1100)) * F.lit(128)
            + F.floor(
                tk * F.pow(F.lit(2.0), F.lit(6.0) - F.floor(F.log2(tk)))
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    keyed = df.withColumn("_kb", kb)
    sub = keyed.groupBy(value_col, "_kb").agg(
        F.count(F.lit(1)).alias("_kc")
    )
    sw = (
        Window.partitionBy(value_col)
        .orderBy(F.col("_kb").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    subcarry = sub.select(
        value_col,
        "_kb",
        F.coalesce(F.sum("_kc").over(sw), F.lit(0)).alias("_kcarry"),
    )
    inner = Window.partitionBy(value_col, "_kb").orderBy(
        F.col(tie_col).asc()
    )
    n_df = df.agg(F.count(F.lit(1)).alias("_n"))
    rank = (
        F.col("_before") + F.col("_kcarry") + F.row_number().over(inner)
    )
    q = F.expr(f"_n div {k}")
    r = F.expr(f"_n % {k}")
    thr = r * (q + 1)
    bucket = F.when(rank <= thr, (rank - 1) / (q + 1)).otherwise(
        # lazy branch: q = 0 implies every rank <= thr (= n), so the
        # division by q never evaluates for n < k
        r + (rank - thr - 1) / q
    )
    # null-safe (<=>) joins on the value key: a NULL metric is a
    # legitimate NULLS LAST rank group, and a plain equi-join would
    # silently DROP those rows from the output (found round 8 by the
    # literal ntile fixture probe; <=> keys still hash-join)
    vjoin = vcum.select(F.col(value_col).alias("_vjk"), "_before")
    sjoin = subcarry.select(
        F.col(value_col).alias("_sjk"),
        F.col("_kb").alias("_skb"),
        "_kcarry",
    )
    return (
        keyed.join(
            F.broadcast(vjoin), F.col(value_col).eqNullSafe(F.col("_vjk"))
        )
        # no broadcast hint on subcarry: (value, bucket) cardinality
        # scales with the corpus in the worst case; AQE decides
        .join(
            sjoin,
            F.col(value_col).eqNullSafe(F.col("_sjk"))
            & (F.col("_kb") == F.col("_skb")),
        )
        .crossJoin(F.broadcast(n_df))
        .withColumn(out_col, (F.floor(bucket) + 1).cast("int"))
        .drop("_before", "_kcarry", "_kb", "_n", "_vjk", "_sjk", "_skb")
    )


def rolling_zscore(
    df: DataFrame,
    value_col: str = "value",
    part_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    window: int = 5,
    z_thresh: float = 3.0,
) -> DataFrame:
    """Per-entity rolling anomaly flags: each event's z-score against
    the mean/std of the PRECEDING ``window`` events of the same
    entity (the event itself excluded, so an outlier cannot mask
    itself). The classic streaming-monitoring primitive as a batch
    twin.

    Scale: the window partitions by entity and its frame is ``window``
    ROWS — state per task is O(window), rows-per-entity bounds the
    sort, entities parallelize. No global window anywhere.

    Exactness: values fix-point to cents longs; the frame's Σv and
    Σv² are integer sums (order-free), and mean/variance/z derive
    from those exact integers with one double division + sqrt —
    correctly-rounded IEEE ops both engines reproduce bit-identically
    (the oracle spells the same formula). Non-finite/null values
    pass through with NULL stats and never enter a neighbour's frame
    sums (SUM/COUNT skip NULL identically in both engines).

    z is NULL for short history (< window prior rows) or zero
    variance; ``is_anomaly`` is false-not-null there so downstream
    filters behave.
    """
    qv = _cents(F.col(value_col))
    w = (
        Window.partitionBy(part_col)
        .orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
        .rowsBetween(-window, -1)
    )
    d = df.select(
        id_col,
        part_col,
        ts_col,
        qv.alias("_qv"),
        F.sum(qv).over(w).alias("_s"),
        F.sum(qv * qv).over(w).alias("_s2"),
        F.count(qv).over(w).alias("_cnt"),
    )
    cnt = F.col("_cnt").cast("double")
    mean = F.col("_s") / cnt
    # var = (Σv² − (Σv)²/n) / n over exact integer sums
    var = (F.col("_s2") - F.col("_s") * F.col("_s") / cnt) / cnt
    z_raw = (F.col("_qv") - mean) / F.sqrt(var)
    z = F.when(
        (F.col("_cnt") >= window) & (var > 0) & F.col("_qv").isNotNull(),
        round_half_up(z_raw, 6),
    )
    return d.select(
        id_col,
        part_col,
        (F.col("_qv") / F.lit(100.0)).alias("value_seen"),
        F.col("_cnt").cast("int").alias("n_window"),
        z.alias("zscore"),
        F.coalesce(
            F.abs(z) >= F.lit(float(z_thresh)), F.lit(False)
        ).alias("is_anomaly"),
    )


def monthly_revenue(
    orders: DataFrame,
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
) -> DataFrame:
    """The month grid ``yoy_growth`` builds on, exposed standalone as
    a round-8 decomposition probe (VERDICT r7 "Next round" #1c): one
    row per month with ``_mi`` (integer month index y*12+m−1),
    exact-cents revenue and order count — pure BIGINT/INT output, no
    float channel and no join, so a driver red here localizes the
    divergence to the base aggregation (year/month extraction or the
    cents fixpoint) rather than the YoY pairing or rounding."""
    cents = _cents(F.col(amount_col))
    # integer month index (y*12 + m−1): the YoY pairing and the
    # output label both derive from plain ints — no date-type
    # arithmetic for a cross-engine oracle to disagree on
    midx = (
        F.year(F.col(date_col)) * 12 + F.month(F.col(date_col)) - 1
    ).cast("int")
    return orders.groupBy(midx.alias("_mi")).agg(
        F.sum(cents).alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def _month_label(mi) -> Column:
    """'YYYY-MM' from the integer month index."""
    return F.concat_ws(
        "-",
        (mi / 12).cast("int").cast("string"),
        F.lpad((mi % 12 + 1).cast("string"), 2, "0"),
    )


def yoy_growth(
    orders: DataFrame,
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
) -> DataFrame:
    """Monthly revenue with year-over-year growth. Aggregates to the
    month grid FIRST (exact-cents integer sums, map-side combinable),
    then the YoY pairing is a self-JOIN on month−12 — robust to
    missing months, no window at all, and the joined side is the
    ≤ #months aggregate, broadcastable forever.

    ``yoy_growth`` is NULL for months with no prior-year row (or a
    zero prior-year revenue), rounded via the cross-engine floor form
    otherwise.
    """
    monthly = monthly_revenue(orders, date_col, amount_col)
    prev = monthly.select(
        (F.col("_mi") + 12).alias("_mi"),
        F.col("revenue_cents").alias("prev_year_cents"),
    )
    growth = (
        (F.col("revenue_cents") - F.col("prev_year_cents")).cast("double")
        / F.when(F.col("prev_year_cents") != 0, F.col("prev_year_cents"))
        .cast("double")
    )
    return (
        monthly.join(F.broadcast(prev), "_mi", "left")
        .select(
            _month_label(F.col("_mi")).alias("month"),
            "n_orders",
            "revenue_cents",
            "prev_year_cents",
            round_half_up(growth, 6).alias("yoy_growth"),
        )
    )


def rfm_per_customer(orders: DataFrame) -> DataFrame:
    """The per-customer (recency, frequency, monetary) base table
    ``rfm_scores`` quintiles over, exposed standalone as a round-8
    decomposition probe (VERDICT r7 "Next round" #1c): pure
    INT/BIGINT output from one aggregate pass — a driver red here
    localizes the divergence to the base aggregation (datediff /
    cents fixpoint / anchor max), while a green here with a red
    ``customer_rfm_scores`` localizes it to ``exact_ntile``."""
    anchor = orders.agg(
        F.max(F.col("o_orderdate")).alias("_anchor")
    )
    # datediff(anchor, newest order) = MIN over the per-order diffs,
    # so recency aggregates in the same pass as frequency/monetary
    return (
        orders.crossJoin(F.broadcast(anchor))
        .groupBy(F.col("o_custkey"))
        .agg(
            F.min(
                F.datediff(F.col("_anchor"), F.col("o_orderdate"))
            ).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(_cents(F.col("o_totalprice"))).alias("monetary_cents"),
        )
    )


def rfm_scores(orders: DataFrame) -> DataFrame:
    """RFM segmentation: per customer, Recency (days since their last
    order, anchored at the corpus max order date so the result is
    deterministic), Frequency (order count), Monetary (exact cents),
    each bucketed into exact quintiles — R ascending (1 = most
    recent), F and M descending (1 = heaviest) — plus the
    concatenated ``rfm_segment``.

    The three quintiles reuse :func:`exact_ntile`: every ranking runs
    over the per-metric DISTINCT-VALUE histogram, so no global
    customer sort exists in the plan. Ties break by c_custkey ASC,
    matching the oracle's NTILE ORDER BY.
    """
    per_cust = rfm_per_customer(orders)
    r = exact_ntile(
        per_cust, "recency_days", 5,
        ascending=True, tie_col="o_custkey", out_col="r_quintile",
    ).select("o_custkey", "r_quintile")
    f_ = exact_ntile(
        per_cust, "frequency", 5,
        ascending=False, tie_col="o_custkey", out_col="f_quintile",
    ).select("o_custkey", "f_quintile")
    m = exact_ntile(
        per_cust, "monetary_cents", 5,
        ascending=False, tie_col="o_custkey", out_col="m_quintile",
    ).select("o_custkey", "m_quintile")
    return (
        per_cust.join(r, "o_custkey")
        .join(f_, "o_custkey")
        .join(m, "o_custkey")
        .select(
            "o_custkey",
            "recency_days",
            "frequency",
            "monetary_cents",
            "r_quintile",
            "f_quintile",
            "m_quintile",
            F.concat_ws(
                "", "r_quintile", "f_quintile", "m_quintile"
            ).alias("rfm_segment"),
        )
    )


def ab_test_ztest(
    events: DataFrame,
    convert_type: str = "purchase",
    user_col: str = "user_id",
    type_col: str = "event_type",
    seed: str = "ab",
) -> DataFrame:
    """Two-proportion z-test between two deterministically-assigned
    experiment arms: each user hashes into arm A or B
    (:func:`hash_uniform` — the md5 draw both engines reproduce), a
    user converts if they have >= 1 ``convert_type`` event, and the
    pooled z statistic tests rate(A) = rate(B). One summary row.

    Plan: one per-user aggregate (map-side combinable max-flag), one
    tiny per-arm count — the z formula runs over FOUR integers on the
    driver side of the plan, never over rows. Exactness: counts are
    exact longs; z is one double expression from those ints, rounded
    via the floor form (the oracle spells the identical formula).
    """
    from vectorsearchutil_spark.operators.sampling import hash_uniform

    per_user = events.groupBy(F.col(user_col)).agg(
        F.max(
            (F.col(type_col) == convert_type).cast("int")
        ).alias("_conv")
    )
    armed = per_user.select(
        F.when(
            hash_uniform(F.col(user_col).cast("string"), seed)
            < F.lit(0.5),
            F.lit("A"),
        )
        .otherwise(F.lit("B"))
        .alias("_arm"),
        "_conv",
    )
    s = armed.agg(
        F.sum((F.col("_arm") == "A").cast("long")).alias("n_a"),
        F.sum(
            ((F.col("_arm") == "A") & (F.col("_conv") == 1)).cast("long")
        ).alias("conv_a"),
        F.sum((F.col("_arm") == "B").cast("long")).alias("n_b"),
        F.sum(
            ((F.col("_arm") == "B") & (F.col("_conv") == 1)).cast("long")
        ).alias("conv_b"),
    )
    # try_divide: an empty arm (degenerate one-row / null-payload
    # input) has an undefined rate — NULL, matching the oracle's
    # DuckDB division-by-zero semantics, not an ANSI crash (found by
    # the round-6 value-materializing degenerate sweep)
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    pa = F.try_divide(F.col("conv_a").cast("double"), na)
    pb = F.try_divide(F.col("conv_b").cast("double"), nb)
    pool = F.try_divide(
        (F.col("conv_a") + F.col("conv_b")).cast("double"), na + nb
    )
    se = F.sqrt(
        pool
        * (F.lit(1.0) - pool)
        * (
            F.try_divide(F.lit(1.0), na)
            + F.try_divide(F.lit(1.0), nb)
        )
    )
    z = F.when(se > 0, (pa - pb) / se)
    return s.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        round_half_up(pa, 6).alias("rate_a"),
        round_half_up(pb, 6).alias("rate_b"),
        round_half_up(z, 6).alias("z_score"),
    )


def cusum_changepoint(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """CUSUM changepoint per event type over the DAILY value series:
    the day t maximizing |Σ_{i<=t} x_i − (t/n)·Σx| — the classic
    level-shift detector — reported with its scaled CUSUM value.

    Plan: raw rows collapse to the per-(type, day) cents grid first
    (map-side combinable); the cumulative window runs over that grid,
    bounded by days x types, never row count. Exactness: the deviation
    multiplies through by n_days — D_t = n·prefix_t − t·total — so
    every compared quantity is an exact DECIMAL(38,0) integer and the
    argmax (ties → earliest day) cannot be flipped by float error;
    only the reported scaled value divides back to double.
    """
    cents = _cents(F.col(value_col))
    day = F.to_date(F.col(ts_col))
    daily = events.groupBy(
        F.col(type_col).alias("event_type"), day.alias("day")
    ).agg(F.sum(cents).alias("_d"))
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("day").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy("event_type")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    cum = daily.select(
        "event_type",
        "day",
        F.sum("_d").over(w).alias("_pre"),
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy(F.col("day").asc()))
        .alias("_t"),
        F.sum("_d").over(tot).alias("_tot"),
        F.count(F.lit(1)).over(tot).alias("_n"),
    )
    d_stat = dec(F.col("_n")) * dec(F.col("_pre")) - dec(F.col("_t")) * dec(
        F.col("_tot")
    )
    scored = cum.select(
        "event_type",
        "day",
        "_n",
        d_stat.alias("_dstat"),
        F.abs(d_stat).alias("_absd"),
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.col("_absd").desc(), F.col("day").asc()
    )
    # scaled back to average-cents units: D/(n*100) = dollars of
    # cumulative deviation at the changepoint
    scaled = F.col("_dstat").cast("double") / (
        F.col("_n").cast("double") * F.lit(100.0)
    )
    return (
        scored.withColumn("_rn", F.row_number().over(pick))
        .filter(F.col("_rn") == 1)
        .select(
            "event_type",
            F.col("day").cast("string").alias("changepoint_day"),
            F.col("_n").cast("int").alias("n_days"),
            round_half_up(scaled, 4).alias("cusum_value"),
        )
    )


def benford_digits(
    df: DataFrame,
    amount_col: str = "o_totalprice",
) -> DataFrame:
    """Benford's-law audit: the distribution of the first significant
    digit of ``amount_col`` against the Benford expectation
    log10(1 + 1/d) — the classic fabricated-numbers screen. Nine rows
    (digits 1-9; zero/negative amounts are excluded as digit-less).

    Plan: digit extraction is a narrow string projection on the exact
    cents long (``substr(cast(cents as string), 1, 1)`` — no float
    log10 anywhere near the data), one 9-group aggregate. The shares
    are doubles from exact ints, rounded via the floor form.
    """
    cents = _cents(F.col(amount_col))
    d = (
        df.select(cents.alias("_c"))
        .filter(F.col("_c") > 0)
        .select(
            F.substring(F.col("_c").cast("string"), 1, 1).alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = d.agg(F.sum("n").alias("_tot"))
    share = F.col("n").cast("double") / F.col("_tot").cast("double")
    benford = F.log10(
        F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double")
    )
    return (
        d.crossJoin(F.broadcast(tot))
        .select(
            F.col("digit").cast("int").alias("digit"),
            "n",
            round_half_up(share, 6).alias("obs_share"),
            round_half_up(benford, 6).alias("benford_share"),
            round_half_up(F.abs(share - benford), 6).alias("abs_dev"),
        )
    )


def gini_coefficient(
    orders: DataFrame,
    key_col: str = "o_custkey",
    amount_col: str = "o_totalprice",
) -> DataFrame:
    """Gini coefficient of revenue concentration across customers —
    G = (2·Σ i·x_i) / (n·Σx) − (n+1)/n with x ascending — computed
    WITHOUT a global row sort: for a distinct revenue value v with
    count c and prefix count p (strictly-smaller rows), the rank-sum
    over its run is c·(2p+c+1)/2 regardless of intra-tie order (equal
    x makes Σi·x tie-order-invariant), so Σi·x derives from the
    DISTINCT-VALUE histogram. One summary row.

    Exactness: everything through the numerator stays DECIMAL(38,0)
    (i·x reaches ~n²·max_cents, past the long range at warehouse
    scale); the single final division is double, rounded via the
    floor form. The serial window runs over the distinct-revenue
    histogram only.
    """
    per_key = (
        orders.groupBy(F.col(key_col))
        .agg(F.sum(_cents(F.col(amount_col))).alias("_x"))
        # keys whose amounts were all null/non-finite have no revenue
        # to rank — excluded on both sides of the oracle contract
        .filter(F.col("_x").isNotNull())
    )
    hist = per_key.groupBy("_x").agg(F.count(F.lit(1)).alias("_c"))
    w = Window.orderBy(F.col("_x").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    runs = hist.select(
        "_x",
        "_c",
        F.coalesce(F.sum("_c").over(w), F.lit(0)).alias("_p"),
    )
    # Σ_{i=p+1}^{p+c} i·v = v · c·(2p+c+1)/2 ; 2p+c+1 keeps the /2
    # exact because c·(2p+c+1) is always even
    rank_sum = (
        dec(F.col("_x"))
        * dec(F.col("_c"))
        * (dec(F.lit(2)) * dec(F.col("_p")) + dec(F.col("_c")) + dec(F.lit(1)))
        / dec(F.lit(2))
    ).cast("decimal(38,0)")
    s = runs.agg(
        F.sum(rank_sum).alias("_sixi"),
        F.sum(dec(F.col("_x")) * dec(F.col("_c"))).alias("_sx"),
        F.sum("_c").alias("_n"),
    )
    n = F.col("_n").cast("double")
    gini = (
        F.lit(2.0) * F.col("_sixi").cast("double")
        / (n * F.col("_sx").cast("double"))
        - (n + F.lit(1.0)) / n
    )
    return s.select(
        F.col("_n").cast("long").alias("n_keys"),
        F.col("_sx").cast("long").alias("total_cents"),
        round_half_up(gini, 6).alias("gini"),
    )


def kaplan_meier(
    events: DataFrame,
    start_type: str = "signup",
    convert_type: str = "purchase",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Kaplan–Meier survival of time-to-conversion: per user, the
    whole-day delay from first ``start_type`` to first subsequent
    ``convert_type``; users who never convert are right-censored at
    the corpus max event date. One row per distinct conversion-delay
    day with the at-risk count, event count, and the KM survival
    estimate S(t) = Π_{u<=t} (1 − d_u/n_u).

    Plan: per-user times collapse in ONE aggregate; the KM curve runs
    over the distinct-delay-day histogram (bounded by the time span,
    never user count) with prefix sums supplying each risk set. The
    running product is a SUM of 1e9 fixed-point ln terms — order-free
    long addition, exp'd once at the end (the zipf_fit convention) —
    with a cumulative-flag guard so a day that converts its whole
    risk set pins survival to exactly 0 thereafter instead of
    feeding ln(0) into the sum.
    """
    risked = _survival_risk_table(
        events, start_type, convert_type, user_col, type_col, ts_col
    )
    frac = F.lit(1.0) - F.col("n_events").cast("double") / F.col(
        "n_at_risk"
    ).cast("double")
    term = F.when(
        F.col("n_events") < F.col("n_at_risk"),
        F.floor(F.log(frac) * F.lit(1e9) + F.lit(0.5)).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    dead = (F.col("n_events") >= F.col("n_at_risk")).cast("int")
    wcum = Window.orderBy(F.col("delay_days").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = risked.select(
        "delay_days",
        "n_at_risk",
        "n_events",
        F.sum(term).over(wcum).alias("_lnsum"),
        F.max(dead).over(wcum).alias("_dead"),
    )
    surv = F.when(F.col("_dead") == 1, F.lit(0.0)).otherwise(
        F.exp(F.col("_lnsum").cast("double") / F.lit(1e9))
    )
    return (
        cum.filter(F.col("n_events") > 0)
        .select(
            "delay_days",
            F.col("n_at_risk").cast("long").alias("n_at_risk"),
            "n_events",
            round_half_up(surv, 6).alias("survival"),
        )
    )


def _survival_risk_table(
    events: DataFrame,
    start_type: str = "signup",
    convert_type: str = "purchase",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Shared survival risk table: one row per distinct conversion-
    delay day (event days AND censor days) with ``delay_days``,
    ``n_events``, ``n_at_risk`` — the common substrate of
    :func:`kaplan_meier` (product-limit) and :func:`nelson_aalen`
    (cumulative hazard). Extracted verbatim from kaplan_meier so the
    two estimators CANNOT drift (the _YOY_MONTH_CTE discipline);
    plan shape and semantics documented there."""
    sec = F.floor(epoch_seconds(F.col(ts_col))).cast("bigint")
    per_user = (
        events.groupBy(F.col(user_col))
        .agg(
            F.min(
                F.when(F.col(type_col) == start_type, sec)
            ).alias("_start"),
            F.min(
                F.when(F.col(type_col) == convert_type, sec)
            ).alias("_conv"),
            F.max(sec).alias("_seen"),
        )
        .filter(F.col("_start").isNotNull())
    )
    horizon = per_user.agg(F.max("_seen").alias("_hmax"))
    day = lambda c: F.floor(c / F.lit(86400)).cast("long")  # noqa: E731
    obs = per_user.crossJoin(F.broadcast(horizon)).select(
        F.when(
            F.col("_conv").isNotNull() & (F.col("_conv") >= F.col("_start")),
            day(F.col("_conv")) - day(F.col("_start")),
        ).alias("_edays"),
        (day(F.col("_hmax")) - day(F.col("_start"))).alias("_cdays"),
    )
    n_total = obs.agg(F.count(F.lit(1)).alias("_nt"))
    ev = obs.filter(F.col("_edays").isNotNull()).groupBy(
        F.col("_edays").alias("delay_days")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    # censored BEFORE t (cens < t): those users left the risk set;
    # risk(t) = n_total − events_before(t) − censored_before(t).
    # Event-at-t users count as at-risk at t (standard KM);
    # a user censored exactly at t is also conventionally at risk.
    cens = obs.filter(F.col("_edays").isNull()).groupBy(
        F.col("_cdays").alias("delay_days")
    ).agg(F.count(F.lit(1)).alias("_nc"))
    grid = (
        ev.join(cens, "delay_days", "full")
        .select(
            "delay_days",
            F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
            F.coalesce(F.col("_nc"), F.lit(0)).alias("_nc"),
        )
    )
    wprev = Window.orderBy(F.col("delay_days").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    at_risk = (
        F.col("_nt")
        - F.coalesce(F.sum("n_events").over(wprev), F.lit(0))
        - F.coalesce(F.sum("_nc").over(wprev), F.lit(0))
    )
    return grid.crossJoin(F.broadcast(n_total)).select(
        "delay_days",
        "n_events",
        at_risk.alias("n_at_risk"),
    )


def nelson_aalen(
    events: DataFrame,
    start_type: str = "signup",
    convert_type: str = "purchase",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Nelson–Aalen cumulative hazard of time-to-conversion:
    H(t) = Σ_{u≤t} d_u / n_u over the same right-censored risk table
    as :func:`kaplan_meier` (kin declared: shared
    :func:`_survival_risk_table`, different estimator — NA estimates
    the integrated hazard directly and is the standard input to
    hazard-ratio eyeballing where KM's product-limit is the survival
    curve).

    Exactness: each increment d/n is a 1e9 fixed-point BIGINT term —
    the cumulative sum is order-free long addition (the zipf_fit /
    KM-lnsum convention), divided back to double once per row.
    Plan: identical to KM — everything after the per-user collapse
    runs on the bounded distinct-delay-day histogram.
    """
    risked = _survival_risk_table(
        events, start_type, convert_type, user_col, type_col, ts_col
    )
    inc = F.floor(
        F.col("n_events").cast("double")
        / F.col("n_at_risk").cast("double")
        * F.lit(1e9)
        + F.lit(0.5)
    ).cast("long")
    wcum = Window.orderBy(F.col("delay_days").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = risked.select(
        "delay_days",
        "n_at_risk",
        "n_events",
        F.sum(F.when(F.col("n_at_risk") > 0, inc).otherwise(F.lit(0)))
        .over(wcum)
        .alias("_hsum"),
    )
    return cum.filter(F.col("n_events") > 0).select(
        "delay_days",
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        "n_events",
        round_half_up(
            F.col("_hsum").cast("double") / F.lit(1e9), 6
        ).alias("cum_hazard"),
    )


def interarrival_quantiles(
    events: DataFrame,
    group_col: str = "event_type",
    part_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    quantiles: tuple[float, ...] = (0.5, 0.9),
) -> DataFrame:
    """EXACT inter-arrival-gap quantiles per event type: the gap is
    the whole-second delta between consecutive events of the same
    (user, type) — the per-entity cadence — and each requested
    quantile is the exact order statistic (smallest gap g with
    count(≤g) ≥ ceil(q·n)), computed by histogram refinement
    (:func:`weighted_median_exact` with unit weights), never a
    per-type sort of raw gaps.

    The lag window partitions by (user, type) — bounded by one
    entity's events; gaps are integer seconds so every comparison is
    exact. Entities with a single event contribute no gap.
    """
    from vectorsearchutil_spark.operators.sketches import (
        weighted_median_exact,
    )

    lw = Window.partitionBy(part_col, group_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    sec = F.floor(epoch_seconds(F.col(ts_col))).cast("bigint")
    gaps = (
        events.select(
            group_col,
            part_col,
            (sec - F.lag(sec).over(lw)).alias("gap_s"),
        )
        .filter(F.col("gap_s").isNotNull())
        .withColumn("_w", F.lit(1).cast("long"))
    )
    counts = gaps.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_gaps")
    )
    out = counts
    for q in quantiles:
        col = f"p{int(round(q * 100)):02d}_gap_s"
        one = weighted_median_exact(
            gaps, group_col, "gap_s", "_w", out_col=col, quantile=q
        )
        out = out.join(one, group_col)
    return out


def mann_whitney_u(
    events: DataFrame,
    group_a: str = "purchase",
    group_b: str = "view",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Mann-Whitney U rank-sum test between two groups' value
    distributions, with mid-rank tie handling and the tie-corrected
    normal approximation z. One summary row.

    Plan: the raw rows collapse to the DISTINCT-VALUE histogram
    (per value: count in A, count in B) and every rank quantity
    derives from prefix sums over that bounded table — no global row
    sort ever touches the data. Exactness: ranks are kept in 2x units
    so mid-ranks stay integers — 2·R_A = Σ c_A·(2·prefix + c + 1) —
    and the tie term Σ(c³−c) is integral too, all in DECIMAL(38,0);
    U, z divide to double only at the end, from exact integers, via
    the identical expression in the oracle.
    """
    cents = _cents(F.col(value_col))
    base = events.filter(
        F.col(type_col).isin([group_a, group_b])
    ).select(
        (F.col(type_col) == group_a).cast("long").alias("_ia"), cents.alias("_v")
    ).filter(F.col("_v").isNotNull())
    hist = base.groupBy("_v").agg(
        F.sum("_ia").alias("_ca"),
        F.sum(F.lit(1) - F.col("_ia")).alias("_cb"),
    )
    w = Window.orderBy(F.col("_v").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    c = F.col("_ca") + F.col("_cb")
    runs = hist.select(
        "_ca",
        "_cb",
        c.alias("_c"),
        F.coalesce(F.sum(c).over(w), F.lit(0)).alias("_p"),
    )
    r2a = dec(F.col("_ca")) * (
        dec(F.lit(2)) * dec(F.col("_p")) + dec(F.col("_c")) + dec(F.lit(1))
    )
    tie = dec(F.col("_c")) * dec(F.col("_c")) * dec(F.col("_c")) - dec(
        F.col("_c")
    )
    s = runs.agg(
        F.sum("_ca").alias("_na"),
        F.sum("_cb").alias("_nb"),
        F.sum(r2a).alias("_r2a"),
        F.sum(tie).alias("_tie"),
    )
    na = F.col("_na").cast("double")
    nb = F.col("_nb").cast("double")
    n = na + nb
    # U_A in 2x units: 2·U_A = 2·R_A − n_a(n_a+1)
    u2 = F.col("_r2a").cast("double") - na * (na + F.lit(1.0))
    u = u2 / F.lit(2.0)
    mu = na * nb / F.lit(2.0)
    var = (
        na * nb / F.lit(12.0)
        * (
            (n + F.lit(1.0))
            - F.col("_tie").cast("double") / (n * (n - F.lit(1.0)))
        )
    )
    z = F.when(var > 0, (u - mu) / F.sqrt(var))
    return s.select(
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
        round_half_up(u, 1).alias("u_stat"),
        round_half_up(z, 6).alias("z_score"),
    )


def ks_two_sample(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic between the
    value distribution of the FIRST and SECOND half of the time range
    (split at the midpoint second) — the distribution-drift monitor.
    One summary row with the KS statistic and the value where the
    ECDF gap peaks.

    Plan: the split flag is a narrow projection; both ECDFs live on
    the shared DISTINCT-VALUE histogram with prefix sums. Exactness:
    the maximized gap is the INTEGER |cum_1·n_2 − cum_2·n_1| (argmax
    tie → smallest value), so float error can't move the argmax; the
    reported statistic divides the exact max by n_1·n_2.
    """
    sec = F.floor(epoch_seconds(F.col(ts_col))).cast("bigint")
    bounds = events.agg(
        F.min(sec).alias("_lo"), F.max(sec).alias("_hi")
    )
    cents = _cents(F.col(value_col))
    base = (
        events.crossJoin(F.broadcast(bounds))
        .select(
            (
                sec
                < (
                    F.floor(
                        (F.col("_lo") + F.col("_hi")) / F.lit(2.0)
                    )
                )
            ).cast("long").alias("_i1"),
            cents.alias("_v"),
        )
        .filter(F.col("_v").isNotNull())
    )
    hist = base.groupBy("_v").agg(
        F.sum("_i1").alias("_c1"),
        F.sum(F.lit(1) - F.col("_i1")).alias("_c2"),
    )
    w = Window.orderBy(F.col("_v").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = hist.agg(
        F.sum("_c1").alias("_n1"), F.sum("_c2").alias("_n2")
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    cum = hist.select(
        "_v",
        F.sum("_c1").over(w).alias("_u1"),
        F.sum("_c2").over(w).alias("_u2"),
    ).crossJoin(F.broadcast(tot))
    gap = F.abs(
        dec(F.col("_u1")) * dec(F.col("_n2"))
        - dec(F.col("_u2")) * dec(F.col("_n1"))
    )
    pick = Window.orderBy(F.col("_gap").desc(), F.col("_v").asc())
    best = (
        cum.select(
            "_v", "_n1", "_n2", gap.alias("_gap")
        )
        .withColumn("_rn", F.row_number().over(pick))
        .filter(F.col("_rn") == 1)
    )
    # try_divide: a one-sided split (all rows in one half — the
    # one-row degenerate fixture) has no defined KS statistic — NULL,
    # matching DuckDB's division-by-zero semantics (round-6
    # value-materializing sweep)
    ks = F.try_divide(
        F.col("_gap").cast("double"),
        F.col("_n1").cast("double") * F.col("_n2").cast("double"),
    )
    return best.select(
        F.col("_n1").alias("n_1"),
        F.col("_n2").alias("n_2"),
        round_half_up(ks, 6).alias("ks_stat"),
        (F.col("_v").cast("double") / F.lit(100.0)).alias("ks_at_value"),
    )


def daily_acf(
    orders: DataFrame,
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    max_lag: int = 7,
) -> DataFrame:
    """Autocorrelation of the daily revenue series at calendar lags
    1..``max_lag`` — r_k = Σ(x_t−μ)(x_{t+k}−μ) / Σ(x_t−μ)², paired by
    a self-join on day+k (missing days drop their pairs, no window).

    Exactness: multiplying through by n_days keeps every summand an
    exact integer — (n·x_t − S) with S = Σx — so numerator and
    denominator are DECIMAL(38,0) sums; the single division runs in
    double. The joined side is the per-day aggregate (≤ #days rows,
    broadcastable forever).
    """
    cents = _cents(F.col(amount_col))
    daily = orders.groupBy(
        F.to_date(F.col(date_col)).alias("_day")
    ).agg(F.sum(cents).alias("_x"))
    tot = daily.agg(
        F.sum("_x").alias("_s"), F.count(F.lit(1)).alias("_n")
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    centered = daily.crossJoin(F.broadcast(tot)).select(
        "_day",
        (dec(F.col("_n")) * dec(F.col("_x")) - dec(F.col("_s"))).alias("_d"),
        "_n",
    )
    den = centered.agg(
        F.sum(F.col("_d") * F.col("_d")).alias("_den"),
        F.max("_n").alias("_n"),
    )
    # ONE lag-exploded shifted table + ONE equi-join, not a join per
    # lag: the naive per-lag union recomputed the 8-figure-row daily
    # aggregate once per lag (152 Exchange nodes, 11.8 s at a 40M
    # probe); exploding k into rows keeps it at two computations of
    # the day grid and a single grid-sized join
    lags = F.array(*[F.lit(k) for k in range(1, max_lag + 1)])
    shifted = centered.select(
        F.explode(lags).alias("lag"),
        F.col("_d").alias("_dprev"),
        "_day",
    ).select(
        "lag",
        "_dprev",
        F.date_add(F.col("_day"), F.col("lag")).alias("_day"),
    )
    out = (
        centered.join(shifted, "_day")
        .groupBy("lag")
        .agg(
            F.sum(F.col("_d") * F.col("_dprev")).alias("_num"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
    )
    r = F.col("_num").cast("double") / F.col("_den").cast("double")
    return (
        out.crossJoin(F.broadcast(den))
        .select(
            F.col("lag").cast("int").alias("lag"),
            "n_pairs",
            round_half_up(r, 6).alias("acf"),
        )
    )


def daily_peaks(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    radius: int = 3,
) -> DataFrame:
    """Local maxima on the per-(type, day) revenue series: a day is a
    peak when it strictly exceeds EVERY present calendar neighbour
    within ±``radius`` days AND clears 1.5× the neighbour mean — the
    spike detector behind incident review / promo-impact dashboards.

    Plan (the acf shifted-explode shape): raw rows collapse to the
    bounded (type, day) cents grid first; neighbours come from ONE
    offset-exploded copy of that grid joined back on (type, day), so
    the work after the first aggregate is grid-sized regardless of
    row count. Exactness: the prominence test cross-multiplies —
    ``2·v·n_nb ≥ 3·Σ_nb`` in DECIMAL(38,0) — so no division can sit
    on a float boundary; only the REPORTED neighbour mean divides.
    """
    cents = _cents(F.col(value_col))
    daily = events.groupBy(
        F.col(type_col).alias("event_type"),
        F.to_date(F.col(ts_col)).alias("day"),
    ).agg(F.sum(cents).alias("_v"))
    offs = F.array(
        *[F.lit(k) for k in range(-radius, radius + 1) if k != 0]
    )
    neighbors = daily.select(
        "event_type",
        F.explode(offs).alias("_k"),
        F.col("_v").alias("_nv"),
        "day",
    ).select(
        "event_type",
        F.date_add(F.col("day"), F.col("_k")).alias("day"),
        "_nv",
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    agg = (
        daily.join(neighbors, ["event_type", "day"])
        .groupBy("event_type", "day")
        .agg(
            # _v is constant within the group (the grid is unique per
            # (type, day)) — max() fetches it deterministically
            F.max("_v").alias("_v0"),
            F.max("_nv").alias("_max_nb"),
            F.sum("_nv").alias("_sum_nb"),
            F.count(F.lit(1)).alias("_n_nb"),
        )
    )
    is_peak = (
        (dec(F.col("_v0")) > dec(F.col("_max_nb")))
        & (
            F.lit(2) * dec(F.col("_v0")) * dec(F.col("_n_nb"))
            >= F.lit(3) * dec(F.col("_sum_nb"))
        )
    )
    return (
        agg.filter(is_peak)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            (F.col("_v0").cast("double") / F.lit(100.0)).alias(
                "day_value"
            ),
            F.col("_n_nb").cast("long").alias("n_neighbors"),
            round_half_up(
                F.col("_sum_nb").cast("double")
                / F.lit(100.0)
                / F.col("_n_nb").cast("double"),
                4,
            ).alias("neighbor_mean"),
        )
    )


def theil_sen_daily_trend(
    orders: DataFrame,
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
) -> DataFrame:
    """Theil–Sen robust trend of the daily revenue series: the MEDIAN
    of all pairwise slopes (x_j − x_i)/(d_j − d_i), i < j — the
    outlier-immune alternative to OLS (one crazy day moves OLS, not
    the pairwise-slope median). One summary row.

    EAGER AT BUILD TIME (ADVICE r10): selecting the median bucket
    runs the level-1 pair-count aggregate — a Spark job over the full
    O(days²) pair join — when this function is CALLED, not when the
    returned DataFrame is first executed (the same
    collect-at-construction contract as the k-means/centroid
    operators). Callers that only want the plan (dump/compose/schema)
    still pay that job.

    Plan: raw rows collapse to the bounded day grid first; the pair
    table is a grid self-join (O(days²) — bounded by the CALENDAR,
    not row count; ~2.7M pairs for a decade). The median — smallest
    slope whose rank·2 ≥ n_pairs — is a TWO-LEVEL rank: a flat
    cumsum would be a single-partition window sort over the full
    pair table (the serial-window wall, 2.9M rows in ONE task at
    sf0.1), and a distinct-slope pre-aggregate collapses nothing at
    a multi-year calendar (nearly every pairwise slope is distinct)
    — it just shuffles the full pair table for free. So: level 1
    counts pairs per ORDER-PRESERVING magnitude bucket (sign × IEEE
    octave × 64 mantissa sub-buckets — floor(log2)/floor are
    monotone, so bucket order = value order, and NO min/max pre-pass
    is needed) — map-side combine shrinks that shuffle to the ~3k
    bucket rows; cross-bucket carries are a window over those 3k
    rows. Level 2 is a count-cumsum over the DISTINCT-slope
    histogram per bucket: on a multi-year calendar nearly every
    slope is distinct (the histogram is pair-sized and the window
    sorts the same rows a raw-pair rank would), but a DEGENERATE
    series — constant daily revenue → every slope 0, one bucket —
    collapses to one histogram row instead of serializing millions
    of raw pairs through a single sort task; the lower median is
    tie-invariant either way (min slope whose cumulative count·2 ≥
    n_pairs). Exactness: each slope is one double division of exact
    ints (Δcents/Δdays, identical on both engines); counts and
    carries are integer sums.
    """
    from vectorsearchutil_spark.functions.parallel import fanout_repartition

    cents = _cents(F.col(amount_col))
    # ungated fan-out floor: AQE coalesces the KB-sized day grid to
    # ONE post-shuffle partition, serializing the O(days²) pair join
    # on one core; the grid is calendar-bounded so the extra exchange
    # is ~free at any corpus size (guide §2)
    daily = fanout_repartition(
        orders.groupBy(
            F.to_date(F.col(date_col)).alias("_day")
        ).agg(F.sum(cents).alias("_x")),
        gated=False,
    )
    b = daily.select(
        F.col("_day").alias("_day2"), F.col("_x").alias("_x2")
    )
    # try_divide, not /: downstream NOT-NULL predicates on the slope
    # can fuse into the nested-loop join condition, where conjunct
    # order is unspecified — ANSI divide may then evaluate on the
    # d2 == d pseudo-pairs BEFORE the range conjunct rejects them.
    # Real pairs always have datediff >= 1, so values are identical.
    pairs = daily.join(b, F.col("_day2") > F.col("_day")).select(
        F.try_divide(
            (F.col("_x2") - F.col("_x")).cast("double"),
            F.datediff(F.col("_day2"), F.col("_day")).cast("double"),
        ).alias("_slope")
    )
    s = F.col("_slope")
    # order-preserving bucket key: octave e = floor(log2(|s|)) and a
    # 64-wide mantissa sub-bucket m = floor(|s| * 2^(6-e)) ∈ [64,128)
    # (the pow argument is an integer power of two — exact). Both
    # floor(monotone) — key order == value order, negatives mirrored.
    def _key(mag):
        e = F.floor(F.log2(mag))
        m = F.floor(mag * F.pow(F.lit(2.0), F.lit(6.0) - e))
        return (e + F.lit(1100)) * F.lit(128) + m

    key = (
        F.when(s > 0, _key(s))
        .when(s < 0, -_key(-s))
        .otherwise(F.lit(0))
        .cast("long")
    )
    # level 1: per-bucket pair counts — the aggregate state is bounded
    # by the KEY DOMAIN (sign × ~2048 octaves × 64 sub-buckets), so the
    # partial agg collapses map-side and the shuffle moves ≤ a few
    # thousand rows. The bucket holding the lower median is then
    # selected with a BOUNDED DRIVER COLLECT (the repo's k-centroid /
    # median-table class), and level 2 re-runs the pair join FILTERED
    # to that one bucket. Compared to the shipped r9 form this removes
    # the 2.9M-row (bucket, slope) histogram entirely — its hash-agg
    # built pair-count-sized state (nearly every slope distinct) and
    # its shuffle + per-bucket window moved the full pair table twice;
    # both rank levels now touch only bucket-sized frames. The pair
    # BNLJ still runs twice (level 1 + the filtered level 2), as it
    # did in r9 — but parallelized by the grid repartition above.
    lvl1 = pairs.groupBy(key.alias("_b")).agg(
        F.count(F.lit(1)).alias("_bc")
    )
    buckets = sorted(
        (r["_b"], r["_bc"]) for r in lvl1.collect()
    )  # ≤ key-domain rows — bounded, never corpus-sized
    n_pairs = sum(bc for _, bc in buckets)
    carry, bstar = 0, None
    for bkt, bc in buckets:
        # lower median = min slope whose cumulative count·2 ≥ n_pairs
        if 2 * (carry + bc) >= n_pairs:
            bstar = bkt
            break
        carry += bc
    if bstar is None:  # no pairs (≤ 1 day): the r9 form's all-NULL row
        return pairs.agg(F.min("_slope").alias("_med")).select(
            F.lit(None).cast("long").alias("n_pairs"),
            round_half_up(
                F.col("_med") / F.lit(100.0), 6
            ).alias("slope_per_day"),
        )
    inner_w = (
        Window.orderBy(F.col("_slope").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    med = (
        pairs.filter(key == F.lit(bstar))
        .groupBy("_slope")
        .agg(F.count(F.lit(1)).alias("_c"))
        .select(
            "_slope",
            (F.lit(carry) + F.sum("_c").over(inner_w)).alias("_cum"),
        )
        .filter(F.col("_cum") * 2 >= F.lit(n_pairs))
        .agg(F.min("_slope").alias("_med"))
    )
    return med.select(
        F.lit(int(n_pairs)).cast("long").alias("n_pairs"),
        round_half_up(
            F.col("_med") / F.lit(100.0), 6
        ).alias("slope_per_day"),
    )


def block_bootstrap_mean_ci(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    n_boot: int = 200,
    seed: str = "boot",
) -> DataFrame:
    """Deterministic block bootstrap CI for MEAN DAILY revenue: each
    of ``n_boot`` resamples draws n_days whole days with replacement
    (day-level blocks respect within-day dependence), the per-
    resample means are ranked, and the 2.5%/97.5% lower-rank
    quantiles bound the CI — uncertainty for a metric whose
    distribution nobody wants to model parametrically.

    Determinism: the draw is the engine-reproducible md5 hash draw
    (:func:`operators.sampling.hash_uniform`) over (seed, b, r), so
    both engines materialize the IDENTICAL resample table — no RNG
    state, replayable forever. Plan: everything after the first
    aggregate is grid-sized — the (b, r) index table is
    n_boot·n_days rows of integers joined to the broadcast day grid;
    per-resample means are exact cents sums over exact counts; the
    final quantiles rank 200 rows.
    """
    from vectorsearchutil_spark.operators.sampling import hash_uniform

    cents = _cents(F.col(value_col))
    daily = (
        events.groupBy(F.to_date(F.col(ts_col)).alias("_day"))
        .agg(F.sum(cents).alias("_x"))
        .filter(F.col("_x").isNotNull())
    )
    ranked = daily.select(
        "_x",
        F.row_number()
        .over(Window.orderBy(F.col("_day").asc()))
        .alias("_r"),
    )
    nd = ranked.agg(F.max("_r").alias("_nd"))
    spark = events.sparkSession
    grid = (
        spark.range(1, n_boot + 1)
        .select(F.col("id").alias("_b"))
        .crossJoin(F.broadcast(nd))
        .select(
            "_b",
            F.explode(
                F.sequence(F.lit(1), F.col("_nd"))
            ).alias("_i"),
            "_nd",
        )
    )
    draw = grid.select(
        "_b",
        (
            F.floor(
                hash_uniform(
                    F.concat_ws(
                        ":",
                        F.col("_b").cast("string"),
                        F.col("_i").cast("string"),
                    ),
                    seed,
                )
                * F.col("_nd").cast("double")
            ).cast("int")
            + 1
        ).alias("_r"),
    )
    boots = (
        draw.join(F.broadcast(ranked), "_r")
        .groupBy("_b")
        .agg(
            (
                F.sum("_x").cast("double")
                / F.lit(100.0)
                / F.count(F.lit(1)).cast("double")
            ).alias("_mean")
        )
    )
    wq = Window.orderBy(F.col("_mean").asc())
    ranked_means = boots.select(
        "_mean", F.row_number().over(wq).alias("_q")
    )
    lo_rank = max(1, int(n_boot * 0.025))
    hi_rank = max(1, int(n_boot * 0.975))
    base_mean = daily.agg(
        (
            F.sum("_x").cast("double")
            / F.lit(100.0)
            / F.count(F.lit(1)).cast("double")
        ).alias("_m"),
        F.count(F.lit(1)).cast("long").alias("_ndays"),
    )
    return (
        ranked_means.filter(F.col("_q").isin(lo_rank, hi_rank))
        .agg(
            F.min("_mean").alias("_lo"), F.max("_mean").alias("_hi")
        )
        .crossJoin(F.broadcast(base_mean))
        .select(
            F.col("_ndays").alias("n_days"),
            F.lit(n_boot).cast("long").alias("n_boot"),
            round_half_up(F.col("_m"), 4).alias("mean_daily"),
            round_half_up(F.col("_lo"), 4).alias("ci_lo"),
            round_half_up(F.col("_hi"), 4).alias("ci_hi"),
        )
    )


def seasonal_decompose_daily(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    radius: int = 3,
) -> DataFrame:
    """Classical additive decomposition of the per-type DAILY value
    series: value = trend + seasonal + residual, where trend is the
    centered ±``radius``-day mean over PRESENT days and seasonal is
    the day-of-week mean of the detrended series — the
    anomaly-baseline / forecasting preprocessor.

    Exactness contract: the grid is integer cents; the trend is
    ``floor(S/n + 0.5)`` on exact integer sums (one deterministic
    double division), so detrended values are again EXACT INTEGERS;
    the seasonal term repeats the same floor-mean on ints; the
    residual is pure integer subtraction. Both engines replay every
    step bit-identically. Plan: raw rows collapse to the bounded
    (type, day) grid first; the trend window is the offset-exploded
    grid self-join (the daily_peaks shape); the dow means aggregate
    ≤ 7·types rows."""
    ints = _decompose_cents(
        events, type_col=type_col, ts_col=ts_col,
        value_col=value_col, radius=radius,
    )
    return ints.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (F.col("_v0").cast("double") / 100.0).alias("value"),
        (F.col("_trend").cast("double") / 100.0).alias("trend"),
        (F.col("_seas").cast("double") / 100.0).alias("seasonal"),
        (
            (F.col("_detr") - F.col("_seas")).cast("double") / 100.0
        ).alias("residual"),
    )


def _decompose_cents(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    radius: int = 3,
) -> DataFrame:
    """Integer core of :func:`seasonal_decompose_daily`: per
    (event_type, day) exact-cents value ``_v0``, floor-mean trend
    ``_trend``, detrended ``_detr`` and dow-seasonal ``_seas`` — all
    LONGS, so downstream consumers (the anomaly screen) keep the
    bit-identical cross-engine contract.

    Plan: ONE scan of the raw table (the grid aggregate), then
    everything is windows over the grid: the ±radius-day
    present-neighbour trend is a RANGE window on the integer day
    index (identical neighbour set to an offset-exploded self-join,
    without re-running the raw aggregate per consumer lineage —
    measured 4 raw scans in the join form at 25M rows), and the
    dow-seasonal is a (type, dow)-partitioned window aggregate
    instead of an aggregate-and-join-back. Values are identical to
    the join form step for step.
    """
    cents = _cents(F.col(value_col))
    daily = events.groupBy(
        F.col(type_col).alias("event_type"),
        F.to_date(F.col(ts_col)).alias("day"),
    ).agg(F.sum(cents).alias("_v"))
    w_tr = (
        Window.partitionBy("event_type")
        .orderBy(F.datediff(F.col("day"), F.lit("1970-01-01")))
        .rangeBetween(-radius, radius)
    )
    with_trend = daily.select(
        "event_type",
        "day",
        F.col("_v").alias("_v0"),
        F.floor(
            F.sum("_v").over(w_tr).cast("double")
            / F.count(F.lit(1)).over(w_tr)
            + F.lit(0.5)
        ).cast("long").alias("_trend"),
    ).withColumn("_detr", F.col("_v0") - F.col("_trend"))
    w_dow = Window.partitionBy("event_type", F.dayofweek(F.col("day")))
    return with_trend.select(
        "event_type",
        "day",
        "_v0",
        "_trend",
        "_detr",
        F.floor(
            F.sum("_detr").over(w_dow).cast("double")
            / F.count(F.lit(1)).over(w_dow)
            + F.lit(0.5)
        ).cast("long").alias("_seas"),
    )


def seasonal_anomalies_daily(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    k: float = 3.0,
) -> DataFrame:
    """Seasonal-residual anomaly screen: decompose the per-type daily
    value series (same exact-integer contract as
    :func:`seasonal_decompose_daily`), then flag days whose residual
    exceeds ``k`` × MAD of the type's residuals — the robust "which
    days genuinely broke pattern" monitor that a mean/σ rule gets
    wrong under heavy tails. Emits EVERY grid day with its residual,
    threshold, and flag (not just hits), so downstream dashboards and
    the correctness gate see the full picture.

    Exactness: residuals are exact integer cents; both medians
    (residual median, MAD) are type-1 lower medians computed from
    integer cumulative counts — no doubles until the final /100
    display division and the k·MAD comparison on integers scaled by
    10 (k = 3.0 → ·30, exact). Plan: everything after the decompose
    is CHAINED WINDOWS over one shuffle of the grid by type (the
    lower median per row is min(value where cum·2 ≥ n) as a window
    aggregate — the last row of every tie block carries the true
    ≤-count, so the min is exact) — a join-back through
    `_int_value_quantiles` would re-run the raw-table aggregate once
    per consumer lineage (measured 4× the scan at 25M rows).
    """
    ints = _decompose_cents(
        events, type_col=type_col, ts_col=ts_col, value_col=value_col
    )
    resid = ints.select(
        "event_type",
        "day",
        "_v0",
        (F.col("_detr") - F.col("_seas")).alias("_r"),
    )
    wp = Window.partitionBy("event_type")
    w_r = wp.orderBy("_r").rowsBetween(Window.unboundedPreceding, 0)
    d1 = resid.select(
        "*",
        F.count(F.lit(1)).over(w_r).alias("_cum"),
        F.count(F.lit(1)).over(wp).alias("_n"),
    )
    d2 = d1.select(
        "*",
        F.min(
            F.when(F.col("_cum") * 2 >= F.col("_n"), F.col("_r"))
        ).over(wp).alias("_med"),
    )
    d3 = d2.select(
        "event_type",
        "day",
        "_v0",
        "_r",
        "_n",
        F.abs(F.col("_r") - F.col("_med")).alias("_ad"),
        F.col("_med"),
    )
    w_a = wp.orderBy("_ad").rowsBetween(Window.unboundedPreceding, 0)
    d4 = d3.select(
        "*", F.count(F.lit(1)).over(w_a).alias("_cum2")
    )
    dev = d4.select(
        "*",
        F.min(
            F.when(F.col("_cum2") * 2 >= F.col("_n"), F.col("_ad"))
        ).over(wp).alias("_mad"),
    )
    k10 = int(round(k * 10))
    return (
        dev
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            (F.col("_v0").cast("double") / 100.0).alias("value"),
            (F.col("_r").cast("double") / 100.0).alias("residual"),
            (
                F.col("_mad").cast("double") * F.lit(k10) / 1000.0
            ).alias("threshold"),
            (
                F.abs(F.col("_r") - F.col("_med")) * 10
                > F.col("_mad") * F.lit(k10)
            ).alias("is_anomaly"),
        )
    )


def _daily_type_grid(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Per-(event_type, day) exact aggregates: count + value cents.

    The grid is calendar-bounded (days × types), so every window /
    self-join downstream runs over an aggregate a broadcast can carry
    at any corpus scale — the same posture as :func:`daily_acf`.
    """
    cents = _cents(F.col("value"))
    return events.groupBy(
        F.col("event_type"), F.to_date(F.col(ts_col)).alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("v_cents"),
    )


def spearman_daily(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Spearman rank correlation, per event type, between the daily
    event COUNT and the daily value SUM — "do busy days move money?"
    with monotonic (not linear) association.

    Exactness: average ranks are half-integers, so DOUBLED ranks are
    exact integers; rho is Pearson on the doubled ranks via exact
    DECIMAL(38,0) moment sums (scale cancels), one double division at
    the end. Ties get the standard midrank on both engines
    (rank_min + (ties-1)/2). All windows partition by event_type over
    the bounded day grid.
    """
    g = _daily_type_grid(events, ts_col)

    def dbl_rank(col: str, out: str):
        wr = Window.partitionBy("event_type").orderBy(F.col(col).asc())
        wt = Window.partitionBy("event_type", col)
        # 2 * midrank = 2*rank_min + (n_ties - 1)
        return (
            (F.lit(2) * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1)
            .alias(out)
        )

    ranked = g.select(
        "event_type",
        dbl_rank("n", "_rx"),
        dbl_rank("v_cents", "_ry"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(dec(F.col("_rx"))).alias("_sx"),
        F.sum(dec(F.col("_ry"))).alias("_sy"),
        F.sum(dec(F.col("_rx")) * dec(F.col("_rx"))).alias("_sxx"),
        F.sum(dec(F.col("_ry")) * dec(F.col("_ry"))).alias("_syy"),
        F.sum(dec(F.col("_rx")) * dec(F.col("_ry"))).alias("_sxy"),
    )
    n = F.col("n_days").cast("decimal(38,0)")
    num = (n * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    denx = (n * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    deny = (n * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast("double")
    rho = num / F.sqrt(F.nullif(denx * deny, F.lit(0.0)))
    return agg.select(
        "event_type",
        "n_days",
        round_half_up(rho, 6).alias("spearman_rho"),
    )


def kendall_tau_daily(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Kendall tau-b, per event type, on the same daily (count,
    value-sum) series as :func:`spearman_daily`.

    The O(d²) pair enumeration runs on the AGGREGATED day grid
    (≤ calendar-days rows per type), so the self-join is a broadcast
    of a tiny table even at 100 TB of raw events; concordant /
    discordant / tie counts are exact integers and tau-b does one
    double division.
    """
    g = _daily_type_grid(events, ts_col)
    a = g.select(
        "event_type",
        F.col("day").alias("d1"),
        F.col("n").alias("x1"),
        F.col("v_cents").alias("y1"),
    )
    b = g.select(
        "event_type",
        F.col("day").alias("d2"),
        F.col("n").alias("x2"),
        F.col("v_cents").alias("y2"),
    )
    pairs = a.join(F.broadcast(b), "event_type").filter(
        F.col("d1") < F.col("d2")
    )
    dx = F.col("x1") - F.col("x2")
    dy = F.col("y1") - F.col("y2")
    agg = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(((dx > 0) & (dy > 0) | (dx < 0) & (dy < 0)).cast("long"))
        .alias("concordant"),
        F.sum(((dx > 0) & (dy < 0) | (dx < 0) & (dy > 0)).cast("long"))
        .alias("discordant"),
        F.sum((dx == 0).cast("long")).alias("_tx"),
        F.sum((dy == 0).cast("long")).alias("_ty"),
    )
    n0 = F.col("n_pairs").cast("double")
    tau = (F.col("concordant") - F.col("discordant")).cast("double") / F.sqrt(
        F.nullif(
            (n0 - F.col("_tx").cast("double"))
            * (n0 - F.col("_ty").cast("double")),
            F.lit(0.0),
        )
    )
    return agg.select(
        "event_type",
        "n_pairs",
        "concordant",
        "discordant",
        round_half_up(tau, 6).alias("tau_b"),
    )


def transition_entropy(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Conditional next-event entropy H(next | current), per current
    event type, from the first-order transition counts — how
    predictable each state's successor is (the sequence-model
    counterpart of events_markov_transitions). Also emits the state's
    share of all transitions, so Σ share·h_bits is the chain's
    entropy rate.

    One per-user lead window on narrow columns; everything after is
    aggregates over the (type × type) transition table.
    """
    nxt = events.select(
        F.col(user_col),
        F.col(type_col).alias("from_type"),
        F.lead(type_col).over(
            Window.partitionBy(user_col).orderBy(ts_col, id_col)
        ).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    trans = nxt.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("_nij")
    )
    wi = Window.partitionBy("from_type")
    p = F.col("_nij").cast("double") / F.col("_ni").cast("double")
    terms = trans.withColumn("_ni", F.sum("_nij").over(wi)).select(
        "from_type",
        "_ni",
        (-p * F.log2(p)).alias("_term"),
    )
    # total transitions: Σ n_ij over the tiny transition table
    n_all = trans.agg(F.sum("_nij").alias("_n_all"))
    out = terms.groupBy("from_type").agg(
        F.max("_ni").alias("n_transitions"),
        F.count(F.lit(1)).alias("n_next_types"),
        F.sum("_term").alias("_h"),
    )
    return out.crossJoin(F.broadcast(n_all)).select(
        "from_type",
        "n_transitions",
        "n_next_types",
        round_half_up(F.col("_h"), 6).alias("h_bits"),
        round_half_up(
            F.col("n_transitions").cast("double")
            / F.col("_n_all").cast("double"),
            6,
        ).alias("share"),
    )


def fano_daily(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Per-type burstiness: the Fano factor (sample variance / mean)
    of DAILY event counts over the zero-filled global day grid — a
    Poisson process scores ≈1, bursty traffic ≫1.

    Zero days matter, so the grid is sequence(min_day, max_day) ×
    observed types (both tiny aggregates); moments are exact integer
    sums (n, Σc, Σc²) and the Fano factor is one double division:
    var/mean = (nQ − S²) / ((n−1)·S).
    """
    daily = events.groupBy(
        F.col("event_type"), F.to_date(F.col(ts_col)).alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    span = events.agg(
        F.min(F.to_date(F.col(ts_col))).alias("_d0"),
        F.max(F.to_date(F.col(ts_col))).alias("_d1"),
    )
    days = span.select(
        F.explode(
            F.sequence(F.col("_d0"), F.col("_d1"))
        ).alias("day")
    )
    types = events.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(days))
        .join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = grid.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(dec(F.col("c"))).alias("_s"),
        F.sum(dec(F.col("c")) * dec(F.col("c"))).alias("_q"),
    )
    n = F.col("n_days").cast("decimal(38,0)")
    num = (n * F.col("_q") - F.col("_s") * F.col("_s")).cast("double")
    den = (
        (n - 1).cast("double") * F.col("_s").cast("double")
    )
    return agg.select(
        "event_type",
        "n_days",
        F.col("_s").cast("long").alias("n_events"),
        round_half_up(num / F.nullif(den, F.lit(0.0)), 6).alias(
            "fano_factor"
        ),
    )


def hill_tail_index(
    events: DataFrame,
    value_col: str = "value",
    type_col: str = "event_type",
    k: int = 100,
) -> DataFrame:
    """Hill estimator of the tail index per event type — the
    standard heavy-tail diagnostic (alpha ≈ 1/hill: lower hill =
    heavier tail) over the top ``k`` order statistics:
    hill = (1/k) Σ_{i≤k} ln(x_(i) / x_(k+1)), x positive.

    Plan: per-type top-(k+1) via a rank window — Spark rewrites the
    rn<=k+1 filter into WindowGroupLimit, so each partition keeps
    only k+1 candidates before the merge (no full sort). The log
    terms are quantized to 1e-9 units (exact BIGINT sums →
    partition-order-proof) and the bounded set is all that leaves the
    scan. Types with fewer than k+1 positive values emit no row.
    """
    pos = events.filter(
        F.col(value_col).isNotNull()
        & ~F.isnan(F.col(value_col))
        & (F.col(value_col) > 0)
        & (F.col(value_col) != F.lit(float("inf")))
    ).select(F.col(type_col).alias("t"), F.col(value_col).alias("x"))
    w = Window.partitionBy("t").orderBy(F.col("x").desc())
    top = pos.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k + 1
    )
    xk1 = top.filter(F.col("rn") == k + 1).select(
        "t", F.col("x").alias("_xk1")
    )
    terms = (
        top.filter(F.col("rn") <= k)
        .join(xk1, "t")
        .select(
            "t",
            F.floor(
                F.log(F.col("x") / F.col("_xk1")) * F.lit(1e9) + F.lit(0.5)
            ).cast("decimal(38,0)").alias("_q"),
        )
    )
    return terms.groupBy(F.col("t").alias(type_col)).agg(
        F.count(F.lit(1)).cast("int").alias("k"),
        round_half_up(
            F.sum("_q").cast("double") / F.lit(float(k) * 1e9), 6
        ).alias("hill"),
        round_half_up(
            F.lit(float(k) * 1e9) / F.nullif(
                F.sum("_q").cast("double"), F.lit(0.0)
            ),
            6,
        ).alias("alpha"),
    )


def norm_anova(
    df: DataFrame,
    vector_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """One-way ANOVA F-statistic of SQUARED vector norms across
    labels — "do classes live at different radii?", the cheap
    embedding-health check before training a probe on them.

    norm² per row is the fixed-order JVM fold (deterministic);
    cross-row moments quantize it to 1e-6 units and sum exact
    DECIMAL(38,0) integers, so SSB/SSW are computed from
    partition-order-proof sums: SSB = Σ_l S_l²/n_l − S²/N,
    SSW = Q − Σ_l S_l²/n_l (ANOVA F is scale-invariant, so the
    quantized grid changes nothing but the last rounded digit).
    Output: one row (n, k_labels, f_stat).
    """
    from vectorsearchutil_spark.functions.vector import (
        finite_vector,
        l2_squared,
    )

    zero = F.transform(F.col(vector_col), lambda _: F.lit(0.0))
    n2 = l2_squared(F.col(vector_col), zero)
    rows = df.filter(
        F.col(vector_col).isNotNull()
        & F.col(label_col).isNotNull()
        & finite_vector(F.col(vector_col))
    ).select(
        F.col(label_col).alias("l"),
        F.floor(n2 * F.lit(1e6) + F.lit(0.5)).cast("decimal(38,0)")
        .alias("_q"),
    )
    per_label = rows.groupBy("l").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_q").alias("_s"),
        F.sum(F.col("_q") * F.col("_q")).alias("_qq"),
    )
    # bounded label set: the final reduction is a handful of rows
    tot = per_label.agg(
        F.sum("_n").alias("n"),
        F.count(F.lit(1)).alias("k_labels"),
        F.sum("_s").cast("double").alias("_S"),
        F.sum(F.col("_qq")).cast("double").alias("_Q"),
        F.sum(
            F.col("_s").cast("double") * F.col("_s").cast("double")
            / F.col("_n").cast("double")
        ).alias("_B"),
    )
    ssb = F.col("_B") - F.col("_S") * F.col("_S") / F.col("n").cast("double")
    ssw = F.col("_Q") - F.col("_B")
    # degenerate guards (one-row / one-label input): k-1 == 0 or
    # n-k == 0 -> NULL, not an ANSI divide-by-zero (degenerate-sweep
    # catch, round 7)
    fstat = (
        ssb / F.nullif((F.col("k_labels") - 1).cast("double"), F.lit(0.0))
    ) / F.nullif(
        ssw
        / F.nullif(
            (F.col("n") - F.col("k_labels")).cast("double"), F.lit(0.0)
        ),
        F.lit(0.0),
    )
    return tot.select(
        F.col("n").cast("long").alias("n"),
        F.col("k_labels").cast("int").alias("k_labels"),
        round_half_up(fstat, 6).alias("f_stat"),
    )


def _int_value_quantiles(
    d: DataFrame,
    group_col: str,
    value_col: str,
    ps: list[float],
    out_names: list[str],
) -> DataFrame:
    """Exact type-1 (lower) quantiles of an INTEGER-valued column per
    group via the value-histogram: q_p = min{v : cum_count ≥ ⌈p·n⌉}.
    The windows run over the bounded value DOMAIN (distinct integer
    values per group), never over raw rows — the weighted-median
    lesson generalized to any integer metric.
    """
    hist = d.groupBy(group_col, value_col).agg(F.count(F.lit(1)).alias("_c"))
    w = Window.partitionBy(group_col).orderBy(value_col)
    cum = hist.withColumn("_cum", F.sum("_c").over(w)).withColumn(
        "_n", F.sum("_c").over(Window.partitionBy(group_col))
    )
    aggs = [
        F.min(
            F.when(
                F.col("_cum") >= F.ceil(F.lit(float(p)) * F.col("_n")),
                F.col(value_col),
            )
        ).alias(nm)
        for p, nm in zip(ps, out_names)
    ]
    return cum.groupBy(group_col).agg(
        F.max("_n").cast("long").alias("n"), *aggs
    )


def ship_delay_quantiles(
    orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """Order-to-ship latency distribution per order priority: exact
    p50/p90/p99 of datediff(l_shipdate, o_orderdate) in days — the
    fulfilment-SLA report. One fact-fact equi-join on the order key
    (AQE-planned), then the integer-day histogram quantiles
    (:func:`_int_value_quantiles`): the quantile windows touch only
    the (priority × distinct-day) domain.
    """
    j = lineitem.select("l_orderkey", "l_shipdate").join(
        orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    d = j.select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("l_shipdate").cast("date"),
            F.col("o_orderdate").cast("date"),
        ).alias("delay_days"),
    )
    out = _int_value_quantiles(
        d, "priority", "delay_days",
        [0.5, 0.9, 0.99], ["p50_days", "p90_days", "p99_days"],
    )
    return out.select(
        "priority", "n",
        F.col("p50_days").cast("int").alias("p50_days"),
        F.col("p90_days").cast("int").alias("p90_days"),
        F.col("p99_days").cast("int").alias("p99_days"),
    )


def interpurchase_median(
    orders: DataFrame, customer: DataFrame
) -> DataFrame:
    """Median (and p90) days between consecutive orders of the same
    customer, reported per market segment — the repeat-purchase
    cadence metric. The lag window partitions by customer (bounded
    rows per key); the medians run over the integer-day histogram,
    so no serial window anywhere.
    """
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    gaps = (
        orders.select("o_custkey", "o_orderkey", "o_orderdate")
        .withColumn(
            "_gap",
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lag(F.col("o_orderdate").cast("date")).over(w),
            ),
        )
        .filter(F.col("_gap").isNotNull())
    )
    # no broadcast hint: customer scales with the corpus (unbounded);
    # AQE demotes to broadcast when it actually measures small
    seg = gaps.join(
        customer.select("c_custkey", "c_mktsegment"),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select(F.col("c_mktsegment").alias("segment"), F.col("_gap"))
    out = _int_value_quantiles(
        seg, "segment", "_gap", [0.5, 0.9], ["median_days", "p90_days"]
    )
    return out.select(
        "segment",
        F.col("n").alias("n_gaps"),
        F.col("median_days").cast("int").alias("median_days"),
        F.col("p90_days").cast("int").alias("p90_days"),
    )


def lorenz_curve_by_user(
    events: DataFrame,
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Lorenz concentration curve of total event value over users:
    users ranked ascending by lifetime value, split into 10
    rank-deciles, each row reporting its user count, exact decile
    value, and the CUMULATIVE share of the grand total — the "bottom
    80% of users carry X% of the value" curve behind Gini.

    Plan: raw rows collapse to one exact-cents row per user first.
    The global user ranking would be a single-partition window sort
    over every user (millions at corpus scale), so it uses the
    TWO-LEVEL rank of the Theil–Sen median — level 1 counts users
    per order-preserving magnitude bucket of total cents (sign ×
    octave × 64 mantissa sub-buckets; map-side combine → a
    few-thousand bucket rows on the wire), level 2 runs per bucket —
    with one extra collapse the Theil–Sen form doesn't need: the
    per-decile OUTPUT (user count, value sum) is invariant to how
    tied totals are ordered, so level 2 aggregates to the DISTINCT
    total histogram first (a constant-value corpus collapses to ONE
    row per bucket instead of serializing every user through one
    sort task) and each tie group is split across the ≤10 deciles
    its rank interval [carry+cum_before+1, +count] straddles by pure
    integer arithmetic: decile(r) = ((r−1)·10) div n — NOT ntile()
    (engines disagree on remainder placement) — so the group's
    per-decile counts are interval overlaps, no per-user row ever
    ranked. Exactness: cents and counts are integers end-to-end; the
    two share divisions happen once per output row.
    """
    cents = _cents(F.col(value_col))
    totals = events.groupBy(F.col(user_col).alias("_u")).agg(
        F.coalesce(F.sum(cents), F.lit(0)).alias("_t")
    )
    # order-preserving magnitude bucket key (same construction as the
    # Theil–Sen median): octave e = floor(log2(|t|)), 64-wide mantissa
    # sub-bucket m = floor(|t| · 2^(6−e)) ∈ [64,128) — both floors of
    # monotone maps, so key order == value order, negatives mirrored
    t = F.col("_t")

    def _key(mag):
        e = F.floor(F.log2(mag))
        m = F.floor(mag * F.pow(F.lit(2.0), F.lit(6.0) - e))
        return (e + F.lit(1100)) * F.lit(128) + m

    td = t.cast("double")
    mag = (
        F.when(t > 0, _key(td))
        .when(t < 0, -_key(-td))
        .otherwise(F.lit(0))
    )
    keyed = totals.select("_t", mag.cast("long").alias("_b"))
    lvl1 = keyed.groupBy("_b").agg(F.count(F.lit(1)).alias("_bc"))
    carry_w = Window.orderBy("_b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carries = lvl1.select(
        "_b",
        F.coalesce(F.sum("_bc").over(carry_w), F.lit(0)).alias("_carry"),
    )
    # level 2 over DISTINCT totals: ties collapse before the window
    hist = keyed.groupBy("_b", "_t").agg(F.count(F.lit(1)).alias("_c"))
    inner_w = (
        Window.partitionBy("_b")
        .orderBy(F.col("_t").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    nrow = totals.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(t.cast("decimal(38,0)")).alias("_g"),
    )
    # rank interval of each tie group: [lo, hi] among all users
    grp = (
        hist.join(F.broadcast(carries), "_b")
        .select(
            "_t",
            "_c",
            (
                F.col("_carry")
                + F.sum("_c").over(inner_w)
                - F.col("_c")
                + 1
            ).alias("_lo"),
            (F.col("_carry") + F.sum("_c").over(inner_w)).alias("_hi"),
        )
        .crossJoin(F.broadcast(nrow))
    )
    # integer decile boundaries: decile(r) = ((r-1)*10) div n, so
    # decile d covers ranks [ (d*n+9) div 10 + 1, ((d+1)*n+9) div 10 ]
    # — the group contributes overlap-sized slices to each straddled d
    d_lo = F.floor((F.col("_lo") - 1) * 10 / F.col("_n"))
    d_hi = F.floor((F.col("_hi") - 1) * 10 / F.col("_n"))
    exploded = grp.select(
        "_t", "_c", "_lo", "_hi", "_n", "_g",
        F.explode(F.sequence(d_lo, d_hi)).alias("decile"),
    )
    r_min = F.floor((F.col("decile") * F.col("_n") + 9) / 10) + 1
    r_max = F.floor(((F.col("decile") + 1) * F.col("_n") + 9) / 10)
    cnt = (
        F.least(F.col("_hi"), r_max)
        - F.greatest(F.col("_lo"), r_min)
        + 1
    )
    dec = (
        exploded.select(
            "decile",
            cnt.alias("_cnt"),
            (cnt.cast("decimal(38,0)") * F.col("_t").cast("decimal(38,0)"))
            .alias("_dv"),
            "_g",
        )
        # a tie group whose rank interval skips tiny middle deciles
        # (possible when n < 10·group span) explodes to zero-overlap
        # slices — drop them so empty deciles never emit rows
        .filter(F.col("_cnt") > 0)
        .groupBy("decile")
        .agg(
            F.sum("_cnt").alias("n_users"),
            F.sum("_dv").alias("_d"),
            F.max("_g").alias("_g"),
        )
    )
    cum_w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )  # 10 rows
    return dec.select(
        (F.col("decile") + 1).cast("int").alias("decile"),
        F.col("n_users").cast("long").alias("n_users"),
        round_half_up(
            F.col("_d").cast("double") / F.lit(100.0), 2
        ).alias("decile_value"),
        round_half_up(
            F.sum(F.col("_d").cast("double")).over(cum_w)
            / F.nullif(F.col("_g").cast("double"), F.lit(0.0)),
            6,
        ).alias("cum_share"),
    )


def max_drawdown_daily(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Maximum drawdown of the cumulative daily value series: the
    deepest peak-to-trough fall of the running total — "how far under
    its own high-water mark did cumulative revenue sink, and when".
    One summary row: drawdown depth, the (first) trough day, the
    running peak at that trough, and the day count.

    Plan: raw rows collapse to the calendar-bounded day grid; the
    cumulative sum, running max, and argmin all run over that grid
    (≤ a few thousand rows at any corpus scale — the documented
    bounded-window posture). Exactness: cents integers end-to-end;
    ties on drawdown resolve to the EARLIEST trough day via min_by
    on the (drawdown, day) struct — deterministic on both engines.
    """
    cents = _cents(F.col(value_col))
    daily = events.groupBy(F.to_date(F.col(ts_col)).alias("_day")).agg(
        F.coalesce(F.sum(cents), F.lit(0)).alias("_v")
    )
    w = Window.orderBy("_day").rowsBetween(Window.unboundedPreceding, 0)
    curve = daily.select(
        "_day",
        F.sum("_v").over(w).alias("_cum"),
    ).select(
        "_day",
        "_cum",
        F.max("_cum").over(w.orderBy("_day")).alias("_peak"),
    )
    dd = curve.select(
        "_day", (F.col("_peak") - F.col("_cum")).alias("_dd"), "_peak"
    )
    return dd.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        round_half_up(
            F.max("_dd").cast("double") / F.lit(100.0), 2
        ).alias("max_drawdown"),
        F.min_by(
            F.col("_day"), F.struct(-F.col("_dd"), F.col("_day"))
        ).cast("string").alias("trough_day"),
        round_half_up(
            F.min_by(
                F.col("_peak"), F.struct(-F.col("_dd"), F.col("_day"))
            ).cast("double")
            / F.lit(100.0),
            2,
        ).alias("peak_at_trough"),
    )


def rolling_corr_daily(
    events: DataFrame,
    type_x: str = "purchase",
    type_y: str = "click",
    window_days: int = 7,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Rolling 7-day Pearson correlation between two event types'
    daily value sums — "do purchases still track clicks this week?",
    the co-movement drift monitor. One row per day once the window is
    full.

    Plan: one pass collapses raw rows to the zero-filled day grid
    (conditional sums per day — days with no events of a type count
    as 0, which IS the daily series semantics); every window runs
    over that calendar-bounded grid. Exactness: the five moment sums
    are exact integers (cents) accumulated in DECIMAL(38,0) window
    sums; each output row does one double division, quantized 1e-6.
    """
    cents = _cents(F.col(value_col))
    daily = events.groupBy(F.to_date(F.col(ts_col)).alias("day")).agg(
        F.coalesce(
            F.sum(F.when(F.col("event_type") == type_x, cents)), F.lit(0)
        ).alias("_x"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == type_y, cents)), F.lit(0)
        ).alias("_y"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    w = Window.orderBy("day").rowsBetween(-(window_days - 1), 0)
    x, y = F.col("_x"), F.col("_y")
    m = daily.select(
        "day",
        F.count(F.lit(1)).over(w).alias("_k"),
        F.sum(dec(x)).over(w).alias("_sx"),
        F.sum(dec(y)).over(w).alias("_sy"),
        F.sum(dec(x) * dec(x)).over(w).alias("_sxx"),
        F.sum(dec(y) * dec(y)).over(w).alias("_syy"),
        F.sum(dec(x) * dec(y)).over(w).alias("_sxy"),
    ).filter(F.col("_k") == window_days)
    k = F.lit(window_days).cast("decimal(38,0)")
    num = (k * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    dx = (k * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    dy = (k * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast("double")
    return m.select(
        F.col("day").cast("string").alias("day"),
        round_half_up(
            num / F.sqrt(F.nullif(dx * dy, F.lit(0.0))), 6
        ).alias("rolling_corr"),
    )


def numeric_corr_matrix(
    df: DataFrame,
    cols_scales: list[tuple[str, int]],
) -> DataFrame:
    """Pairwise Pearson correlation matrix over integer-quantized
    numeric columns — the screening pass before any modeling on
    tabular features. One row per unordered column pair.

    ``cols_scales`` maps each column to its exactness scale (e.g.
    price → 100 for cents): values become exact integers BEFORE the
    moment sums, so both engines fold identical DECIMAL(38,0)
    integers in any order, and each pair does exactly one double
    division at the end. Plan: a single full-scan aggregate (map-side
    partials, one reduce); the pair expansion is driver-side over the
    column list, never a data shuffle.
    """
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    ints = {
        name: F.floor(
            F.col(name).cast("double") * F.lit(float(scale)) + F.lit(0.5)
        ).cast("long")
        for name, scale in cols_scales
    }
    aggs = [F.count(F.lit(1)).alias("_n")]
    names = [n for n, _ in cols_scales]
    for n in names:
        aggs.append(F.sum(dec(ints[n])).alias(f"_s_{n}"))
        aggs.append(F.sum(dec(ints[n]) * dec(ints[n])).alias(f"_q_{n}"))
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            aggs.append(F.sum(dec(ints[a]) * dec(ints[b])).alias(f"_p_{a}_{b}"))
    m = df.agg(*aggs)
    rows = []
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            n = F.col("_n").cast("decimal(38,0)")
            num = (n * F.col(f"_p_{a}_{b}") - F.col(f"_s_{a}") * F.col(f"_s_{b}")).cast("double")
            da = (n * F.col(f"_q_{a}") - F.col(f"_s_{a}") * F.col(f"_s_{a}")).cast("double")
            db = (n * F.col(f"_q_{b}") - F.col(f"_s_{b}") * F.col(f"_s_{b}")).cast("double")
            rows.append(
                m.select(
                    F.lit(f"{a}~{b}").alias("pair"),
                    F.col("_n").cast("long").alias("n_rows"),
                    round_half_up(
                        num / F.sqrt(F.nullif(da * db, F.lit(0.0))), 6
                    ).alias("pearson_r"),
                )
            )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def completeness_gaps(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Hourly data-completeness audit per event type: how many hours
    of the corpus' global [first, last] hour window each feed
    actually covered, how many are missing, and the LONGEST silent
    stretch (internal gap or leading/trailing truncation) — the
    "did the pipeline silently drop a feed for a day" monitor.

    Plan: raw rows collapse immediately to the distinct
    (type, hour-index) grid (integer hour = floor(epoch/3600), no
    timestamp arithmetic downstream); the lag window and min/max run
    over that calendar-bounded grid. All outputs exact integers.
    """
    h = F.floor(epoch_seconds(F.col(ts_col)) / F.lit(3600.0)).cast("long")
    grid = (
        events.select(F.col(type_col).alias("event_type"), h.alias("_h"))
        .distinct()
    )
    bounds = grid.agg(
        F.min("_h").alias("_g0"), F.max("_h").alias("_g1")
    )
    w = Window.partitionBy("event_type").orderBy("_h")
    gaps = grid.select(
        "event_type",
        "_h",
        (F.col("_h") - F.lag("_h").over(w) - 1).alias("_gap"),
    )
    per = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("_present"),
        F.min("_h").alias("_t0"),
        F.max("_h").alias("_t1"),
        F.coalesce(F.max("_gap"), F.lit(0)).alias("_internal"),
    )
    return per.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        (F.col("_g1") - F.col("_g0") + 1).cast("long").alias("n_expected_hours"),
        F.col("_present").cast("long").alias("n_present_hours"),
        (F.col("_g1") - F.col("_g0") + 1 - F.col("_present"))
        .cast("long")
        .alias("n_missing_hours"),
        F.greatest(
            F.col("_internal"),
            F.col("_t0") - F.col("_g0"),
            F.col("_g1") - F.col("_t1"),
        ).cast("long").alias("longest_gap_hours"),
    )


def seasonal_naive_wape(
    orders: DataFrame,
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    lag_days: int = 7,
) -> DataFrame:
    """Forecast-baseline evaluation: score the seasonal-naive
    predictor ŷ(t) = y(t−7 days) on the daily revenue series with
    WAPE, MAE, and bias — the floor any real forecasting model must
    beat, and the sanity metric for "is this series even
    predictable". One summary row.

    Exactness: WAPE = Σ|y−ŷ| / Σ|y| and bias = Σ(y−ŷ) / Σ|y| are
    ratios of exact integer cent sums (ONE double division each);
    MAE divides an exact sum by the exact day count. The lag join is
    a self-join of the calendar-bounded day grid on day−7 (days with
    no day−7 observation are excluded — the honest evaluation set).
    """
    cents = _cents(F.col(amount_col))
    daily = orders.groupBy(
        F.to_date(F.col(date_col)).alias("_day")
    ).agg(F.sum(cents).alias("_y"))
    prev = daily.select(
        F.date_add(F.col("_day"), lag_days).alias("_day"),
        F.col("_y").alias("_yhat"),
    )
    scored = daily.join(prev, "_day").select(
        (F.col("_y") - F.col("_yhat")).alias("_e"),
        F.abs(F.col("_y") - F.col("_yhat")).alias("_ae"),
        F.abs(F.col("_y")).alias("_ay"),
    )
    agg = scored.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_e").alias("_se"),
        F.sum("_ae").alias("_sae"),
        F.sum("_ay").alias("_say"),
    )
    return agg.select(
        F.col("_n").cast("long").alias("n_days_scored"),
        round_half_up(
            F.col("_sae").cast("double")
            / F.nullif(F.col("_say").cast("double"), F.lit(0.0)),
            6,
        ).alias("wape"),
        round_half_up(
            F.col("_sae").cast("double")
            / F.col("_n").cast("double")
            / F.lit(100.0),
            2,
        ).alias("mae"),
        round_half_up(
            F.col("_se").cast("double")
            / F.nullif(F.col("_say").cast("double"), F.lit(0.0)),
            6,
        ).alias("bias"),
    )


def conformal_coverage_daily(
    orders: DataFrame,
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    lag_days: int = 7,
    alpha: float = 0.1,
    cal_frac: float = 0.7,
) -> DataFrame:
    """Split-conformal interval check for the seasonal-naive daily
    forecaster (the modern distribution-free eval that complements
    ``seasonal_naive_wape``'s point metrics): calibrate q̂ = the
    ⌈(n_cal+1)(1−α)⌉-th smallest |y−ŷ| on the FIRST ``cal_frac`` of
    scored days, then report what share of the held-out later days
    actually fall inside ŷ ± q̂ — valid ≥(1−α) coverage needs only
    exchangeability, so the gap between ``coverage`` and 1−α is the
    drift/seasonality diagnostic. One summary row: (n_calibration,
    n_eval, q_cents, coverage).

    Exactness: residuals are exact integer cents; q̂ is an order
    statistic picked by a rank, not an interpolated quantile, so both
    engines select the identical integer; coverage is ONE double
    division of exact counts. The time split is by day order (leakage
    direction respected — calibration strictly precedes eval). All
    windows run over the calendar-bounded day grid. Degenerate
    inputs: rank > n_cal (fewer than ~1/α calibration days) or an
    empty eval slice yield NULL q/coverage on BOTH engines rather
    than a fabricated number.
    """
    cents = _cents(F.col(amount_col))
    daily = orders.groupBy(
        F.to_date(F.col(date_col)).alias("_day")
    ).agg(F.sum(cents).alias("_y"))
    prev = daily.select(
        F.date_add(F.col("_day"), lag_days).alias("_day"),
        F.col("_y").alias("_yhat"),
    )
    scored = daily.join(prev, "_day").select(
        "_day", F.abs(F.col("_y") - F.col("_yhat")).alias("_r")
    )
    w_day = Window.orderBy(F.col("_day").asc())
    idxed = scored.withColumn("_i", F.row_number().over(w_day))
    n_scored = idxed.agg(F.count(F.lit(1)).alias("_n"))
    split = idxed.crossJoin(F.broadcast(n_scored)).withColumn(
        "_is_cal",
        F.col("_i") <= F.ceil(F.col("_n") * F.lit(float(cal_frac))),
    )
    cal = split.filter(F.col("_is_cal"))
    ev = split.filter(~F.col("_is_cal"))
    w_r = Window.orderBy(F.col("_r").asc(), F.col("_day").asc())
    cal_stats = cal.agg(F.count(F.lit(1)).alias("_ncal"))
    qrow = (
        cal.withColumn("_rk", F.row_number().over(w_r))
        .crossJoin(F.broadcast(cal_stats))
        .filter(
            F.col("_rk")
            == F.ceil(
                (F.col("_ncal") + F.lit(1)) * F.lit(float(1.0 - alpha))
            )
        )
        .select(F.col("_r").alias("_q"))
    )
    ev_stats = ev.join(F.broadcast(qrow), F.lit(True), "left").agg(
        F.count(F.lit(1)).alias("_neval"),
        F.max("_q").alias("_q"),
        F.sum(
            F.when(F.col("_r") <= F.col("_q"), 1).otherwise(0)
        ).alias("_covered"),
    )
    return ev_stats.crossJoin(F.broadcast(cal_stats)).select(
        F.col("_ncal").cast("long").alias("n_calibration"),
        F.col("_neval").cast("long").alias("n_eval"),
        F.col("_q").cast("long").alias("q_cents"),
        F.when(
            F.col("_q").isNotNull() & (F.col("_neval") > 0),
            round_half_up(
                F.col("_covered").cast("double")
                / F.col("_neval").cast("double"),
                6,
            ),
        ).alias("coverage"),
    )


# ---------------------------------------------------------------------------
# Round-10 staging wave (pending lane) — trend testing, multiple-testing
# correction, forecasting, engagement, and causal-lite estimators.
# ---------------------------------------------------------------------------


def normal_sf(x: Column) -> Column:
    """Upper-tail P(Z > x) of the standard normal for x ≥ 0, via the
    Abramowitz–Stegun 26.2.19 polynomial (|error| < 1.5e-7).

    Cross-engine parity is the design constraint, not accuracy: the
    oracle spells out the IDENTICAL arithmetic DAG (Horner polynomial
    + four squarings for t^16 — no ``pow`` with non-integer exponent
    anywhere), so both engines produce bit-identical doubles and a
    6dp floor-round can't flip.
    """
    d1, d2, d3 = 0.0498673470, 0.0211410061, 0.0032776263
    d4, d5, d6 = 0.0000380036, 0.0000488906, 0.0000053830
    t = (
        F.lit(1.0)
        + x
        * (
            F.lit(d1)
            + x
            * (
                F.lit(d2)
                + x
                * (F.lit(d3) + x * (F.lit(d4) + x * (F.lit(d5) + x * F.lit(d6))))
            )
        )
    )
    t2 = t * t
    t4 = t2 * t2
    t8 = t4 * t4
    return F.lit(0.5) / (t8 * t8)


def normal_sf_sql(x: str) -> str:
    """The identical polynomial as DuckDB SQL, parameterized on the
    (already-nonnegative) x expression. The t^16 builds from the same
    pairing of multiplies as :func:`normal_sf` (t2=t·t, t4=t2·t2,
    t8=t4·t4, t16=t8·t8) — no ``pow``/``^`` anywhere, so both engines
    execute the identical IEEE op tree."""
    t = (
        f"(1.0 + {x} * (0.0498673470 + {x} * (0.0211410061 + {x} *"
        f" (0.0032776263 + {x} * (0.0000380036 + {x} * (0.0000488906 +"
        f" {x} * 0.0000053830))))))"
    )
    t2 = f"({t} * {t})"
    t4 = f"({t2} * {t2})"
    t8 = f"({t4} * {t4})"
    return f"(0.5 / ({t8} * {t8}))"


def mann_kendall_daily(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Mann–Kendall trend test on the daily value-sum series, per
    event type (kin declared: :func:`kendall_tau_daily` correlates
    the daily COUNT and VALUE series with each other; this tests the
    value series against TIME and attaches significance).

    S = Σ_{i<j} sign(v_j − v_i) over day-ordered pairs; the
    tie-corrected variance Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]
    / 18; z applies the ±1 continuity correction. S, both variance
    numerators, and the tie term are exact BIGINT; z and the two-sided
    p (via :func:`normal_sf`) divide to double once at the end.

    Plan: the O(d²) pair join and the tie histogram both run on the
    AGGREGATED day grid (≤ calendar-days rows per type) — broadcast
    at any corpus scale, the kendall_tau posture.
    """
    g = _daily_type_grid(events, ts_col)
    a = g.select(
        "event_type", F.col("day").alias("d1"), F.col("v_cents").alias("v1")
    )
    b = g.select(
        "event_type", F.col("day").alias("d2"), F.col("v_cents").alias("v2")
    )
    s_tbl = (
        a.join(F.broadcast(b), "event_type")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("event_type")
        .agg(
            # a pair with a NULL v_cents day contributes 0, NOT NULL:
            # the oracle's CASE...ELSE 0 does the same, and an
            # all-NULL type must emit s_stat=0 on both engines
            F.sum(
                F.coalesce(
                    F.signum((F.col("v2") - F.col("v1")).cast("double")),
                    F.lit(0.0),
                )
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    n_tbl = g.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    ties = (
        g.groupBy("event_type", "v_cents")
        .agg(F.count(F.lit(1)).alias("_t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("_t")
                * (F.col("_t") - F.lit(1))
                * (F.lit(2) * F.col("_t") + F.lit(5))
            ).alias("_tie_term")
        )
    )
    n = F.col("n_days")
    var_num = (
        n * (n - F.lit(1)) * (F.lit(2) * n + F.lit(5)) - F.col("_tie_term")
    )
    joined = (
        n_tbl.join(s_tbl, "event_type").join(ties, "event_type")
        .select(
            "event_type", "n_days", "s_stat", var_num.alias("_var18")
        )
    )
    var_s = F.col("_var18").cast("double") / F.lit(18.0)
    s = F.col("s_stat").cast("double")
    z = F.when(
        (F.col("_var18") > 0) & (F.col("s_stat") != 0),
        (s - F.signum(s)) / F.sqrt(var_s),
    ).otherwise(F.lit(0.0))
    p = F.lit(2.0) * normal_sf(F.abs(z))
    return joined.select(
        "event_type",
        "n_days",
        "s_stat",
        round_half_up(var_s, 6).alias("var_s"),
        round_half_up(z, 6).alias("z_mk"),
        round_half_up(F.least(p, F.lit(1.0)), 6).alias("p_value"),
    )


def fdr_bh_trend(
    events: DataFrame, ts_col: str = "ts", q: float = 0.10
) -> DataFrame:
    """Benjamini–Hochberg FDR selection over the per-type
    Mann–Kendall trend p-values (kin declared: consumes
    :func:`mann_kendall_daily`'s output; events_ks_drift /
    events_mannwhitney emit single tests — this adds the
    multiple-testing layer a per-segment drift screen needs).

    BH: sort p ascending; reject H_1..H_k where k = max{i : p_(i) ≤
    q·i/m}. The step-up scan is a running max over the boolean
    ``p_(i) ≤ q·i/m`` REVERSED — expressed as a window over the
    m-row test table (m = #event types, tiny by construction).
    """
    mk = mann_kendall_daily(events, ts_col)
    wrank = Window.orderBy(F.col("p_value").asc(), F.col("event_type").asc())
    ranked = mk.select(
        "event_type",
        "z_mk",
        "p_value",
        F.row_number().over(wrank).alias("p_rank"),
        F.count(F.lit(1)).over(
            Window.partitionBy()
        ).alias("m_tests"),
    )
    thresh = (
        F.lit(q)
        * F.col("p_rank").cast("double")
        / F.col("m_tests").cast("double")
    )
    passed = (F.col("p_value") <= thresh).cast("int")
    wtail = Window.orderBy(F.col("p_rank").asc()).rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    return ranked.select(
        "event_type",
        "z_mk",
        "p_value",
        "p_rank",
        "m_tests",
        round_half_up(thresh, 6).alias("bh_threshold"),
        (F.max(passed).over(wtail) == 1).alias("rejected"),
    )


def ewma_forecast_daily(
    events: DataFrame, ts_col: str = "ts", alpha: float = 0.3
) -> DataFrame:
    """One-step-ahead EWMA forecast accuracy on the daily value-sum
    series, per event type (kin declared: events_user_ewma folds the
    smoother per USER over raw event order; this runs on the
    calendar-bounded day grid and scores forecasts).

    s_t = α·v_t + (1−α)·s_{t−1} (s_1 = v_1); the forecast for day t
    is s_{t−1}. WAPE = Σ|v_t − f_t| / Σ|v_t| over t ≥ 2. Both
    engines fold the identical left-to-right recurrence on doubles
    (the events_user_ewma convention — identical IEEE op sequence),
    then quantize each |error| term to a 1e2 fixpoint BIGINT so the
    SUMS are order-free; only the final ratios divide in double.
    Headroom: the terms are DAILY VALUE-CENT SUMS, unbounded in
    corpus size — at 1e2 fixpoint a $100B/day type (1e13 cents) is
    1e15 per term × ~730 calendar days ≈ 7e17, 10× inside int64;
    a 1e6 fixpoint would overflow at ~$2B/day×400d, and the engines
    fail DIFFERENTLY there (Spark's long fold wraps silently,
    DuckDB's list_sum widens then errors on the BIGINT cast).

    Plan: ONE groupBy collapses raw events to the day grid; the
    O(d²) prefix refolds run inside array expressions on a ≤
    calendar-days list per type — bounded lambda work per group, no
    shuffle after the grid. Days with no finite value (NULL v_cents)
    are excluded from the series on both engines; types with <2
    remaining days are filtered BEFORE the array expressions so no
    degenerate sequence/slice is ever evaluated.
    """
    g = _daily_type_grid(events, ts_col).filter(
        F.col("v_cents").isNotNull()
    )
    per_type = g.groupBy("event_type").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("day", F.col("v_cents")))
            ),
            lambda x: x["v_cents"].cast("double"),
        ).alias("_vals")
    ).filter(F.size(F.col("_vals")) >= 2)
    vals = F.col("_vals")
    n = F.size(vals)

    def smoothed_prefix(t):
        # s_{t-1}: fold vals[2..t-1] starting from vals[1]
        return F.aggregate(
            F.slice(vals, 2, t - 2),
            F.element_at(vals, 1),
            lambda acc, x: F.lit(alpha) * x + F.lit(1.0 - alpha) * acc,
        )

    # per t in [2..n]: quantized |v_t - s_{t-1}| (1e2 fixpoint — see
    # the headroom note in the docstring)
    errs = F.transform(
        F.sequence(F.lit(2), n),
        lambda t: F.floor(
            F.abs(F.element_at(vals, t) - smoothed_prefix(t)) * F.lit(1e2)
            + F.lit(0.5)
        ).cast("long"),
    )
    abs_sum = F.aggregate(
        F.slice(vals, 2, n - 1),
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.floor(F.abs(x) * F.lit(1e2) + F.lit(0.5))
        .cast("long"),
    )
    err_sum = F.aggregate(
        errs, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    next_fc = smoothed_prefix(n + 1)  # fold over the whole series
    out = per_type.select(
        "event_type",
        n.alias("n_days"),
        err_sum.alias("_es"),
        abs_sum.alias("_as"),
        next_fc.alias("_fc"),
    )
    return out.select(
        "event_type",
        "n_days",
        F.when(
            F.col("_as") > 0,
            round_half_up(
                F.col("_es").cast("double") / F.col("_as").cast("double"), 6
            ),
        ).alias("wape"),
        round_half_up(
            F.col("_es").cast("double")
            / F.lit(1e2)
            / (F.col("n_days") - F.lit(1)).cast("double"),
            4,
        ).alias("mae_cents"),
        round_half_up(F.col("_fc"), 4).alias("next_forecast_cents"),
    )


def dau_mau_stickiness(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Exact DAU/MAU stickiness per day (kin declared:
    events_user_hll_distinct is the sketched running-distinct cousin;
    this is the EXACT trailing-30-day ratio).

    MAU(d) counts users with ≥1 event in [d−29, d]. A user active on
    day a covers days [a, a+29]; per user, activity days collapse to
    coverage ISLANDS (gaps > 29 days break an island), each island
    [first, last+29] contributing +1 at its start and −1 after its
    end. MAU(d) is then the running sum of island deltas — a window
    over the bounded distinct-day delta grid, never over users.

    Plan: one distinct (user, day) aggregate; per-user island
    detection windows over ≤ calendar-days rows per user; everything
    after is day-grid-sized. No step touches raw rows twice.
    """
    ud = events.filter(F.col(ts_col).isNotNull()).select(
        F.col("user_id"), F.to_date(F.col(ts_col)).alias("day")
    ).distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    wuser = Window.partitionBy("user_id").orderBy(F.col("day").asc())
    gap = F.datediff(
        F.col("day"), F.lag("day", 1).over(wuser)
    )
    marked = ud.select(
        "user_id",
        "day",
        F.when(gap.isNull() | (gap > 29), F.lit(1))
        .otherwise(F.lit(0))
        .alias("_new_island"),
    )
    islands = marked.select(
        "user_id",
        "day",
        F.sum("_new_island").over(
            wuser.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("_island"),
    ).groupBy("user_id", "_island").agg(
        F.min("day").alias("_start"),
        F.date_add(F.max("day"), 30).alias("_after_end"),
    )
    deltas = islands.select(
        F.col("_start").alias("day"), F.lit(1).alias("_d")
    ).unionAll(
        islands.select(
            F.col("_after_end").alias("day"), F.lit(-1).alias("_d")
        )
    ).groupBy("day").agg(F.sum("_d").alias("_delta"))
    merged = deltas.join(dau, "day", "full").select(
        "day",
        F.coalesce(F.col("_delta"), F.lit(0)).alias("_delta"),
        F.col("dau"),
    )
    wday = Window.orderBy(F.col("day").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = merged.select(
        "day",
        "dau",
        F.sum("_delta").over(wday).alias("mau"),
    )
    return cum.filter(F.col("dau").isNotNull()).select(
        "day",
        F.col("dau").cast("long").alias("dau"),
        F.col("mau").cast("long").alias("mau"),
        round_half_up(
            F.col("dau").cast("double") / F.col("mau").cast("double"), 6
        ).alias("stickiness"),
    )


def diff_in_diff(
    events: DataFrame,
    value_col: str = "value",
    ts_col: str = "ts",
    user_col: str = "user_id",
    seed: str = "did",
) -> DataFrame:
    """Difference-in-differences estimator on event values over a
    deterministic hash-assigned treatment and a midpoint pre/post
    split: DiD = (post_T − pre_T) − (post_C − pre_C) of group mean
    value.

    Treatment is ``hash_uniform(user_id, seed) < 0.5`` — the md5 draw
    every split/sample in this repo uses, so assignment is
    partitioning-independent and the oracle reproduces it
    bit-for-bit. The period boundary is the midpoint day of
    [min_day, max_day] (post = day > midpoint, exact integer day
    arithmetic). Means are exact cents-sum / count; the four means
    and the DiD subtract in double once at the end.

    Plan: two tiny scalar aggregates (calendar bounds) broadcast onto
    one scan; the output is a single row from one groupBy over 4
    groups. Scan-speed at any corpus size.
    """
    from vectorsearchutil_spark.operators.sampling import hash_uniform

    day = F.to_date(F.col(ts_col))
    events = events.filter(
        F.col(ts_col).isNotNull() & F.col(user_col).isNotNull()
    )
    bounds = events.agg(
        F.min(day).alias("_d0"), F.max(day).alias("_d1")
    )
    base = events.crossJoin(F.broadcast(bounds)).select(
        (
            hash_uniform(F.col(user_col).cast("string"), seed) < F.lit(0.5)
        ).alias("_treated"),
        (
            F.datediff(day, F.col("_d0"))
            > F.floor(F.datediff(F.col("_d1"), F.col("_d0")) / F.lit(2))
        ).alias("_post"),
        _cents(F.col(value_col)).alias("_v"),
    ).filter(F.col("_v").isNotNull())
    cell = base.groupBy("_treated", "_post").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_v").alias("_s")
    )
    mean = F.col("_s").cast("double") / F.col("_n").cast("double")
    pivoted = cell.agg(
        F.max(F.when(F.col("_treated") & F.col("_post"), mean)).alias("_tp"),
        F.max(F.when(F.col("_treated") & ~F.col("_post"), mean)).alias("_t0"),
        F.max(F.when(~F.col("_treated") & F.col("_post"), mean)).alias("_cp"),
        F.max(F.when(~F.col("_treated") & ~F.col("_post"), mean)).alias("_c0"),
        F.sum("_n").alias("n_events"),
    )
    return pivoted.select(
        F.col("n_events").cast("long").alias("n_events"),
        round_half_up(F.col("_t0") / F.lit(100.0), 4).alias("pre_treat"),
        round_half_up(F.col("_tp") / F.lit(100.0), 4).alias("post_treat"),
        round_half_up(F.col("_c0") / F.lit(100.0), 4).alias("pre_control"),
        round_half_up(F.col("_cp") / F.lit(100.0), 4).alias("post_control"),
        round_half_up(
            (
                (F.col("_tp") - F.col("_t0"))
                - (F.col("_cp") - F.col("_c0"))
            )
            / F.lit(100.0),
            4,
        ).alias("did_estimate"),
    )


def price_elasticity(
    lineitem: DataFrame, part: DataFrame
) -> DataFrame:
    """Per-brand log-log OLS price elasticity of demand: the slope of
    ln(quantity) on ln(unit price) across a brand's line items (kin
    declared: orders_theilsen_trend is the robust pairwise-slope
    cousin on the daily grid; this is grouped closed-form OLS on raw
    observations — the classic demand-curve estimate).

    Exactness: each ln quantizes to a 1e9-fixpoint BIGINT (the
    zipf_fit / KM-lnsum convention), the five OLS moments accumulate
    in DECIMAL(38,0) — order-free — and the closed form
    (nΣxy − ΣxΣy)/(nΣxx − Σx²) combines moments in double once per
    brand. Rows with non-positive or non-finite price/quantity are
    excluded on both engines.

    Plan: one lineitem→part equi-join on partkey (both sides shuffle
    on the key; the join carries only (partkey, qty, price) vs
    (partkey, brand) — no wide payload), then one partial-aggregated
    groupBy(brand). Moment headroom: |lx| ≤ ~1.2e10, Σlx² per brand
    ≤ 1.5e20·n — DECIMAL(38,0) holds n up to ~1e17 rows per brand.
    """
    li = lineitem.filter(
        F.col("l_quantity").isNotNull()
        & F.col("l_extendedprice").isNotNull()
        & (F.col("l_quantity") > 0)
        & (F.col("l_extendedprice") > 0)
        & ~F.isnan(F.col("l_quantity"))
        & ~F.isnan(F.col("l_extendedprice"))
        # +Inf passes the isnan/>0 guards but the oracle's isfinite
        # drops it — exclude explicitly (the _cents guard pattern)
        & (F.col("l_quantity") != F.lit(float("inf")))
        & (F.col("l_extendedprice") != F.lit(float("inf")))
    ).select(
        "l_partkey",
        F.floor(
            F.log(F.col("l_extendedprice") / F.col("l_quantity"))
            * F.lit(1e9)
            + F.lit(0.5)
        ).cast("long").alias("_lx"),
        F.floor(F.log(F.col("l_quantity")) * F.lit(1e9) + F.lit(0.5))
        .cast("long")
        .alias("_ly"),
    )
    joined = li.join(
        part.select(F.col("p_partkey").alias("l_partkey"), "p_brand"),
        "l_partkey",
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(dec(F.col("_lx"))).alias("_sx"),
        F.sum(dec(F.col("_ly"))).alias("_sy"),
        F.sum(dec(F.col("_lx")) * dec(F.col("_lx"))).alias("_sxx"),
        F.sum(dec(F.col("_lx")) * dec(F.col("_ly"))).alias("_sxy"),
    )
    n = F.col("n_obs").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxx = F.col("_sxx").cast("double")
    sxy = F.col("_sxy").cast("double")
    den = n * sxx - sx * sx
    slope = F.when(den != 0, (n * sxy - sx * sy) / den)
    intercept = F.when(
        den != 0, (sy - slope * sx) / (n * F.lit(1e9))
    )
    return m.select(
        "p_brand",
        F.col("n_obs").cast("long").alias("n_obs"),
        round_half_up(slope, 6).alias("elasticity"),
        round_half_up(intercept, 6).alias("ln_q_intercept"),
    )


def logrank_test(
    events: DataFrame,
    start_type: str = "signup",
    convert_type: str = "purchase",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    seed: str = "logrank",
) -> DataFrame:
    """Two-group log-rank test of signup→purchase survival (kin
    declared: :func:`kaplan_meier` / :func:`nelson_aalen` — same
    per-user collapse, event/censor days, and at-risk prefix-sum
    semantics, here maintained PER GROUP on the pooled event-day
    grid; a property test pins the constant-group degenerate case to
    ``_survival_risk_table`` exactly, so the machinery cannot
    drift).

    Groups are the repo-standard deterministic md5 draw
    (``hash_uniform(user_id, seed) < 0.5`` → group A), the
    ``diff_in_diff`` convention, so assignment is partitioning-
    independent and the oracle reproduces it bit-for-bit. At each
    pooled event day j: O_A += d_Aj, E_A += d_j·n_Aj/n_j, V +=
    d_j·(n_Aj/n_j)·(n_Bj/n_j)·(n_j−d_j)/(n_j−1); Z = (O_A−E_A)/√V,
    chi2 = Z², p = 2·SF(|Z|) via the shared A&S 26.2.19 fragment.

    Exactness: O's are exact longs; each E and V increment is a 1e9
    fixed-point BIGINT term (order-free sums — the KM-lnsum
    convention); Z/chi2/p divide in double once at the end, rounded
    via the floor form.

    Plan: one per-user collapse, then everything runs on the bounded
    (2 groups × distinct-delay-days) grid — windows partition by
    group over day-grid-sized input, never raw rows. ONE output row.
    """
    from vectorsearchutil_spark.operators.sampling import hash_uniform

    sec = F.floor(epoch_seconds(F.col(ts_col))).cast("bigint")
    per_user = (
        events.groupBy(F.col(user_col))
        .agg(
            F.min(F.when(F.col(type_col) == start_type, sec)).alias("_start"),
            F.min(F.when(F.col(type_col) == convert_type, sec)).alias("_conv"),
            F.max(sec).alias("_seen"),
        )
        .filter(F.col("_start").isNotNull())
        .select(
            F.when(
                hash_uniform(F.col(user_col).cast("string"), seed)
                < F.lit(0.5),
                F.lit("A"),
            )
            .otherwise(F.lit("B"))
            .alias("_grp"),
            "_start",
            "_conv",
            "_seen",
        )
    )
    horizon = per_user.agg(F.max("_seen").alias("_hmax"))
    day = lambda c: F.floor(c / F.lit(86400)).cast("long")  # noqa: E731
    obs = per_user.crossJoin(F.broadcast(horizon)).select(
        "_grp",
        F.when(
            F.col("_conv").isNotNull() & (F.col("_conv") >= F.col("_start")),
            day(F.col("_conv")) - day(F.col("_start")),
        ).alias("_edays"),
        (day(F.col("_hmax")) - day(F.col("_start"))).alias("_cdays"),
    )
    n_total = obs.groupBy("_grp").agg(F.count(F.lit(1)).alias("_nt"))
    ev = obs.filter(F.col("_edays").isNotNull()).groupBy(
        "_grp", F.col("_edays").alias("delay_days")
    ).agg(F.count(F.lit(1)).alias("_ne"))
    cens = obs.filter(F.col("_edays").isNull()).groupBy(
        "_grp", F.col("_cdays").alias("delay_days")
    ).agg(F.count(F.lit(1)).alias("_nc"))
    # pooled day grid × groups, zero-filled, so each group's at-risk
    # prefix is defined at every pooled day
    days = (
        ev.select("delay_days")
        .unionAll(cens.select("delay_days"))
        .distinct()
    )
    grps = n_total.select("_grp")
    grid = (
        days.crossJoin(grps)
        .join(ev, ["_grp", "delay_days"], "left")
        .join(cens, ["_grp", "delay_days"], "left")
        .select(
            "_grp",
            "delay_days",
            F.coalesce("_ne", F.lit(0)).alias("_ne"),
            F.coalesce("_nc", F.lit(0)).alias("_nc"),
        )
    )
    wprev = (
        Window.partitionBy("_grp")
        .orderBy(F.col("delay_days").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risked = grid.join(n_total, "_grp").select(
        "_grp",
        "delay_days",
        "_ne",
        (
            F.col("_nt")
            - F.coalesce(F.sum("_ne").over(wprev), F.lit(0))
            - F.coalesce(F.sum("_nc").over(wprev), F.lit(0))
        ).alias("_nr"),
    )
    pooled = risked.groupBy("delay_days").agg(
        F.sum(F.when(F.col("_grp") == "A", F.col("_ne"))).alias("_da"),
        F.sum(F.when(F.col("_grp") == "B", F.col("_ne"))).alias("_db"),
        F.sum(F.when(F.col("_grp") == "A", F.col("_nr"))).alias("_na"),
        F.sum(F.when(F.col("_grp") == "B", F.col("_nr"))).alias("_nb"),
    ).select(
        "delay_days",
        *[F.coalesce(c, F.lit(0)).alias(c) for c in ("_da", "_db", "_na", "_nb")],
    ).filter((F.col("_da") + F.col("_db")) > 0)
    dd = (F.col("_da") + F.col("_db")).cast("double")
    na = F.col("_na").cast("double")
    nb = F.col("_nb").cast("double")
    nn = (F.col("_na") + F.col("_nb")).cast("double")
    e_a = F.floor(dd * na / nn * F.lit(1e9) + F.lit(0.5)).cast("long")
    e_b = F.floor(dd * nb / nn * F.lit(1e9) + F.lit(0.5)).cast("long")
    v = F.when(
        (F.col("_na") + F.col("_nb")) > 1,
        F.floor(
            dd * na / nn * nb / nn * (nn - dd) / (nn - F.lit(1.0))
            * F.lit(1e9)
            + F.lit(0.5)
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    tot = pooled.agg(
        F.sum("_da").alias("_oa"),
        F.sum("_db").alias("_ob"),
        F.sum(e_a).alias("_ea"),
        F.sum(e_b).alias("_eb"),
        F.sum(v).alias("_v"),
    )
    counts = n_total.groupBy().pivot("_grp", ["A", "B"]).sum("_nt")
    z = (F.col("_oa").cast("double") - F.col("_ea").cast("double") / F.lit(1e9)) / F.sqrt(
        F.col("_v").cast("double") / F.lit(1e9)
    )
    p = F.lit(2.0) * normal_sf(F.abs(z))
    return (
        tot.crossJoin(F.broadcast(counts))
        .filter(F.col("_oa").isNotNull())
        .select(
            F.coalesce(F.col("A"), F.lit(0)).cast("long").alias("n_a"),
            F.coalesce(F.col("B"), F.lit(0)).cast("long").alias("n_b"),
            F.col("_oa").cast("long").alias("observed_a"),
            round_half_up(F.col("_ea").cast("double") / F.lit(1e9), 6).alias(
                "expected_a"
            ),
            F.col("_ob").cast("long").alias("observed_b"),
            round_half_up(F.col("_eb").cast("double") / F.lit(1e9), 6).alias(
                "expected_b"
            ),
            F.when(F.col("_v") > 0, round_half_up(z * z, 6)).alias(
                "chi2"
            ),
            F.when(F.col("_v") > 0, round_half_up(p, 6)).alias(
                "p_value"
            ),
        )
    )


def poisson_rate_test(
    events: DataFrame, ts_col: str = "ts", type_col: str = "event_type"
) -> DataFrame:
    """Two-period Poisson rate-ratio test per event type (kin
    declared: :func:`ab_test_ztest` compares proportions between
    hash groups; this compares event RATES between the pre/post
    halves of the calendar — the :func:`diff_in_diff` midpoint
    split — via the standard conditional-binomial z: under H0 the
    pre-count n1 | n ~ Bin(n, t1/(t1+t2)), z = (n1 − n·p)/√(n·p·(1−p)),
    p-value = 2·SF(|z|) from the shared A&S 26.2.19 fragment).

    Exactness: counts and day spans are exact integers; p, z, and
    the per-day rates are a handful of IEEE ops both engines spell
    identically, rounded via the floor form.

    Plan: one scalar calendar-bounds aggregate broadcast onto one
    scan, one groupBy(type) — scan-speed at any corpus size.
    """
    day = F.to_date(F.col(ts_col))
    ev = events.filter(F.col(ts_col).isNotNull())
    bounds = ev.agg(F.min(day).alias("_d0"), F.max(day).alias("_d1"))
    base = ev.crossJoin(F.broadcast(bounds)).select(
        F.col(type_col).alias("event_type"),
        (
            F.datediff(day, F.col("_d0"))
            <= F.floor(F.datediff(F.col("_d1"), F.col("_d0")) / F.lit(2))
        ).alias("_pre"),
        F.datediff(F.col("_d1"), F.col("_d0")).alias("_span"),
    )
    cell = base.groupBy("event_type").agg(
        F.sum(F.when(F.col("_pre"), 1).otherwise(0)).alias("_n1"),
        F.sum(F.when(F.col("_pre"), 0).otherwise(1)).alias("_n2"),
        F.max("_span").alias("_span"),
    )
    # t1 = mid+1 pre days, t2 = span - mid post days (exact integers)
    mid = F.floor(F.col("_span") / F.lit(2)).cast("long")
    t1 = (mid + F.lit(1)).cast("double")
    t2 = (F.col("_span") - mid).cast("double")
    n = (F.col("_n1") + F.col("_n2")).cast("double")
    p = t1 / (t1 + t2)
    z = (F.col("_n1").cast("double") - n * p) / F.sqrt(
        n * p * (F.lit(1.0) - p)
    )
    ok = (F.col("_span") > 0) & ((F.col("_n1") + F.col("_n2")) > 0)
    pv = F.lit(2.0) * normal_sf(F.abs(z))
    # t1 = mid+1 >= 1 always; t2 = 0 exactly when the corpus spans a
    # single day — the rate and z divisions must stay unevaluated
    # there (ANSI divide-by-zero; caught by the one-row degenerate
    # fixture)
    return cell.select(
        "event_type",
        F.col("_n1").cast("long").alias("n_pre"),
        F.col("_n2").cast("long").alias("n_post"),
        round_half_up(F.col("_n1").cast("double") / t1, 6).alias(
            "rate_pre"
        ),
        F.when(
            t2 > 0, round_half_up(F.col("_n2").cast("double") / t2, 6)
        ).alias("rate_post"),
        F.when(ok, round_half_up(z, 6)).alias("z_stat"),
        F.when(ok, round_half_up(pv, 6)).alias("p_value"),
    )


def holt_forecast_daily(
    events: DataFrame,
    ts_col: str = "ts",
    alpha: float = 0.3,
    beta: float = 0.1,
) -> DataFrame:
    """One-step-ahead Holt double-exponential (level + trend)
    forecast accuracy on the daily value-sum series, per event type
    (kin declared: :func:`ewma_forecast_daily` is the level-only
    cousin — same grid, same fold technique, same scoring; Holt adds
    the trend recursion, the standard upgrade when a series drifts).

    Recurrences (l_1 = v_1, b_1 = 0): l_t = α·v_t + (1−α)·(l_{t−1} +
    b_{t−1}); b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}; the forecast
    for day t is l_{t−1} + b_{t−1}. WAPE/MAE over t ≥ 2, exactly the
    EWMA scoring: each |error| term quantizes to a 1e2-fixpoint
    BIGINT before the order-free sum (same $100B/day × 730-day int64
    headroom bound), ratios divide in double once.

    Engine parity: Spark folds ``array(l, b)`` state through
    ``F.aggregate``; DuckDB folds ``DOUBLE[]`` elements through
    ``list_reduce`` seeded by the first element — the identical IEEE
    op sequence per step, with the smoothing coefficients written as
    LITERAL doubles (0.3/0.7, 0.1/0.9) on both sides. The O(d²)
    prefix refolds run inside array expressions on a ≤ calendar-days
    list per type — bounded lambda work per group, no shuffle after
    the ONE grid aggregate.
    """
    assert (alpha, beta) == (0.3, 0.1), (
        "coefficients are literal-pinned cross-engine; change the "
        "oracle literals together with these"
    )
    g = _daily_type_grid(events, ts_col).filter(
        F.col("v_cents").isNotNull()
    )
    per_type = g.groupBy("event_type").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("day", F.col("v_cents")))
            ),
            lambda x: x["v_cents"].cast("double"),
        ).alias("_vals")
    ).filter(F.size(F.col("_vals")) >= 2)
    vals = F.col("_vals")
    n = F.size(vals)

    def step(acc, x):
        new_l = F.lit(0.3) * x + F.lit(0.7) * (acc[0] + acc[1])
        new_b = (
            F.lit(0.1)
            * (
                (F.lit(0.3) * x + F.lit(0.7) * (acc[0] + acc[1]))
                - acc[0]
            )
            + F.lit(0.9) * acc[1]
        )
        return F.array(new_l, new_b)

    def state_at(t):
        # [l_t, b_t]: fold vals[2..t] from [v_1, 0]
        return F.aggregate(
            F.slice(vals, 2, t - 1),
            F.array(F.element_at(vals, 1), F.lit(0.0)),
            step,
        )

    def pred(t):  # forecast for day t: l_{t-1} + b_{t-1}
        st = state_at(t - 1)
        return st[0] + st[1]

    errs = F.transform(
        F.sequence(F.lit(2), n),
        lambda t: F.floor(
            F.abs(F.element_at(vals, t) - pred(t)) * F.lit(1e2)
            + F.lit(0.5)
        ).cast("long"),
    )
    abs_sum = F.aggregate(
        F.slice(vals, 2, n - 1),
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.floor(F.abs(x) * F.lit(1e2) + F.lit(0.5)).cast("long"),
    )
    err_sum = F.aggregate(
        errs, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    final = state_at(n)
    out = per_type.select(
        "event_type",
        n.alias("n_days"),
        err_sum.alias("_es"),
        abs_sum.alias("_as"),
        (final[0] + final[1]).alias("_fc"),
    )
    return out.select(
        "event_type",
        "n_days",
        F.when(
            F.col("_as") > 0,
            round_half_up(
                F.col("_es").cast("double") / F.col("_as").cast("double"),
                6,
            ),
        ).alias("wape"),
        round_half_up(
            F.col("_es").cast("double")
            / F.lit(1e2)
            / (F.col("n_days") - F.lit(1)).cast("double"),
            4,
        ).alias("mae_cents"),
        round_half_up(F.col("_fc"), 4).alias("next_forecast_cents"),
    )


def hurst_exponent_daily(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Aggregated-variance Hurst exponent of the daily value series,
    per event type (kin declared: :func:`daily_acf` measures
    short-lag memory; Hurst summarizes LONG-RANGE dependence —
    H≈0.5 random walk, H>0.5 persistent/trending, H<0.5 mean-
    reverting — the standard pre-check before trusting naive
    day-over-day forecasts like :func:`ewma_forecast_daily`).

    Method: for block sizes m ∈ {1,2,4,16,8}… ordered {1,2,4,8,16},
    the population variance of full-block means follows
    V(m) ∝ m^{2H−2}; H = 1 + slope/2 of the ln V(m) vs ln m OLS.

    Exactness: block sums are exact cent BIGINTs; V(m) combines
    exact DECIMAL(38,0)/HUGEINT moments in double with one spelled
    op order; each ln quantizes to a 1e9-fixpoint BIGINT and the
    closed-form OLS runs on DECIMAL moments (the price_elasticity
    convention, ≤5 points per type).

    Plan: ONE grid aggregate; the ×5 scale explode and both
    groupBys run on the calendar-bounded day grid, never raw rows.
    """
    g = _daily_type_grid(events, ts_col).filter(
        F.col("v_cents").isNotNull()
    )
    w = Window.partitionBy("event_type").orderBy(F.col("day").asc())
    gi = g.select(
        "event_type",
        F.row_number().over(w).alias("_i"),
        "v_cents",
    )
    nd = gi.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days")
    )
    exploded = gi.select(
        "event_type",
        "_i",
        "v_cents",
        F.explode(
            F.array(*[F.lit(m) for m in (1, 2, 4, 8, 16)])
        ).alias("_m"),
    )
    blocks = exploded.groupBy(
        "event_type",
        "_m",
        F.floor((F.col("_i") - 1) / F.col("_m")).alias("_blk"),
    ).agg(
        F.count(F.lit(1)).alias("_c"),
        F.sum("v_cents").alias("_s"),
    ).filter(F.col("_c") == F.col("_m"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    vm = blocks.groupBy("event_type", "_m").agg(
        F.count(F.lit(1)).alias("_k"),
        F.sum(dec(F.col("_s"))).alias("_a"),
        F.sum(dec(F.col("_s")) * dec(F.col("_s"))).alias("_b"),
    ).filter(F.col("_k") >= 2)
    k = F.col("_k").cast("double")
    a = F.col("_a").cast("double")
    b = F.col("_b").cast("double")
    m_d = F.col("_m").cast("double")
    var = (k * b - a * a) / (k * k * m_d * m_d)
    pts = vm.select(
        "event_type",
        F.floor(F.log(m_d) * F.lit(1e9) + F.lit(0.5))
        .cast("long")
        .alias("_x"),
        F.when(
            var > 0,
            F.floor(F.log(var) * F.lit(1e9) + F.lit(0.5)).cast("long"),
        ).alias("_y"),
    ).filter(F.col("_y").isNotNull())
    mo = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_scales"),
        F.sum(dec(F.col("_x"))).alias("_sx"),
        F.sum(dec(F.col("_y"))).alias("_sy"),
        F.sum(dec(F.col("_x")) * dec(F.col("_x"))).alias("_sxx"),
        F.sum(dec(F.col("_x")) * dec(F.col("_y"))).alias("_sxy"),
    ).filter(F.col("n_scales") >= 2)
    p = F.col("n_scales").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxx = F.col("_sxx").cast("double")
    sxy = F.col("_sxy").cast("double")
    den = p * sxx - sx * sx
    slope = F.when(den != 0, (p * sxy - sx * sy) / den)
    return mo.join(nd, "event_type").select(
        "event_type",
        F.col("n_days").cast("long").alias("n_days"),
        F.col("n_scales").cast("long").alias("n_scales"),
        round_half_up(F.lit(1.0) + slope * F.lit(0.5), 6).alias(
            "hurst"
        ),
    )

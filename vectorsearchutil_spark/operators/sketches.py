"""Deterministic cardinality sketches: HyperLogLog and KMV
(k-minimum-values), built from md5-derived hashes so the same sketch
is re-derivable in ANSI SQL — the mergeable distinct-count path for
100 TB data (exact COUNT(DISTINCT) shuffles every distinct value;
a sketch shuffles a fixed few KB per group).

Why not ``approx_count_distinct``: Spark's built-in HLL++ is the
right production call, but its hash/bias tables are engine-private —
no cross-engine oracle can replay it. These sketches make the
estimator itself part of the declared semantics:

* hash: first 15 hex chars of md5 (60 bits, always positive),
* HLL: bucket = low ``b`` bits, rho = leading-zero count of the
  remaining ``60-b`` bits + 1, register = max(rho) per bucket,
  estimate = alpha·m²/Σ2^-M_j with the standard linear-counting
  small-range correction,
* KMV: estimate = (k-1) / u_k where u_k is the k-th smallest hash
  normalized to [0,1).

Determinism contract: every floating sum is an ordered fold over an
array sorted by register/rank id (not a commutative SQL SUM), so
Spark and the oracle accumulate in the same order and agree bitwise
before the final rounding. Registers are algebraic state: max() per
bucket merges across partitions, micro-batches, or days — the same
sketch works as a streaming accumulator.

Reference context: the reference has no sketches (exact scans over
25-row corpora, vsu/base/VectorSearchBase.py:193-201); this is [ext]
scale scope per SURVEY.md §2 Table B.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectorsearchutil_spark.session import local_frame

HASH_BITS = 60  # 15 md5 hex chars -> always-positive bigint


def _hash60(value_sql: str) -> str:
    """60-bit md5-derived hash as a SQL expression (engine-portable:
    DuckDB spells it the same modulo conv/from_hex)."""
    return f"conv(substring(md5(cast({value_sql} as string)), 1, 15), 16, 10)"


def hll_alpha(m: int) -> float:
    """The standard HLL alpha constant for m >= 128 registers."""
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    b: int = 8,
) -> DataFrame:
    """Per-group HLL register table: (keys..., bucket, mj). The
    shuffle after the partial agg carries at most m=2^b rows per
    group — constant, independent of group cardinality. Registers
    merge with max(), so daily sketches roll up to monthly ones
    without touching raw data."""
    m = 1 << b
    h = _hash60(value_col)
    rem_bits = HASH_BITS - b
    # rho: 1 + leading zeros of the top (60-b) bits; bin() drops
    # leading zeros, so bitlen = length(bin(rem)) and
    # rho = rem_bits - bitlen + 1 (rem = 0 -> rem_bits + 1)
    return (
        df.selectExpr(
            *keys,
            f"cast({h} as bigint) & {m - 1} as bucket",
            f"shiftright(cast({h} as bigint), {b}) as rem",
        )
        .selectExpr(
            *keys,
            "bucket",
            f"cast(if(rem = 0, {rem_bits + 1},"
            f" {rem_bits} - length(bin(rem)) + 1) as int) as rho",
        )
        .groupBy(*keys, "bucket")
        .agg(F.max("rho").alias("mj"))
    )


def hll_estimate(
    registers: DataFrame,
    keys: list[str],
    b: int = 8,
    out_col: str = "est_distinct",
) -> DataFrame:
    """Collapse a register table to per-group estimates. The harmonic
    sum is an ordered fold over registers sorted by bucket id; the
    oracle's unordered SUM over the same power-of-two terms can differ
    by ulps when exponents span more than the 53-bit mantissa, and the
    final ROUND(...,2) absorbs that order-dependent error (ADVICE r2 —
    the rounding, not the fold order, is what makes the two sides
    agree). Missing buckets contribute 2^0 each. Applies the standard
    linear-counting correction when E <= 2.5m and empty buckets
    exist."""
    m = 1 << b
    alpha = hll_alpha(m)
    folded = (
        registers.groupBy(*keys)
        .agg(
            F.expr(
                "aggregate(array_sort(collect_list(struct(bucket, mj))),"
                " cast(0.0 as double), (acc, x) -> acc + power(2.0, -x.mj))"
            ).alias("_hsum"),
            F.count(F.lit(1)).alias("_nonzero"),
        )
        .withColumn("_zeros", F.lit(m) - F.col("_nonzero"))
    )
    raw = F.lit(alpha * m * m) / (F.col("_hsum") + F.col("_zeros"))
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("_zeros"))
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (F.col("_zeros") > 0), linear
    ).otherwise(raw)
    return folded.select(*keys, F.round(est, 2).alias(out_col))


def hll_distinct(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    b: int = 8,
    out_col: str = "est_distinct",
) -> DataFrame:
    """Per-group approximate distinct count via deterministic HLL."""
    return hll_estimate(hll_registers(df, keys, value_col, b), keys, b, out_col)


def kmv_distinct(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    k: int = 64,
    out_col: str = "est_distinct",
) -> DataFrame:
    """Per-group KMV estimate: (k-1)/u_k with u_k the k-th smallest
    distinct normalized hash; groups with fewer than k distinct
    values are exact (the sketch holds them all). Sketch state is the
    k smallest hashes — mergeable by union + re-truncate."""
    h = _hash60(value_col)
    hashed = df.selectExpr(
        *keys, f"cast({h} as bigint) as _hv"
    ).dropDuplicates([*keys, "_hv"])
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy("_hv")
    ranked = hashed.withColumn("_rank", F.row_number().over(w)).filter(
        F.col("_rank") <= k
    )
    scale = float(1 << HASH_BITS)
    return (
        ranked.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.max(F.when(F.col("_rank") == k, F.col("_hv"))).alias("_uk"),
        )
        .select(
            *keys,
            F.round(
                F.when(
                    F.col("_n") < k, F.col("_n").cast("double")
                ).otherwise(
                    F.lit(float(k - 1)) / (F.col("_uk") / F.lit(scale))
                ),
                2,
            ).alias(out_col),
        )
    )


def hll_merge(
    registers_a: DataFrame,
    registers_b: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Merge two register tables (same b): union + max per bucket.
    The algebra that makes sketches the scale path — shard/day/source
    sketches combine without re-reading data."""
    return (
        registers_a.unionByName(registers_b)
        .groupBy(*keys, "bucket")
        .agg(F.max("mj").alias("mj"))
    )


def hll_error_bound(b: int = 8) -> float:
    """Theoretical relative standard error: 1.04/sqrt(m)."""
    return 1.04 / math.sqrt(float(1 << b))


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 128,
    probs: tuple[float, ...] = (0.5, 0.9, 0.99),
    out_prob_col: str = "p",
    out_col: str = "est",
) -> DataFrame:
    """Mergeable approximate quantiles from a fixed-bound equi-width
    histogram: one partial-aggregated pass builds ``bins`` counts
    (the sketch — integer state, mergeable by plain +), then the
    estimate interpolates linearly inside the bin containing rank
    ceil(p·N). Exact per-group percentiles shuffle every value; this
    shuffles ``bins`` longs regardless of row count — the declared-
    semantics analog of approx_percentile (whose t-digest internals
    no cross-engine oracle can replay).

    Bounds are part of the sketch declaration (production: take them
    from ingest-time min/max metadata); values outside clamp to the
    edge bins. Estimation error is bounded by the bin width.
    """
    width = (float(hi) - float(lo)) / bins
    # nulls produce a null bucket (floor(null)) which both breaks the
    # collected-sketch sort (None vs int) and would silently fold into
    # the total; quantiles are defined over non-null values only
    df = df.filter(F.col(value_col).isNotNull())
    bucket = F.least(
        F.greatest(
            F.floor((F.col(value_col) - F.lit(float(lo))) / F.lit(width)),
            F.lit(0),
        ),
        F.lit(bins - 1),
    ).cast("int")
    hist = df.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n")
    )
    # ONE pass over the input: the sketch (≤ bins rows) is collected
    # once and everything downstream — including the total row count,
    # which is exactly Σ bin counts — derives from it. A separate
    # df.count() would scan the full input a second time (ADVICE r2).
    sketch = hist.collect()
    total = sum(r["n"] for r in sketch)
    cum_rows, running = [], 0
    for r in sorted(sketch, key=lambda r: r["bucket"]):
        cum_rows.append((r["bucket"], r["n"], running + r["n"], running))
        running += r["n"]
    cum = local_frame(
        df.sparkSession,
        cum_rows, "bucket int, n bigint, cum bigint, cum_before bigint"
    )
    out = None
    for p in probs:
        needed = int(math.ceil(p * total)) if total else 0
        est = F.lit(float(lo)) + (
            F.col("bucket") + (F.lit(needed) - F.col("cum_before"))
            / F.col("n")
        ) * F.lit(width)
        one = (
            cum.filter(
                (F.col("cum") >= F.lit(needed))
                & (F.col("cum_before") < F.lit(needed))
            )
            .select(
                F.lit(float(p)).alias(out_prob_col),
                F.round(est, 4).alias(out_col),
            )
        )
        out = one if out is None else out.unionByName(one)
    return out


def weighted_median_exact(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    out_col: str = "weighted_median",
    n_buckets: int = 4096,
    quantile: float = 0.5,
) -> DataFrame:
    """EXACT weighted median per group via histogram refinement — no
    per-group global sort. The naive plan (running-weight window
    partitioned by group) serializes each group through ONE task: at
    3 return flags × 100 TB that is three executor-killing sorts. This
    plan never sorts raw rows:

    1. pass 1: per-group min/max/Σw (map-side combinable),
    2. pass 2: equi-width ``n_buckets`` histogram of weight per
       bucket (map-side combinable; ≤ n_buckets rows/group),
    3. the crossing bucket — first whose cumulative weight reaches
       Σw/2 — found by a window over the HISTOGRAM (≤ n_buckets
       rows per group, trivially parallel across groups),
    4. pass 3: only rows in the crossing bucket (≈ rows/n_buckets)
       aggregate per distinct value; a tiny per-group value window
       picks the first value whose cumulative weight crosses.

    Exactness: the median is the smallest v with W(≤v) ≥ W/2, and
    W(≤v) decomposes as (weight in buckets below) + (cumulative
    within the crossing bucket) — both computed from complete
    aggregates, so the refined answer is the exact order statistic,
    not an estimate. Weight sums here are commutative SQL SUMs;
    the crossing comparison is exact whenever weight sums are (always
    for integer-valued weights in double/long/decimal — e.g. TPC-H
    quantities; for arbitrary floats the usual last-ulp summation
    caveat applies to ties at exactly W/2).

    Degenerate single-value groups land in bucket 0 and refine to
    one row; groups with zero total weight return their min value
    (the ≥ 0 crossing is immediate), matching the SQL definition.

    ``quantile`` generalizes the W/2 crossing to any exact weighted
    quantile q ∈ (0, 1]: the answer is the smallest v with
    W(≤v) ≥ q·W — same refinement, same exactness argument.
    """
    if not 0.0 < quantile <= 1.0:
        raise ValueError("quantile must be in (0, 1]")
    from pyspark.sql import Window

    d = df.select(
        F.col(group_col).alias("g"),
        F.col(value_col).alias("v"),
        F.col(weight_col).alias("w"),
    ).filter(F.col("v").isNotNull() & F.col("w").isNotNull())
    stats = d.groupBy("g").agg(
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
        F.sum("w").alias("tot"),
    )
    b = d.join(F.broadcast(stats), "g").withColumn(
        "b",
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("v") - F.col("mn"))
                    / (F.col("mx") - F.col("mn"))
                    * F.lit(n_buckets)
                ),
                F.lit(n_buckets - 1),
            )
        )
        .cast("int"),
    )
    hist = b.groupBy("g", "b").agg(F.sum("w").alias("bw"))
    cum_b = (
        Window.partitionBy("g")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    crossing = (
        hist.withColumn("cum", F.sum("bw").over(cum_b))
        .join(F.broadcast(stats.select("g", "tot")), "g")
        .filter(F.col("cum") >= F.col("tot") * F.lit(float(quantile)))
        .groupBy("g")
        .agg(
            F.min("b").alias("cb"),
            F.min_by(F.col("cum") - F.col("bw"), F.col("b")).alias(
                "w_before"
            ),
        )
    )
    sub = (
        b.join(F.broadcast(crossing), "g")
        .filter(F.col("b") == F.col("cb"))
        .groupBy("g", "v", "w_before", "tot")
        .agg(F.sum("w").alias("vw"))
    )
    cum_v = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        sub.withColumn("cum", F.col("w_before") + F.sum("vw").over(cum_v))
        .filter(F.col("cum") >= F.col("tot") * F.lit(float(quantile)))
        .groupBy("g")
        .agg(F.min("v").alias(out_col))
        .select(F.col("g").alias(group_col), out_col)
    )


def kmv_sketch(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    k: int = 64,
    out_col: str = "kmv",
) -> DataFrame:
    """Per-group KMV sketch as a sorted array of the k smallest
    distinct 60-bit hashes — the fixed-size state the set-operation
    estimators below compose. At 100 TB each group's overlap question
    is answered from 2·k longs instead of two distinct-value scans."""
    h = _hash60(value_col)
    hashed = df.selectExpr(
        *keys, f"cast({h} as bigint) as _hv"
    ).dropDuplicates([*keys, "_hv"])
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy("_hv")
    return (
        hashed.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= k)
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list("_hv")).alias(out_col))
    )


def kmv_overlap_pairs(
    sketches: DataFrame,
    key_col: str,
    k: int = 64,
    sketch_col: str = "kmv",
) -> DataFrame:
    """Pairwise set-overlap estimates from KMV sketches ALONE (Beyer
    et al. 2007): for groups a < b, take K = the k smallest of the
    two sketches' union; the Jaccard estimate is the fraction of K
    present in both sketches, and the intersection estimate is
    jaccard · D̂(union) with D̂ the standard KMV distinct estimator
    ((|K|-1)/u_max when the union saturates k, exact |K| otherwise).

    The join operates on sketch rows (k longs per group) — estimating
    every pairwise audience/corpus overlap among G groups costs
    O(G²·k) longs, independent of data size; no re-scan, no
    distinct-value shuffle. Mergeability means segment sketches can be
    rolled up first (union + re-truncate) and compared later. The G²
    pair enumeration itself is the scale bound: fine for thousands of
    groups; beyond that, prefilter candidate pairs (e.g. by a cheap
    per-group signature band) before estimating."""
    a = sketches.select(
        F.col(key_col).alias("key_a"), F.col(sketch_col).alias("_ka")
    )
    b = sketches.select(
        F.col(key_col).alias("key_b"), F.col(sketch_col).alias("_kb")
    )
    joined = a.join(b, F.col("key_a") < F.col("key_b"))
    union_k = F.slice(
        F.array_sort(F.array_union(F.col("_ka"), F.col("_kb"))), 1, k
    )
    scale = float(1 << HASH_BITS)
    expr = (
        joined.withColumn("_u", union_k)
        .withColumn("_nu", F.size("_u"))
        .withColumn(
            "_match",
            F.size(
                F.array_intersect(
                    F.col("_u"), F.array_intersect("_ka", "_kb")
                )
            ),
        )
        .withColumn(
            "_est_union",
            F.when(F.col("_nu") < k, F.col("_nu").cast("double")).otherwise(
                F.lit(float(k - 1))
                / (F.element_at("_u", k) / F.lit(scale))
            ),
        )
        .withColumn("_jac", F.col("_match") / F.col("_nu"))
    )
    return expr.select(
        "key_a",
        "key_b",
        F.round("_jac", 4).alias("jaccard_est"),
        F.round(F.col("_jac") * F.col("_est_union"), 2).alias(
            "intersection_est"
        ),
        F.round("_est_union", 2).alias("union_est"),
    )


def cms_table(
    df: DataFrame,
    value_col: str,
    d: int = 4,
    w: int = 256,
    keys: list[str] | None = None,
) -> DataFrame:
    """Count-Min Sketch as a counter table (keys..., i, j, cnt):
    ``d`` hash rows × ``w`` columns, counter (i, j) = number of input
    rows whose i-seeded md5 hash lands in column j. One pass with
    partial aggregation; per-group state is at most d·w longs
    regardless of cardinality, and sketches MERGE by plain counter
    addition — the mergeable frequency-estimation path (heavy-hitter
    screening, per-shard rollups) where exact per-token counts would
    shuffle every distinct value. md5-seeded hashes make the sketch
    re-derivable in any engine."""
    keys = keys or []
    js = ", ".join(
        f"cast(conv(substring(md5(concat('{i}:', cast({value_col} as"
        f" string))), 1, 15), 16, 10) as bigint) % {w}"
        for i in range(d)
    )
    return (
        df.selectExpr(*keys, f"posexplode(array({js})) as (i, j)")
        .groupBy(*keys, "i", "j")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    cms: DataFrame,
    queries_df: DataFrame,
    value_col: str,
    d: int = 4,
    w: int = 256,
    out_col: str = "est_count",
) -> DataFrame:
    """Point-frequency estimates from the sketch alone:
    est(v) = min over rows i of counter[i][h_i(v)] — never an
    underestimate (CMS guarantee), within eps·N with the standard
    (d, w) probability. The query side expands each probe value to
    its d (i, j) coordinates and joins the (tiny, broadcastable)
    counter table; missing counters are zero."""
    js = ", ".join(
        f"cast(conv(substring(md5(concat('{i}:', cast({value_col} as"
        f" string))), 1, 15), 16, 10) as bigint) % {w}"
        for i in range(d)
    )
    probes = queries_df.selectExpr(
        value_col, f"posexplode(array({js})) as (i, j)"
    )
    return (
        probes.join(F.broadcast(cms), ["i", "j"], "left")
        .fillna(0, subset=["cnt"])
        .groupBy(value_col)
        .agg(F.min("cnt").alias(out_col))
    )


def heavy_hitters_exact(
    df: DataFrame,
    value_col: str,
    phi: float = 0.01,
    out_col: str = "cnt",
) -> DataFrame:
    """EXACT φ-heavy hitters (values with global share ≥ φ) in two
    passes with no full distinct-value shuffle — the 100 TB
    frequency-mining pattern.

    Pass 1 (map-side, zero shuffle): each partition counts locally
    and emits only values whose LOCAL share ≥ φ, plus one sentinel
    row carrying the partition's row count. By averaging/pigeonhole a
    global φ-heavy hitter must exceed share φ in at least one
    partition, so the candidate union has COMPLETE recall. Pass 2:
    exact counts for the (tiny, broadcast) candidate set only; the
    final filter applies the true global threshold, discarding
    false candidates. The two-pass plan is invisible in the result —
    the oracle is a plain GROUP BY + HAVING.

    Per-partition memory is the partition's distinct-value count; for
    vocabulary-heavy partitions swap the Counter for a CMS (its
    overestimates keep candidate recall complete, memory fixed).
    """
    import pandas as pd

    vtype = df.schema[value_col].dataType.simpleString()
    schema = f"{value_col} {vtype}, _ln bigint"

    def local_candidates(batches):
        from collections import Counter

        counts: Counter = Counter()
        n = 0
        for pdf in batches:
            # value_counts is vectorized C; the Python-level merge is
            # over the batch's DISTINCT values only (25× probe: plain
            # Counter.update over rows was ~4× slower at 2.5M rows)
            counts.update(pdf[value_col].value_counts().to_dict())
            n += len(pdf)
        thr = phi * n
        cand = [v for v, c in counts.items() if c >= thr]
        yield pd.DataFrame(
            {value_col: cand + [None], "_ln": [None] * len(cand) + [n]}
        )

    pass1 = df.select(value_col).mapInPandas(local_candidates, schema).cache()
    total = (
        pass1.agg(F.sum("_ln").alias("n")).first()["n"] or 0
    )
    cand = pass1.filter(F.col(value_col).isNotNull()).select(
        value_col
    ).distinct()
    return (
        df.join(F.broadcast(cand), value_col)
        .groupBy(value_col)
        .agg(F.count(F.lit(1)).alias(out_col))
        .filter(F.col(out_col) >= F.lit(phi) * F.lit(float(total)))
    )


def hll_running_distinct(
    df: DataFrame,
    order_col: str,
    value_col: str,
    b: int = 8,
    out_col: str = "est_distinct",
) -> DataFrame:
    """Cumulative distinct-so-far per period ("users ever seen, by
    day") — the query exact running COUNT(DISTINCT) cannot scale:
    its running state is every value seen. HLL registers merge with
    max(), so the cumulative sketch is a running MAX over a
    (period × m) grid — m longs of state per period regardless of
    corpus size, and the same register table that answers the
    per-period question answers the cumulative one.

    Plan: per-period registers (≤ m rows/period after partial agg) →
    dense period×bucket grid (tiny) → per-bucket running max window
    (m partitions, rows = periods) → the standard ordered-fold
    estimate per period. Raw rows shuffle once, into the register
    aggregate."""
    from pyspark.sql import Window

    spark = df.sparkSession
    m = 1 << b
    regs = hll_registers(df, [order_col], value_col, b)
    periods = df.select(order_col).distinct()
    buckets = spark.range(m).select(
        F.col("id").cast("bigint").alias("bucket")
    )
    grid = periods.crossJoin(F.broadcast(buckets))
    w = (
        Window.partitionBy("bucket")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        grid.join(regs, [order_col, "bucket"], "left")
        .withColumn("_cmj", F.max("mj").over(w))
        .filter(F.col("_cmj").isNotNull())
        .select(order_col, "bucket", F.col("_cmj").alias("mj"))
    )
    return hll_estimate(cum, [order_col], b, out_col)


def tdigest_centroids(
    df: DataFrame,
    value_col: str,
    id_col: str,
    n_buckets: int = 32,
    n_centroids: int = 64,
    fp_scale: int = 1_000_000,
) -> DataFrame:
    """t-digest-lite: a MERGEABLE equi-depth centroid sketch.

    Rows hash into ``n_buckets`` deterministic buckets (md5 of the
    id — partitioning-independent); within a bucket, rows rank by
    (value, id) and split into ``n_centroids`` equi-count slices;
    each (bucket, slice) centroid keeps ``(n, sum_fp)`` — count and
    a FIXED-POINT value sum (floor(v*scale + 0.5) as long), so the
    centroid mean is bit-identical across engines regardless of
    summation order (the cross-engine float-sum trap). State is
    n_buckets × n_centroids rows — constant, mergeable (union the
    centroid tables of two corpora), the t-digest contract without
    its sequential insert loop.

    Scale shape: ONE shuffle on the bucket key; ``n_buckets`` is the
    parallelism knob (set ≈ corpus_rows / task_target at 100 TB so
    each per-bucket sort fits a task — this is a window over a
    CHOSEN-cardinality key, not a low-cardinality serial wall).
    NULL and non-finite values are excluded (they cannot rank).

    Output: (bucket, slice, n, mean) with mean = (sum_fp/n)/scale.
    """
    from pyspark.sql import Window

    v = F.col(value_col).cast("double")
    rows = df.select(
        F.col(id_col).cast("long").alias("_id"),
        v.alias("_v"),
        F.floor(v * F.lit(float(fp_scale)) + F.lit(0.5))
        .cast("long")
        .alias("_v_fp"),
    ).filter(
        F.col("_v").isNotNull()
        & ~F.isnan("_v")
        & (F.abs("_v") != F.lit(float("inf")))
    ).withColumn(
        "bucket",
        (
            F.conv(
                F.substring(F.md5(F.col("_id").cast("string")), 1, 15),
                16,
                10,
            ).cast("long")
            % n_buckets
        ).cast("int"),
    )
    w = Window.partitionBy("bucket").orderBy(F.col("_v"), F.col("_id"))
    cnt = Window.partitionBy("bucket")
    ranked = rows.select(
        "bucket",
        "_v_fp",
        F.row_number().over(w).alias("_rk"),
        F.count(F.lit(1)).over(cnt).alias("_bn"),
    )
    return (
        ranked.withColumn(
            "slice",
            F.floor(
                (F.col("_rk") - 1) * F.lit(int(n_centroids)) / F.col("_bn")
            ).cast("int"),
        )
        .groupBy("bucket", "slice")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("_v_fp").cast("bigint").alias("sum_fp"),
        )
        .select(
            "bucket",
            "slice",
            "n",
            (
                (F.col("sum_fp").cast("double") / F.col("n").cast("double"))
                / F.lit(float(fp_scale))
            ).alias("mean"),
        )
    )


def tdigest_quantiles(
    centroids: DataFrame,
    qs: list[float],
    round_dp: int = 4,
) -> DataFrame:
    """Quantile estimates from a :func:`tdigest_centroids` table (or
    a UNION of several — the sketch merges by concatenation): order
    centroids by (mean, bucket, slice), take the running count, and
    for each q return the mean of the first centroid whose running
    count reaches ceil(q·N). Exact at the slice boundaries, within
    one slice-width everywhere else — the standard digest trade.

    The centroid table is tiny (buckets × slices ≤ a few k rows), so
    the ordered scan and the per-q argmin are driver-light
    aggregates; floor-form rounding keeps the estimate bit-identical
    across engines.
    """
    from pyspark.sql import Window

    from vectorsearchutil_spark.functions.vector import round_half_up

    ordw = Window.orderBy("mean", "bucket", "slice").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = centroids.select(
        "bucket", "slice", "mean", F.sum("n").over(ordw).alias("cum")
    )
    total = centroids.agg(F.sum("n").alias("N"))
    qdf = cum.crossJoin(F.broadcast(total)).crossJoin(
        F.broadcast(
            centroids.sparkSession.range(1)
            .select(
                F.explode(
                    F.array(*[F.lit(float(q)) for q in qs])
                ).alias("q")
            )
        )
    )
    return (
        qdf.filter(
            F.col("cum")
            >= F.greatest(
                F.lit(1).cast("long"),
                F.ceil(F.col("q") * F.col("N").cast("double")),
            )
        )
        .groupBy("q")
        .agg(F.min_by("mean", "cum").alias("_est"))
        .select("q", round_half_up(F.col("_est"), round_dp).alias("est"))
    )


def percentile_rank_enrich(
    df: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str,
    resolution: int = 2,
) -> DataFrame:
    """Enrich EVERY row with its within-group percentile rank,
    exactly at ``10^-resolution`` value granularity — the
    per-row twin of the quantile aggregates, built the scale-safe
    way: no window ever touches raw rows.

    Definition: quantize v to q(v) = floor(v·10^r + 0.5); pct_rank =
    (# group rows with q < q(v)) / (n_group − 1), ties share the
    rank (the SQL ``percent_rank`` of the quantized value). Rows
    with NULL / non-finite values get NULL pct_rank.

    Two-level plan: per (group, quantized-value) counts — state
    bounded by the VALUE DOMAIN (e.g. ~10^6 cents rows per group at
    any corpus size), not by rows — then a prefix sum over that
    aggregated table per group, then one join back onto the fact.
    The join key (group, qv) is the same bounded table, so it
    broadcasts; the fact never shuffles. Windows over
    ``partitionBy(low-card group).orderBy(raw rows)`` — the serial
    wall — never appear.
    """
    from pyspark.sql import Window

    from vectorsearchutil_spark.functions.vector import round_half_up

    v = F.col(value_col).cast("double")
    scale = float(10 ** resolution)
    qv = F.when(
        v.isNotNull() & ~F.isnan(v) & (F.abs(v) != F.lit(float("inf"))),
        F.floor(v * F.lit(scale) + F.lit(0.5)),
    ).cast("long")
    base = df.select(
        F.col(id_col), F.col(group_col).alias("_g"), qv.alias("_qv")
    )
    counts = (
        base.filter(F.col("_qv").isNotNull())
        .groupBy("_g", "_qv")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    w = Window.partitionBy("_g").orderBy("_qv")
    pre = counts.select(
        "_g",
        "_qv",
        (
            F.sum("_cnt").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            )
            - F.col("_cnt")
        ).alias("_below"),
        F.sum("_cnt").over(
            w.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("_n"),
    )
    return base.join(F.broadcast(pre), ["_g", "_qv"], "left").select(
        F.col(id_col),
        F.col("_g").alias(group_col),
        round_half_up(
            F.try_divide(
                F.col("_below").cast("double"),
                (F.col("_n") - F.lit(1)).cast("double"),
            ),
            6,
        ).alias("pct_rank"),
    )

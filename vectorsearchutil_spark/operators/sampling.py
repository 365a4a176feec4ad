"""Deterministic hash-based sampling.

``df.sample()`` is seed-dependent ON TOP of partitioning — the same
seed yields different rows after a repartition, which breaks
reproducible training-data splits. Hash sampling decides per ROW from
a stable key: ``u(key) = int(md5(seed:key)[:8], 16) / 2^32`` is a
uniform [0,1) draw that any engine reproduces bit-for-bit (the same
derivation the LSH planes and the train/val hash split use), so a
sample is a pure filter — pushdown-friendly, shuffle-free,
partitioning-independent, and re-runnable at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vectorsearchutil_spark.session import local_frame


def hash_uniform(key: Column, seed: str) -> Column:
    """Deterministic uniform [0,1) draw from (seed, key).

    DuckDB equivalent:
    ``('0x' || substr(md5(seed || ':' || key), 1, 8))::BIGINT / 4294967296.0``
    """
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(seed), key)), 1, 8), 16, 10
    ).cast("double")
    return h / F.lit(4294967296.0)


def hash_sample(
    df: DataFrame,
    rate: float,
    key_col: str,
    seed: str = "sample",
) -> DataFrame:
    """Bernoulli sample keeping rows with u(key) < rate."""
    return df.filter(hash_uniform(F.col(key_col).cast("string"), seed) < rate)


def _rate_sampled(
    df: DataFrame,
    rates: DataFrame,
    stratum_col: str,
    key_col: str,
    seed: str,
) -> DataFrame:
    """Filter ``df`` to rows with u(key) < rate for their stratum.

    ``rates`` is a tiny (stratum, rate) aggregate — it broadcasts onto
    the fact scan, so the sample is one broadcast join + one narrow
    filter regardless of corpus size. Rates are rounded to 6dp before
    the comparison so engines that sum the stratum statistics in a
    different order cannot flip a borderline row."""
    return (
        df.join(F.broadcast(rates), stratum_col)
        .filter(
            hash_uniform(F.col(key_col).cast("string"), seed)
            < F.round(F.col("rate"), 6)
        )
        .drop("rate")
    )


def temperature_rebalance(
    df: DataFrame,
    stratum_col: str,
    key_col: str,
    alpha: float = 0.5,
    budget: int | None = None,
    seed: str = "temp",
) -> DataFrame:
    """Temperature-based stratum rebalancing: sample stratum ``s``
    (language, source…) with probability proportional to
    ``count_s**alpha`` — the standard multilingual-corpus smoothing
    (alpha=1 keeps natural proportions, alpha=0 equalizes strata).

    Target share ``p_s = c_s^α / Σ c^α``; per-stratum keep rate
    ``min(1, p_s·budget / c_s)`` (``budget`` defaults to the corpus
    row count). The stratum statistics are one tiny groupBy; the
    sample itself is a broadcast-join + narrow deterministic hash
    filter, so the pass is scan-bound at any corpus size.
    """
    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("c"))
    total_budget = (
        F.sum("c").over(Window.partitionBy()) if budget is None
        else F.lit(float(budget))
    )
    pow_sum = F.sum(F.pow(F.col("c"), alpha)).over(Window.partitionBy())
    rates = counts.select(
        stratum_col,
        F.least(
            F.lit(1.0),
            F.pow(F.col("c"), alpha) / pow_sum * total_budget / F.col("c"),
        ).alias("rate"),
    )
    return _rate_sampled(df, rates, stratum_col, key_col, seed)


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    stratum_col: str,
    key_col: str,
    budget: int,
    seed: str = "mixture",
    default_weight: float = 0.0,
) -> DataFrame:
    """Source-weighted mixture sampling: draw a ``budget``-row corpus
    whose strata follow ``weights`` (normalized), the data-mixture
    step of training-corpus assembly. Per-stratum keep rate
    ``min(1, w_s/Σw · budget / c_s)`` — a stratum with too few rows
    contributes everything it has (rate caps at 1; no upsampling).

    Same physical shape as ``temperature_rebalance``: tiny stats
    aggregate, broadcast join, narrow hash filter.
    """
    w_map = F.create_map(*[F.lit(x) for kv in weights.items() for x in kv])
    w = F.coalesce(w_map[F.col(stratum_col)], F.lit(float(default_weight)))
    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("c"))
    w_sum = F.sum("w").over(Window.partitionBy())
    rates = (
        counts.withColumn("w", w)
        .select(
            stratum_col,
            F.least(
                F.lit(1.0), F.col("w") / w_sum * budget / F.col("c")
            ).alias("rate"),
        )
    )
    return _rate_sampled(df, rates, stratum_col, key_col, seed)


def deterministic_shard(
    df: DataFrame,
    key_col: str,
    n_shards: int = 8,
    seed: str = "shuffle",
) -> DataFrame:
    """Deterministic global shuffle for training output: every row
    gets a (shard, pos) address derived ONLY from its key — shard by
    one hash, position within the shard by ordering on an independent
    hash. Any engine, any partitioning, any run produces the same
    shuffled order, and restarts resume mid-corpus for free.

    Physically: one narrow projection + one window per shard
    partition. Parallelism = ``n_shards``, so size shards to
    O(executor count); no global single-partition sort ever happens
    (the per-shard row_number is the scalable stand-in for a global
    ORDER BY random())."""
    key = F.col(key_col).cast("string")
    shard = (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.lit(seed), key)), 1, 8),
            16,
            10,
        ).cast("long")
        % n_shards
    )
    order_h = F.md5(F.concat_ws(":", F.lit(seed + ":ord"), key))
    win = Window.partitionBy("shard").orderBy(order_h, F.col(key_col))
    return (
        df.withColumn("shard", shard.cast("int"))
        .withColumn("pos", F.row_number().over(win))
    )


def stratified_hash_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str,
    key_col: str,
    seed: str = "sample",
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum Bernoulli sample (e.g. downsample dominant
    languages, keep all of a rare one). ``rates`` maps stratum value →
    keep rate; strata not listed get ``default_rate``.

    The rate lookup is a literal map expression, so the whole sample
    stays one narrow filter — no join, no shuffle.
    """
    rate_map = F.create_map(
        *[F.lit(x) for kv in rates.items() for x in kv]
    )
    rate = F.coalesce(
        rate_map[F.col(stratum_col)], F.lit(float(default_rate))
    )
    return df.filter(
        hash_uniform(F.col(key_col).cast("string"), seed) < rate
    )


def weighted_reservoir_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    key_col: str,
    stratum_col: str | None = None,
    seed: str = "wres",
) -> DataFrame:
    """Efraimidis–Spirakis (A-Res) weighted sampling WITHOUT
    replacement, derandomized: each row draws u = hash_uniform(key)
    and scores ``u^(1/w)``; the k largest scores win (per stratum when
    ``stratum_col`` is given). Inclusion probability is proportional
    to weight, the math of the classic streaming reservoir — but with
    hash draws the "reservoir" collapses to a deterministic top-k:
    partitioning-independent, re-runnable, and expressible in any
    engine (the oracle re-derives it in SQL).

    Scale shape: one narrow projection (no shuffle) + one per-stratum
    top-k — Spark plans the rank-filter as WindowGroupLimit, so each
    task keeps only k candidates before the single k-row-per-stratum
    shuffle; with no stratum it is a TakeOrderedAndProject. Rows with
    weight <= 0 are excluded (their score is undefined).

    The sort key is rounded to 12dp (both sides) and ties break by
    key ascending, so engine ulp differences cannot flip the cut.
    """
    u = hash_uniform(F.col(key_col).cast("string"), seed)
    score = F.round(
        F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double")), 12
    )
    scored = df.filter(F.col(weight_col) > 0).withColumn("_wkey", score)
    order = [F.col("_wkey").desc(), F.col(key_col).asc()]
    if stratum_col is None:
        return (
            scored.orderBy(*order)
            .limit(k)
            .drop("_wkey")
        )
    w = Window.partitionBy(stratum_col).orderBy(*order)
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_wkey", "_rn")
    )


def dsir_importance(
    docs: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
    seed: str = "dsir",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by how target-like its hashed-unigram distribution is,
    w(d) = mean over tokens of log(p_target(bucket)/p_raw(bucket)),
    with Laplace-smoothed bucket models estimated from the corpus
    itself (``target_pred`` marks the target slice).

    Scale shape: the corpus is tokenized ONCE — the explode reduces
    immediately to per-(doc, bucket) counts, and everything else
    derives from that aggregate: the bucket models are its
    ``buckets``-row rollup (conditional sums — no second scan of the
    target slice), the log-ratio table broadcasts back onto it, and
    the per-doc weight is the count-weighted mean
    Σ cnt·lr / Σ cnt ≡ the per-token mean. Nothing materializes
    per-vocabulary state: the hashed feature space is fixed at
    ``buckets`` regardless of corpus size, which is the point of
    DSIR's hashed n-grams at 100 TB.

    The md5-derived bucket hash is engine-reproducible (same recipe
    as the CMS/LSH operators), so an external oracle can replay the
    weights exactly.
    """
    from vectorsearchutil_spark.functions.text import tokens_sql

    bucket = (
        f"cast(conv(substring(md5(concat('{seed}:', token)), 1, 15),"
        f" 16, 10) as bigint) % {buckets}"
    )
    db = (
        docs.withColumn("_is_t", target_pred)
        .selectExpr(
            id_col, "_is_t", f"explode({tokens_sql(text_col)}) AS token"
        )
        .selectExpr(id_col, "_is_t", f"{bucket} AS bucket")
        .groupBy(id_col, "_is_t", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # cached: both the model rollup and the scoring join read this
    # aggregate — without it each branch would re-tokenize the corpus
    # (same posture as clustering.kmeans's cached working set; at
    # scale use MEMORY_AND_DISK or a checkpoint)
    db = db.cache()
    models = db.groupBy("bucket").agg(
        F.sum("cnt").alias("n_raw"),
        F.sum(F.when(F.col("_is_t"), F.col("cnt")).otherwise(0)).alias(
            "n_tgt"
        ),
    )
    totals = models.agg(
        F.sum("n_raw").alias("t_raw"), F.sum("n_tgt").alias("t_tgt")
    )
    ratio = models.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log(
                (F.col("n_tgt") + 1).cast("double")
                / (F.col("t_tgt") + F.lit(buckets)).cast("double")
            )
            - F.log(
                (F.col("n_raw") + 1).cast("double")
                / (F.col("t_raw") + F.lit(buckets)).cast("double")
            )
        ).alias("logratio"),
    )
    return (
        db.join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.round(
                F.sum(F.col("cnt") * F.col("logratio")) / F.sum("cnt"), 4
            ).alias("dsir_weight"),
        )
    )


def token_budget_sample(
    docs: DataFrame,
    budgets: dict[str, int],
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    seed: str = "tbudget",
) -> DataFrame:
    """Token-budget mixture sampling: each group contributes documents
    until its TOKEN budget is exhausted — the unit a pretraining
    mixture is actually specified in (epochs/tokens per source), where
    doc-count sampling over-weights short-doc sources.

    Docs order within their group by a deterministic hash draw (so
    the cut is an unbiased sample, reproducible across engines and
    partitionings); a doc is kept while the group's cumulative token
    count INCLUDING it stays within budget. Greedy-prefix semantics:
    one over-long doc mid-prefix stops the group (budget is a hard
    cap, matching how sequence budgets behave in practice).

    Plan shape: token counts reduce the scan to (id, group, n)
    narrow rows; the running sum is TWO-LEVEL (the weighted-median /
    sweep-line discipline): rows bucket by their draw's leading bits,
    per-(group, bucket) token totals cumulate over the tiny bucket
    HISTOGRAM, and each row's cum_tokens = its bucket's carry-in +
    a within-(group, bucket) running sum — so the per-row window is
    keyed by (group, bucket), parallel across 4096 buckets, instead
    of serializing each group's entire corpus through one task's
    sort. Output identical to the single-window definition, exactly:
    buckets partition the draw order monotonically and token counts
    are ints, so every prefix sum is the same exact value. Output:
    (id, group, n_tokens, cum_tokens).
    """
    from vectorsearchutil_spark.functions.text import tokens_sql

    n_buckets = 4096
    budget_items = sorted(budgets.items())
    budget_df = local_frame(
        docs.sparkSession, budget_items, f"{group_col} string, _budget long"
    )
    sized = docs.selectExpr(
        id_col,
        group_col,
        f"size({tokens_sql(text_col)}) AS n_tokens",
    )
    u = F.round(
        hash_uniform(F.col(id_col).cast("string"), seed), 12
    )
    sized = sized.withColumn("_u", u).withColumn(
        "_b",
        F.least(
            F.floor(F.col("_u") * F.lit(float(n_buckets))),
            F.lit(n_buckets - 1),
        ).cast("int"),
    )
    hist = sized.groupBy(group_col, "_b").agg(
        F.sum("n_tokens").alias("_bt")
    )
    carry_w = (
        Window.partitionBy(group_col)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = hist.select(
        group_col,
        "_b",
        F.coalesce(F.sum("_bt").over(carry_w), F.lit(0)).alias("_carry"),
    )
    inner_w = (
        Window.partitionBy(group_col, "_b")
        .orderBy(F.col("_u").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        sized.join(carry, [group_col, "_b"])
        .join(F.broadcast(budget_df), group_col)
        .withColumn(
            "cum_tokens", F.col("_carry") + F.sum("n_tokens").over(inner_w)
        )
        .filter(F.col("cum_tokens") <= F.col("_budget"))
        .select(id_col, group_col, "n_tokens", "cum_tokens")
    )


def unimax_allocation(
    docs: DataFrame,
    budget: int,
    max_epochs: int = 1,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """UniMax per-source token-budget allocation (Chung et al. 2023,
    "UniMax: Fairer and More Effective Language Sampling for
    Large-Scale Multilingual Pretraining"): spread a total token
    budget UNIFORMLY across sources, capping each source at
    (corpus tokens × max_epochs); budget freed by capped (small)
    sources redistributes to the rest — the principled alternative to
    temperature sampling that never over-epochs low-resource sources.

    Closed-form waterfilling, no iteration: with caps sorted
    ascending, source k is capped iff cap_k·(m−k+1) < B − Σ_{j<k}
    cap_j (the capped set is always a prefix of the sort), and every
    uncapped source gets ⌊(B − Σ_capped cap)/n_uncapped⌋. All-integer
    arithmetic — exact and engine-invariant.

    Plan: token counts reduce the scan to (source, n) partials
    (map-side combinable; text never shuffles); everything after runs
    on ONE ROW PER SOURCE — the global rank window is over aggregated
    state (≤ thousands of rows at any corpus size), the sanctioned
    exception to the no-global-window rule. Feed the resulting
    ``alloc`` into :func:`token_budget_sample` to materialize the
    actual document selection.

    Output: (source, tokens, cap, alloc, epochs_used).
    """
    from vectorsearchutil_spark.functions.text import tokens_sql

    budget = int(budget)
    sized = docs.selectExpr(
        group_col, f"size({tokens_sql(text_col)}) AS _n"
    )
    src = sized.groupBy(group_col).agg(
        F.sum("_n").cast("long").alias("tokens")
    )
    src = src.withColumn(
        "cap", F.col("tokens") * F.lit(int(max_epochs))
    )
    rank_w = Window.orderBy("cap", group_col)
    annotated = src.select(
        group_col,
        "tokens",
        "cap",
        F.row_number().over(rank_w).alias("_k"),
        F.coalesce(
            F.sum("cap").over(
                rank_w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_cum_before"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("_m"),
    )
    flagged = annotated.withColumn(
        "_capped",
        F.col("cap") * (F.col("_m") - F.col("_k") + 1)
        < F.lit(budget) - F.col("_cum_before"),
    )
    totals = flagged.agg(
        F.coalesce(
            F.sum(F.when(F.col("_capped"), F.col("cap"))), F.lit(0)
        )
        .cast("long")
        .alias("_capped_total"),
        F.sum(F.when(F.col("_capped"), 0).otherwise(1))
        .cast("long")
        .alias("_n_uncapped"),
    )
    return (
        flagged.crossJoin(F.broadcast(totals))
        .withColumn(
            "alloc",
            F.when(F.col("_capped"), F.col("cap")).otherwise(
                F.expr(
                    f"(cast({budget} AS BIGINT) - _capped_total)"
                    " div greatest(_n_uncapped, 1L)"
                )
            ),
        )
        .withColumn(
            # a source whose docs are all empty has tokens = 0: its
            # allocation is 0 and epochs_used is undefined — NULL,
            # matching DuckDB's x/0 (the bare ANSI division raises)
            "epochs_used",
            F.round(F.try_divide(F.col("alloc"), F.col("tokens")), 4),
        )
        .select(group_col, "tokens", "cap", "alloc", "epochs_used")
    )

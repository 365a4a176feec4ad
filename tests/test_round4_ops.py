"""Round-4 operators: DSIR importance weights, segment-level dedup,
centroid outliers, token entropy — semantics on hand-built inputs
(the sf-data value parity is covered by the DuckDB oracles)."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest


def test_dsir_prefers_target_like_docs(spark):
    from vectorsearchutil_spark.operators.sampling import dsir_importance

    rows = (
        # target slice: "alpha beta" vocabulary
        [(i, "alpha beta alpha beta", "tgt") for i in range(20)]
        # raw background: "gamma delta" vocabulary
        + [(100 + i, "gamma delta gamma delta", "web") for i in range(20)]
        # probes: one target-like, one background-like
        + [(900, "alpha beta alpha", "web"), (901, "gamma delta gamma", "web")]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    w = {
        r["doc_id"]: r["dsir_weight"]
        for r in dsir_importance(
            docs, F.col("source") == "tgt"
        ).collect()
    }
    assert w[900] > w[901]
    # target-vocabulary docs score above background-vocabulary docs
    assert w[0] > 0 > w[100]


def test_dsir_partitioning_invariant(spark):
    from vectorsearchutil_spark.operators.sampling import dsir_importance

    rows = [
        (i, f"tok{i % 7} tok{i % 3} tok{i % 5}", "s" + str(i % 2))
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    a = {
        r["doc_id"]: r["dsir_weight"]
        for r in dsir_importance(
            docs.repartition(1), F.col("source") == "s0"
        ).collect()
    }
    b = {
        r["doc_id"]: r["dsir_weight"]
        for r in dsir_importance(
            docs.repartition(16), F.col("source") == "s0"
        ).collect()
    }
    assert a == b


def test_segment_dedup_drops_repeated_boilerplate(spark):
    from vectorsearchutil_spark.operators.dedup import segment_dedup

    boiler = "b1 b2 b3 b4 b5 b6 b7 b8"  # exactly one 8-token segment
    rows = [
        (0, boiler + " u1 u2 u3 u4 u5 u6 u7 u8"),
        (1, boiler + " v1 v2 v3 v4 v5 v6 v7 v8"),
        (2, boiler),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in segment_dedup(docs).collect()}
    # doc 0 keeps both segments (first occurrence of the boilerplate)
    assert out[0]["n_segments"] == 2 and out[0]["n_kept"] == 2
    # docs 1/2 lose the boilerplate segment
    assert out[1]["n_kept"] == 1
    assert out[1]["kept_text"] == "v1 v2 v3 v4 v5 v6 v7 v8"
    assert out[2]["n_kept"] == 0 and out[2]["kept_text"] == ""


def test_segment_dedup_short_and_empty_docs(spark):
    from vectorsearchutil_spark.operators.dedup import segment_dedup

    rows = [(0, "only three tokens"), (1, "")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in segment_dedup(docs).collect()}
    # a short doc is one (partial) segment, kept
    assert out[0]["n_segments"] == 1 and out[0]["n_kept"] == 1
    assert out[0]["kept_text"] == "only three tokens"
    # an empty doc has no segments and no output row (both engines)
    assert 1 not in out


def test_centroid_outliers_flags_planted_outlier(spark):
    from vectorsearchutil_spark.operators.embeddings import centroid_outliers

    rows = [(i, 0, [1.0 + 0.01 * (i % 3), 1.0]) for i in range(20)]
    rows.append((99, 0, [50.0, -50.0]))  # planted
    emb = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    out = centroid_outliers(emb)
    top = out.orderBy(F.col("z").desc()).first()
    assert top["vec_id"] == 99 and top["z"] > 3.0


def test_token_entropy_uniform_and_degenerate(spark):
    from vectorsearchutil_spark.operators.textanalysis import token_entropy

    docs = spark.createDataFrame(
        [(0, "a b c d"), (1, "a a a a"), (2, "a a b b")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in token_entropy(docs).collect()}
    assert out[0]["entropy_bits"] == pytest.approx(2.0)  # uniform over 4
    assert out[1]["entropy_bits"] == pytest.approx(0.0)  # degenerate
    assert out[2]["entropy_bits"] == pytest.approx(1.0)
    assert out[0]["n_tokens"] == 4 and out[0]["n_distinct"] == 4


def test_token_entropy_matches_direct_formula(spark):
    from vectorsearchutil_spark.operators.textanalysis import token_entropy

    text = "x x x y y z"
    docs = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    got = token_entropy(docs).first()["entropy_bits"]
    n = 6
    want = -sum(
        (c / n) * math.log2(c / n) for c in (3, 2, 1)
    )
    assert got == pytest.approx(want, abs=1e-4)


def test_semdedup_drops_planted_near_duplicates(spark):
    from vectorsearchutil_spark.operators.similarity import semdedup

    # two tight groups far apart + one singleton; near-duplicates
    # within a group must collapse to the lowest id. Ids 0/1/2 are
    # one per group because k-means seeds from the k lowest ids.
    rows = (
        [(0, [1.0, 0.0]), (1, [-1.0, 0.0]), (2, [0.0, 1.0])]
        + [(3 + i, [1.0, 0.001 * (i + 1)]) for i in range(4)]   # ≈ id 0
        + [(13 + i, [-1.0, 0.001 * (i + 1)]) for i in range(4)]  # ≈ id 1
    )
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["vec_id"]: r["kept"] for r in semdedup(
        emb, k=3, iterations=2, threshold=0.999
    ).collect()}
    assert len(out) == 11
    assert out[0] and out[1] and out[2]  # group minima + singleton
    assert not any(out[3 + i] for i in range(4))
    assert not any(out[13 + i] for i in range(4))


def test_semdedup_partition_invariant(spark, sf_dir):
    from vectorsearchutil_spark.operators.similarity import semdedup
    from vectorsearchutil_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = sorted(
        (r["vec_id"], r["kept"])
        for r in semdedup(emb.repartition(1), threshold=0.3).collect()
    )
    b = sorted(
        (r["vec_id"], r["kept"])
        for r in semdedup(emb.repartition(16), threshold=0.3).collect()
    )
    assert a == b and len(a) > 0


def test_hard_negatives_excludes_same_label_and_ranks(spark):
    from vectorsearchutil_spark.operators.similarity import (
        hard_negative_mining,
    )

    rows = [
        (0, 0, [1.0, 0.0]),      # anchor, label 0
        (1, 0, [1.0, 0.001]),    # same label — must NEVER appear
        (2, 1, [1.0, 0.01]),     # hardest negative (closest, label 1)
        (3, 1, [0.9, 0.3]),      # second
        (4, 2, [0.0, 1.0]),      # distant negative
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    anchors = emb.filter("vec_id = 0")
    out = hard_negative_mining(emb, anchors, k=2).collect()
    got = [(r["vec_id"], r["rank"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert got == [(2, 1), (3, 2)]
    assert all(r["anchor_id"] == 0 for r in out)


def test_hard_negatives_plan_is_group_limited(spark, sf_dir):
    """The per-anchor cut must compile to WindowGroupLimit so tasks
    forward at most k rows per anchor before the shuffle."""
    from vectorsearchutil_spark.operators.similarity import (
        hard_negative_mining,
    )
    from vectorsearchutil_spark.plans.explain import formatted_plan
    from vectorsearchutil_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter("vec_id < 5")
    plan = formatted_plan(hard_negative_mining(emb, anchors, k=3))
    assert "WindowGroupLimit" in plan


def test_token_budget_sample_respects_budgets(spark):
    from vectorsearchutil_spark.operators.sampling import token_budget_sample

    rows = [(i, "a " * 10, "s0") for i in range(50)] + [
        (100 + i, "b " * 10, "s1") for i in range(50)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = token_budget_sample(
        docs, {"s0": 100, "s1": 35}
    ).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    # 10 tokens/doc: s0 fits exactly 10 docs, s1 exactly 3 (35//10)
    assert len(by_src["s0"]) == 10
    assert len(by_src["s1"]) == 3
    assert max(r["cum_tokens"] for r in by_src["s0"]) == 100
    assert max(r["cum_tokens"] for r in by_src["s1"]) == 30


def test_token_budget_sample_partition_invariant(spark):
    from vectorsearchutil_spark.operators.sampling import token_budget_sample

    rows = [
        (i, "w " * (5 + i % 7), "s" + str(i % 2)) for i in range(200)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    a = sorted(
        tuple(r)
        for r in token_budget_sample(
            docs.repartition(1), {"s0": 300, "s1": 300}
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in token_budget_sample(
            docs.repartition(16), {"s0": 300, "s1": 300}
        ).collect()
    )
    assert a == b and len(a) > 0


def test_hard_negatives_ivf_all_probes_equals_exact(spark, sf_dir):
    """With n_probe = n_lists the IVF-pruned miner must equal the
    brute-force miner exactly; with n_probe=1 it returns a (possibly
    partial) subset-by-anchor with correct internal ranking."""
    import pyspark.sql.functions as F

    from vectorsearchutil_spark.operators.clustering import kmeans
    from vectorsearchutil_spark.operators.similarity import (
        build_ivf_index,
        hard_negative_mining,
        hard_negatives_ivf,
    )
    from vectorsearchutil_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    _, cents = kmeans(emb, k=4, iterations=2)
    centroids = cents.selectExpr(
        "cid AS centroid_id", "cv AS centroid_vec"
    )
    indexed = build_ivf_index(emb, centroids)
    anchors = emb.filter(F.col("vec_id") < 5)
    exact = sorted(
        tuple(r)
        for r in hard_negative_mining(emb, anchors, k=3).collect()
    )
    full = sorted(
        tuple(r)
        for r in hard_negatives_ivf(
            indexed, centroids, anchors, k=3, n_probe=4
        ).collect()
    )
    assert full == exact and len(full) == 15
    pruned = hard_negatives_ivf(
        indexed, centroids, anchors, k=3, n_probe=1
    ).collect()
    assert len(pruned) <= 15
    ranks = {}
    for r in pruned:
        ranks.setdefault(r["anchor_id"], []).append(r["rank"])
    for rs in ranks.values():
        assert sorted(rs) == list(range(1, len(rs) + 1))


# ------------------------------------------------- JL random projection


def test_random_projection_preserves_distances(spark):
    """JL property: squared pairwise distances survive 64→16 within
    a loose multiplicative band on a deterministic spread-out set."""
    import numpy as np

    from vectorsearchutil_spark.operators.embeddings import (
        jl_signs,
        random_projection,
    )

    rng_rows = [
        (
            i,
            [
                float(((i * 37 + d * 11) % 97) / 97.0 - 0.5)
                for d in range(64)
            ],
        )
        for i in range(40)
    ]
    df = spark.createDataFrame(rng_rows, "vec_id long, embedding array<double>")
    out = random_projection(df, out_dim=16).collect()
    P = np.zeros((40, 16))
    for r in out:
        P[r["vec_id"], r["dim"] - 1] = r["value"]
    X = np.array([r[1] for r in rng_rows])
    # matches the numpy definition with the same sign matrix
    S = np.array(jl_signs(64, 16), dtype=float)
    assert np.allclose(P, X @ S.T / 4.0, atol=1e-9)
    d_hi = np.linalg.norm(X[:, None] - X[None, :], axis=2)
    d_lo = np.linalg.norm(P[:, None] - P[None, :], axis=2)
    iu = np.triu_indices(40, 1)
    ratio = d_lo[iu] / d_hi[iu]
    # loose JL band for out_dim=16 on 40 points
    assert 0.4 < ratio.min() and ratio.max() < 1.8
    assert abs(float(np.median(ratio)) - 1.0) < 0.25


def test_random_projection_partitioning_invariant(spark):
    from vectorsearchutil_spark.operators.embeddings import (
        random_projection,
    )

    df = spark.createDataFrame(
        [(i, [float((i + d) % 7) - 3.0 for d in range(8)]) for i in range(100)],
        "vec_id long, embedding array<double>",
    )
    a = {
        (r["vec_id"], r["dim"]): r["value"]
        for r in random_projection(df, out_dim=4).collect()
    }
    b = {
        (r["vec_id"], r["dim"]): r["value"]
        for r in random_projection(df.repartition(13), out_dim=4).collect()
    }
    assert a == b  # bitwise


def test_random_projection_empty_in_empty_out(spark):
    """Round-5 contract change: empty (or all-null) input yields an
    EMPTY typed result instead of raising — the registry-wide
    empty-input sweep made empty-in/empty-out the uniform query
    surface convention for transforms."""
    from vectorsearchutil_spark.operators.embeddings import (
        random_projection,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = random_projection(empty)
    assert out.count() == 0
    assert out.columns == ["id", "dim", "value"]


# ----------------------------------------- winsorize / basket lift


def test_winsorize_bounds_and_flags(spark, sf_dir):
    from vectorsearchutil_spark import queries as Q

    rows = Q.QUERIES["events_value_winsorized"](spark, sf_dir).collect()
    assert rows
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for t, rs in by_type.items():
        vals = [r["value_w"] for r in rs]
        lo, hi = min(vals), max(vals)
        # clipped rows sit exactly at the bound; ~90% are unclipped
        n_clip = sum(r["clipped_lo"] or r["clipped_hi"] for r in rs)
        assert n_clip <= 0.11 * len(rs) + 2
        for r in rs:
            if r["clipped_lo"]:
                assert r["value_w"] == lo
            if r["clipped_hi"]:
                assert r["value_w"] == hi


def test_basket_lift_hand_case(spark, tmp_path, monkeypatch):
    """3 users: u1 {A,B}, u2 {A,B}, u3 {A}. support(A,B)=2/3,
    lift = (2·3)/(3·2) = 1.0."""
    import pyspark.sql.functions as F

    from vectorsearchutil_spark import queries as Q

    ev = spark.createDataFrame(
        [
            (1, 1, "A", 0.0), (2, 1, "B", 0.0), (3, 1, "A", 0.0),
            (4, 2, "A", 0.0), (5, 2, "B", 0.0),
            (6, 3, "A", 0.0),
        ],
        "event_id long, user_id long, event_type string, value double",
    )
    d = str(tmp_path)
    ev.withColumn("ts", F.current_timestamp()).withColumn(
        "props", F.lit("{}")
    ).write.parquet(f"{d}/events.parquet")
    rows = Q.QUERIES["events_basket_lift"](spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["type_a"], r["type_b"], r["n_ab"]) == ("A", "B", 2)
    assert r["support"] == round(2 / 3, 6)
    assert r["lift"] == 1.0


# ----------------------------------------- calibration / drift PSI


def test_calibrated_quality_source_fair(spark, sf_dir):
    """The top-quartile cut takes ~25% from EVERY source — the whole
    point vs a global threshold."""
    from vectorsearchutil_spark import queries as Q

    rows = Q.QUERIES["docs_calibrated_quality"](spark, sf_dir).collect()
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r["keep_top_quartile"])
    assert len(by_src) > 1
    for src, keeps in by_src.items():
        frac = sum(keeps) / len(keeps)
        assert 0.15 <= frac <= 0.35, (src, frac)


def test_dim_drift_psi_detects_planted_shift(spark, tmp_path):
    """Identical halves → PSI ≈ 0 everywhere; shifting ONE dimension
    in the odd half makes exactly that dimension's PSI stand out."""
    import pyspark.sql.functions as F

    from vectorsearchutil_spark import queries as Q

    emb = spark.range(2000).selectExpr(
        "id AS vec_id",
        "transform(sequence(0, 63), d -> cast(pmod(xxhash64(id div 2, d),"
        " 1000) / 500.0 - 1.0 AS FLOAT)) AS embedding",
        "cast(0 AS INT) AS label",
    )
    # consecutive (even, odd) ids share a vector → halves identical
    d = str(tmp_path / "same")
    emb.write.parquet(f"{d}/embeddings.parquet")
    base = {
        r["i"]: r["psi"]
        for r in Q.QUERIES["embeddings_dim_drift_psi"](spark, d).collect()
    }
    assert max(abs(v) for v in base.values()) < 1e-6

    shifted = emb.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") % 2 == 1,
            F.expr(
                "transform(embedding, (x, d) ->"
                " IF(d = 7, cast(least(x + 0.8, 0.999) AS FLOAT), x))"
            ),
        ).otherwise(F.col("embedding")),
    )
    d2 = str(tmp_path / "shift")
    shifted.write.parquet(f"{d2}/embeddings.parquet")
    moved = {
        r["i"]: r["psi"]
        for r in Q.QUERIES["embeddings_dim_drift_psi"](spark, d2).collect()
    }
    assert moved[8] > 0.5  # dim index 7 → i = 8 (1-based)
    others = [abs(v) for k, v in moved.items() if k != 8]
    assert max(others) < 1e-6


# --------------------------------------------------- Pareto frontier


def test_pareto_frontier_matches_naive(spark):
    """Aggregated-sweep skyline equals the O(n²) dominance definition
    on adversarial inputs: duplicate points, ties on each axis, a
    strictly-dominated chain."""
    from vectorsearchutil_spark.operators.skyline import pareto_frontier_2d

    pts = [
        (1, 10, 0.9), (2, 10, 0.9),   # duplicate frontier point
        (3, 10, 0.5),                  # dominated at same x
        (4, 5, 0.7), (5, 5, 0.7),      # shorter, lower quality — frontier
        (6, 20, 0.9),                  # same max as x=10 but longer → out
        (7, 20, 0.95),                 # longer but strictly better → in
        (8, 3, 0.1),                   # shortest → always in
        (9, 30, 0.2),                  # dominated by nearly everything
    ]
    df = spark.createDataFrame(pts, "id long, n int, q double")
    naive = {
        p[0]
        for p in pts
        if not any(
            o[1] <= p[1] and o[2] >= p[2] and (o[1] < p[1] or o[2] > p[2])
            for o in pts
        )
    }
    got = {
        r["id"]
        for r in pareto_frontier_2d(df, "q", "n").collect()
    }
    assert got == naive == {1, 2, 4, 5, 7, 8}
    # partitioning-invariant
    got2 = {
        r["id"]
        for r in pareto_frontier_2d(df.repartition(5), "q", "n").collect()
    }
    assert got2 == naive


def test_pareto_frontier_nulls_excluded(spark):
    from vectorsearchutil_spark.operators.skyline import pareto_frontier_2d

    df = spark.createDataFrame(
        [(1, 5, 0.5), (2, None, 0.9), (3, 4, None)],
        "id long, n int, q double",
    )
    got = {r["id"] for r in pareto_frontier_2d(df, "q", "n").collect()}
    assert got == {1}


# ------------------------------------------- MAD / n-gram diversity


def test_mad_outliers_resist_contamination(spark, tmp_path):
    """A planted extreme block must be flagged WITHOUT dragging the
    threshold (the failure mode of mean/stddev z-scores)."""
    import pyspark.sql.functions as F

    from vectorsearchutil_spark import queries as Q

    normal = [(i, 1, "A", 100.0 + (i % 7)) for i in range(200)]
    spikes = [(1000 + i, 1, "A", 10_000.0) for i in range(20)]
    ev = spark.createDataFrame(
        normal + spikes,
        "event_id long, user_id long, event_type string, value double",
    )
    d = str(tmp_path)
    ev.withColumn("ts", F.current_timestamp()).withColumn(
        "props", F.lit("{}")
    ).write.parquet(f"{d}/events.parquet")
    got = {
        r["event_id"]
        for r in Q.QUERIES["events_value_mad_outliers"](spark, d).collect()
    }
    assert got == {1000 + i for i in range(20)}


def test_ngram_diversity_orders_sources(spark, tmp_path):
    """A copy-paste source scores far lower TTR than a varied one."""
    import pyspark.sql.functions as F

    from vectorsearchutil_spark import queries as Q

    rep = [(i, "rep", "the same exact line again and again") for i in range(30)]
    var = [
        (100 + i, "var", " ".join(f"u{i}w{j}" for j in range(7)))
        for i in range(30)
    ]
    docs = spark.createDataFrame(
        rep + var, "doc_id long, source string, text string"
    )
    docs.write.parquet(f"{tmp_path}/documents.parquet")
    got = {
        r["source"]: (r["trigram_ttr"], r["token_ttr"])
        for r in Q.QUERIES["docs_ngram_diversity"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got["var"][0] == 1.0 and got["var"][1] == 1.0
    assert got["rep"][0] < 0.05 and got["rep"][1] < 0.05


def test_calibrated_quality_single_doc_source(spark, tmp_path):
    """A one-doc source must calibrate to pct 0 (the PERCENT_RANK
    definition), not divide by n-1 = 0."""
    from vectorsearchutil_spark import queries as Q

    docs = spark.createDataFrame(
        [(1, "solo", "alpha beta gamma delta"),
         (2, "big", "one two three four"),
         (3, "big", "five six seven eight nine ten")],
        "doc_id long, source string, text string",
    )
    docs.write.parquet(f"{tmp_path}/documents.parquet")
    got = {
        r["doc_id"]: r["pct_in_source"]
        for r in Q.QUERIES["docs_calibrated_quality"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got[1] == 0.0


def test_mad_outliers_zero_mad_group_yields_none(spark, tmp_path):
    """A group where >half the values are identical has MAD 0 —
    declared: no outliers, and under ANSI the division must never
    evaluate (this crashed before the guard)."""
    import pyspark.sql.functions as F

    from vectorsearchutil_spark import queries as Q

    ev = spark.createDataFrame(
        [(i, 1, "Z", 50.0) for i in range(60)]
        + [(100 + i, 1, "Z", 9999.0) for i in range(5)],
        "event_id long, user_id long, event_type string, value double",
    )
    d = str(tmp_path)
    ev.withColumn("ts", F.current_timestamp()).withColumn(
        "props", F.lit("{}")
    ).write.parquet(f"{d}/events.parquet")
    assert Q.QUERIES["events_value_mad_outliers"](spark, d).count() == 0


def test_deciles_two_level_equals_ntile(spark, tmp_path):
    """The arithmetic NTILE reconstruction equals F.ntile exactly —
    duplicate balances, n < k, and n % k != 0 all covered."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from vectorsearchutil_spark import queries as Q

    for n in (7, 23, 100):
        rows = [
            (i, float((i * 13) % 9))  # heavy balance ties
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, "c_custkey long, c_acctbal double")
        (
            df.withColumn("c_name", F.lit("x"))
            .withColumn("c_nationkey", F.lit(0))
        ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
        got = {
            r["c_custkey"]: r["decile"]
            for r in Q.QUERIES["customers_acctbal_deciles"](
                spark, str(tmp_path)
            ).collect()
        }
        w = Window.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
        want = {
            r["c_custkey"]: r["d"]
            for r in df.select(
                "c_custkey", F.ntile(10).over(w).cast("int").alias("d")
            ).collect()
        }
        assert got == want, n

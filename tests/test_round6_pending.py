"""Unit tests for the round-6 operator wave
(vectorsearchutil_spark/queries.py). Oracle parity runs through
tools/check_oracles.py; these tests pin the operator SEMANTICS and
the partitioning-invariance / bounded-state contracts."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- contamination


def test_contamination_ratio_handmade(spark):
    from vectorsearchutil_spark.operators.textanalysis import (
        benchmark_contamination,
    )

    bench = spark.createDataFrame(
        [(1, "a b c d e")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (10, "a b c d e"),      # 2 distinct 4-grams, both leaked
            (11, "a b c d x y"),    # 3 grams: 'a_b_c_d' leaked, 2 not
            (12, "p q r s t u"),    # 3 grams, clean
            (13, "p q"),            # sub-4-token: zero grams
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in benchmark_contamination(train, bench, n=4).collect()
    }
    assert got[10]["n_grams"] == 2 and got[10]["contamination_ratio"] == 1.0
    assert got[11]["n_grams"] == 3 and got[11]["n_contaminated"] == 1
    assert got[11]["contamination_ratio"] == pytest.approx(1 / 3, abs=1e-6)
    assert got[12]["n_contaminated"] == 0
    assert got[12]["contamination_ratio"] == 0.0
    assert got[13]["n_grams"] == 0 and got[13]["contamination_ratio"] == 0.0


# ---------------------------------------------------------------- keep-best


def test_keep_best_takes_highest_score_then_lowest_id(spark):
    from vectorsearchutil_spark.operators.dedup import (
        keep_best_representative,
    )

    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5), (9, 99)],
        "doc_id long, score long",
    )
    # cluster {1,2,3} (via chain 1-2, 2-3) and {4}? 4 unpaired; 9 unpaired
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"
    )
    kept = sorted(
        r["doc_id"]
        for r in keep_best_representative(docs, pairs, "score").collect()
    )
    # cluster survivor = id 2 (score 30 ties with 3 → lower id wins);
    # unpaired 4 and 9 pass through
    assert kept == [2, 4, 9]


def test_keep_best_null_score_loses(spark):
    from vectorsearchutil_spark.operators.dedup import (
        keep_best_representative,
    )

    docs = spark.createDataFrame(
        [(1, None), (2, 1)], "doc_id long, score long"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    kept = [
        r["doc_id"]
        for r in keep_best_representative(docs, pairs, "score").collect()
    ]
    assert kept == [2]


# ---------------------------------------------------------------- t-digest


def _tdigest(spark, rows, **kw):
    from vectorsearchutil_spark.operators.sketches import tdigest_centroids

    df = spark.createDataFrame(rows, "id long, v double")
    return tdigest_centroids(df, "v", "id", **kw)


def test_tdigest_partitioning_invariance(spark):
    from vectorsearchutil_spark.operators.sketches import (
        tdigest_centroids,
        tdigest_quantiles,
    )

    rows = [(i, float((i * 37) % 101)) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v double")
    a = tdigest_quantiles(
        tdigest_centroids(df, "v", "id", n_buckets=8, n_centroids=16),
        [0.5, 0.9],
    ).collect()
    b = tdigest_quantiles(
        tdigest_centroids(
            df.repartition(13), "v", "id", n_buckets=8, n_centroids=16
        ),
        [0.5, 0.9],
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_tdigest_merge_is_union(spark):
    """The sketch contract: sketching two disjoint halves and
    CONCATENATING the centroid tables estimates from the union of
    their state — no re-touch of raw rows."""
    from vectorsearchutil_spark.operators.sketches import (
        tdigest_centroids,
        tdigest_quantiles,
    )

    rows = [(i, float((i * 17) % 251)) for i in range(600)]
    df = spark.createDataFrame(rows, "id long, v double")
    half1 = df.filter(F.col("id") < 300)
    half2 = df.filter(F.col("id") >= 300)
    merged = tdigest_centroids(
        half1, "v", "id", n_buckets=8, n_centroids=16
    ).unionByName(
        tdigest_centroids(half2, "v", "id", n_buckets=8, n_centroids=16)
    )
    ests = {
        r["q"]: r["est"]
        for r in tdigest_quantiles(merged, [0.1, 0.5, 0.9]).collect()
    }
    exact = sorted(v for _, v in rows)
    n = len(exact)
    for q, est in ests.items():
        lo = exact[max(0, int(q * n) - int(n * 0.08) - 1)]
        hi = exact[min(n - 1, int(q * n) + int(n * 0.08))]
        assert lo <= est <= hi, f"q={q}: est {est} outside [{lo}, {hi}]"


def test_tdigest_state_is_constant_size(spark):
    cents = _tdigest(
        spark,
        [(i, float(i)) for i in range(2000)],
        n_buckets=4,
        n_centroids=8,
    )
    assert cents.count() <= 4 * 8


# ---------------------------------------------------------------- reranker


def test_rerank_stub_score_matches_manual(spark):
    from vectorsearchutil_spark.operators.reranker import rerank_shortlist

    short = spark.createDataFrame(
        [(1, 100, 0.5), (1, 101, 0.9), (1, 102, 0.7)],
        "query_id long, vec_id long, score double",
    )
    out = {
        r["vec_id"]: r
        for r in rerank_shortlist(short, k=3, id_col="vec_id").collect()
    }

    def manual(q, d, s):
        u = int(hashlib.md5(f"ce:{q}:{d}".encode()).hexdigest()[:8], 16)
        ce = 0.8 * s + 0.2 * (u / 4294967296.0)
        import math

        return math.floor(ce * 1e6 + 0.5) / 1e6

    for d, s in [(100, 0.5), (101, 0.9), (102, 0.7)]:
        assert out[d]["ce_score"] == manual(1, d, s)
    by_rank = sorted(out.values(), key=lambda r: r["rank"])
    assert [r["rank"] for r in by_rank] == [1, 2, 3]
    scores = [r["ce_score"] for r in by_rank]
    assert scores == sorted(scores, reverse=True)  # rank follows score desc


def test_rerank_keeps_k_per_query(spark):
    from vectorsearchutil_spark.operators.reranker import rerank_shortlist

    short = spark.createDataFrame(
        [(q, d, float(d % 7) / 7.0) for q in (1, 2) for d in range(20)],
        "query_id long, vec_id long, score double",
    )
    out = rerank_shortlist(short, k=5, id_col="vec_id")
    per_q = (
        out.groupBy("query_id").count().orderBy("query_id").collect()
    )
    assert [(r["query_id"], r["count"]) for r in per_q] == [(1, 5), (2, 5)]


def test_try_load_cross_encoder_absent_returns_none():
    from vectorsearchutil_spark.operators.reranker import (
        try_load_cross_encoder,
    )

    assert try_load_cross_encoder("any-model") is None


# ---------------------------------------------------------------- skew report


def test_skew_report_math(spark):
    from vectorsearchutil_spark.functions.skew import skew_report

    df = spark.createDataFrame(
        [("hot",)] * 80 + [("warm",)] * 15 + [(None,)] * 5,
        "k string",
    )
    rows = skew_report(df, "k", top_n=2, target_share=0.10).collect()
    assert [r["key"] for r in rows] == ["hot", "warm"]
    hot = rows[0]
    assert hot["n_rows"] == 80
    assert hot["share"] == 0.8
    assert hot["suggested_salt"] == 8  # ceil(0.8 / 0.1)


def test_skew_report_nulls_are_a_group(spark):
    from vectorsearchutil_spark.functions.skew import skew_report

    df = spark.createDataFrame([(None,), (None,), ("a",)], "k string")
    rows = skew_report(df, "k", top_n=10).collect()
    assert rows[0]["key"] == "<null>" and rows[0]["n_rows"] == 2


# ---------------------------------------------------------------- truncation


def test_truncation_stats_handmade(spark):
    from vectorsearchutil_spark.operators.textanalysis import (
        truncation_stats,
    )

    # BPE-ish tokens: 'aa bb' -> ['aa', ' bb'] = 2 tokens
    docs = spark.createDataFrame(
        [(1, "aa bb cc dd"), (2, "aa")],  # 4 and 1 tokens
        "doc_id long, text string",
    )
    rows = {
        r["ctx_len"]: r
        for r in truncation_stats(docs, [2, 8]).collect()
    }
    assert rows[2]["n_truncated"] == 1
    assert rows[2]["lost_tokens"] == 2  # doc1 loses 4-2
    assert rows[2]["total_tokens"] == 5
    assert rows[2]["lost_frac"] == 0.4
    assert rows[8]["n_truncated"] == 0 and rows[8]["lost_frac"] == 0.0


# ---------------------------------------------------------------- containment


def test_containment_finds_short_in_long(spark):
    from vectorsearchutil_spark.operators.dedup import containment_pairs

    long_text = " ".join(f"w{i}" for i in range(40))
    short_text = " ".join(f"w{i}" for i in range(10, 20))  # embedded run
    other = " ".join(f"z{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, long_text), (2, short_text), (3, other)],
        "doc_id long, text string",
    )
    rows = containment_pairs(docs, n=3, threshold=0.9).collect()
    assert [(r["id_a"], r["id_b"]) for r in rows] == [(1, 2)]
    assert rows[0]["containment"] == 1.0


def test_containment_jaccard_would_miss_it(spark):
    """The motivating case: containment 1.0 but Jaccard far below
    any dedup threshold."""
    from vectorsearchutil_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    long_text = " ".join(f"w{i}" for i in range(60))
    short_text = " ".join(f"w{i}" for i in range(10, 18))
    docs = spark.createDataFrame(
        [(1, long_text), (2, short_text)], "doc_id long, text string"
    )
    assert containment_pairs(docs, n=3, threshold=0.9).count() == 1
    assert ngram_jaccard_pairs(docs, n=3, threshold=0.8).count() == 0


def test_containment_partitioning_invariance(spark):
    from vectorsearchutil_spark.operators.dedup import containment_pairs

    docs = spark.createDataFrame(
        [
            (i, " ".join(f"t{(i * 7 + j) % 50}" for j in range(20)))
            for i in range(60)
        ],
        "doc_id long, text string",
    )
    a = sorted(
        map(tuple, containment_pairs(docs, n=3, threshold=0.8).collect())
    )
    b = sorted(
        map(
            tuple,
            containment_pairs(
                docs.repartition(7), n=3, threshold=0.8
            ).collect(),
        )
    )
    assert a == b and len(a) > 0


# ---------------------------------------------------------------- hubness


def test_hubness_arrow_matches_expression(spark, monkeypatch):
    """Strategy equality: the gated Arrow path (forced by a zero
    Arrow wall) must reproduce the JVM expression path's counts
    exactly (bit-identical scores → identical ranks)."""
    from vectorsearchutil_spark import session
    from vectorsearchutil_spark.operators.knn import knn_hubness

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    expr = {
        (r["vec_id"], r["k_occurrence"])
        for r in knn_hubness(
            emb, k=5, vector_col="embedding", id_col="vec_id"
        ).collect()
    }
    monkeypatch.setattr(session, "ARROW_MIN_CELLS", 0)
    arrow = {
        (r["vec_id"], r["k_occurrence"])
        for r in knn_hubness(
            emb, k=5, vector_col="embedding", id_col="vec_id"
        ).collect()
    }
    assert expr == arrow


def test_hubness_excludes_invalid_vectors(spark):
    from vectorsearchutil_spark.operators.knn import knn_hubness

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.0, 0.0]),        # zero-norm: excluded
            (4, None),              # NULL: excluded
            (5, [float("nan"), 1.0]),  # non-finite: excluded
        ],
        "id long, vector array<double>",
    )
    got = {
        r["id"]: r["k_occurrence"]
        for r in knn_hubness(df, k=1).collect()
    }
    # 1 and 2 are each other's only neighbour; 3/4/5 present with 0
    assert got == {1: 1, 2: 1, 3: 0, 4: 0, 5: 0}


# ---------------------------------------------------------------- fk audit


def test_fk_orphan_audit_counts(spark):
    from vectorsearchutil_spark.operators.integrity import fk_orphan_audit

    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 20), (4, 99), (5, None)],
        "id long, fk long",
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    row = fk_orphan_audit(
        [("child->parent", child, "fk", parent, "pk")]
    ).collect()[0]
    assert row["n_children"] == 5
    assert row["n_distinct_keys"] == 3
    assert row["n_orphan_rows"] == 1  # the fk=99 row; NULL not orphan
    assert row["n_orphan_keys"] == 1
    assert row["orphan_rate"] == 0.2


# ---------------------------------------------------------------- retrieval eval


def test_retrieval_metrics_handmade(spark):
    """2-D geometry with known ranking: query label 1 at (1,0);
    corpus: (1,0.01)->label 1 (rank 1, rel), (0.9,0.2)->label 0
    (rank 2), (0.5,0.5)->label 1 (rank 3, rel)."""
    import math

    from pyspark.sql import functions as F

    from vectorsearchutil_spark.operators.evaluation import (
        retrieval_label_metrics,
    )

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 1),        # the query
            (10, [1.0, 0.01], 1),
            (11, [0.9, 0.2], 0),
            (12, [0.5, 0.5], 1),
        ],
        "vec_id long, embedding array<double>, label int",
    )
    row = retrieval_label_metrics(
        emb, F.col("vec_id") < 10, k=10, id_col="vec_id"
    ).collect()[0]
    assert row["n_relevant"] == 2
    assert row["mrr"] == 1.0
    d = [
        int(math.floor(1e12 / math.log2(r + 1) + 0.5)) for r in (1, 2, 3)
    ]
    dcg = d[0] + d[2]       # relevant at ranks 1 and 3
    idcg = d[0] + d[1]      # ideal: both relevant up front
    want = math.floor(dcg / idcg * 1e6 + 0.5) / 1e6
    assert row["ndcg"] == want


def test_retrieval_metrics_no_relevant_is_zero(spark):
    from pyspark.sql import functions as F

    from vectorsearchutil_spark.operators.evaluation import (
        retrieval_label_metrics,
    )

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0], 5), (10, [1.0, 0.1], 7)],
        "vec_id long, embedding array<double>, label int",
    )
    row = retrieval_label_metrics(
        emb, F.col("vec_id") < 10, k=10, id_col="vec_id"
    ).collect()[0]
    assert row["mrr"] == 0.0 and row["ndcg"] == 0.0


# ---------------------------------------------------------------- pct rank


def test_percentile_rank_handmade(spark):
    from vectorsearchutil_spark.operators.sketches import (
        percentile_rank_enrich,
    )

    df = spark.createDataFrame(
        [
            (1, "a", 1.0),
            (2, "a", 2.0),
            (3, "a", 2.0),   # tie with id 2
            (4, "a", 5.0),
            (5, "b", 7.0),   # singleton group -> NULL (n-1 = 0)
            (6, "a", None),  # NULL value -> NULL rank
        ],
        "id long, g string, v double",
    )
    got = {
        r["id"]: r["pct_rank"]
        for r in percentile_rank_enrich(df, "v", "g", "id").collect()
    }
    assert got[1] == 0.0
    assert got[2] == got[3] == pytest.approx(1 / 3, abs=1e-6)
    assert got[4] == 1.0
    assert got[5] is None and got[6] is None


def test_percentile_rank_matches_percent_rank_when_distinct(spark):
    """On all-distinct cent-quantized values the two-level result
    equals SQL percent_rank over raw rows."""
    from pyspark.sql import Window

    from vectorsearchutil_spark.operators.sketches import (
        percentile_rank_enrich,
    )

    df = spark.createDataFrame(
        [(i, "g", float((i * 37) % 97)) for i in range(200)],
        "id long, g string, v double",
    )
    got = {
        r["id"]: r["pct_rank"]
        for r in percentile_rank_enrich(df, "v", "g", "id").collect()
    }
    import math

    w = Window.partitionBy("g").orderBy("v")
    want = {
        r["id"]: math.floor(r["pr"] * 1e6 + 0.5) / 1e6
        for r in df.withColumn(
            "pr", F.percent_rank().over(w)
        ).collect()
    }
    assert got == want


# ---------------------------------------------------------------- blocklist


def test_blocklist_screen_counts_occurrences(spark):
    from vectorsearchutil_spark.operators.textanalysis import (
        blocklist_screen,
    )

    docs = spark.createDataFrame(
        [
            (1, "spam spam good words here"),  # 2/5 blocked
            (2, "clean text only"),
            (3, ""),  # empty → zero tokens, frac 0, keep
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in blocklist_screen(docs, max_bad_frac=0.05).collect()
    }
    assert got[1]["n_blocked"] == 2 and got[1]["n_tokens"] == 5
    assert got[1]["blocked_frac"] == pytest.approx(0.4)
    assert got[1]["keep"] is False
    assert got[2]["n_blocked"] == 0 and got[2]["keep"] is True
    assert got[3]["n_tokens"] == 0 and got[3]["keep"] is True


def test_blocklist_custom_list(spark):
    from vectorsearchutil_spark.operators.textanalysis import (
        blocklist_screen,
    )

    docs = spark.createDataFrame(
        [(1, "aa bb cc")], "doc_id long, text string"
    )
    row = blocklist_screen(docs, badwords=["bb"]).collect()[0]
    assert row["n_blocked"] == 1


# ---------------------------------------------------------------- norm dedup


def test_normalized_dedup_collapses_case_punct_ws(spark):
    from vectorsearchutil_spark.operators.dedup import (
        normalized_exact_dedup,
    )

    docs = spark.createDataFrame(
        [
            (1, "Hello,   World!", "en", "s0", 15),
            (2, "hello world", "en", "s1", 11),  # same normalized
            (3, "HELLO-WORLD.", "en", "s2", 12),  # same normalized
            (4, "different text", "en", "s0", 14),
        ],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    got = {
        r["doc_id"]: r for r in normalized_exact_dedup(docs).collect()
    }
    assert set(got) == {1, 4}
    assert got[1]["n_members"] == 3
    assert got[4]["n_members"] == 1


def test_normalized_dedup_preserves_multibyte(spark):
    from vectorsearchutil_spark.operators.dedup import (
        normalized_exact_dedup,
    )

    # multi-byte text must NOT be corrupted by the ASCII-only rules:
    # the two docs differ only in CJK chars and must stay distinct
    docs = spark.createDataFrame(
        [
            (1, "你好 word", "zh", "s0", 7),
            (2, "再见 word", "zh", "s0", 7),
        ],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    assert normalized_exact_dedup(docs).count() == 2


# ---------------------------------------------------------------- zipf


def test_zipf_slope_on_exact_power_law(spark):
    import math

    from vectorsearchutil_spark.operators.textanalysis import zipf_fit

    # construct freq(rank) = round(1000 / rank) for ranks 1..20 by
    # repeating distinct tokens; slope must come out near -1
    rows = []
    for rank in range(1, 21):
        freq = max(1, round(1000 / rank))
        tok = f"t{rank:02d}"
        rows.extend([(i, tok) for i in range(freq)])
    docs = (
        spark.createDataFrame(rows, "i long, text string")
        .groupBy("text")
        .agg(F.count("*").alias("_n"))
        .select(
            F.monotonically_increasing_id().alias("doc_id"),
            F.concat_ws(
                " ", F.array_repeat(F.col("text"), F.col("_n").cast("int"))
            ).alias("text"),
        )
    )
    row = zipf_fit(docs, top_n=20).collect()[0]
    assert row["n_ranks"] == 20
    assert row["zipf_slope"] == pytest.approx(-1.0, abs=0.02)
    assert math.exp(row["zipf_intercept"]) == pytest.approx(1000, rel=0.05)


def test_zipf_partitioning_invariance(spark):
    from vectorsearchutil_spark.operators.textanalysis import zipf_fit

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    )
    a = zipf_fit(docs.repartition(1), top_n=50).collect()[0]
    b = zipf_fit(docs.repartition(13), top_n=50).collect()[0]
    assert a == b


# ---------------------------------------------------------------- js divergence


def test_js_divergence_identical_sources_zero(spark):
    from vectorsearchutil_spark.operators.textanalysis import (
        js_divergence_by_source,
    )

    docs = spark.createDataFrame(
        [(1, "a b c", "s1"), (2, "a b c", "s2")],
        "doc_id long, text string, source string",
    )
    row = js_divergence_by_source(docs).collect()[0]
    assert row["js_nats"] == pytest.approx(0.0, abs=1e-9)


def test_js_divergence_bounded_and_symmetric_inputs(spark):
    import math

    from vectorsearchutil_spark.operators.textanalysis import (
        js_divergence_by_source,
    )

    docs = spark.createDataFrame(
        [(1, "a a a a", "s1"), (2, "b b b b", "s2")],
        "doc_id long, text string, source string",
    )
    row = js_divergence_by_source(docs).collect()[0]
    assert row["source_a"] == "s1" and row["source_b"] == "s2"
    # JS divergence is bounded by ln 2
    assert 0.0 < row["js_nats"] <= math.log(2.0) + 1e-9


# ---------------------------------------------------------------- top terms


def test_top_terms_ranking_rule(spark):
    from vectorsearchutil_spark.operators.textanalysis import (
        top_terms_per_doc,
    )

    docs = spark.createDataFrame(
        [
            # 'rare' appears twice here and nowhere else (tf=2, df=1);
            # 'common' tf=2 but df=3 → rare wins rank 1 on df ASC
            (1, "rare rare common common common filler"),
            (2, "common x"),
            (3, "common y"),
        ],
        "doc_id long, text string",
    )
    got = top_terms_per_doc(docs, k=2).filter(F.col("doc_id") == 1)
    rows = sorted(got.collect(), key=lambda r: r["rank"])
    assert rows[0]["term"] == "common"  # tf=3 beats tf=2
    assert rows[1]["term"] == "rare"
    assert rows[1]["tfidf"] > rows[0]["tfidf"]  # idf rewards rarity


def test_top_terms_k_bound(spark):
    from vectorsearchutil_spark.operators.textanalysis import (
        top_terms_per_doc,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    )
    out = top_terms_per_doc(docs, k=3)
    per_doc = out.groupBy("doc_id").count()
    assert per_doc.agg(F.max("count")).collect()[0][0] <= 3


# ---------------------------------------------------------------- langid eval


def test_langid_confusion_cells_sum_to_docs(spark):
    from vectorsearchutil_spark.operators.textanalysis import (
        langid_confusion,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    )
    cells = langid_confusion(docs)
    assert (
        cells.agg(F.sum("n_docs")).collect()[0][0] == docs.count()
    )
    shares = (
        cells.groupBy("label").agg(F.sum("label_share").alias("s"))
    )
    for r in shares.collect():
        assert r["s"] == pytest.approx(1.0, abs=1e-4)


# ---------------------------------------------------------------- zscore


def test_rolling_zscore_handmade(spark):
    from vectorsearchutil_spark.operators.analytics import rolling_zscore

    # user 1: five identical values then a spike — the spike's window
    # has zero variance → z NULL, not an anomaly flag
    # user 2: 1..5 then 100 → huge z, anomaly
    rows = []
    for i in range(5):
        rows.append((i, 1, f"2024-01-01 00:0{i}:00", 10.0))
    rows.append((5, 1, "2024-01-01 00:09:00", 99.0))
    for i in range(5):
        rows.append((10 + i, 2, f"2024-01-01 00:0{i}:00", float(i + 1)))
    rows.append((15, 2, "2024-01-01 00:09:00", 100.0))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {r["event_id"]: r for r in rolling_zscore(df).collect()}
    assert got[5]["zscore"] is None and got[5]["is_anomaly"] is False
    assert got[15]["zscore"] > 3 and got[15]["is_anomaly"] is True
    # early rows: not enough history
    assert got[0]["zscore"] is None and got[2]["zscore"] is None


def test_rolling_zscore_excludes_self(spark):
    from vectorsearchutil_spark.operators.analytics import rolling_zscore

    # 6 rows of alternating 0/10; each window sees the 5 PRECEDING
    # values only — if self leaked in, variance/mean would shift
    rows = [
        (i, 1, f"2024-01-01 00:0{i}:00", float(0 if i % 2 else 10))
        for i in range(6)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    row5 = {r["event_id"]: r for r in rolling_zscore(df).collect()}[5]
    # window of row 5 = rows 0..4 = [10,0,10,0,10] → mean 6, not incl 0
    s = [10.0, 0.0, 10.0, 0.0, 10.0]
    mean = sum(s) / 5
    var = sum((x - mean) ** 2 for x in s) / 5
    expect = (0.0 * 100 - mean * 100) / (var ** 0.5 * 100)
    assert row5["zscore"] == pytest.approx(expect, abs=1e-6)


# ---------------------------------------------------------------- interarrival


def test_interarrival_exact_order_statistic(spark):
    from vectorsearchutil_spark.operators.analytics import (
        interarrival_quantiles,
    )

    # one user, one type, gaps 10,20,30,40 seconds
    rows = [
        (1, 1, "click", "2024-01-01 00:00:00"),
        (2, 1, "click", "2024-01-01 00:00:10"),
        (3, 1, "click", "2024-01-01 00:00:30"),
        (4, 1, "click", "2024-01-01 00:01:00"),
        (5, 1, "click", "2024-01-01 00:01:40"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    row = interarrival_quantiles(df).collect()[0]
    assert row["n_gaps"] == 4
    # smallest g with count(<=g) >= 0.5*4=2 → 20; >= 0.9*4=3.6 → 40
    assert row["p50_gap_s"] == 20
    assert row["p90_gap_s"] == 40


def test_interarrival_gaps_do_not_cross_users(spark):
    from vectorsearchutil_spark.operators.analytics import (
        interarrival_quantiles,
    )

    rows = [
        (1, 1, "click", "2024-01-01 00:00:00"),
        (2, 2, "click", "2024-01-01 00:00:01"),  # different user
        (3, 1, "click", "2024-01-01 00:00:50"),
        (4, 2, "click", "2024-01-01 00:00:51"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    row = interarrival_quantiles(df).collect()[0]
    assert row["n_gaps"] == 2 and row["p50_gap_s"] == 50


# ---------------------------------------------------------------- yoy


def test_yoy_growth_handmade(spark):
    from vectorsearchutil_spark.operators.analytics import yoy_growth

    rows = [
        (1, "1995-03-15", 100.0),
        (2, "1995-03-20", 100.0),
        (3, "1996-03-10", 300.0),
        (4, "1996-05-10", 50.0),  # no prior-year May
    ]
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate string, o_totalprice double"
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    got = {r["month"]: r for r in yoy_growth(df).collect()}
    assert got["1995-03"]["revenue_cents"] == 20000
    assert got["1995-03"]["yoy_growth"] is None
    assert got["1996-03"]["yoy_growth"] == pytest.approx(0.5)
    assert got["1996-05"]["prev_year_cents"] is None


# ---------------------------------------------------------------- rfm


def test_rfm_quintiles_match_sql_ntile(spark):
    from vectorsearchutil_spark.operators.analytics import rfm_scores

    orders = spark.read.parquet(
        "/root/testdata/sf0.001/orders.parquet"
    )
    got = rfm_scores(orders)
    # exact-ntile must agree with Spark's own NTILE on every metric
    got.createOrReplaceTempView("_rfm_got")
    per_cust = got.select(
        "o_custkey", "recency_days", "frequency", "monetary_cents"
    )
    per_cust.createOrReplaceTempView("_rfm_base")
    ref = spark.sql(
        """
        SELECT o_custkey,
               NTILE(5) OVER (
                 ORDER BY recency_days ASC NULLS LAST, o_custkey ASC
               ) AS r_quintile,
               NTILE(5) OVER (
                 ORDER BY frequency DESC NULLS LAST, o_custkey ASC
               ) AS f_quintile,
               NTILE(5) OVER (
                 ORDER BY monetary_cents DESC NULLS LAST, o_custkey ASC
               ) AS m_quintile
        FROM _rfm_base
        """
    )
    diff = (
        got.select("o_custkey", "r_quintile", "f_quintile", "m_quintile")
        .exceptAll(ref)
    )
    assert diff.count() == 0


def test_rfm_recency_is_days_since_newest_order(spark):
    from vectorsearchutil_spark.operators.analytics import rfm_scores

    rows = [
        (1, 10, "1995-01-01", 10.0),
        (2, 10, "1995-06-01", 10.0),  # newest for cust 10
        (3, 20, "1995-06-11", 10.0),  # global anchor
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderdate string, "
        "o_totalprice double",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    got = {r["o_custkey"]: r for r in rfm_scores(df).collect()}
    assert got[10]["recency_days"] == 10
    assert got[20]["recency_days"] == 0
    assert got[10]["frequency"] == 2
    assert got[10]["monetary_cents"] == 2000


# ---------------------------------------------------------------- exact_ntile


def test_exact_ntile_matches_spark_ntile_with_ties(spark):
    from vectorsearchutil_spark.operators.analytics import exact_ntile

    # heavy ties: 40 rows over 4 distinct values, k=7 (uneven)
    rows = [(i, (i * 7919) % 4) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, v long")
    got = exact_ntile(
        df, "v", 7, ascending=True, tie_col="id", out_col="b"
    )
    df.createOrReplaceTempView("_nt_base")
    ref = spark.sql(
        "SELECT id, NTILE(7) OVER (ORDER BY v ASC NULLS LAST, id ASC)"
        " AS b FROM _nt_base"
    )
    assert got.select("id", "b").exceptAll(ref).count() == 0


# ---------------------------------------------------------------- ab test


def test_ab_test_totals_and_rates(spark):
    from vectorsearchutil_spark.operators.analytics import ab_test_ztest

    rows = []
    for u in range(40):
        rows.append((u * 2, u, "view"))
        if u % 3 == 0:
            rows.append((u * 2 + 1, u, "purchase"))
    e = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string"
    )
    r = ab_test_ztest(e).collect()[0]
    assert r["n_a"] + r["n_b"] == 40
    assert r["conv_a"] + r["conv_b"] == 14
    assert r["rate_a"] == pytest.approx(r["conv_a"] / r["n_a"], abs=1e-6)
    # arm assignment is by user hash, independent of partitioning
    r2 = ab_test_ztest(e.repartition(7)).collect()[0]
    assert r.asDict() == r2.asDict()


# ---------------------------------------------------------------- cusum


def test_cusum_finds_level_shift(spark):
    import datetime

    from vectorsearchutil_spark.operators.analytics import (
        cusum_changepoint,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, "x", base + datetime.timedelta(days=i),
         10.0 if i < 10 else 1010.0)
        for i in range(20)
    ]
    e = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double"
    )
    r = cusum_changepoint(e).collect()[0]
    assert r["n_days"] == 20
    # max |n*prefix - t*total| lands on the last pre-shift day
    assert r["changepoint_day"] == "2024-01-10"
    assert r["cusum_value"] < 0


# ---------------------------------------------------------------- benford


def test_benford_digit_extraction(spark):
    from vectorsearchutil_spark.operators.analytics import benford_digits

    o = spark.createDataFrame(
        [(1.00,), (2.50,), (0.30,), (19.99,), (-5.0,), (None,), (0.0,)],
        "o_totalprice double",
    )
    got = {r["digit"]: r for r in benford_digits(o).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["n"] == 2 and got[2]["n"] == 1 and got[3]["n"] == 1
    assert got[1]["obs_share"] == pytest.approx(0.5)
    assert got[1]["benford_share"] == pytest.approx(0.30103, abs=1e-5)


# ---------------------------------------------------------------- gini


def test_gini_equal_is_zero(spark):
    from vectorsearchutil_spark.operators.analytics import (
        gini_coefficient,
    )

    o = spark.createDataFrame(
        [(k, 100.0) for k in range(10)],
        "o_custkey long, o_totalprice double",
    )
    r = gini_coefficient(o).collect()[0]
    assert r["n_keys"] == 10
    assert r["gini"] == pytest.approx(0.0, abs=1e-9)


def test_gini_total_concentration(spark):
    from vectorsearchutil_spark.operators.analytics import (
        gini_coefficient,
    )

    # one key holds everything (others epsilon-free zero is excluded
    # by the cents floor at 0.004 -> 0 cents stays, so use 0.01)
    rows = [(0, 1000.0)] + [(k, 0.01) for k in range(1, 10)]
    o = spark.createDataFrame(rows, "o_custkey long, o_totalprice double")
    r = gini_coefficient(o).collect()[0]
    # near-total concentration: G -> (n-1)/n = 0.9
    assert r["gini"] == pytest.approx(0.9, abs=1e-3)


# ---------------------------------------------------------------- kaplan-meier


def test_kaplan_meier_small_cohort(spark):
    import datetime

    from vectorsearchutil_spark.operators.analytics import kaplan_meier

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    day = datetime.timedelta(days=1)
    rows = [
        (1, 10, "signup", t0),
        (2, 11, "signup", t0),
        (3, 12, "signup", t0),
        (4, 13, "signup", t0),
        (5, 10, "purchase", t0 + day),
        (6, 11, "purchase", t0 + 3 * day),
        # horizon: a late unrelated event pins max_seen at day 3
        (7, 12, "view", t0 + 3 * day),
    ]
    e = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    got = {r["delay_days"]: r for r in kaplan_meier(e).collect()}
    assert set(got) == {1, 3}
    assert got[1]["n_at_risk"] == 4 and got[1]["n_events"] == 1
    assert got[1]["survival"] == pytest.approx(0.75, abs=1e-6)
    # day 3: u10 converted (left), u12/u13 censored AT >=3 still at risk
    assert got[3]["n_at_risk"] == 3 and got[3]["n_events"] == 1
    assert got[3]["survival"] == pytest.approx(0.5, abs=1e-6)


def test_kaplan_meier_full_conversion_pins_zero(spark):
    import datetime

    from vectorsearchutil_spark.operators.analytics import kaplan_meier

    t0 = datetime.datetime(2024, 1, 1)
    day = datetime.timedelta(days=1)
    rows = [
        (1, 1, "signup", t0),
        (2, 2, "signup", t0),
        (3, 1, "purchase", t0 + day),
        (4, 2, "purchase", t0 + day),
    ]
    e = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    got = kaplan_meier(e).collect()
    assert len(got) == 1
    assert got[0]["survival"] == 0.0 and got[0]["n_events"] == 2


# ---------------------------------------------------------------- chi2


def test_token_label_chi2_perfect_association(spark):
    from vectorsearchutil_spark.operators.textanalysis import (
        token_label_chi2,
    )

    rows = [(i, "aaa filler", "x") for i in range(6)] + [
        (i + 6, "bbb filler", "y") for i in range(6)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    )
    got = {(r["tok"], r["label"]): r for r in token_label_chi2(docs).collect()}
    # perfectly-separating tokens: chi2 = N = 12 for each (tok, lang)
    assert got[("aaa", "x")]["chi2"] == pytest.approx(12.0)
    assert got[("bbb", "y")]["chi2"] == pytest.approx(12.0)
    # 'filler' appears in every doc -> chi2 0 -> filtered
    assert not any(t == "filler" for t, _ in got)


# ---------------------------------------------------------------- mann-whitney


def test_mannwhitney_no_overlap(spark):
    from vectorsearchutil_spark.operators.analytics import mann_whitney_u

    # A strictly above B: U_A = n_a*n_b (all pairwise wins), z > 0
    rows = [(i, "purchase", 100.0 + i) for i in range(10)] + [
        (100 + i, "view", float(i)) for i in range(10)
    ]
    e = spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    )
    r = mann_whitney_u(e).collect()[0]
    assert r["n_a"] == 10 and r["n_b"] == 10
    assert r["u_stat"] == pytest.approx(100.0)
    assert r["z_score"] > 3.0


def test_mannwhitney_identical_distributions(spark):
    from vectorsearchutil_spark.operators.analytics import mann_whitney_u

    # all values equal: one giant tie, U = n_a*n_b/2 exactly, var = 0
    rows = [(i, "purchase", 5.0) for i in range(6)] + [
        (100 + i, "view", 5.0) for i in range(6)
    ]
    e = spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    )
    r = mann_whitney_u(e).collect()[0]
    assert r["u_stat"] == pytest.approx(18.0)
    assert r["z_score"] is None  # zero variance -> no z


# ---------------------------------------------------------------- ks drift


def test_ks_disjoint_halves(spark):
    import datetime

    from vectorsearchutil_spark.operators.analytics import ks_two_sample

    t0 = datetime.datetime(2024, 1, 1)
    h = datetime.timedelta(hours=1)
    # first half values all 1.0, second half all 2.0 -> KS = 1
    rows = [(i, t0 + i * h, 1.0) for i in range(10)] + [
        (100 + i, t0 + (100 + i) * h, 2.0) for i in range(10)
    ]
    e = spark.createDataFrame(
        rows, "event_id long, ts timestamp, value double"
    )
    r = ks_two_sample(e).collect()[0]
    assert r["n_1"] == 10 and r["n_2"] == 10
    assert r["ks_stat"] == pytest.approx(1.0)
    assert r["ks_at_value"] == pytest.approx(1.0)


def test_ks_same_distribution_is_zero(spark):
    import datetime

    from vectorsearchutil_spark.operators.analytics import ks_two_sample

    t0 = datetime.datetime(2024, 1, 1)
    h = datetime.timedelta(hours=1)
    rows = [(i, t0 + i * h, float(i % 5)) for i in range(200)]
    e = spark.createDataFrame(
        rows, "event_id long, ts timestamp, value double"
    )
    r = ks_two_sample(e).collect()[0]
    assert r["ks_stat"] == pytest.approx(0.0, abs=0.01)


# ---------------------------------------------------------------- daily acf


def test_daily_acf_period_two(spark):
    import datetime

    from vectorsearchutil_spark.operators.analytics import daily_acf

    d0 = datetime.date(2024, 1, 1)
    day = datetime.timedelta(days=1)
    # alternating 10/20 series: acf(1) ~ -1, acf(2) ~ +1
    rows = [
        (d0 + i * day, 10.0 if i % 2 == 0 else 20.0) for i in range(60)
    ]
    o = spark.createDataFrame(rows, "o_orderdate date, o_totalprice double")
    got = {r["lag"]: r for r in daily_acf(o, max_lag=3).collect()}
    assert got[1]["n_pairs"] == 59
    assert got[1]["acf"] == pytest.approx(-1.0, abs=0.05)
    assert got[2]["acf"] == pytest.approx(1.0, abs=0.05)


def test_daily_acf_missing_days_drop_pairs(spark):
    import datetime

    from vectorsearchutil_spark.operators.analytics import daily_acf

    d0 = datetime.date(2024, 1, 1)
    day = datetime.timedelta(days=1)
    # days 0..9 except day 5 -> lag-1 pairs lose (4,5) and (5,6)
    rows = [
        (d0 + i * day, float(i + 1)) for i in range(10) if i != 5
    ]
    o = spark.createDataFrame(rows, "o_orderdate date, o_totalprice double")
    got = {r["lag"]: r for r in daily_acf(o, max_lag=1).collect()}
    assert got[1]["n_pairs"] == 7


# ---------------------------------------------------------------- matryoshka


def test_matryoshka_retained_and_renorm(spark):
    from vectorsearchutil_spark.operators.embeddings import (
        matryoshka_truncate,
    )

    emb = spark.createDataFrame(
        [
            (1, [3.0, 4.0, 0.0, 0.0]),   # prefix IS the whole mass
            (2, [0.0, 0.0, 3.0, 4.0]),   # prefix carries nothing
            (3, [1.0, 0.0, 1.0, 0.0]),   # half the squared mass
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: r
        for r in matryoshka_truncate(emb, prefix_dim=2).collect()
    }
    assert got[1]["retained_frac"] == pytest.approx(1.0)
    assert got[1]["mrl_vec"] == pytest.approx([0.6, 0.8])
    assert got[2]["retained_frac"] == pytest.approx(0.0)
    # a zero prefix has no direction: the whole cell is NULL (the
    # only cross-engine-stable rendering downstream — Spark
    # format_string prints per-component NULLs as the string 'null'
    # while DuckDB printf propagates SQL NULL; ADVICE r5 medium)
    assert got[2]["mrl_vec"] is None
    assert got[3]["retained_frac"] == pytest.approx(
        (1.0) / (2.0 ** 0.5)
    )
    assert got[3]["mrl_vec"] == pytest.approx([1.0, 0.0])


# ------------------------------------------------------------ knn label eval


def test_knn_label_vote_majority_and_tiebreak(spark):
    from vectorsearchutil_spark.operators.evaluation import (
        knn_label_vote_eval,
    )

    # holdout = ids >= 100. Query 100 at origin: 3 nearest corpus
    # points are two label-1 and one label-2 → majority 1 (correct).
    # Query 101 at (10,0): nearest 3 are one of each of labels 1,2
    # plus a duplicate-distance pair — construct a 1-1-1 three-way
    # count tie at k=3 → smallest label wins → predicts 1, true 2.
    emb = spark.createDataFrame(
        [
            (1, [0.1, 0.0], 1),
            (2, [0.2, 0.0], 1),
            (3, [0.3, 0.0], 2),
            (4, [9.9, 0.0], 1),
            (5, [10.1, 0.0], 2),
            (6, [10.3, 0.0], 3),
            (7, [50.0, 50.0], 9),     # far away, never a neighbour
            (8, None, 5),             # NULL vector: dropped
            (9, [0.15, 0.0], None),   # NULL label: cannot vote
            (100, [0.0, 0.0], 1),
            (101, [10.0, 0.0], 2),
        ],
        "vec_id long, embedding array<double>, label int",
    )
    out = knn_label_vote_eval(
        emb, F.col("vec_id") >= 100, k=3,
        vector_col="embedding", id_col="vec_id", label_col="label",
    )
    got = {r["label"]: r for r in out.collect()}
    assert got[1]["n_eval"] == 1 and got[1]["n_correct"] == 1
    assert got[1]["accuracy"] == pytest.approx(1.0)
    # three-way vote tie at k=3 → label 1 (smallest) predicted ≠ 2
    assert got[2]["n_eval"] == 1 and got[2]["n_correct"] == 0
    assert got[2]["accuracy"] == pytest.approx(0.0)


def test_knn_label_vote_empty_corpus_scores_nobody(spark):
    from vectorsearchutil_spark.operators.evaluation import (
        knn_label_vote_eval,
    )

    emb = spark.createDataFrame(
        [(100, [0.0], 1)], "vec_id long, embedding array<double>, label int"
    )
    out = knn_label_vote_eval(emb, F.col("vec_id") >= 100, k=3)
    assert out.count() == 0


# ----------------------------------------------------------------- top PC


def test_top_pc_dominant_dimension(spark):
    from vectorsearchutil_spark.operators.embeddings import (
        power_iteration_top_pc,
    )

    # dim 1 carries essentially all the variance; dims 2-3 are dead.
    rows = [(i, [float(i % 7) * 2.0, 0.001 * (i % 2), 0.0]) for i in range(40)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    out = power_iteration_top_pc(emb, vec_col="embedding").collect()
    assert len(out) == 3
    by_dim = {r["dim"]: r for r in out}
    # infinity-norm scaling pins the dominant loading at exactly ±1
    assert abs(by_dim[1]["loading"]) == pytest.approx(1.0)
    assert abs(by_dim[2]["loading"]) < 0.01
    assert abs(by_dim[3]["loading"]) < 1e-6
    # Rayleigh quotient ≈ Var(dim 1) = Var(2 * (i % 7))
    import statistics

    var1 = statistics.pvariance([float(i % 7) * 2.0 for i in range(40)])
    assert by_dim[1]["eigenvalue"] == pytest.approx(var1, rel=0.01)


def test_top_pc_partitioning_invariant(spark):
    from vectorsearchutil_spark.operators.embeddings import (
        power_iteration_top_pc,
    )

    rows = [
        (i, [float((i * 37) % 11), float((i * 13) % 5), float(i % 3)])
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted(
        power_iteration_top_pc(emb.repartition(1)).collect()
    )
    b = sorted(
        power_iteration_top_pc(emb.repartition(13)).collect()
    )
    assert a == b  # fixed-point contract: bit-identical under any split


def test_top_pc_empty_input(spark):
    from vectorsearchutil_spark.operators.embeddings import (
        power_iteration_top_pc,
    )

    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert power_iteration_top_pc(emb).count() == 0


def test_knn_label_vote_matrix_path_equals_expr_path(spark, monkeypatch):
    from vectorsearchutil_spark import session
    from vectorsearchutil_spark.operators.evaluation import (
        knn_label_vote_eval,
    )

    rows = [
        (
            i,
            [float((i * 31 + j * 17) % 23) for j in range(8)],
            int(i % 4),
        )
        for i in range(300)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    pred = F.col("vec_id") % 10 == 0
    expr_path = sorted(
        knn_label_vote_eval(emb, pred, k=5).collect()
    )
    # a zero wall sends the measured gate to the matrix path
    monkeypatch.setattr(session, "ARROW_MIN_CELLS", 0)
    blas_path = sorted(knn_label_vote_eval(emb, pred, k=5).collect())
    assert expr_path == blas_path

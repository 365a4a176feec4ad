import pyspark.sql.functions as F

from vectorsearchutil_spark.operators.knn import knn, knn_batch
from vectorsearchutil_spark.sources.readers import load_table


def test_knn_self_is_nearest(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 7).first()["embedding"]
    top = knn(emb, qv, k=3, vector_col="embedding", id_col="vec_id").collect()
    assert top[0]["vec_id"] == 7
    assert top[0]["distance"] == 0.0
    dists = [r["distance"] for r in top]
    assert dists == sorted(dists)


def test_knn_k_limit(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    assert knn(emb, qv, k=5, vector_col="embedding", id_col="vec_id").count() == 5


def test_knn_batch_per_query_counts(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    out = knn_batch(emb, qs, k=4, vector_col="embedding", id_col="vec_id")
    counts = {r["query_id"]: r["n"] for r in
              out.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    assert counts == {0: 4, 1: 4, 2: 4}
    # each query's own vector ranks first at distance 0
    firsts = out.filter(F.col("rank") == 1).collect()
    assert all(r["query_id"] == r["vec_id"] and r["distance"] == 0.0 for r in firsts)


def test_knn_batch_matches_single(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 2).first()["embedding"]
    single = [r["vec_id"] for r in
              knn(emb, qv, k=5, vector_col="embedding", id_col="vec_id").collect()]
    qs = emb.filter(F.col("vec_id") == 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    batch = [r["vec_id"] for r in
             knn_batch(emb, qs, k=5, vector_col="embedding", id_col="vec_id")
             .orderBy("rank").collect()]
    assert single == batch


def test_knn_cosine_descending(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    top = knn(emb, qv, k=5, vector_col="embedding", id_col="vec_id",
              metric="cosine").collect()
    scores = [r["distance"] for r in top]
    assert scores == sorted(scores, reverse=True)
    assert top[0]["vec_id"] == 0  # self-similarity == 1


def test_binary_rerank_recall_and_plan(spark, sf_dir):
    """Self-match always survives the hamming prefilter (its code is
    identical → hamming 0); the prefilter compiles to TakeOrdered,
    not a full sort; recall@10 vs exact is substantial."""
    from vectorsearchutil_spark import queries as Q
    from vectorsearchutil_spark.plans.explain import formatted_plan

    df = Q.QUERIES["knn_binary_rerank"](spark, sf_dir)
    rows = df.collect()
    assert rows[0]["vec_id"] == 0 and rows[0]["hamming"] == 0
    exact = {
        r["vec_id"]
        for r in Q.QUERIES["knn_single"](spark, sf_dir).collect()
    }
    got = {r["vec_id"] for r in rows}
    assert len(got & exact) >= 5  # ≥50% recall@10 on this corpus
    assert "TakeOrderedAndProject" in formatted_plan(df)


def _census_frames(spark, sf_dir):
    from vectorsearchutil_spark.operators.knn import (
        knn_hubness,
        knn_mutual_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    kw = dict(k=10, vector_col="embedding", id_col="vec_id", metric="cosine")
    hub = knn_hubness(emb, **kw)
    mut = knn_mutual_pairs(emb, **kw)
    return (
        sorted(tuple(r) for r in hub.collect()),
        sorted(tuple(r) for r in mut.collect()),
    )


def test_self_knn_strategy_equality(spark, sf_dir, monkeypatch):
    """VERDICT r9 #6: the blocked (no-collect, no-broadcast) self-kNN
    census path must be BIT-IDENTICAL to the expression and arrow
    paths — scores share the same IEEE fold order, ranks share the
    same (score desc, id asc) total order, and the tie-widened
    per-task cut is partitioning-independent. Each path is forced
    through its gate constant: the default picks expr on the sf
    corpus, a zero Arrow wall picks arrow, a -1 pull gate blocked."""
    import importlib

    from vectorsearchutil_spark import session

    knn_mod = importlib.import_module("vectorsearchutil_spark.operators.knn")
    expr = _census_frames(spark, sf_dir)
    with monkeypatch.context() as m:
        m.setattr(session, "ARROW_MIN_CELLS", 0)
        arrow = _census_frames(spark, sf_dir)
    monkeypatch.setattr(knn_mod, "_SELF_KNN_COLLECT_MAX", -1)
    blocked = _census_frames(spark, sf_dir)
    assert expr == arrow
    assert expr == blocked


def test_self_knn_blocked_odd_block_counts(spark, sf_dir):
    """Blocking is invisible for any n_blocks, including counts that
    leave some blocks near-empty (n_blocks ~ rows/arity edge)."""
    from vectorsearchutil_spark.operators.knn import (
        _self_knn_topk_blocked,
        _self_knn_topk_expr,
    )
    from vectorsearchutil_spark.functions.vector import (
        finite_vector,
        l2_norm,
    )

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 40)
        .filter(
            finite_vector(F.col("embedding"))
            & (l2_norm(F.col("embedding")) != F.lit(0.0))
        )
    )
    want = sorted(
        tuple(r)
        for r in _self_knn_topk_expr(
            emb, 5, "embedding", "vec_id", "cosine"
        ).collect()
    )
    for nb in (1, 3, 64):
        got = sorted(
            tuple(r)
            for r in _self_knn_topk_blocked(
                emb, 5, "embedding", "vec_id", n_blocks=nb
            ).collect()
        )
        assert got == want, f"n_blocks={nb} diverged"

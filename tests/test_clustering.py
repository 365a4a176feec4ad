import pyspark.sql.functions as F

from vectorsearchutil_spark.operators.clustering import kmeans
from vectorsearchutil_spark.sources.readers import load_table


def test_kmeans_partitions_all_rows(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    assignments, centroids = kmeans(emb, k=5, iterations=2)
    assert assignments.count() == emb.count()
    assert centroids.count() <= 5
    assert assignments.select("cluster").distinct().count() <= 5


def test_kmeans_empty_cluster_keeps_centroid(spark):
    # ADVICE r1: a cluster that loses every member must not vanish.
    # Duplicate init vectors force cluster 1 empty in iteration 1 (all
    # ties break to cid 0); its retained centroid then wins rows back.
    rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, 0.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    assignments, centroids = kmeans(
        df, k=2, iterations=2, vector_col="embedding", id_col="vec_id", dim=2
    )
    assert centroids.count() == 2  # k never shrinks
    clusters = {r["vec_id"]: r["cluster"] for r in assignments.collect()}
    # after iter2 the retained [0,0] centroid reclaims the origin rows
    assert clusters[0] == 1 and clusters[1] == 1 and clusters[2] == 0


def test_kmeans_inertia_decreases(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").cache()

    def inertia(iters):
        a, _ = kmeans(emb, k=5, iterations=iters)
        return a.agg(F.sum(F.col("distance") ** 2)).first()[0]

    assert inertia(3) <= inertia(1) + 1e-6  # Lloyd's never increases inertia


def test_kmeans_centroids_feed_ivf(spark, sf_dir):
    """End-to-end ANN pipeline: learned k-means centroids become the
    IVF lists; probing more lists monotonically improves recall."""
    import pyspark.sql.functions as F

    from vectorsearchutil_spark.operators.knn import knn_batch
    from vectorsearchutil_spark.operators.similarity import (
        build_ivf_index,
        ivf_search,
    )

    emb = load_table(spark, sf_dir, "embeddings").cache()
    _, centroids = kmeans(emb, k=8, iterations=2)
    cents = centroids.select(
        F.col("cid").alias("centroid_id"), F.col("cv").alias("centroid_vec")
    )
    indexed = build_ivf_index(emb, cents, vector_col="embedding").cache()
    assert indexed.count() == emb.count()

    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    exact = {(r["query_id"], r["vec_id"]) for r in
             knn_batch(emb, qs, k=5, vector_col="embedding",
                       id_col="vec_id").collect()}

    def recall(n_probe):
        got = {(r["query_id"], r["vec_id"]) for r in
               ivf_search(indexed, cents, qs, k=5, n_probe=n_probe,
                          vector_col="embedding", id_col="vec_id").collect()}
        return len(got & exact) / len(exact)

    r2, r8 = recall(2), recall(8)
    assert r2 <= r8
    assert r8 == 1.0  # probing every list == exact search


def test_assign_blas_equals_expression(spark, sf_dir):
    """The BLAS assignment path must reproduce the expression path
    exactly — cluster ids AND 4dp distances — on the same centroids
    (tie-break included), and keep every input column. A NULL vector
    takes the lowest cid with a NULL distance on both."""
    from vectorsearchutil_spark.operators import clustering as C
    from vectorsearchutil_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    init = (
        emb.orderBy("vec_id").limit(8)
        .selectExpr("cast(embedding as array<double>) cv").collect()
    )
    cents = [(i, list(r["cv"])) for i, r in enumerate(init)]
    work = emb.unionByName(
        spark.createDataFrame(
            [(10**6, None), (10**6 + 1, [0.0] * len(cents[0][1]))],
            emb.select("vec_id", "embedding").schema,
        ),
        allowMissingColumns=True,
    )

    def rows(df):
        return {
            r["vec_id"]: (
                r["cid"], None if r["_d"] is None else round(r["_d"], 4)
            )
            for r in df.collect()
        }

    expr_df = C._assign(work, cents, "embedding", False)
    blas_df = C._assign_blas(work, cents, "embedding")
    assert blas_df.schema == expr_df.schema
    assert blas_df.columns == work.columns + ["cid", "_d"]
    expr, blas = rows(expr_df), rows(blas_df)
    assert expr == blas
    assert expr[10**6] == (0, None)

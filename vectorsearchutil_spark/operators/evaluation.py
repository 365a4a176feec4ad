"""Retrieval-quality evaluation metrics over an embedding corpus:
MRR and NDCG@k with label-match relevance — the ranking-quality
complement to ``ann_ivf_recall``'s set-overlap recall. Run these
against a labelled held-out slice to decide whether an ANN index /
encoder change actually helped ranked retrieval, not just candidate
recall.

Cross-engine determinism seam: the NDCG position discounts
``1/log2(rank+1)`` are precomputed as PYTHON floats and injected as
decimal LITERALS into both the Spark plan and the SQL oracle —
``log2`` differs by one ulp between libm and Java Math, and a
summed ulp can flip a rounded 6th decimal; literals cannot.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ndcg_discounts(k: int) -> list[float]:
    """1/log2(rank+1) for rank = 1..k, as plain Python doubles (the
    shared literal source for both engines)."""
    return [1.0 / math.log2(r + 1) for r in range(1, k + 1)]


def retrieval_label_metrics(
    emb: DataFrame,
    query_pred,
    k: int = 10,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Per-query MRR and NDCG@k where a corpus hit is RELEVANT iff it
    shares the query's label: rank the corpus by cosine (ties id
    asc), rel_i ∈ {0,1}, MRR = 1/first-relevant-rank (0 if none),
    DCG = Σ rel_i·d_i with literal discounts, IDCG = ideal ordering
    of the same relevance multiset, NDCG = DCG/IDCG (0 when the
    query's label has no corpus member).

    ``query_pred`` is a Column predicate selecting the query slice
    (e.g. ``F.col("vec_id") < 50``); the rest of the table is the
    corpus. Metrics floor-round to 6dp (cross-engine half-way
    safety).

    Scale shape: the query side broadcasts (an eval slice is small by
    contract); the corpus never shuffles — per-query top-k via the
    batch-kNN window, then one aggregate per query over ≤ k rows.
    """
    from pyspark.sql import Window

    from vectorsearchutil_spark.functions.vector import (
        dot,
        l2_norm,
        round_half_up,
    )

    # norms are precomputed ONCE PER SIDE before the pair fan-out:
    # cosine_similarity would re-evaluate both interpreted-HOF norm
    # folds per (query, corpus) pair — 3× the lambda work of the dot
    # alone (guide §4.1: HOFs run off codegen). l2_norm yields the
    # identical double wherever it is computed and IEEE multiply is
    # commutative, so try_divide(dot, cn*qn) is BIT-IDENTICAL to
    # cosine_similarity(_cv, _qv) — ranks and ties cannot move.
    q = emb.filter(query_pred).select(
        F.col(id_col).alias("query_id"),
        F.col(vector_col).alias("_qv"),
        F.col(label_col).alias("_qlabel"),
        l2_norm(F.col(vector_col)).alias("_qn"),
    )
    from vectorsearchutil_spark.functions.parallel import fanout_repartition

    # the |corpus| × |queries| fan-out below must not inherit a
    # single-task layout from a small corpus scan (guide §2)
    c = fanout_repartition(emb.filter(~query_pred)).select(
        id_col,
        F.col(vector_col).alias("_cv"),
        label_col,
        l2_norm(F.col(vector_col)).alias("_cn"),
    )
    cos = F.try_divide(dot("_cv", "_qv"), F.col("_cn") * F.col("_qn"))
    w = Window.partitionBy("query_id").orderBy(
        cos.desc(), F.col(id_col).asc()
    )
    top = (
        c.crossJoin(F.broadcast(q))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= int(k))
        .select(
            "query_id",
            "_qlabel",
            "_rk",
            # when/otherwise, not a bare cast: NULL labels must score
            # rel=0 (a NULL == NULL comparison is NULL, and summing
            # NULLs would emit n_relevant=NULL where the oracle's
            # CASE ... ELSE 0 emits 0)
            F.when(F.col(label_col) == F.col("_qlabel"), 1)
            .otherwise(0)
            .alias("_rel"),
        )
    )
    # FIXED-POINT discounts (1e12 scale): summing doubles is
    # order-dependent and engines aggregate in different orders; long
    # sums are exact, and every value stays < 2^53 so the final
    # double division is itself exact-in, deterministic-out
    disc_fp = [
        int(math.floor(d * 1e12 + 0.5)) for d in ndcg_discounts(k)
    ]
    d_expr = F.element_at(
        F.array(*[F.lit(d) for d in disc_fp]), F.col("_rk")
    )
    per_q = top.groupBy("query_id").agg(
        F.coalesce(
            F.min(F.when(F.col("_rel") == 1, F.col("_rk"))), F.lit(0)
        ).alias("_first_rel"),
        F.sum(F.col("_rel") * d_expr).cast("long").alias("_dcg_fp"),
        F.sum("_rel").cast("int").alias("n_relevant"),
    )
    # IDCG for m relevant hits = cumulative sum of the same
    # fixed-point discounts — a literal lookup on n_relevant
    idcg_lits = [0]
    acc = 0
    for d in disc_fp:
        acc += d
        idcg_lits.append(acc)
    idcg_fp = F.element_at(
        F.array(*[F.lit(v) for v in idcg_lits]), F.col("n_relevant") + 1
    )
    return per_q.select(
        "query_id",
        "n_relevant",
        round_half_up(
            F.when(
                F.col("_first_rel") > 0, 1.0 / F.col("_first_rel")
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("mrr"),
        round_half_up(
            F.coalesce(
                F.try_divide(
                    F.col("_dcg_fp").cast("double"),
                    idcg_fp.cast("double"),
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("ndcg"),
    )

def knn_label_vote_eval(
    emb: DataFrame,
    query_pred,
    k: int = 5,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Holdout kNN-classifier evaluation: predict each holdout
    vector's label by majority vote of its k nearest corpus
    neighbours (L2, ties id asc; vote ties break count desc then
    label asc), then report per-true-label accuracy — the standard
    label-propagation / embedding-quality probe (does the space
    cluster by label?) run before trusting labels mined by
    nearest-neighbour transfer.

    ``query_pred`` selects the holdout slice; the complement is the
    search corpus (no self-match hygiene needed — the sides are
    disjoint by construction). NULL-labelled / NULL-vector rows drop
    from BOTH sides: they can neither vote nor be scored; a query
    with an empty corpus scores nobody (empty output, not 0.0 rows).

    Scale shape: the top-k stage IS batch kNN, so it inherits the
    measured paths — the JVM expression plan below the
    ``session.ARROW_MIN_CELLS`` wall, the broadcast-query Arrow
    matrix plan above it. The gate collects the holdout vectors
    (k × dim) and counts the corpus once (``session.arrow_wins``).
    Either way the corpus never shuffles; votes aggregate <= k rows
    per query and accuracy is a <= |labels|-row aggregate after that.

    Path-equality caveat (ADVICE r5): the two gated kNN paths
    compute L2 differently — ``knn_batch`` folds ``sum((x-y)^2)``
    while the matrix path expands ``||q||^2 - 2q.c + ||c||^2`` — so
    they agree exactly on exactly-representable coordinates (the
    pinned equality tests) but can order FP NEAR-TIE neighbours
    differently; the id tie-break applies only on exact distance
    equality. Votes at a near-tie boundary may therefore differ
    across the gate by design.
    """
    from pyspark.sql import Window

    from vectorsearchutil_spark.functions.vector import round_half_up
    from vectorsearchutil_spark.operators.knn import knn_batch
    from vectorsearchutil_spark.session import arrow_wins, local_frame

    base = emb.filter(
        F.col(label_col).isNotNull() & F.col(vector_col).isNotNull()
    )
    q = base.filter(query_pred)
    c = base.filter(~query_pred)
    queries = q.select(
        F.col(id_col).alias("query_id"),
        F.col(vector_col).alias("query_vector"),
    )
    # the holdout is small by contract: collected once, it sizes the
    # gate and is the broadcast query side of either path
    q_rows = queries.collect()
    queries = local_frame(emb.sparkSession, q_rows, queries.schema)
    if arrow_wins(c, [r["query_vector"] for r in q_rows]):
        from vectorsearchutil_spark.operators.similarity import (
            knn_batch_matrix,
        )

        top = knn_batch_matrix(
            c, queries, k=k, vector_col=vector_col, id_col=id_col,
            metric="l2",
        )
    else:
        top = knn_batch(
            c, queries, k=k, vector_col=vector_col, id_col=id_col,
            metric="l2",
        )
    # attach neighbour labels: top is <= n_queries*k rows (small by
    # contract) while the label table is the full corpus — broadcast
    # the TOP side so the corpus-label scan never shuffles
    nb = c.select(
        F.col(id_col), F.col(label_col).alias("_nlabel")
    ).join(F.broadcast(top), id_col)
    truth = q.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("_true"),
    )
    votes = (
        nb.join(F.broadcast(truth), "query_id")
        .groupBy("query_id", "_true", "_nlabel")
        .agg(F.count(F.lit(1)).alias("_votes"))
    )
    w_win = Window.partitionBy("query_id").orderBy(
        F.col("_votes").desc(), F.col("_nlabel").asc()
    )
    pred = (
        votes.withColumn("_vr", F.row_number().over(w_win))
        .filter(F.col("_vr") == 1)
        .select("query_id", "_true", F.col("_nlabel").alias("_pred"))
    )
    return (
        pred.groupBy(F.col("_true").alias(label_col))
        .agg(
            F.count(F.lit(1)).alias("n_eval"),
            F.sum(
                F.when(F.col("_pred") == F.col("_true"), 1).otherwise(0)
            ).cast("long").alias("n_correct"),
        )
        .select(
            label_col,
            "n_eval",
            "n_correct",
            round_half_up(
                F.col("n_correct") / F.col("n_eval"), 6
            ).alias("accuracy"),
        )
    )

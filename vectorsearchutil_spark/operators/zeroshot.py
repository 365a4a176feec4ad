"""Zero-shot classification by label-embedding similarity.

Reference semantics: score every stored vector against every label
vector — E5 variant normalizes both sides and scores cosine×100
(``vsu/text/_classes.py:29-44``); CLIP variant applies softmax over
100·cos (``vsu/image/_classes.py:21-36``; same argmax — softmax is
monotonic). Argmax tie-break = lowest label index
(``vsu/text/_classes.py:40``, ``vsu/image/_classes.py:32``).

Spark plan: corpus ⨯ broadcast(labels) — the label table is tiny by
construction (a handful of class names), so the big side never
shuffles; scores are higher-order-function expressions inside
codegen; the only shuffle is the per-row window for argmax/softmax
normalization, on (id, k·labels) rows. At 100 TB this is a single
narrow pass plus one bounded-width window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructField, StructType

from vectorsearchutil_spark.functions.vector import cosine_similarity
from vectorsearchutil_spark.session import (
    arrow_wins,
    batch_matrix,
    local_frame,
)


def zeroshot_scores(
    data: DataFrame,
    labels: DataFrame,
    vector_col: str = "vector",
    id_col: str = "id",
    label_col: str = "label",
    label_idx_col: str = "label_idx",
    label_vec_col: str = "label_vec",
    softmax: bool = False,
) -> DataFrame:
    """Long-form (id, label, score) for every row×label pair.

    ``score`` = cosine×100 (E5 form); with ``softmax=True`` adds a
    ``prob`` column = softmax over the row's scores (CLIP form).
    """
    scored = (
        data.select(id_col, vector_col)
        .crossJoin(F.broadcast(labels))
        .withColumn(
            "score",
            cosine_similarity(F.col(vector_col), F.col(label_vec_col)) * 100.0,
        )
        .select(id_col, label_idx_col, label_col, "score")
    )
    if softmax:
        row = Window.partitionBy(id_col)
        # stabilized softmax: exp(s - max) / Σ exp(s - max)
        scored = (
            scored.withColumn("_max", F.max("score").over(row))
            .withColumn("_exp", F.exp(F.col("score") - F.col("_max")))
            .withColumn("prob", F.col("_exp") / F.sum("_exp").over(row))
            .drop("_max", "_exp")
        )
    return scored


def zeroshot(
    data: DataFrame,
    labels: DataFrame,
    vector_col: str = "vector",
    id_col: str = "id",
    label_col: str = "label",
    label_idx_col: str = "label_idx",
    label_vec_col: str = "label_vec",
    softmax: bool = False,
) -> DataFrame:
    """Per-row prediction: data columns + ``zeroshot_pred`` (+ score).

    Mirrors the reference's ``data["zeroshot_pred"]`` materialization
    (``vsu/text/_classes.py:43``).

    The label set is collected (it is tiny by construction) and
    travels as ONE local broadcast row holding an idx-sorted
    array<struct(idx, label, vec)>; per data row the scores are a
    transform() over that array and the argmax is array_min over
    (-score, idx) structs — lexicographic struct ordering reproduces
    the reference's first-max / lowest-index tie-break
    (vsu/text/_classes.py:40). Fully narrow: no per-label row
    expansion, no window shuffle, no join-back — the corpus is
    scanned once and never moves (the shape that survives 100 TB).

    The Arrow form (:func:`_zeroshot_arrow`, bit-identical scores)
    takes over when ``session.arrow_wins`` (one ``data.count()``) puts
    rows × labels × dim past the interpreted-HOF wall.
    """
    labs = sorted(
        (r[label_idx_col], r[label_col], r[label_vec_col])
        for r in labels.collect()
    )
    if arrow_wins(data, [v for *_, v in labs]):
        return _zeroshot_arrow(data, labs, vector_col, softmax)
    lab_type = StructType(
        [
            StructField("idx", labels.schema[label_idx_col].dataType),
            StructField("label", labels.schema[label_col].dataType),
            StructField("cv", labels.schema[label_vec_col].dataType),
        ]
    )
    labels_row = local_frame(
        data.sparkSession,
        [(labs,)],
        StructType([StructField("_labels", ArrayType(lab_type))]),
    )
    scores_arr = F.transform(
        F.col("_labels"),
        lambda lab: F.struct(
            (
                cosine_similarity(F.col(vector_col), lab["cv"]) * 100.0
            ).alias("score"),
            lab["idx"].alias("idx"),
            lab["label"].alias("label"),
        ),
    )
    best = F.array_min(
        F.transform(
            F.col("_s"),
            lambda x: F.struct(
                (-x["score"]).alias("negscore"),
                x["idx"].alias("idx"),
                x["label"].alias("label"),
            ),
        )
    )
    out = (
        data.crossJoin(F.broadcast(labels_row))
        .withColumn("_s", scores_arr)
        .withColumn("_b", best)
    )
    score = (-F.col("_b.negscore")).alias("score")
    pred = F.col("_b.label").alias("zeroshot_pred")
    if softmax:
        # stabilized softmax of the winning label: exp(max-max)=1 over
        # the sum of exp(s-max) in label-index order
        sumexp = F.aggregate(
            F.col("_s"),
            F.lit(0.0),
            lambda acc, x: acc + F.exp(x["score"] + F.col("_b.negscore")),
        )
        return out.select(
            *data.columns,
            pred,
            score,
            # try_divide: with an EMPTY label set (degenerate
            # null-payload fixture) the fold returns its 0.0 init —
            # prob is undefined (NULL), not an ANSI crash (round-6
            # value-materializing sweep)
            F.try_divide(F.lit(1.0), sumexp).alias("prob"),
        )
    return out.select(*data.columns, pred, score)


def _zeroshot_arrow(
    data: DataFrame,
    labs: list[tuple],
    vector_col: str,
    softmax: bool,
) -> DataFrame:
    """Arrow/numpy form of ``zeroshot`` over the collected, idx-sorted
    (idx, label, vector) ``labs`` — bit-identical dot/norm math.

    The JVM expression folds Σ xⱼ·lⱼ (and Σ xⱼ²) sequentially in dim
    order with separate multiply and add roundings; this path
    accumulates ``acc += X[:, j] * L[c, j]`` one dim at a time in the
    same order (numpy has no FMA contraction on doubles), so cosine
    scores and therefore predictions are IDENTICAL to the expression
    path — not merely close (strategy-equality test-asserted).
    Softmax probabilities also accumulate exp terms in label-index
    order; Math.exp vs libm exp may differ in the last ulp, which is
    the one documented (and tested: ≤1e-12 relative) divergence.
    Zero-norm and NULL-vector rows (score undefined — NULL on the
    expression path) keep NaN scores, which leave as NULL, and fall
    back to the lowest label index."""
    import numpy as np

    from pyspark.sql.types import DoubleType, StringType

    names = [lab for _, lab, _ in labs]
    L = np.array([v for _, _, v in labs], dtype=np.float64)
    k, d = L.shape
    # label norms: same sequential fold, python floats ARE doubles
    lnorm = []
    for _, _, v in labs:
        acc = 0.0
        for x in v:
            acc = acc + float(x) * float(x)
        lnorm.append(acc**0.5)
    lnorm = np.array(lnorm, dtype=np.float64)

    fields = list(data.schema.fields) + [
        StructField("zeroshot_pred", StringType()),
        StructField("score", DoubleType()),
    ]
    if softmax:
        fields.append(StructField("prob", DoubleType()))
    out_schema = StructType(fields)

    def score_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = batch_matrix(pdf[vector_col], d)
            n = len(X)
            dots = np.zeros((n, k), dtype=np.float64)
            xsq = np.zeros(n, dtype=np.float64)
            for j in range(d):
                xj = X[:, j]
                xsq += xj * xj
                for c in range(k):
                    dots[:, c] += xj * L[c, j]
            xnorm = np.sqrt(xsq)
            denom = xnorm[:, None] * lnorm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                S = np.where(denom > 0.0, dots / denom, np.nan) * 100.0
            # argmax, ties (and all-NaN rows) to the LOWEST index:
            # scan labels in idx order keeping strict improvements
            best = np.zeros(n, dtype=np.int64)
            bests = S[:, 0].copy()
            for c in range(1, k):
                upd = S[:, c] > bests  # NaN compares False: keeps idx
                best[upd] = c
                bests[upd] = S[upd, c]
            out = pdf.copy()
            out["zeroshot_pred"] = [names[c] for c in best]
            out["score"] = bests
            if softmax:
                smax = bests
                accp = np.zeros(n, dtype=np.float64)
                for c in range(k):
                    accp = accp + np.exp(S[:, c] - smax)
                out["prob"] = 1.0 / accp
            yield out

    from vectorsearchutil_spark.functions.parallel import fanout_repartition

    # per-row scoring: partitioning-invariant; a small scan must not
    # serialize the BLAS scoring on one python worker (guide §2)
    return fanout_repartition(data).mapInPandas(score_batches, out_schema)

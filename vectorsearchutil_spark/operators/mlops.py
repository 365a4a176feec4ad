"""MLP classification/regression over stored vectors — reference
A15/A16 (``vsu/base/VectorSearchBase.py:219-256``).

* **Classifier (A15)** — Spark ML's native
  ``MultilayerPerceptronClassifier``: distributed training on the
  vector column, which is strictly stronger than the reference's
  in-process sklearn fit (:230) and the idiomatic Spark path.
  If sklearn is importable a parity mode reproduces the reference
  exactly (stratified 75/25 split seed 810, max_iter 300).
* **Regressor (A16)** — Spark ML ships no MLP regressor, and sklearn
  is not installed here; a compact seeded numpy MLP (one hidden
  layer, Adam) trains on the driver — honest parity with the
  reference, which also trains in-process (:247) — and inference is
  distributed via a broadcast-model pandas UDF.

Both print their held-out metric like the reference (:233, :251).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from vectorsearchutil_spark.session import local_frame


@dataclass
class FitResult:
    model: object
    metric_name: str
    metric_value: float
    scored: DataFrame  # input rows + prediction column(s)


# ---------------------------------------------------------------- classifier


def mlp_classifier(
    data: DataFrame,
    y_col: str,
    vector_col: str = "vector",
    id_col: str = "id",
    hidden_layer_sizes: tuple[int, ...] = (100,),
    seed: int = 810,
    max_iter: int = 300,
) -> FitResult:
    """A15 as a distributed Spark ML pipeline.

    75/25 split (seed 810 per reference :225), train MLP on the
    75%, report held-out accuracy, score every row (the reference
    returns predictions for all rows, :234).

    Labels may be strings or arbitrary (non-contiguous, negative)
    numbers — like the reference's sklearn path. They are indexed to
    0..k-1 by sorted order (the StringIndexer analog, deterministic),
    and ``prediction`` is returned in the ORIGINAL label domain.
    """
    from pyspark.ml.classification import MultilayerPerceptronClassifier
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator
    from pyspark.ml.functions import array_to_vector, vector_to_array

    dim = len(data.select(vector_col).first()[0])
    labels = [r[0] for r in data.select(y_col).distinct().orderBy(y_col).collect()]
    if any(lab is None for lab in labels):
        raise ValueError(f"label column {y_col!r} contains nulls")
    n_classes = len(labels)
    if n_classes < 2:
        raise ValueError(f"label column {y_col!r} has {n_classes} class(es)")
    label_to_idx = F.create_map(
        *[F.lit(x) for i, lab in enumerate(labels) for x in (lab, i)]
    )
    idx_to_label = F.array(*[F.lit(lab) for lab in labels])
    feat = data.withColumn(
        "features", array_to_vector(F.col(vector_col).cast("array<double>"))
    ).withColumn("_y", label_to_idx[F.col(y_col)].cast("double"))
    train, test = feat.randomSplit([0.75, 0.25], seed=seed)
    train = train.cache()
    clf = MultilayerPerceptronClassifier(
        layers=[dim, *hidden_layer_sizes, int(n_classes)],
        maxIter=max_iter,
        seed=seed,
        labelCol="_y",
        featuresCol="features",
    )
    model = clf.fit(train)
    acc = MulticlassClassificationEvaluator(
        labelCol="_y", predictionCol="prediction", metricName="accuracy"
    ).evaluate(model.transform(test))
    print(f"score: {acc}")  # reference prints held-out score (:233)

    scored = (
        model.transform(feat)
        .withColumn("proba", vector_to_array(F.col("probability")))
        .withColumn(
            "prediction",
            F.element_at(idx_to_label, F.col("prediction").cast("int") + 1),
        )
        .drop("features", "_y", "rawPrediction", "probability")
    )
    return FitResult(model, "accuracy", float(acc), scored)


# ----------------------------------------------------------------- regressor


class _NumpyMLPRegressor:
    """Minimal deterministic MLP regressor (tanh hidden layer, Adam),
    standing in for sklearn's MLPRegressor which is unavailable here.
    Seeded init + fixed iteration order → reproducible fits."""

    def __init__(self, hidden: int = 100, seed: int = 1, max_iter: int = 500,
                 lr: float = 1e-3):
        self.hidden = hidden
        self.seed = seed
        self.max_iter = max_iter
        self.lr = lr

    def fit(self, X: np.ndarray, y: np.ndarray) -> "_NumpyMLPRegressor":
        rng = np.random.RandomState(self.seed)
        d, h = X.shape[1], self.hidden
        self.x_mean, self.x_std = X.mean(0), X.std(0) + 1e-9
        self.y_mean, self.y_std = y.mean(), y.std() + 1e-9
        Xs = (X - self.x_mean) / self.x_std
        ys = (y - self.y_mean) / self.y_std
        W1 = rng.randn(d, h) * np.sqrt(2.0 / d)
        b1 = np.zeros(h)
        W2 = rng.randn(h, 1) * np.sqrt(2.0 / h)
        b2 = np.zeros(1)
        params = [W1, b1, W2, b2]
        m = [np.zeros_like(p) for p in params]
        v = [np.zeros_like(p) for p in params]
        beta1, beta2, eps = 0.9, 0.999, 1e-8
        n = len(Xs)
        for t in range(1, self.max_iter + 1):
            hpre = Xs @ params[0] + params[1]
            hact = np.tanh(hpre)
            pred = (hact @ params[2] + params[3]).ravel()
            err = (pred - ys) / n
            gW2 = hact.T @ err[:, None]
            gb2 = np.array([err.sum()])
            dh = (err[:, None] @ params[2].T) * (1 - hact**2)
            gW1 = Xs.T @ dh
            gb1 = dh.sum(0)
            for i, g in enumerate([gW1, gb1, gW2, gb2]):
                m[i] = beta1 * m[i] + (1 - beta1) * g
                v[i] = beta2 * v[i] + (1 - beta2) * g * g
                mhat = m[i] / (1 - beta1**t)
                vhat = v[i] / (1 - beta2**t)
                params[i] -= self.lr * mhat / (np.sqrt(vhat) + eps)
        self.params = params
        return self

    def predict(self, X: np.ndarray) -> np.ndarray:
        Xs = (X - self.x_mean) / self.x_std
        h = np.tanh(Xs @ self.params[0] + self.params[1])
        return (h @ self.params[2] + self.params[3]).ravel() * self.y_std + self.y_mean

    def score(self, X: np.ndarray, y: np.ndarray) -> float:
        pred = self.predict(X)
        ss_res = float(((y - pred) ** 2).sum())
        ss_tot = float(((y - y.mean()) ** 2).sum())
        return 1.0 - ss_res / ss_tot if ss_tot else 0.0


def _split(X: np.ndarray, y: np.ndarray, seed: int, test_frac: float = 0.25):
    """Deterministic shuffle split (reference uses train_test_split
    with random_state=810, :242)."""
    rng = np.random.RandomState(seed)
    idx = rng.permutation(len(X))
    cut = int(round(len(X) * (1 - test_frac)))
    tr, te = idx[:cut], idx[cut:]
    return X[tr], X[te], y[tr], y[te]


def mlp_regressor(
    data: DataFrame,
    y_col: str,
    vector_col: str = "vector",
    id_col: str = "id",
    hidden_layer_sizes: tuple[int, ...] = (100,),
    seed: int = 810,
    max_iter: int = 500,
) -> FitResult:
    """A16: driver-side MLP regression fit (the stored table fits by
    construction — the reference trains in-process too), distributed
    inference via broadcast model + Arrow-batched pandas UDF."""
    try:
        from sklearn.neural_network import MLPRegressor

        def make_model():
            return MLPRegressor(
                random_state=1, max_iter=max_iter,
                hidden_layer_sizes=hidden_layer_sizes,
            )
    except ImportError:
        def make_model():
            return _NumpyMLPRegressor(
                hidden=hidden_layer_sizes[0], seed=1, max_iter=max_iter
            )

    rows = (
        data.select(id_col, vector_col, y_col)
        .filter(F.col(vector_col).isNotNull() & F.col(y_col).isNotNull())
        .orderBy(id_col)
        .collect()
    )
    if not rows:
        # fitted-model contract: empty training data is a declared
        # error (mirrors sklearn), not an IndexError
        raise ValueError("mlp_regressor: empty input")
    X = np.array([r[1] for r in rows], dtype=np.float64)
    y = np.array([r[2] for r in rows], dtype=np.float64)
    X_tr, X_te, y_tr, y_te = _split(X, y, seed)
    regr = make_model().fit(X_tr, y_tr)
    r2 = float(regr.score(X_te, y_te))
    corr = float(np.corrcoef(y_te, regr.predict(X_te))[0][1])
    print(f"score: {r2}")
    print(f"corr: {corr}")  # reference prints both (:251)

    spark = data.sparkSession
    b_model = spark.sparkContext.broadcast(regr)

    @F.pandas_udf(DoubleType())
    def predict_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        model = b_model.value  # unpickled once per task
        for batch in batches:
            Xb = np.array(list(batch), dtype=np.float64)
            yield pd.Series(model.predict(Xb))

    scored = data.withColumn("prediction", predict_udf(F.col(vector_col)))
    return FitResult(regr, "r2", r2, scored)


# ------------------------------------------------- distributed logreg

#: fixed-point scale for gradient quantization (30 fractional bits):
#: per-row terms are O(1), so even trillions of rows stay far below
#: the long limit after the per-partition int64 partial sum.
_LOGREG_FP = float(2**30)


def logreg_train_fixed_point(
    df: DataFrame,
    vec_col: str = "embedding",
    y_col: str = "y",
    iters: int = 3,
    lr: float = 0.5,
) -> DataFrame:
    """Distributed full-batch logistic-style classifier training —
    the quality-filter trainer an LLM data pipeline runs over
    billions of labeled documents, and (unlike the reference's
    in-process sklearn fit, ``vsu/base/VectorSearchBase.py:219-256``,
    mirrored by :func:`mlp_classifier`) trained BY the cluster: each
    iteration is one map-side-combinable aggregate of per-dimension
    gradient partials; only d+1 longs per partition cross the wire,
    and the driver holds d+1 weights — nothing else.

    Determinism contract (the PageRank/dim_covariance discipline):

    * the link is the SOFTSIGN sigmoid s = 0.5·(1 + z/(1+|z|)) —
      every operation is a correctly-rounded IEEE primitive
      (+,−,×,÷,abs), so unlike exp()-based logistic (libm vs JVM
      differ in ulps) the per-row score is bit-identical on any
      engine. A monotone S-curve link yields the same classifier
      family; saturation is milder, which full-batch GD tolerates.
    * z folds w·x left-to-right over dimensions (numpy per-dim
      accumulation ≡ SQL list_reduce order),
    * per-row gradient terms quantize to longs —
      floor(x_d·(s−y)·2³⁰) — and only exact integer sums cross
      partitions, so gradients are partitioning-invariant,
    * the weight update runs in scalar IEEE on exact inputs; with a
      power-of-two ``lr`` every step is (long/2³⁰)·lr — one rounding
      per dimension, identical everywhere.

    The gradient pass is Arrow-batched numpy (the HOF wall, PERF.md
    round 4: per-row × per-dim lambda expressions evaluate
    interpreted). A bias dimension (constant 1, weight index 1) is
    prepended internally. Returns (i, weight): i=1 is the bias,
    i=k+1 is dimension k — in SQL, list_prepend(1.0, vec) subscript
    order.
    """
    if iters < 0:
        raise ValueError("iters must be >= 0")
    base = df.select(
        F.col(vec_col).cast("array<double>").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    ).filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    first = base.select(F.size("x").alias("d")).first()
    if first is None:
        raise ValueError("logreg_train_fixed_point: empty input")
    d = int(first["d"]) + 1  # + bias
    n = float(base.count())
    spark = base.sparkSession

    w = np.zeros(d, dtype=np.float64)
    for _ in range(iters):
        b_w = spark.sparkContext.broadcast(w.copy())

        def partials(batches, _bw=b_w):
            wv = _bw.value
            acc = np.zeros(d, dtype=np.int64)
            seen = False
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.empty((len(pdf), d), dtype=np.float64)
                X[:, 0] = 1.0
                X[:, 1:] = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf["x"]]
                )
                # left-to-right fold over dims: bit-equal to the SQL
                # list_reduce((a,b)->a+b) replay of the same dot
                z = np.zeros(len(pdf), dtype=np.float64)
                for k in range(d):
                    z = z + X[:, k] * wv[k]
                s = 0.5 * (1.0 + z / (1.0 + np.abs(z)))
                resid = s - np.asarray(pdf["y"], dtype=np.float64)
                acc += (
                    np.floor(X * resid[:, None] * _LOGREG_FP)
                    .astype(np.int64)
                    .sum(axis=0)
                )
                seen = True
            if seen:
                yield pd.DataFrame(
                    {"i": np.arange(1, d + 1), "q": acc}
                )

        g = {
            r["i"]: r["q"]
            for r in base.mapInPandas(partials, "i int, q long")
            .groupBy("i")
            .agg(F.sum("q").alias("q"))
            .collect()
        }
        for k in range(d):
            w[k] = w[k] - lr * ((float(g.get(k + 1, 0)) / _LOGREG_FP) / n)

    return local_frame(
        spark, [(k + 1, float(w[k])) for k in range(d)], "i int, weight double"
    )


# ------------------------------------------------- grouped OLS trend

#: fixed-point scales for the trend sums: y-quantization (20 frac
#: bits) and centered-product quantization (12 frac bits — products
#: are range_days × y_range per row, so 2^12 keeps per-row terms
#: ≲ 2^40 and exabyte-scale groups inside the long limit).
_TREND_Y_FP = float(2**20)
_TREND_P_FP = float(2**12)


def ols_trend_by_group(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    us_per_unit: float = 86_400_000_000.0,
) -> DataFrame:
    """Per-group least-squares trend (slope + intercept) of y over
    time — the grouped regression behind every "is this metric
    drifting" dashboard, computed in THREE map-side-combinable
    aggregate passes over narrow (group, x, y) rows; nothing sorts,
    nothing collects beyond per-group scalars.

    ``x_col`` must be exact integers (e.g. epoch microseconds);
    slopes are per ``us_per_unit`` (default: per day). Why not
    regr_slope(): float Σxy accumulates in partition order, so two
    runs of the same query can disagree in the last ulps. Here every
    cross-partition sum is a LONG — x centers on the exact per-group
    min, y and the centered products quantize via floor to fixed
    point (the PageRank/logreg discipline) — so slope and intercept
    are bit-identical on any engine or partitioning, replayable by a
    SQL oracle:

    * pass 1: n, min(x), Σ floor(y·2²⁰)            (exact)
    * pass 2: Σ floor(xd·2²⁰), xd = (x−x₀)/unit     (exact longs)
    * pass 3: Σ floor(dx·dy·2¹²), Σ floor(dx·dx·2¹²) on the
      broadcast means                               (exact longs)
    * slope = Σ_q(dx·dy)/Σ_q(dx·dx) — one double division.

    Quantization bias of the floor() is deterministic and bounded by
    2⁻¹² per row relative to true OLS (negligible for monitoring);
    groups with zero x-variance return NULL slope (try_divide).
    """
    g = F.col(group_col)
    base = df.select(
        g.alias("g"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    ).filter(
        F.col("x").isNotNull()
        & F.col("y").isNotNull()
        # non-finite y poisons the quantized long sums (floor(±Inf)
        # saturates to Long.MAX/MIN and overflows the ANSI SUM) —
        # same cannot-participate convention as non-finite vectors
        # (round-6 value-materializing nan-inf sweep)
        & ~F.isnan(F.col("y"))
        & (F.abs(F.col("y")) != F.lit(float("inf")))
    )
    a1 = base.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("x").alias("x0"),
        F.sum(F.floor(F.col("y") * F.lit(_TREND_Y_FP)).cast("long"))
        .alias("qy"),
    )
    xd = (F.col("x") - F.col("x0")).cast("double") / F.lit(
        float(us_per_unit)
    )
    a2 = (
        base.join(F.broadcast(a1.select("g", "x0")), "g")
        .groupBy("g")
        .agg(
            F.sum(F.floor(xd * F.lit(_TREND_Y_FP)).cast("long"))
            .alias("qx")
        )
    )
    means = (
        a1.join(a2, "g")
        .select(
            "g",
            "n",
            "x0",
            ((F.col("qy") / F.lit(_TREND_Y_FP)) / F.col("n")).alias("my"),
            ((F.col("qx") / F.lit(_TREND_Y_FP)) / F.col("n")).alias("mx"),
        )
    )
    dx = xd - F.col("mx")
    dy = F.col("y") - F.col("my")
    a3 = (
        base.join(F.broadcast(means), "g")
        .groupBy("g")
        .agg(
            F.sum(F.floor(dx * dy * F.lit(_TREND_P_FP)).cast("long"))
            .alias("sxy"),
            F.sum(F.floor(dx * dx * F.lit(_TREND_P_FP)).cast("long"))
            .alias("sxx"),
            F.first("n").alias("n"),
            F.first("my").alias("my"),
            F.first("mx").alias("mx"),
        )
    )
    slope = F.try_divide(
        F.col("sxy").cast("double"), F.col("sxx").cast("double")
    )
    return a3.select(
        F.col("g").alias(group_col),
        "n",
        F.round(slope, 6).alias("slope_per_unit"),
        F.round(F.col("my") - slope * F.col("mx"), 6).alias("intercept"),
    )

"""Iterative k-means (Lloyd's) over an embedding column.

The iterative-algorithm pattern on Spark: each iteration is a full
declarative plan (assign = corpus ⨯ broadcast(centroids) argmin;
recompute = posexplode + groupBy avg), driven by a Python loop.
Centroids are tiny so they broadcast; the corpus never shuffles
during assignment — per iteration the only shuffle is the centroid
recompute, which partial-aggregates down to k×dim values.

Determinism: init = the k lowest-id vectors; ties in assignment break
to the lowest centroid id; centroids round to 6dp each iteration so
independent engines (and the DuckDB oracle, which unrolls the same
iterations in SQL) converge bit-identically.

At 100 TB you would persist assignments per iteration (checkpoint to
break lineage) and sample for the centroid update; the operator keeps
the exact form since its contract is oracle-checkable determinism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectorsearchutil_spark.functions.vector import l2_distance
from vectorsearchutil_spark.session import (
    arrow_wins,
    batch_matrix,
    centroid_sq_distances,
    collect_if_small,
    local_frame,
    table_matrix,
)


def _recompute_centroids(assigned: DataFrame, vector_col: str) -> DataFrame:
    # posexplode + (cid,pos) groupBy beats a 64-column wide avg agg
    # here (measured ~1.5×): the narrow long-format aggregate stays in
    # one tight codegen loop while 64 separate element_at aggregates
    # bloat the generated code
    return (
        assigned.select(
            "cid",
            F.posexplode(F.col(vector_col).cast("array<double>")).alias(
                "pos", "v"
            ),
        )
        .groupBy("cid", "pos")
        .agg(F.round(F.avg("v"), 6).alias("v"))
        .groupBy("cid")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("s"))
        .select("cid", F.transform("s", lambda x: x["v"]).alias("cv"))
    )


#: ``kmeans``' driver gate: a working set of at most this many float64
#: cells (≈ 40 MB) runs Lloyd's on the driver
_DRIVER_MAX_CELLS = 5_000_000


def _assign_blas(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    vector_col: str,
) -> DataFrame:
    """BLAS form of ``_assign`` (same output: ``df``'s columns + cid,
    _d): per Arrow batch, squared distances
    accumulate one centroid at a time (memory n_batch×dim, never
    n_batch×k×dim), argmin over the k columns. Ties break to the
    lowest cid exactly like the expression form (centroids are
    iterated in cid order and argmin keeps the first minimum); a NULL
    vector scores NaN everywhere, so it takes the lowest cid with a
    NULL distance, as there."""
    import numpy as np
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    ordered = sorted(cents)
    cids = np.array([c for c, _ in ordered], dtype=np.int64)
    C = np.array([v for _, v in ordered], dtype=np.float64)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            d2 = centroid_sq_distances(
                batch_matrix(pdf[vector_col], C.shape[1]), C
            )
            best = np.argmin(d2, axis=1)
            yield pdf.assign(
                cid=cids[best].astype(np.int32),
                _d=np.sqrt(d2[np.arange(len(d2)), best]),
            )

    out = StructType(
        df.schema.fields
        + [StructField("cid", IntegerType()), StructField("_d", DoubleType())]
    )
    return df.mapInPandas(assign, out)


def _assign(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    vector_col: str,
    blas: bool,
) -> DataFrame:
    """Assign each row to its nearest centroid.

    The k centroids travel as ONE broadcast row holding an
    array<struct(cid, cv)>; argmin is array_min over (distance, cid)
    structs (struct ordering is lexicographic, so ties break to the
    lowest cid). Fully narrow: no per-centroid row expansion, no
    window shuffle — the corpus is scanned once per iteration and
    never moves. Data-driven (not literal-inlined) centroids keep
    the generated code small and stable across iterations.

    ``blas`` is the caller's ``session.arrow_wins`` verdict: above
    the wall the HOF lambdas (interpreted, outside codegen) lose to
    the Arrow/BLAS path and ``_assign_blas`` takes over — same
    results, tie-break included (strategy-equality test-asserted)."""
    if blas:
        return _assign_blas(df, cents, vector_col)
    spark = df.sparkSession
    cents_row = local_frame(
        spark,
        [([(int(c), [float(x) for x in v]) for c, v in sorted(cents)],)],
        "cents array<struct<cid:int,cv:array<double>>>",
    )
    best = F.array_min(
        F.transform(
            F.col("cents"),
            lambda c: F.struct(
                l2_distance(F.col(vector_col), c["cv"]).alias("d"),
                c["cid"].alias("cid"),
            ),
        )
    )
    return (
        df.crossJoin(F.broadcast(cents_row))
        .withColumn("_b", best)
        .select(df["*"], F.col("_b.cid").alias("cid"), F.col("_b.d").alias("_d"))
    )


def _round_half_up(values, decimals: int) -> list[float]:
    """Round like Spark's ``F.round`` (BigDecimal HALF_UP over the
    shortest decimal repr of the double) — ``np.round`` is half-even
    and ``floor(x*f+0.5)`` double-rounds, both diverge on ties."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-decimals)
    return [
        float(Decimal(repr(float(v))).quantize(q, rounding=ROUND_HALF_UP))
        for v in values
    ]


def _kmeans_driver(
    spark,
    table,
    k: int,
    iterations: int,
    vector_col: str,
    id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Driver-side Lloyd's for small inputs over the pulled (id,
    vector) ``table`` — bit-identical math to the distributed path
    (float64 L2, argmin ties to lowest cid, 6dp HALF_UP centroid
    rounding, empty cluster keeps its centroid)."""
    import numpy as np

    ids, X = table_matrix(table, id_col, vector_col)
    if not len(ids):
        # empty-in, empty-out (Spark convention): no data, no
        # clusters — found by the registry-wide empty-input sweep
        return (
            local_frame(
                spark, [], f"{id_col} long, cluster int, distance double"
            ),
            local_frame(spark, [], "cid int, cv array<double>"),
        )
    cents = [X[i].tolist() for i in range(min(k, len(ids)))]

    def assign(C: np.ndarray) -> np.ndarray:
        # ||x-c||² argmin; ties → first (lowest cid), matching the
        # distributed array_min struct ordering
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return d2.argmin(axis=1)

    for _ in range(iterations):
        C = np.array(cents, dtype=np.float64)
        a = assign(C)
        for c in range(len(cents)):
            members = X[a == c]
            if len(members):
                cents[c] = _round_half_up(members.mean(axis=0), 6)
    C = np.array(cents, dtype=np.float64)
    a = assign(C)
    dist = np.sqrt(((X - C[a]) ** 2).sum(axis=1))
    assignments = local_frame(
        spark,
        [
            (int(i), int(c), float(d))
            for i, c, d in zip(ids, a.tolist(), _round_half_up(dist, 4))
        ],
        f"{id_col} long, cluster int, distance double",
    )
    centroids = local_frame(
        spark,
        [(int(c), list(map(float, v))) for c, v in enumerate(cents)],
        "cid int, cv array<double>",
    )
    return assignments, centroids


def kmeans(
    df: DataFrame,
    k: int = 8,
    iterations: int = 3,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """Run ``iterations`` Lloyd's steps; returns (assignments,
    centroids). Assignments: (id, cid, distance to its centroid).
    Always returns exactly ``k`` centroids: a cluster that goes empty
    during an iteration retains its previous centroid (it can win
    rows back later; no silent shrink).

    Centroids are collected to the driver after every update (k×dim
    doubles — trivial) and re-inlined as literals: this truncates the
    iterative lineage, so iteration N is ONE pass over the corpus
    instead of re-executing every earlier iteration inside the
    broadcast subtree (the classic iterative-plan blowup). The 6dp
    centroid rounding round-trips exactly through Python floats, so
    results are bit-identical to the lineage-chained form.

    The physical path is size-gated (the broadcast-join analogy):
    when the working set is at most ``_DRIVER_MAX_CELLS`` float64
    cells (5M ≈ 40 MB) the Lloyd's loop runs on the driver in numpy —
    identical math, none of the per-iteration job/shuffle overhead.
    Above the gate (any real corpus) the distributed plan runs, and
    its assignment takes the Arrow/BLAS form past
    ``session.ARROW_MIN_CELLS`` of rows×k×dim work.

    The gate is one Arrow job (``collect_if_small`` at
    ``_DRIVER_MAX_CELLS // dim`` rows) that runs when this function is
    called; below the gate the driver path uses the rows it pulled.
    ``dim`` is the vector width the caller declares, read before
    anything is pulled."""
    # narrow working set — each Lloyd's round re-reads (id, vector)
    # only (at 100 TB: persist MEMORY_AND_DISK or checkpoint)
    from vectorsearchutil_spark.functions.vector import finite_vector

    # NULL or non-finite vectors cannot be assigned or averaged —
    # they are not part of the clustering population
    work = df.select(id_col, vector_col).filter(
        finite_vector(F.col(vector_col))
    )
    table = collect_if_small(work, _DRIVER_MAX_CELLS // dim)
    if table is not None:
        return _kmeans_driver(
            df.sparkSession, table, k, iterations, vector_col, id_col
        )
    # the Lloyd's loop re-reads the working set every iteration
    work = work.cache()
    init = (
        work.orderBy(id_col)
        .limit(k)
        .select(F.col(vector_col).cast("array<double>").alias("cv"))
        .collect()
    )
    cents = [(i, list(r["cv"])) for i, r in enumerate(init)]
    # measured once: every iteration assigns the same rows to k centroids
    blas = arrow_wins(work, [v for _, v in cents])
    for _ in range(iterations):
        assigned = _assign(work, cents, vector_col, blas)
        rows = _recompute_centroids(assigned, vector_col).collect()
        # a cluster that lost every member keeps its previous centroid
        # (deterministic, k never shrinks); the recompute groupBy only
        # emits cids with members, so merge over the prior set
        new = {r["cid"]: list(r["cv"]) for r in rows}
        cents = sorted((c, new.get(c, v)) for c, v in cents)
    final = _assign(work, cents, vector_col, blas)
    centroids = local_frame(
        df.sparkSession,
        [(int(c), list(v)) for c, v in cents], "cid int, cv array<double>"
    )
    return (
        final.select(
            F.col(id_col),
            F.col("cid").alias("cluster"),
            F.round(F.col("_d"), 4).alias("distance"),
        ),
        centroids,
    )


def silhouette_ab(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    vector_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-row centroid-silhouette inputs: (id, cluster, a, b) with
    a = distance to the nearest centroid (= own cluster, ties lowest
    cid) and b = distance to the nearest OTHER centroid, both rounded
    to 4dp AFTER the unrounded argmin (the kmeans tie-break).

    Physical strategy mirrors :func:`_assign`, gated by one
    ``session.arrow_wins`` count of ``df``: below
    ``session.ARROW_MIN_CELLS`` of rows×k×dim work, a narrow
    expression plan (one broadcast×corpus pass, per-row struct sort
    over k entries — no collect_list shuffle); above it, the
    Arrow/numpy path computes the n×k distance block per batch with
    the SAME centroid-at-a-time accumulation as ``_assign_blas``. A
    NULL vector gives the lowest cid with NULL ``a`` and ``b`` on
    both paths.
    Near-tie caveat (same class as the kNN gate): the two paths'
    float sums can differ in the last ulps, so a point exactly
    between two centroids may flip — strategy equality is asserted on
    the test corpus."""
    import math

    ordered = sorted(cents)
    if arrow_wins(df, [v for _, v in ordered]):
        import numpy as np
        import pandas as pd

        cids = np.array([c for c, _ in ordered], dtype=np.int64)
        C = np.array([v for _, v in ordered], dtype=np.float64)

        def ab(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                d2 = centroid_sq_distances(
                    batch_matrix(pdf[vector_col], C.shape[1]), C
                )
                best = np.argmin(d2, axis=1)
                rows = np.arange(len(d2))
                a = np.sqrt(d2[rows, best])
                if len(cids) < 2:
                    # a single centroid has no "nearest other": b is
                    # NULL (degenerate one-row/one-cluster inputs),
                    # matching the oracle's MIN-over-empty
                    b_col = pd.array([None] * len(d2), dtype="Float64")
                else:
                    d2[rows, best] = np.inf
                    b = np.sqrt(d2.min(axis=1))
                    b_col = np.floor(b * 1e4 + 0.5) / 1e4
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        "cluster": cids[best].astype(np.int32),
                        "a": np.floor(a * 1e4 + 0.5) / 1e4,
                        "b": b_col,
                    }
                )

        return df.select(id_col, vector_col).mapInPandas(
            ab, f"{id_col} long, cluster int, a double, b double"
        )
    spark = df.sparkSession
    cents_row = local_frame(
        spark,
        [([(int(c), [float(x) for x in v]) for c, v in ordered],)],
        "cents array<struct<cid:int,cv:array<double>>>",
    )
    dist_to = lambda cv: F.sqrt(  # noqa: E731
        F.aggregate(
            F.zip_with(
                F.col(vector_col).cast("array<double>"),
                cv,
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    scored = F.array_sort(
        F.transform(
            F.col("cents"),
            lambda c: F.struct(
                dist_to(c["cv"]).alias("d"), c["cid"].alias("cid")
            ),
        )
    )
    out = df.crossJoin(F.broadcast(cents_row)).withColumn("_arr", scored)
    # F.get (NULL beyond bounds), not [i]: with a single centroid the
    # "other centroids" array is EMPTY and [0] is an ANSI
    # ArrayIndexOutOfBounds (round-6 one-row sweep); NULL b matches
    # the oracle's MIN over an empty set
    own = F.get(F.col("_arr"), 0)["cid"]
    a = F.get(F.col("_arr"), 0)["d"]
    b = F.get(
        F.filter(
            F.col("_arr"),
            lambda e: e["cid"] != F.get(F.col("_arr"), 0)["cid"],
        ),
        0,
    )["d"]
    rnd = lambda c: F.floor(c * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4)  # noqa: E731
    return out.select(
        F.col(id_col),
        own.cast("int").alias("cluster"),
        rnd(a).alias("a"),
        rnd(b).alias("b"),
    )

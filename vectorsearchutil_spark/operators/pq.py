"""Product quantization (PQ): compress vectors to m byte-codes and
search with asymmetric distance computation (ADC) — the memory-bound
ANN scale path (IVF's complement; reference context: the sqlite-vss
index at vsu/base/VectorSearchBase.py:54-59 is a faiss wrapper, and
faiss's large-scale indexes are IVF+PQ).

Shape of the design:

* **Train** — per-subspace k-means codebooks. Training runs on the
  driver over a bounded sample (``train_limit``), exactly like faiss
  trains on a corpus sample: codebooks are a few KB of model state,
  not data-scale state. The math replicates
  ``operators.clustering._kmeans_driver`` (float64, argmin ties to
  the lowest code, 6dp HALF_UP centroid rounding per iteration,
  empty clusters keep their centroid) so an oracle can re-derive the
  codebooks in SQL.
* **Encode** — one narrow projection: the m codebooks travel as ONE
  broadcast row (array<array<struct<cid,cv>>>); each subspace's code
  is an array_min over (squared-distance, cid) structs. No shuffle,
  no Python; the corpus scan writes m small ints + a quantization
  error per row. At 100 TB the encoded table is ~dim·4/m× smaller
  than the raw vectors — the point of PQ.
* **ADC search** — the query is expanded driver-side into an m×k
  distance table (a few hundred doubles); approximate distance is m
  array lookups + a fold, then a distributed top-k
  (TakeOrderedAndProject). The corpus never shuffles and the raw
  vector column is never read — the scan is over codes only.
* **Re-rank** — exact L2 on the ADC shortlist only (a broadcast
  semi-join of shortlist ids against the raw vectors), the standard
  two-stage recall repair.

Determinism contract (what the oracles pin): every distance is a
float64 sum in subspace order; ADC and re-rank distances are rounded
to 4dp and ordered (rounded, id ascending) so engine ulp differences
cannot reorder the cut.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectorsearchutil_spark.functions.vector import (
    finite_vector,
    l2_distance,
    l2_squared,
    lit_double_sql,
)
from vectorsearchutil_spark.operators.clustering import (
    _round_half_up,
    _sorted_vectors,
)
from vectorsearchutil_spark.session import collect_if_small, local_frame

Codebooks = list[list[list[float]]]  # [subspace][code][dim/m]


def pq_train(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    iterations: int = 2,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    train_limit: int | None = 100_000,
    n_rows: int | None = None,
) -> Codebooks:
    """Train m per-subspace codebooks of k centroids each.

    Driver memory is BOUNDED by default (VERDICT r2 #3): when the
    corpus exceeds ``train_limit`` rows (default 100k — the faiss
    training posture: codebooks are model state, a sample suffices),
    the training set is the ``train_limit`` rows with the lowest
    deterministic hash draw ``u = md5('pqtrain:'||id)[:8]/2^32``
    (ties by id) — an unbiased pseudo-random sample selected by a
    TakeOrderedAndProject over one narrow hash-prefiltered scan, not
    a full sort, and replayable in any engine:
    ``ORDER BY ('0x'||substr(md5('pqtrain:'||id),1,8))::BIGINT, id
    LIMIT train_limit``. At or below the bound the whole input trains
    (so small-scale oracles replay training over the full table
    unchanged). ``train_limit=None`` forces unbounded (tests only).

    Deterministic: init for subspace j is the sample's first k
    sub-vectors (by ascending id), and each Lloyd's iteration rounds
    centroids to 6dp half-up — identical math to the k-means driver
    path, so SQL oracles can replay it."""
    import numpy as np

    from vectorsearchutil_spark.operators.sampling import hash_uniform

    work = df.select(id_col, vector_col).filter(
        finite_vector(F.col(vector_col))
    )
    table = None
    if train_limit is not None:
        if n_rows is None:
            # one Arrow job: at or below the bound it IS the training set
            table = collect_if_small(work, train_limit)
            if table is None:
                n_rows = work.count()  # sizes the sample's prefilter
        if table is None and n_rows > train_limit:
            u = hash_uniform(F.col(id_col).cast("string"), "pqtrain")
            # cheap narrow prefilter (expect ~2×train_limit survivors)
            # so the top-k heap never sees the full corpus
            # +100 absolute slack keeps the under-selection probability
            # negligible even for tiny train_limits
            frac = min(1.0, (2.0 * train_limit + 100.0) / n_rows)
            work = (
                work.withColumn("_u", u)
                .filter(F.col("_u") < frac)
                .orderBy(F.col("_u").asc(), F.col(id_col).asc())
                .limit(train_limit)
                .drop("_u")
            )
    if table is None:
        table = work.toArrow()
    ids, X = _sorted_vectors(table, id_col, vector_col)
    if not ids:
        # a codebook is a fitted model — an empty corpus has no dim
        # and no centroids, so this is a declared error, not a crash
        # (callers that want empty-in/empty-out guard before training)
        raise ValueError("pq_train: empty input")
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    books: Codebooks = []
    for j in range(m):
        S = X[:, j * d : (j + 1) * d]
        cents = [S[i].tolist() for i in range(min(k, len(S)))]
        for _ in range(iterations):
            C = np.array(cents, dtype=np.float64)
            a = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
            for c in range(len(cents)):
                members = S[a == c]
                if len(members):
                    cents[c] = _round_half_up(members.mean(axis=0), 6)
        books.append([list(map(float, cv)) for cv in cents])
    return books


def _codebook_row(df: DataFrame, books: Codebooks):
    """The codebooks as ONE broadcastable row
    (cbs array<array<struct<cid,cv>>>) — data-driven, not
    literal-inlined: 1024 inline double literals blow past codegen
    method limits (janino bails to interpreted — measured slower than
    the lambda form)."""
    payload = [
        [(int(cid), [float(x) for x in cv]) for cid, cv in enumerate(book)]
        for book in books
    ]
    return local_frame(
        df.sparkSession,
        [(payload,)], "cbs array<array<struct<cid:int,cv:array<double>>>>"
    )


def pq_encode(
    df: DataFrame,
    books: Codebooks,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    strategy: str = "matrix",
) -> DataFrame:
    """Encode vectors to (id, codes array<int>, qerr double): per
    subspace the argmin code over the codebook (squared L2, ties to
    the lowest code), qerr = total squared quantization error rounded
    4dp. One narrow pass over the corpus, no shuffle, either way.

    ``strategy='matrix'`` (default): Arrow-batched ``mapInPandas``
    computing all subspace distance matrices in BLAS — the
    knn_batch_matrix lesson (PERF.md): bulk vector math belongs in
    numpy, where throughput scales with BLAS, not expression
    interpretation. ``strategy='expr'`` keeps the pure-JVM
    higher-order-function form (no Python workers; right for
    streaming contexts or Python-less clusters). Both produce
    bit-identical output (argmin ties to lowest cid; float64 sums in
    dim order; 4dp half-up rounding applied JVM-side)."""
    if strategy == "matrix":
        return _pq_encode_matrix(df, books, vector_col, id_col)
    m = len(books)
    d = len(books[0][0])
    vec = F.col(vector_col).cast("array<double>")
    subs = df.crossJoin(F.broadcast(_codebook_row(df, books))).select(
        F.col(id_col),
        "cbs",
        *[F.slice(vec, j * d + 1, d).alias(f"_s{j}") for j in range(m)],
    )

    def _best(j: int):
        # NB: the lambda must be unary — pyspark dispatches on lambda
        # arity, so a default-arg trick would bind the array index
        s = F.col(f"_s{j}")
        return F.array_min(
            F.transform(
                F.col("cbs")[j],
                lambda c: F.struct(
                    l2_squared(s, c["cv"]).alias("d"),
                    c["cid"].alias("cid"),
                ),
            )
        ).alias(f"_b{j}")

    best = subs.select(F.col(id_col), *[_best(j) for j in range(m)])
    total_err = None
    for j in range(m):
        term = F.col(f"_b{j}")["d"]
        total_err = term if total_err is None else total_err + term
    return best.select(
        F.col(id_col),
        F.array(*[F.col(f"_b{j}")["cid"] for j in range(m)]).alias("codes"),
        F.round(total_err, 4).alias("qerr"),
    )


def _pq_encode_matrix(
    df: DataFrame,
    books: Codebooks,
    vector_col: str,
    id_col: str,
) -> DataFrame:
    """BLAS encode: per Arrow batch, each subspace's n×k squared
    distance matrix in one einsum-free broadcastized op. Codebooks
    ride into the workers as a pickled closure constant (a few KB)."""
    import numpy as np

    m = len(books)
    d = len(books[0][0])
    C = [  # noqa: N806 — per-subspace k×d codebook matrices
        [list(map(float, cv)) for cv in book] for book in books
    ]

    def encode(batches):
        import pandas as pd

        cents = [np.asarray(Cj, dtype=np.float64) for Cj in C]
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(list(pdf[vector_col]), dtype=np.float64)
            codes = np.empty((len(X), m), dtype=np.int32)
            qerr = np.zeros(len(X), dtype=np.float64)
            for j in range(m):
                S = X[:, j * d : (j + 1) * d]
                D = ((S[:, None, :] - cents[j][None, :, :]) ** 2).sum(axis=2)
                cj = D.argmin(axis=1)  # ties -> first = lowest cid
                codes[:, j] = cj
                qerr += D[np.arange(len(X)), cj]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "codes": list(codes),
                    "qerr": qerr,
                }
            )

    out = df.select(id_col, vector_col).filter(
        finite_vector(F.col(vector_col))
    ).mapInPandas(
        encode, schema=f"{id_col} long, codes array<int>, qerr double"
    )
    # rounding stays JVM-side: F.round is half-up; np.round is not
    return out.select(id_col, "codes", F.round("qerr", 4).alias("qerr"))


def adc_table(books: Codebooks, query: list[float]) -> list[list[float]]:
    """The query's m×k squared-distance lookup table, computed in
    float64 with sequential per-dimension summation (the same order
    the SQL oracle and the encode fold use)."""
    m = len(books)
    d = len(books[0][0])
    return [
        [
            sum(
                (float(query[j * d + i]) - cv[i]) ** 2 for i in range(d)
            )
            for cv in books[j]
        ]
        for j in range(m)
    ]


def pq_adc_topk(
    codes_df: DataFrame,
    books: Codebooks,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "codes",
) -> DataFrame:
    """Approximate top-k by ADC: distance ≈ Σ_j dtab[j][code_j].
    The plan reads ONLY the codes column (m bytes of signal per row),
    does m array lookups + a fold, and finishes with a distributed
    top-k — no shuffle of the corpus, no raw vectors touched.
    Ordering is (4dp-rounded adc, id) so the cut is engine-stable."""
    dtab = adc_table(books, query)
    body = ", ".join(
        "array(" + ", ".join(lit_double_sql(v) for v in row) + ")"
        for row in dtab
    )
    dt = F.expr(f"array({body})")
    m = len(books)
    codes = F.col(codes_col)
    adc = None
    for j in range(m):
        term = F.element_at(
            F.element_at(dt, j + 1), codes[j].cast("int") + 1
        )
        adc = term if adc is None else adc + term
    return (
        codes_df.select(F.col(id_col), F.round(adc, 4).alias("adc"))
        .orderBy("adc", id_col)
        .limit(k)
    )


def ivfpq_encode(
    df: DataFrame,
    centroids: DataFrame,
    books: Codebooks,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid_vec",
) -> DataFrame:
    """IVF-PQ index build in ONE narrow pass: (id, centroid_id,
    codes, qerr) — the faiss IVFADC storage layout (coarse list id +
    PQ codes, raw vectors dropped).

    Both the coarse assignment (full-dim argmin over the centroid
    set) and the subspace encode run inside one Arrow-batched
    ``mapInPandas``; the corpus is read once and never shuffled. At
    100 TB the output is written partitioned by ``centroid_id`` so a
    probe-limited search becomes partition pruning, and the stored
    bytes are m codes + one small int per vector (~dim·4/m×
    smaller). Coarse tie-break and PQ argmin both go to the lowest
    id, float64 throughout — same contract as build_ivf_index +
    pq_encode, so the composition is oracle-replayable.
    """
    import numpy as np

    m = len(books)
    d = len(books[0][0])
    C = [[list(map(float, cv)) for cv in book] for book in books]
    crows = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in centroids.select(centroid_id_col, centroid_vec_col).collect()
    )
    cids = [c for c, _ in crows]
    CM = [v for _, v in crows]  # noqa: N806

    def encode(batches):
        import pandas as pd

        cents = [np.asarray(Cj, dtype=np.float64) for Cj in C]
        G = np.asarray(CM, dtype=np.float64)  # noqa: N806 — coarse matrix
        cid_arr = np.asarray(cids, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(list(pdf[vector_col]), dtype=np.float64)
            # coarse: n×L squared distances; argmin ties -> first =
            # lowest centroid id (cid_arr is sorted ascending)
            DG = ((X[:, None, :] - G[None, :, :]) ** 2).sum(axis=2)
            coarse = cid_arr[DG.argmin(axis=1)]
            codes = np.empty((len(X), m), dtype=np.int32)
            qerr = np.zeros(len(X), dtype=np.float64)
            for j in range(m):
                S = X[:, j * d : (j + 1) * d]
                D = ((S[:, None, :] - cents[j][None, :, :]) ** 2).sum(axis=2)
                cj = D.argmin(axis=1)
                codes[:, j] = cj
                qerr += D[np.arange(len(X)), cj]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    centroid_id_col: coarse,
                    "codes": list(codes),
                    "qerr": qerr,
                }
            )

    out = df.select(id_col, vector_col).filter(
        finite_vector(F.col(vector_col))
    ).mapInPandas(
        encode,
        schema=(
            f"{id_col} long, {centroid_id_col} long,"
            " codes array<int>, qerr double"
        ),
    )
    return out.select(
        id_col, centroid_id_col, "codes", F.round("qerr", 4).alias("qerr")
    )


def ivfpq_probe_ids(
    centroids: DataFrame,
    query: list[float],
    n_probe: int = 3,
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid_vec",
) -> list[int]:
    """The n_probe coarse lists nearest the query — model-state-sized
    work, computed driver-side in float64 with (distance, id) tie
    ordering, identical to the SQL oracle's ROW_NUMBER cut."""
    rows = centroids.select(centroid_id_col, centroid_vec_col).collect()
    scored = sorted(
        (
            sum((float(q) - float(v)) ** 2 for q, v in zip(query, r[1])),
            int(r[0]),
        )
        for r in rows
    )
    return [cid for _, cid in scored[:n_probe]]


def ivfpq_search(
    enc: DataFrame,
    centroids: DataFrame,
    books: Codebooks,
    query: list[float],
    k: int = 10,
    n_probe: int = 3,
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """IVF-PQ (IVFADC) search: prune to the n_probe nearest coarse
    lists, then ADC top-k over the pruned codes. The probe filter is
    a literal IN over the list id — on a ``partitionBy(centroid_id)``
    layout that is partition pruning, so the scan touches
    n_probe/n_lists of the index and reads only the codes column."""
    probe = ivfpq_probe_ids(
        centroids, query, n_probe, centroid_id_col=centroid_id_col
    )
    pruned = enc.filter(F.col(centroid_id_col).isin(*[int(p) for p in probe]))
    return pq_adc_topk(pruned, books, query, k=k, id_col=id_col)


def pq_search_rerank(
    df: DataFrame,
    codes_df: DataFrame,
    books: Codebooks,
    query: list[float],
    k: int = 10,
    shortlist: int = 50,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage PQ search: ADC shortlist over the codes table, then
    exact L2 re-rank of the shortlist against the raw vectors — the
    standard recall repair. The shortlist is k-scale rows, so the
    re-rank join broadcasts; the raw-vector table is scanned once
    with a semi-join filter, never shuffled."""
    from vectorsearchutil_spark.functions.vector import lit_vector

    short = pq_adc_topk(
        codes_df, books, query, k=shortlist, id_col=id_col
    ).select(id_col)
    qlit = lit_vector([float(v) for v in query])
    cand = df.join(F.broadcast(short), id_col)
    return (
        cand.select(
            F.col(id_col),
            l2_distance(F.col(vector_col), qlit).alias("_d"),
        )
        .orderBy(F.round(F.col("_d"), 4).asc(), F.col(id_col).asc())
        .limit(k)
        .select(F.col(id_col), F.round(F.col("_d"), 4).alias("distance"))
    )


def _pq_distortion_pairs_matrix(
    df: DataFrame, books: Codebooks, vector_col: str
) -> DataFrame:
    """(j, d2) pairs — min squared quantization error per (vector,
    subspace) — via a numpy ``mapInArrow`` kernel (the
    ``_pq_encode_matrix`` lesson: bulk vector math belongs in BLAS,
    and the unrolled 8-subspace HOF tree costs more to BUILD and
    codegen than the 2k-row scan it runs on). Bit-identical to the
    expr form for every input class:

    * finite vectors: the per-dim accumulation runs in dimension
      order from 0.0 (``D += (S[:,i]-C[:,i])**2``) — the same IEEE
      float64 op sequence as the ``zip_with``/``aggregate`` fold;
      the min over codes moves no arithmetic.
    * a NaN/Inf component poisons exactly its own subspace, and all
      k codes of that subspace share one non-finite class (centroids
      are always finite), so numpy's NaN-propagating min equals
      Spark's ordering-based array_min on these rows.
    * degenerate rows replicate the sliced zip_with fold cell by
      cell: a NULL vector nulls all m subspaces; a short vector
      participates in exactly its fully-covered prefix subspaces
      (``slice`` returns what exists, ``zip_with`` null-pads the
      rest); a NULL *element* nulls exactly its own subspace; extra
      trailing dims beyond m·d are ignored. ARROW NULL stays
      distinct from NaN (the downstream max() skips NULL but is
      poisoned by NaN, so the distinction is load-bearing).
    """
    import numpy as np
    import pyarrow as pa

    m = len(books)
    d = len(books[0][0])
    dim = m * d
    C = [[list(map(float, cv)) for cv in book] for book in books]

    def kernel(batches):
        cents = [np.asarray(Cj, dtype=np.float64) for Cj in C]
        for batch in batches:
            n = len(batch)
            if not n:
                continue
            col = batch.column(0)
            lens = pa.compute.list_value_length(col)
            flat = col.flatten()
            if (
                col.null_count == 0
                and flat.null_count == 0
                and pa.compute.min(lens).as_py() == dim
                and pa.compute.max(lens).as_py() == dim
            ):
                # fast path (every real corpus batch): one zero-copy
                # reshape, all cells valid
                X = flat.to_numpy().astype(np.float64).reshape(n, dim)
                valid = np.ones((n, m), dtype=bool)
            else:
                # exact slow path for degenerate rows
                vl = col.to_pylist()
                X = np.zeros((n, dim), dtype=np.float64)
                valid = np.zeros((n, m), dtype=bool)
                for i, v in enumerate(vl):
                    if v is None:
                        continue
                    cov = min(m, len(v) // d)
                    for j in range(cov):
                        seg = v[j * d : (j + 1) * d]
                        if any(x is None for x in seg):
                            continue
                        X[i, j * d : (j + 1) * d] = seg
                        valid[i, j] = True
            d2 = np.zeros((n, m), dtype=np.float64)
            for j in range(m):
                S = X[:, j * d : (j + 1) * d]
                D = np.zeros((n, len(cents[j])))
                for i in range(d):  # dim-order fold, same as expr
                    D += (S[:, i, None] - cents[j][None, :, i]) ** 2
                d2[:, j] = D.min(axis=1)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.tile(np.arange(m, dtype=np.int32), n)),
                    pa.array(
                        d2.reshape(-1), mask=~valid.reshape(-1)
                    ),
                ],
                names=["j", "d2"],
            )

    return df.select(vector_col).mapInArrow(kernel, "j int, d2 double")


def pq_subspace_distortion(
    df: DataFrame,
    books: Codebooks,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    strategy: str = "matrix",
) -> DataFrame:
    """Per-subspace quantization distortion report for a trained PQ
    codebook: (subspace, n_vectors, mean_sq_err, max_sq_err,
    exact_zero) — the diagnostic that tells you WHICH slice of the
    embedding needs a bigger codebook (or a rotation) before you pay
    for recall loss at serving time.

    Same one-pass broadcast-codebook shape as :func:`pq_encode`
    (corpus never shuffles; m narrow rows per vector enter the
    aggregate). ``strategy='matrix'`` (default) computes the
    per-(vector, subspace) min d2 in a numpy ``mapInArrow`` kernel
    (see :func:`_pq_distortion_pairs_matrix` for the bit-identity
    argument); ``strategy='expr'`` keeps the pure-JVM
    higher-order-function form (streaming / Python-less clusters).
    Cross-row aggregation is order-proof either way: per-(vector,
    subspace) d2 is the encoder's fixed-order float64 sum, then the
    mean quantizes d2 to 1e-6 units and sums exact integers — the
    value-quantization pattern from the covariance rewrite — so the
    result is bit-identical under any partitioning and replayable by
    the SQL oracle.
    """
    from vectorsearchutil_spark.functions.vector import round_half_up

    m = len(books)
    d = len(books[0][0])
    if strategy == "matrix":
        pairs = _pq_distortion_pairs_matrix(df, books, vector_col)
    else:
        vec = F.col(vector_col).cast("array<double>")
        subs = df.crossJoin(F.broadcast(_codebook_row(df, books))).select(
            F.col(id_col),
            "cbs",
            *[F.slice(vec, j * d + 1, d).alias(f"_s{j}") for j in range(m)],
        )

        def _best(j: int):
            s = F.col(f"_s{j}")
            return F.array_min(
                F.transform(
                    F.col("cbs")[j],
                    lambda c: F.struct(
                        l2_squared(s, c["cv"]).alias("d"),
                        c["cid"].alias("cid"),
                    ),
                )
            ).alias(f"_b{j}")

        best = subs.select(F.col(id_col), *[_best(j) for j in range(m)])
        pairs = best.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            F.col(f"_b{j}")["d"].alias("d2"),
                        )
                        for j in range(m)
                    ]
                )
            ).alias("_p")
        ).select(F.col("_p.j").alias("j"), F.col("_p.d2").alias("d2"))
    # guard the decimal cast: a NaN/Inf vector yields non-finite d2,
    # and ANSI CAST(NaN AS DECIMAL) throws — degrade those rows to
    # NULL (sum skips), same convention as _finite_or_null
    d2f = F.col("d2")
    finite = (
        ~F.isnan(d2f)
        & (d2f != F.lit(float("inf")))
        & (d2f != F.lit(float("-inf")))
        # DECIMAL(38,0) headroom for the 1e6 scale-up
        & (F.abs(d2f) < F.lit(1e30))
    )
    q = F.when(
        finite, F.floor(d2f * F.lit(1000000.0) + F.lit(0.5))
    ).cast("decimal(38,0)")
    agg = pairs.groupBy("j").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(q).alias("_sq"),
        F.sum((F.col("d2") == 0.0).cast("long")).alias("exact_zero"),
        F.max("d2").alias("_mx"),
    )
    return agg.select(
        F.col("j").cast("int").alias("subspace"),
        "n_vectors",
        round_half_up(
            F.col("_sq").cast("double")
            / (F.col("n_vectors").cast("double") * F.lit(1000000.0)),
            6,
        ).alias("mean_sq_err"),
        round_half_up(F.col("_mx"), 6).alias("max_sq_err"),
        "exact_zero",
    )

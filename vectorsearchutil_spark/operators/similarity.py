"""Similarity search over embedding columns — the scale paths.

Three tiers (north-star "similarity search" scope; the reference's
faiss index, ``vsu/base/VectorSearchBase.py:54-59``, is the
single-node analog of tier 2/3):

1. **exact, expression-based** (operators/knn.py) — per-row
   higher-order-function distances; right when queries are few and
   the corpus is scanned once.
2. **exact, matrix-based** (this module) — broadcast one side as a
   numpy matrix, Arrow-batch the other through ``mapInPandas``, and
   let BLAS do blocked dot products. 10-100× over per-pair
   expressions; the broadcast side must fit in executor memory
   (a 10M×64-float32 matrix is 2.5 GB — fine; beyond that, block
   both sides).
3. **approximate** — IVF-style partition pruning: assign vectors to
   their nearest centroid (one narrow pass), then search only the
   ``n_probe`` closest partitions per query. At 100 TB this is the
   plan: the centroid assignment becomes the Parquet partition key,
   and partition pruning turns each query into a sub-scan.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from vectorsearchutil_spark.functions.vector import l2_distance
from vectorsearchutil_spark.session import (
    arrow_wins,
    batch_matrix,
    collect_if_small,
    local_frame,
    table_matrix,
)

#: ``neardup_pairs``' matrix gate in corpus cells (~78k × 64): measured,
#: not a memory bound — see its docstring
_NEARDUP_MATRIX_MAX_CELLS = 5_000_000

#: ``neardup_pairs``' block count above the matrix gate: 32 won at
#: 125k×64 (see its docstring)
_NEARDUP_BLOCKS = 32

#: ``cosine_lsh_pairs``' matrix-verify gate: a memory bound on the
#: float64 corpus matrix broadcast to every executor
_LSH_VERIFY_MAX_BYTES = 400_000_000


def _vectors(df: DataFrame, id_col: str, vector_col: str) -> DataFrame:
    """The (id, vector) rows that can take part in a distance: a NULL
    vector cannot, so it never reaches a matrix."""
    return df.select(id_col, vector_col).filter(
        F.col(vector_col).isNotNull()
    )


def _unit_rows(mat: np.ndarray) -> np.ndarray:
    """``mat``'s rows scaled to unit length. A zero row has no cosine
    (``functions.vector.cosine_similarity`` is NULL for it), so it
    becomes NaN: every score it enters is NaN and passes no threshold,
    as the join verify drops the NULL."""
    with np.errstate(invalid="ignore"):
        return mat / np.linalg.norm(mat, axis=1)[:, None]


def neardup_pairs_matrix(
    df: DataFrame,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine ≥ threshold — exact,
    matrix-based brute force.

    Plan: broadcast the (normalized) corpus matrix; each Arrow batch
    of corpus rows computes ``batch @ corpus.T`` with BLAS and emits
    qualifying pairs. One narrow pass, no shuffle at all; output is
    the (small) qualifying pair set.
    """
    table = _vectors(df, id_col, vector_col).toArrow()
    return _neardup_pairs_matrix(df, table, vector_col, id_col, threshold)


def _neardup_pairs_matrix(
    df: DataFrame,
    table,
    vector_col: str,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """``neardup_pairs_matrix`` over the corpus ``table`` already
    pulled to the driver."""
    spark = df.sparkSession
    ids, mat = table_matrix(table, id_col, vector_col)
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(_unit_rows(mat))

    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids = b_ids.value
        all_mat = b_mat.value
        # bound the dense score allocation: an Arrow batch is ~10k
        # rows, so batch×corpus doubles would be batch-size-dependent
        # GBs at large n (measured: a 125k-vector corpus OOM-killed
        # the worker). Chunk rows so each sims block stays ≤ ~256 MB;
        # thresholding happens per chunk, so only survivors accumulate.
        chunk = max(1, 32_000_000 // max(1, len(all_ids)))
        for pdf in batches:
            qs = _unit_rows(np.array(list(pdf[vector_col]), dtype=np.float64))
            qa = pdf[id_col].to_numpy(dtype=np.int64)
            for lo in range(0, len(qa), chunk):
                sims = qs[lo : lo + chunk] @ all_mat.T
                ai, bj = np.nonzero(sims >= threshold)
                id_a = qa[lo : lo + chunk][ai]
                id_b = all_ids[bj]
                keep = id_a < id_b
                yield pd.DataFrame(
                    {
                        "id_a": id_a[keep],
                        "id_b": id_b[keep],
                        "cosine": sims[ai[keep], bj[keep]],
                    }
                )

    from vectorsearchutil_spark.functions.parallel import fanout_repartition

    return (
        fanout_repartition(_vectors(df, id_col, vector_col))
        .mapInPandas(compute, out_schema)
        .select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))
    )


def neardup_pairs_blocked(
    df: DataFrame,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    n_blocks: int = 8,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold with NO driver-side collect.

    Rows hash into ``n_blocks`` blocks; every unordered block pair
    (ba ≤ bb) becomes one ``applyInPandas`` task that BLAS-multiplies
    its two blocks (upper triangle for the diagonal task). A pair of
    ids lands in exactly one task, so no dedup pass is needed.

    Scale shape: peak per-task memory is two blocks
    (2·(n/B)·dim float64); each row is shuffled to exactly B tasks, so
    shuffle volume is n·B rows — the price of removing the matrix
    path's driver collect/broadcast of the whole corpus. O(n²)
    compute is inherent to EXACT all-pairs; at corpus sizes where
    that is infeasible, ``cosine_lsh_pairs`` (approximate) is the
    knob, this is the exact distributed fallback.
    """
    spark = df.sparkSession
    rows = df.filter(F.col(vector_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(vector_col).alias("_vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks))
        .cast("int")
        .alias("_blk"),
    )
    tasks = local_frame(
        spark,
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "ba int, bb int",
    )
    # side 0 = rows of block ba; side 1 = rows of block bb (cross
    # tasks only — the diagonal task reads its block once)
    side_a = rows.join(F.broadcast(tasks), rows["_blk"] == tasks["ba"]).select(
        "ba", "bb", F.lit(0).alias("_side"), "_id", "_vec"
    )
    side_b = rows.join(
        F.broadcast(tasks.filter(F.col("ba") != F.col("bb"))),
        rows["_blk"] == tasks["bb"],
    ).select("ba", "bb", F.lit(1).alias("_side"), "_id", "_vec")

    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def compute(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ba, bb = int(key[0]), int(key[1])

        def matrix(part: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
            if not len(part):
                # np.array([]) is 1-D; norm(axis=1) on it raises
                # AxisError. An empty side (tiny/skewed corpus, or
                # n_blocks > ~rows) must yield zero pairs instead.
                return np.empty(0, dtype=np.int64), np.empty((0, 1))
            part = part.sort_values("_id")
            ids = part["_id"].to_numpy(dtype=np.int64)
            return ids, _unit_rows(
                np.array(list(part["_vec"]), dtype=np.float64)
            )

        a_ids, a_mat = matrix(pdf[pdf["_side"] == 0])
        if ba == bb:
            b_ids_arr, b_mat_arr = a_ids, a_mat
        else:
            b_ids_arr, b_mat_arr = matrix(pdf[pdf["_side"] == 1])
        if not len(a_ids) or not len(b_ids_arr):
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        # chunk the A side so the dense block stays ≤ ~256 MB even for
        # large blocks (same lesson as the matrix path: score memory
        # must be bounded by a constant, not by block size)
        chunk = max(1, 32_000_000 // len(b_ids_arr))
        outs = []
        for lo in range(0, len(a_ids), chunk):
            sims = a_mat[lo : lo + chunk] @ b_mat_arr.T
            ai, bj = np.nonzero(sims >= threshold)
            left, right = a_ids[lo : lo + chunk][ai], b_ids_arr[bj]
            if ba == bb:
                keep = left < right  # upper triangle: id_a < id_b
            else:
                keep = np.ones(len(left), dtype=bool)
            id_a = np.minimum(left[keep], right[keep])
            id_b = np.maximum(left[keep], right[keep])
            outs.append(
                pd.DataFrame(
                    {"id_a": id_a, "id_b": id_b,
                     "cosine": sims[ai[keep], bj[keep]]}
                )
            )
        return pd.concat(outs, ignore_index=True)

    return (
        side_a.unionByName(side_b)
        .groupBy("ba", "bb")
        .applyInPandas(compute, out_schema)
        .select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))
    )


def neardup_pairs(
    df: DataFrame,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    dim: int = 64,
) -> DataFrame:
    """Exact cosine near-dup pairs with a size-gated physical path
    (the broadcast-join analogy, mirroring ``kmeans``): one Arrow job
    pulls the non-NULL (id, vector) rows when there are at most
    ``_NEARDUP_MATRIX_MAX_CELLS // dim`` of them (``dim`` is the
    declared vector width), and the matrix path broadcasts that table
    in one narrow BLAS pass (fastest at small n where the driver
    round-trip is the whole cost); above the gate
    ``neardup_pairs_blocked`` runs ``_NEARDUP_BLOCKS`` distributed
    block-pair tasks, no driver collect, identical results.

    The 5M-cell gate (~78k×64) is MEASURED, not a memory
    bound: at 50k×64 the matrix path wins (0.6 s vs 1.5 s — task
    overhead dominates), at 125k×64 the blocked path wins 51.4 s vs
    11.1 s at n_blocks=32 (even work distribution beats the single
    broadcast pass once n² compute dwarfs the fixed overhead; PERF.md
    round 3). Both paths return identical (id_a, id_b, cosine) rows,
    so the same oracle covers them.
    """
    table = collect_if_small(
        _vectors(df, id_col, vector_col), _NEARDUP_MATRIX_MAX_CELLS // dim
    )
    if table is not None:
        return _neardup_pairs_matrix(df, table, vector_col, id_col, threshold)
    return neardup_pairs_blocked(
        df, vector_col, id_col, threshold, n_blocks=_NEARDUP_BLOCKS
    )


def knn_batch_matrix(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vector_col: str = "query_vector",
    metric: str = "l2",
) -> DataFrame:
    """Batched exact kNN, matrix form: broadcast the query matrix,
    stream the corpus through BLAS, keep per-batch top-k, reduce with
    a window. Same result contract as operators.knn.knn_batch —
    ascending distance, ties by ascending id — and deterministic
    across partitionings: batch-local selection uses the same
    (distance, id) total order as the final window, so the per-batch
    top-k provably contains the global top-k. A NULL corpus or query
    vector (or a zero-norm one under cosine) scores NULL, and NULL
    distances rank as they do there: first under l2's ascending order,
    last under cosine's descending one.

    The corpus (the 100 TB side) never shuffles and is read once; the
    final window sees ≤ k rows per (query, batch)."""
    spark = corpus.sparkSession
    q_tbl = (
        queries.select(query_id_col, query_vector_col)
        .toArrow()
        .sort_by(query_id_col)
    )
    if not q_tbl.num_rows:  # no queries → no result rows (not a worker error)
        return local_frame(
            spark,
            [],
            f"{query_id_col} long, {id_col} long, distance double,"
            " rank int",
        )
    q_vecs = q_tbl.column(query_vector_col).to_pandas()
    dim = max((len(v) for v in q_vecs.dropna()), default=0)
    b_qids = spark.sparkContext.broadcast(
        q_tbl.column(query_id_col).to_numpy().astype(np.int64)
    )
    b_qmat = spark.sparkContext.broadcast(batch_matrix(q_vecs, dim))

    out_schema = StructType(
        [
            StructField(query_id_col, LongType()),
            StructField(id_col, LongType()),
            StructField("distance", DoubleType()),
        ]
    )
    # NaN (a NULL distance) sorts where the window below puts NULL
    null_key = -np.inf if metric == "l2" else np.inf

    def _topk_by_dist_then_id(
        srow: np.ndarray, cids: np.ndarray, take: int
    ) -> np.ndarray:
        # batch-local top-k under the GLOBAL (distance, id) total
        # order: argpartition for the cheap cutoff, then widen to every
        # row tied at the cutoff and lexsort (distance, id). Without
        # the widening, ties straddling the cutoff are kept
        # arbitrarily and the result depends on partitioning.
        srow = np.where(np.isnan(srow), null_key, srow)
        part = np.argpartition(srow, take - 1)[:take]
        kth = srow[part].max()
        cand = np.nonzero(srow <= kth)[0]
        return cand[np.lexsort((cids[cand], srow[cand]))[:take]]

    def _scores(qmat: np.ndarray, vectors: pd.Series) -> np.ndarray:
        # (queries, batch) distances, negated similarity under cosine
        # so both metrics rank ascending; NaN where either side is NULL
        if not qmat.shape[1]:  # no query has a vector
            return np.full((len(qmat), len(vectors)), np.nan)
        c = batch_matrix(vectors, qmat.shape[1])
        if metric == "l2":
            # ||q||² - 2q·c + ||c||², computed blocked
            d2 = (
                (qmat * qmat).sum(axis=1)[:, None]
                - 2.0 * (qmat @ c.T)
                + (c * c).sum(axis=1)[None, :]
            )
            return np.sqrt(np.maximum(d2, 0.0))
        qn = np.linalg.norm(qmat, axis=1, keepdims=True)
        cn = np.linalg.norm(c, axis=1, keepdims=True)
        with np.errstate(divide="ignore", invalid="ignore"):
            return -((qmat / qn) @ (c / cn).T)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids = b_qids.value
        qmat = b_qmat.value
        for pdf in batches:
            scores = _scores(qmat, pdf[vector_col])
            cids = pdf[id_col].to_numpy(dtype=np.int64)
            take = min(k, scores.shape[1])
            rows = {query_id_col: [], id_col: [], "distance": []}
            for qi in range(len(qids)):
                for cj in _topk_by_dist_then_id(scores[qi], cids, take):
                    rows[query_id_col].append(qids[qi])
                    rows[id_col].append(cids[cj])
                    rows["distance"].append(
                        scores[qi, cj] if metric == "l2" else -scores[qi, cj]
                    )
            yield pd.DataFrame(rows)

    from pyspark.sql import Window

    asc = metric == "l2"
    from vectorsearchutil_spark.functions.parallel import fanout_repartition

    # one python worker per input partition: a small corpus scan must
    # not serialize the matrix scoring on a single worker (guide §2);
    # the batch-local top-k is a superset cut and the global window
    # below is exact, so the result is partitioning-invariant
    candidates = fanout_repartition(
        corpus.select(id_col, vector_col)
    ).mapInPandas(compute, out_schema)
    order = [
        F.col("distance").asc() if asc else F.col("distance").desc(),
        F.col(id_col).asc(),
    ]
    win = Window.partitionBy(query_id_col).orderBy(*order)
    return (
        candidates.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
    )


def build_ivf_index(
    df: DataFrame,
    centroids: DataFrame,
    vector_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid_vec",
) -> DataFrame:
    """Assign every vector to its nearest centroid (IVF list id).

    The k-row centroid table is collected and the assignment is
    ``clustering._assign``: its expression form (one broadcast row of
    centroids, array_min over (distance, cid) structs, ties to the
    lowest centroid id, the corpus never moves) or, past the
    interpreted-HOF wall that ``session.arrow_wins`` measures with one
    ``df.count()``, its bit-identical Arrow/BLAS form. The assignment
    runs on each centroid's position in ascending id order, and the
    position maps back to the id, so ``centroid_id`` keeps the
    centroid table's type and values (any orderable type, bigint
    beyond 32 bits included). A NULL vector lands in the lowest
    centroid id. At 100 TB the result is written partitioned by
    ``centroid_id`` so queries prune partitions (the Spark analog of
    faiss IVF lists — reference index at
    vsu/base/VectorSearchBase.py:54-59).
    """
    from vectorsearchutil_spark.operators.clustering import _assign

    rows = sorted(
        (r[0], list(r[1]))
        for r in centroids.select(centroid_id_col, centroid_vec_col).collect()
    )
    cents = [(pos, v) for pos, (_, v) in enumerate(rows)]
    blas = arrow_wins(df, [v for _, v in cents])
    assigned = _assign(df, cents, vector_col, blas)
    ids = F.lit([cid for cid, _ in rows]).cast(
        ArrayType(centroids.schema[centroid_id_col].dataType)
    )
    return assigned.select(*df.columns, ids[F.col("cid")].alias(centroid_id_col))


def ivf_search(
    indexed: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid_vec",
    query_id_col: str = "query_id",
    query_vector_col: str = "query_vector",
) -> DataFrame:
    """Approximate kNN: per query, search only the n_probe nearest
    IVF lists. Recall < 1 by design; the win is scanning
    n_probe/n_lists of the data (partition pruning at scale)."""
    from pyspark.sql import Window

    # which lists does each query probe? (tiny: queries × centroids)
    probe_scored = queries.crossJoin(F.broadcast(centroids)).withColumn(
        "_d", l2_distance(F.col(query_vector_col), F.col(centroid_vec_col))
    )
    pwin = Window.partitionBy(query_id_col).orderBy(
        F.col("_d").asc(), F.col(centroid_id_col).asc()
    )
    probes = (
        probe_scored.withColumn("_rn", F.row_number().over(pwin))
        .filter(F.col("_rn") <= n_probe)
        .select(query_id_col, query_vector_col, centroid_id_col)
    )
    # search only rows in probed lists: equi-join on list id prunes
    # the corpus before any distance is computed.
    cand = indexed.join(F.broadcast(probes), centroid_id_col)
    scored = cand.withColumn(
        "distance", l2_distance(F.col(vector_col), F.col(query_vector_col))
    )
    win = Window.partitionBy(query_id_col).orderBy(
        F.col("distance").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "distance", "rank")
    )


# ------------------------------------------------------------------- MMR


def mmr_rerank(
    candidates: DataFrame,
    k: int = 5,
    lam: float = 0.5,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    rel_col: str = "rel",
    vector_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k re-ranking.

    Greedy: pick the most query-relevant candidate first, then
    repeatedly the candidate maximizing
    ``lam·rel(d) − (1−lam)·max_{s∈selected} cos(d, s)``.

    The scale shape: candidate generation is the distributed kNN
    (small top-N per query by construction); the inherently
    sequential greedy loop runs per query inside ``applyInPandas`` —
    queries re-rank in parallel, each group is N rows. Determinism
    for the oracle: ``rel`` arrives rounded (6dp), pairwise cosines
    are rounded to 6dp with HALF_UP (matching SQL ROUND), scores are
    exact float64 ops on rounded inputs, ties break to the lowest id.
    """
    from pyspark.sql.types import IntegerType

    from vectorsearchutil_spark.operators.clustering import _round_half_up

    out_schema = StructType(
        [
            StructField(query_id_col, LongType()),
            StructField(id_col, LongType()),
            StructField("mmr_rank", IntegerType()),
            StructField("mmr_score", DoubleType()),
        ]
    )

    candidates = candidates.filter(
        F.col(vector_col).isNotNull()  # null vectors cannot diversify
    )

    def rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        rel = pdf[rel_col].to_numpy(dtype=np.float64)
        X = np.array(list(pdf[vector_col]), dtype=np.float64)
        norms = np.linalg.norm(X, axis=1)
        norms[norms == 0.0] = 1.0
        normed = X / norms[:, None]
        sims = normed @ normed.T
        sims = np.array(
            _round_half_up(sims.ravel(), 6), dtype=np.float64
        ).reshape(sims.shape)
        n = len(ids)
        selected: list[int] = []
        scores: list[float] = []
        remaining = list(range(n))
        while remaining and len(selected) < k:
            if not selected:
                cand_scores = rel[remaining]
            else:
                max_sim = sims[np.ix_(remaining, selected)].max(axis=1)
                cand_scores = lam * rel[remaining] - (1 - lam) * max_sim
            best = int(np.argmax(cand_scores))  # ids sorted → ties → lowest id
            selected.append(remaining[best])
            scores.append(float(cand_scores[best]))
            remaining.pop(best)
        qid = int(pdf[query_id_col].iloc[0])
        return pd.DataFrame(
            {
                query_id_col: [qid] * len(selected),
                id_col: ids[selected],
                "mmr_rank": np.arange(1, len(selected) + 1, dtype=np.int32),
                "mmr_score": scores,
            }
        )

    return (
        candidates.select(query_id_col, id_col, rel_col, vector_col)
        .groupBy(query_id_col)
        .applyInPandas(rerank, out_schema)
    )


# ---------------------------------------------------------------- cosine LSH


def _lsh_plane(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component j of plane p:
    uniform in [-1,1) from md5('p:j') — reproducible in any engine as
    ``('0x' || substr(md5(p||':'||j), 1, 8))::BIGINT / 2^31 - 1``."""
    import hashlib

    return [
        int(hashlib.md5(f"{plane}:{j}".encode()).hexdigest()[:8], 16) / 2**31 - 1.0
        for j in range(dim)
    ]


def _verify_pairs_matrix(
    table,
    cand: DataFrame,
    vector_col: str,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact-cosine verification of candidate pairs against the
    pulled corpus ``table``, broadcast as a normalized matrix: per
    Arrow batch of (id_a, id_b) pairs, two vectorized row lookups and
    one row-wise dot — no vector joins, no interpreted per-pair array
    math."""
    spark = cand.sparkSession
    ids, mat = table_matrix(table, id_col, vector_col)
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(_unit_rows(mat))

    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        index = {int(i): j for j, i in enumerate(b_ids.value)}
        normed = b_mat.value
        for pdf in batches:
            ia = pdf["id_a"].map(index).to_numpy(dtype=np.int64)
            ib = pdf["id_b"].map(index).to_numpy(dtype=np.int64)
            cos = (normed[ia] * normed[ib]).sum(axis=1)
            keep = cos >= threshold
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"].to_numpy()[keep],
                    "id_b": pdf["id_b"].to_numpy()[keep],
                    "cosine": cos[keep],
                }
            )

    return cand.mapInPandas(compute, out_schema)


def cosine_lsh_pairs(
    df: DataFrame,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 6,
    n_tables: int = 4,
    threshold: float = 0.3,
    dim: int = 64,
) -> DataFrame:
    """Approximate cosine near-dup via multi-table random-hyperplane
    LSH.

    Each of ``n_tables`` independent tables gives every vector an
    ``n_planes``-bit signature (sign of v·plane); vectors sharing a
    full signature in ANY table are candidates; exact cosine verifies.
    Per-plane collision probability for angle θ is 1-θ/π = p, so pair
    recall is 1-(1-p^n_planes)^n_tables — the standard knob: more
    tables → recall, more planes → precision.

    The shuffle-light 100 TB pair-mining path: signatures are one
    narrow projection; the only shuffles are the (table, bucket) join
    over small keys and the candidate distinct.
    """
    from pyspark.sql.types import StringType

    from vectorsearchutil_spark.functions.vector import cosine_similarity

    # plane p (global index) is shared with the SQL oracle via the
    # md5("p:j") derivation. All n_tables·n_planes dot products run as
    # ONE BLAS matmul per Arrow batch — per-row higher-order-function
    # dots were measured 4× slower at 24 planes.
    planes_mat = np.array(
        [_lsh_plane(p, dim) for p in range(n_tables * n_planes)],
        dtype=np.float64,
    )
    b_planes = df.sparkSession.sparkContext.broadcast(planes_mat)
    weights = np.array([2**j for j in range(n_planes)], dtype=np.int64)

    @F.pandas_udf(ArrayType(StringType()))
    def bucket_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        P = b_planes.value
        for batch in batches:
            X = np.array(list(batch), dtype=np.float64)
            bits = (X @ P.T) > 0  # (rows, n_tables*n_planes)
            out = []
            for row in bits:
                sigs = row.reshape(n_tables, n_planes) @ weights
                out.append([f"{t}:{int(s)}" for t, s in enumerate(sigs)])
            yield pd.Series(out)

    signed = df.filter(F.col(vector_col).isNotNull()).select(
        F.col(id_col),
        F.explode(bucket_udf(F.col(vector_col))).alias("bucket"),
    )
    # grouped in-bucket pair expansion (bucket_pairs): the
    # Arrow-batched signature UDF runs ONCE over the corpus — a
    # self-join would push every row through the Python worker twice
    from vectorsearchutil_spark.operators.dedup import bucket_pairs

    cand = bucket_pairs(signed, id_col)
    # exact-cosine verify, size-gated (broadcast-join analogy): when
    # the corpus matrix fits comfortably in executor memory
    # (_LSH_VERIFY_MAX_BYTES), one Arrow job pulls it and the
    # verify runs against the broadcast matrix — no vector joins, BLAS
    # instead of interpreted per-pair array math. Larger corpora take
    # the join path.
    table = collect_if_small(
        _vectors(df, id_col, vector_col), _LSH_VERIFY_MAX_BYTES // (8 * dim)
    )
    if table is not None:
        out = _verify_pairs_matrix(table, cand, vector_col, id_col, threshold)
        return out.select(
            "id_a", "id_b", F.round("cosine", 4).alias("cosine")
        )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vector_col).alias("va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vector_col).alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", cosine_similarity(F.col("va"), F.col("vb")))
        # Spark orders NaN above every number, so a non-finite vector's
        # NaN cosine would pass the threshold; numpy's compare (the
        # matrix verify) drops it
        .filter((F.col("cosine") >= threshold) & ~F.isnan("cosine"))
        .select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))
    )


def semdedup(
    df: DataFrame,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iterations: int = 3,
    threshold: float = 0.92,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup by k-means
    clustering then exact cosine ONLY within clusters — a vector is
    dropped when a lower-id vector in its cluster is more similar
    than ``threshold``. Output: (id, cluster, kept).

    This is the scale trick that makes semantic dedup tractable: the
    O(n²) pair space shrinks to Σ n_c² over clusters (SemDeDup's
    measured ~k× reduction), and each cluster's pair join is an
    equi-join on the cluster id — no cross-cluster pair is ever
    generated. The Lloyd's step reuses ``clustering.kmeans`` (size-
    gated driver/distributed strategies, lineage truncation); the
    within-cluster pairing is one shuffle on the cluster key.
    Join parallelism equals k, so size k to the corpus (the SemDeDup
    paper runs k≈50k on web scale; k=8 here matches the oracle's
    replayable fixture) — and with large k each cluster's pair block
    also stays small, which is the memory bound.

    Cosine parity with external oracles holds because the pairing is
    exact (no LSH randomness) and k-means is the deterministic
    6dp-rounded fixture the ``kmeans_clusters`` oracle replays.

    Physical pairing: one ``applyInPandas`` task per cluster
    BLAS-multiplies the cluster's normalized matrix (the same lesson
    as ``neardup_pairs_blocked`` — a per-pair expression self-join at
    the same threshold benched 9× slower at sf0.1); the row side is
    chunked so the dense score block stays ≤ ~256 MB regardless of
    cluster size.
    """
    from pyspark.sql.types import BooleanType, IntegerType

    from vectorsearchutil_spark.operators.clustering import kmeans

    assignments, _ = kmeans(
        df, k=k, iterations=iterations,
        vector_col=vector_col, id_col=id_col,
    )
    rows = df.select(
        F.col(id_col).cast("long"),
        F.col(vector_col).cast("array<double>").alias("_v"),
    ).join(assignments.select(id_col, "cluster"), id_col)

    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("cluster", IntegerType()),
            StructField("kept", BooleanType()),
        ]
    )

    def mark(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        m = np.array(list(pdf["_v"]), dtype=np.float64)
        n = np.linalg.norm(m, axis=1)
        n[n == 0.0] = 1.0
        normed = m / n[:, None]
        dropped = np.zeros(len(ids), dtype=bool)
        chunk = max(1, 32_000_000 // max(1, len(ids)))
        for lo in range(0, len(ids), chunk):
            sims = normed[lo : lo + chunk] @ normed.T
            ai, bj = np.nonzero(sims >= threshold)
            # global row index of the pair's lower side vs column side:
            # b is dropped when some strictly-lower-index a matches it
            dropped[bj[(lo + ai) < bj]] = True
        return pd.DataFrame(
            {
                id_col: ids,
                "cluster": np.full(len(ids), int(key[0]), dtype=np.int32),
                "kept": ~dropped,
            }
        )

    return rows.groupBy("cluster").applyInPandas(mark, out_schema)


def hard_negative_mining(
    df: DataFrame,
    anchors: DataFrame,
    k: int = 3,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the ``k`` corpus vectors MOST similar to it that carry a DIFFERENT
    label — the negatives that actually move a contrastive loss.
    Output: (anchor_id, id, cosine, rank).

    Plan: anchors broadcast onto one corpus scan, per-pair cosine as
    an expression, per-anchor WindowGroupLimit cut; no Python workers.
    For anchor sets too large to broadcast, mine within the probed IVF
    lists instead (:func:`hard_negatives_ivf`).
    Ties break on (cosine desc, id asc) BEFORE rounding so the cut is
    engine-stable; the reported cosine rounds to 4dp.
    """
    from pyspark.sql import Window

    from vectorsearchutil_spark.functions.vector import cosine_similarity

    a = anchors.select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("_albl"),
        F.col(vector_col).cast("array<double>").alias("_av"),
    )
    c = df.select(
        F.col(id_col),
        F.col(label_col).alias("_clbl"),
        F.col(vector_col).cast("array<double>").alias("_cv"),
    )
    cos = cosine_similarity(F.col("_av"), F.col("_cv"))
    win = Window.partitionBy("anchor_id").orderBy(
        F.col("_cos").desc(), F.col(id_col).asc()
    )
    return (
        c.join(F.broadcast(a), F.col("_clbl") != F.col("_albl"))
        .withColumn("_cos", cos)
        .withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(
            "anchor_id",
            id_col,
            F.round("_cos", 4).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def hard_negatives_ivf(
    indexed: DataFrame,
    centroids: DataFrame,
    anchors: DataFrame,
    k: int = 3,
    n_probe: int = 2,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid_vec",
) -> DataFrame:
    """IVF-pruned hard-negative mining — the scale path when the
    anchor set is too large for a full corpus×anchors pass: each
    anchor mines only its ``n_probe`` nearest IVF lists, so the scan
    covers ~n_probe/n_lists of the corpus (partition pruning on the
    materialized index at scale) at the cost of recall<1 for
    negatives that live outside the probed lists.

    Same output contract as ``hard_negative_mining`` (anchor_id, id,
    cosine, rank); with ``n_probe = n_lists`` results are EXACTLY the
    brute-force miner's (test-asserted), which makes n_probe a pure
    recall/cost knob.
    """
    from pyspark.sql import Window

    from vectorsearchutil_spark.functions.vector import (
        cosine_similarity,
        l2_distance,
    )

    probe_scored = anchors.select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("_albl"),
        F.col(vector_col).cast("array<double>").alias("_av"),
    ).crossJoin(F.broadcast(centroids)).withColumn(
        "_d", l2_distance(F.col("_av"), F.col(centroid_vec_col))
    )
    pwin = Window.partitionBy("anchor_id").orderBy(
        F.col("_d").asc(), F.col(centroid_id_col).asc()
    )
    probes = (
        probe_scored.withColumn("_rn", F.row_number().over(pwin))
        .filter(F.col("_rn") <= n_probe)
        .select("anchor_id", "_albl", "_av", centroid_id_col)
    )
    cand = indexed.join(F.broadcast(probes), centroid_id_col).filter(
        F.col(label_col) != F.col("_albl")
    )
    cos = cosine_similarity(
        F.col("_av"), F.col(vector_col).cast("array<double>")
    )
    win = Window.partitionBy("anchor_id").orderBy(
        F.col("_cos").desc(), F.col(id_col).asc()
    )
    return (
        cand.withColumn("_cos", cos)
        .withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(
            "anchor_id",
            id_col,
            F.round("_cos", 4).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def triplet_mining(
    emb: DataFrame,
    anchor_below: int = 32,
    margin: float = 0.05,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Semi-hard triplet census (FaceNet's mining rule): per anchor
    (``id < anchor_below``, finite + nonzero-norm participation
    contract), the best same-label cosine (``pos_sim``), the hardest
    different-label cosine, and how many negatives are HARD
    (≥ pos_sim — rank violations) vs SEMI-HARD (within ``margin``
    below pos_sim — the ones a triplet loss actually learns from).

    Two-pass by construction: pos_sim is itself an aggregate the
    negative pass compares against. Two size-gated physical
    strategies (equality-TESTED, not bit-guaranteed: the matrix path
    scores with one BLAS matmul rather than the dim-at-a-time
    JVM-fold-identical accumulation the self-kNN Arrow path uses, so
    cross-strategy agreement relies on the 1e-6 floor-half-up
    quantization — applied on every path BEFORE any threshold
    compare — absorbing FP summation-order differences; a pre-
    quantization difference landing exactly on the grid boundary
    could in principle flip an n_hard/n_semihard count between
    strategies):

    * ``expr`` — anchors broadcast onto corpus scans, per-pair
      cosine as an expression. Right when rows×anchors×dim is small.
    * ``matrix`` — anchors collect to a broadcast numpy matrix; each
      Arrow batch BLAS-scores all anchors at once and forwards ONE
      partial-stat row per (batch, anchor) — max for pos/hardest,
      conditional counts for hard/semi-hard (sums/maxes are
      associative, so per-batch partials reduce exactly). The
      expression form is interpreted per pair (HOFs sit outside
      codegen) — the measured ~20M cells/s wall (PERF.md round 4).

    The anchors are collected, and ``matrix`` runs when
    ``session.arrow_wins`` (one ``emb.count()``) puts
    rows×anchors×dim past the interpreted-HOF wall, else ``expr``.
    """
    from vectorsearchutil_spark.functions.vector import (
        cosine_similarity,
        finite_vector,
        l2_norm,
        round_half_up,
    )

    from vectorsearchutil_spark.functions.parallel import fanout_repartition

    # per-row anchor scoring with order-free reducers (max / int sums)
    # — partitioning-invariant; parallelize small scans (guide §2)
    vv = fanout_repartition(
        emb.filter(
            finite_vector(F.col(vector_col))
            & (l2_norm(F.col(vector_col)) > 0)
        ).select(
            F.col(id_col).alias("vec_id"),
            F.col(label_col).alias("label"),
            F.col(vector_col).cast("array<double>").alias("_e"),
        )
    )
    anchors = vv.filter(F.col("vec_id") < anchor_below).select(
        F.col("vec_id").alias("aid"),
        F.col("label").alias("_albl"),
        F.col("_e").alias("_ae"),
    )
    arows = anchors.collect()
    if arrow_wins(emb, [r["_ae"] for r in arows]):
        pos, neg = _triplet_matrix_stats(vv, arows, margin)
    else:
        cq = round_half_up(
            cosine_similarity(F.col("_ae"), F.col("_e")), 6
        ).alias("cq")
        pairs = (
            vv.join(F.broadcast(anchors), F.col("vec_id") != F.col("aid"))
            .select("aid", "_albl", "label", cq)
        )
        pos = (
            pairs.filter(F.col("label") == F.col("_albl"))
            .groupBy("aid")
            .agg(F.max("cq").alias("pos_sim"))
        )
        neg = (
            pairs.filter(F.col("label") != F.col("_albl"))
            .join(F.broadcast(pos), "aid", "left")
            .groupBy("aid")
            .agg(
                F.max("cq").alias("hardest_neg_sim"),
                F.sum(
                    F.when(F.col("cq") >= F.col("pos_sim"), 1).otherwise(0)
                ).alias("n_hard"),
                F.sum(
                    F.when(
                        (F.col("cq") < F.col("pos_sim"))
                        & (F.col("cq") >= F.col("pos_sim") - margin),
                        1,
                    ).otherwise(0)
                ).alias("n_semihard"),
            )
        )
    return (
        anchors.select(F.col("aid"), F.col("_albl"))
        .join(pos, "aid", "left")
        .join(neg, "aid", "left")
        .select(
            F.col("aid").alias("vec_id"),
            F.col("_albl").cast("int").alias("label"),
            "pos_sim",
            "hardest_neg_sim",
            F.coalesce(F.col("n_hard"), F.lit(0))
            .cast("int").alias("n_hard"),
            F.coalesce(F.col("n_semihard"), F.lit(0))
            .cast("int").alias("n_semihard"),
        )
    )


def _triplet_matrix_stats(vv: DataFrame, arows: list, margin: float):
    """BLAS form of ``triplet_mining``'s two passes (see its
    docstring) over the collected anchor rows ``arows``. Returns the
    (pos, neg) per-anchor aggregate frames; pass 1's ≤anchor-count
    result is a bounded collect that parameterizes pass 2's batch
    closure."""
    spark = vv.sparkSession
    a_ids = np.array([r["aid"] for r in arows], dtype=np.int64)
    a_lbl = np.array([r["_albl"] for r in arows])
    A = np.array([r["_ae"] for r in arows], dtype=np.float64)
    if len(arows) == 0:
        empty_pos = local_frame(spark, [], "aid long, pos_sim double")
        empty_neg = local_frame(
            spark,
            [],
            "aid long, hardest_neg_sim double, n_hard long,"
            " n_semihard long",
        )
        return empty_pos, empty_neg
    anorm = np.linalg.norm(A, axis=1)  # nonzero by contract
    b = spark.sparkContext.broadcast((a_ids, a_lbl, A, anorm))

    def _q6(x):
        return np.floor(x * 1e6 + 0.5) / 1e6

    def _sims(pdf):
        X = np.array(list(pdf["_e"]), dtype=np.float64)
        xn = np.linalg.norm(X, axis=1)
        xn[xn == 0.0] = 1.0
        _, _, mat_a, an = b.value
        return _q6((X @ mat_a.T) / (xn[:, None] * an[None, :]))

    pos_schema = StructType(
        [StructField("aid", LongType()), StructField("_p", DoubleType())]
    )

    def pos_part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_a, lbl_a, _, _ = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            sims = _sims(pdf)
            cids = pdf["vec_id"].to_numpy(dtype=np.int64)
            clbl = pdf["label"].to_numpy()
            out_a, out_p = [], []
            for j in range(len(ids_a)):
                mask = (clbl == lbl_a[j]) & (cids != ids_a[j])
                if mask.any():
                    out_a.append(ids_a[j])
                    out_p.append(float(sims[mask, j].max()))
            if out_a:
                yield pd.DataFrame(
                    {"aid": np.array(out_a, dtype=np.int64), "_p": out_p}
                )

    pos = (
        vv.mapInPandas(pos_part, pos_schema)
        .groupBy("aid")
        .agg(F.max("_p").alias("pos_sim"))
    )
    prow = {r["aid"]: r["pos_sim"] for r in pos.collect()}
    pvec = np.array(
        [prow.get(int(i), np.nan) for i in a_ids], dtype=np.float64
    )
    b2 = spark.sparkContext.broadcast(pvec)
    # pass 1 already reduced: rebuild its tiny result as a literal
    # relation so the final assembly doesn't recompute the scan
    pos = local_frame(
        spark,
        [(int(i), None if p != p else float(p)) for i, p in zip(a_ids, pvec)],
        "aid long, pos_sim double",
    ).filter(F.col("pos_sim").isNotNull())

    neg_schema = StructType(
        [
            StructField("aid", LongType()),
            StructField("_hn", DoubleType()),
            StructField("_nh", LongType()),
            StructField("_ns", LongType()),
        ]
    )

    def neg_part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_a, lbl_a, _, _ = b.value
        ps = b2.value
        for pdf in batches:
            if not len(pdf):
                continue
            sims = _sims(pdf)
            clbl = pdf["label"].to_numpy()
            out = {"aid": [], "_hn": [], "_nh": [], "_ns": []}
            for j in range(len(ids_a)):
                mask = clbl != lbl_a[j]
                if not mask.any():
                    continue
                sj = sims[mask, j]
                p = ps[j]
                if p == p:  # has a positive
                    nh = int((sj >= p).sum())
                    ns = int(((sj < p) & (sj >= p - margin)).sum())
                else:
                    nh = ns = 0
                out["aid"].append(ids_a[j])
                out["_hn"].append(float(sj.max()))
                out["_nh"].append(nh)
                out["_ns"].append(ns)
            if out["aid"]:
                yield pd.DataFrame(out)

    neg = (
        vv.mapInPandas(neg_part, neg_schema)
        .groupBy("aid")
        .agg(
            F.max("_hn").alias("hardest_neg_sim"),
            F.sum("_nh").alias("n_hard"),
            F.sum("_ns").alias("n_semihard"),
        )
    )
    return pos, neg

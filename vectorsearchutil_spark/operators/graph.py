"""Iterative graph centrality over similarity graphs — PageRank.

Pipeline story: after near-dup pair mining builds a similarity graph
over the corpus, centrality ranks each cluster's members so the most
"representative" document can be kept as canonical (a step up from
min-id selection), and coreset pickers can weight by representativeness.

Cross-engine determinism (the hard part of certifying an iterative
float algorithm against a SQL oracle): per-node contribution sums are
order-dependent in plain float SUM — partial aggregation adds floats
in partition order, so two runs (or two engines) can differ in final
ulps and flip a rounded digit. Instead each contribution r(u)/deg(u)
is converted to FIXED-POINT (floor(x · 2^40) as a 64-bit int) and the
per-node reduction sums LONGS — associative and exact, so any
partitioning, any engine, any aggregation order produces bit-identical
ranks. The quantization error (≤ 2^-40 per in-edge) is identical on
both engines by construction. This is also the 100 TB-correct shape:
long sums keep map-side combine, where a sorted-fold float sum would
need a collect_list per node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectorsearchutil_spark.session import collect_if_small, local_frame

#: fixed-point scale: 40 fractional bits. deg_in · 2^40 stays far
#: below 2^53, so the long sum round-trips exactly through double.
_FP = float(2**40)

#: edge-count gate at or below which ``pagerank``, ``triangle_count``
#: and ``dedup.connected_components`` run on the driver: ≤ 2M edges
#: ≈ 32 MB of longs — the iterative-join plans' jobs of fixed
#: scheduling latency dwarf the arithmetic at this size, while above
#: it the distributed path is the only shape that survives 100 TB
#: graphs.
_DRIVER_MAX_EDGES = 2_000_000

#: ``pagerank``'s output. An empty edge list gives an empty result: no
#: edges, no nodes, no ranks (the teleport term would divide by zero) —
#: registry-wide empty-input sweep.
_PAGERANK_SCHEMA = "node long, degree long, pagerank double"


def _pagerank_driver(
    spark, tbl, damping: float, iters: int, round_dp: int
) -> DataFrame:
    """Driver-side fixed-point PageRank over the pulled (_src, _dst)
    table ``tbl`` of an edge set below the gate — BIT-IDENTICAL to the
    iterative-join path by construction: every float op (r/deg,
    ×2^40, floor, base + d·(Σq/2^40)) is the same IEEE double
    expression in the same order, and the per-node
    reduction sums int64 exactly on both paths. Inner-join semantics
    of the distributed form are replicated exactly: ranks start on
    DISTINCT DST nodes, an edge contributes only while its src holds
    a rank row, and the output joins ranks to out-degrees (so a node
    must appear as both dst and src to emit a row)."""
    import numpy as np
    import pandas as pd

    if tbl.num_rows == 0:
        return local_frame(spark, [], _PAGERANK_SCHEMA)
    srcs = np.asarray(tbl.column("_src").to_pylist(), dtype=np.int64)
    dsts = np.asarray(tbl.column("_dst").to_pylist(), dtype=np.int64)
    ids = np.unique(np.concatenate([srcs, dsts]))
    sidx = np.searchsorted(ids, srcs)
    didx = np.searchsorted(ids, dsts)
    deg = np.bincount(sidx, minlength=len(ids)).astype(np.int64)
    has_rank = np.zeros(len(ids), dtype=bool)
    has_rank[didx] = True  # nodes = distinct _dst
    n_nodes = int(has_rank.sum())
    base = (1.0 - damping) / float(n_nodes)
    r = np.zeros(len(ids), dtype=np.float64)
    r[has_rank] = 1.0 / float(n_nodes)
    degf = deg.astype(np.float64)
    for _ in range(iters):
        m = has_rank[sidx]  # e ⋈ ranks on _src (inner)
        # same IEEE sequence as floor(_r / deg * 2^40) cast long
        q = np.floor(r[sidx[m]] / degf[sidx[m]] * _FP).astype(np.int64)
        sq = np.zeros(len(ids), dtype=np.int64)
        np.add.at(sq, didx[m], q)  # exact long sum, any order
        new_has = np.zeros(len(ids), dtype=bool)
        new_has[didx[m]] = True
        r = base + damping * (sq.astype(np.float64) / _FP)
        has_rank = new_has
    out = has_rank & (deg > 0)  # final ranks ⋈ deg on _src (inner)
    pdf = pd.DataFrame(
        {
            "node": ids[out],
            "degree": deg[out],
            "_r": r[out],
        }
    )
    return (
        spark.createDataFrame(pdf, "node long, degree long, _r double")
        .select(
            "node", "degree", F.round(F.col("_r"), round_dp).alias("pagerank")
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iters: int = 3,
    round_dp: int = 6,
) -> DataFrame:
    """PageRank over a DIRECTED edge list (symmetrize upstream for an
    undirected similarity graph). Nodes are the vertices appearing in
    the edge list; every node must have out-degree ≥ 1 (always true
    for a symmetrized graph — no dangling-mass term needed).

    r_{t+1}(v) = (1-d)/N + d · Σ_{u→v} r_t(u)/deg(u), ``iters`` steps
    from the uniform start. Output: (node, degree, rank) with rank
    rounded to ``round_dp``. Each step is one broadcast-or-shuffle
    hash join (ranks are |V|-sized, edges |E|-sized) plus one long-sum
    aggregate — the standard iterative-join PageRank plan.

    The physical path is size-gated (the ``connected_components``
    pattern): an edge set of at most ``_DRIVER_MAX_EDGES`` runs the
    same fixed-point iterations on the driver — bit-identical output,
    none of the ~4 jobs/iteration of join/checkpoint scheduling
    latency. Larger graphs take the iterative-join plan. The gate is
    one Arrow job (``collect_if_small``) that runs when this function
    is called, and the driver path uses the edges it pulled."""
    spark = edges.sparkSession
    # edges and degrees are re-read every iteration — checkpoint so
    # iteration N doesn't recompute the upstream pair-mining plan N
    # times (same discipline as connected components / k-means). Lazy:
    # the gate's pull (or the node count below) materializes it.
    e = edges.select(
        F.col(src).alias("_src"), F.col(dst).alias("_dst")
    ).localCheckpoint(eager=False)
    tbl = collect_if_small(e, _DRIVER_MAX_EDGES)
    if tbl is not None:
        return _pagerank_driver(spark, tbl, damping, iters, round_dp)
    nodes = e.select(F.col("_dst").alias("_id")).distinct()
    n_nodes = nodes.count()  # scalar: sizes the teleport term
    if n_nodes == 0:
        return local_frame(spark, [], _PAGERANK_SCHEMA)
    deg = e.groupBy("_src").agg(F.count(F.lit(1)).alias("_deg")).cache()
    base = (1.0 - damping) / float(n_nodes)

    ranks = nodes.withColumn("_r", F.lit(1.0 / float(n_nodes)))
    for i in range(iters):
        if i > 0:
            # truncate lineage BETWEEN iterations (the plan doubles
            # per step otherwise); the final step stays a plain
            # expression so the long-sum aggregate remains visible to
            # plan assertions and AQE
            ranks = ranks.localCheckpoint(eager=False)
        contrib = (
            e.join(ranks, e["_src"] == ranks["_id"])
            .join(deg, "_src")
            .select(
                F.col("_dst"),
                F.floor(F.col("_r") / F.col("_deg").cast("double") * F.lit(_FP))
                .cast("long")
                .alias("_q"),
            )
        )
        ranks = (
            contrib.groupBy("_dst")
            .agg(F.sum("_q").alias("_sq"))
            .select(
                F.col("_dst").alias("_id"),
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (F.col("_sq").cast("double") / F.lit(_FP))
                ).alias("_r"),
            )
        )
    return (
        ranks.join(deg, ranks["_id"] == deg["_src"])
        .select(
            F.col("_id").alias("node"),
            F.col("_deg").cast("long").alias("degree"),
            F.round(F.col("_r"), round_dp).alias("pagerank"),
        )
    )


def pagerank_over_pairs(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    damping: float = 0.85,
    iters: int = 3,
) -> DataFrame:
    """PageRank over an UNDIRECTED pair list (e.g. near-dup pairs):
    symmetrizes into a directed edge list, then runs ``pagerank``."""
    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    rev = pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    return pagerank(fwd.unionByName(rev), damping=damping, iters=iters)


def _triangle_driver(spark, tbl) -> DataFrame:
    """Driver-side exact triangle census over the pulled (a, b) table
    ``tbl`` of an edge set below the gate (same boundary/rationale as
    ``_cc_driver`` / ``_pagerank_driver``):
    all four counts are exact integers on either path, and the one
    double division runs through the SAME Spark expression as the
    distributed form, so outputs are identical. Assumes the documented
    input contract (one row per undirected edge, id_a < id_b)."""
    import numpy as np

    a = np.asarray(tbl.column("a").to_pylist(), dtype=np.int64)
    b = np.asarray(tbl.column("b").to_pylist(), dtype=np.int64)
    ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ai, bi = inv[: len(a)], inv[len(a):]
    n_nodes, n_edges = len(ids), len(a)
    deg = np.bincount(ai, minlength=n_nodes) + np.bincount(
        bi, minlength=n_nodes
    )
    n_wedges = int((deg.astype(np.int64) * (deg - 1) // 2).sum())
    # orient low-degree → high-degree (rows already satisfy a < b, so
    # the id tie-break reduces to keeping the row order)
    da, db = deg[ai], deg[bi]
    lt = da <= db
    u = np.where(lt, ai, bi)
    v = np.where(lt, bi, ai)
    out: list[set] = [set() for _ in range(n_nodes)]
    for x, y in zip(u.tolist(), v.tolist()):
        out[x].add(y)
    # each triangle counted exactly once from its lowest-degree corner:
    # for oriented edge (u,v), common out-neighbours close the wedge
    n_tri = 0
    for x, y in zip(u.tolist(), v.tolist()):
        sx, sy = out[x], out[y]
        if len(sy) < len(sx):
            sx, sy = sy, sx
        n_tri += sum(1 for z in sx if z in sy)
    from vectorsearchutil_spark.functions.vector import round_half_up

    row = local_frame(
        spark,
        [(n_nodes, n_edges, n_tri, n_wedges)],
        "n_nodes long, n_edges long, n_triangles long, n_wedges long",
    )
    # IDENTICAL final expression to the distributed path below
    return row.select(
        "n_nodes",
        "n_edges",
        "n_triangles",
        "n_wedges",
        F.coalesce(
            round_half_up(
                F.lit(3.0)
                * F.col("n_triangles").cast("double")
                / F.nullif(F.col("n_wedges").cast("double"), F.lit(0.0)),
                6,
            ),
            F.lit(0.0),
        ).alias("clustering_coeff"),
    )


def triangle_count(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Exact triangle count + global clustering coefficient over an
    undirected pair list (one row per edge, ``id_a < id_b``). Returns
    ONE row: (n_nodes, n_edges, n_triangles, n_wedges,
    clustering_coeff = 3·triangles / wedges, 6dp).

    Scale shape (the node-iterator join is the textbook quadratic
    trap): edges are ORIENTED low-degree → high-degree endpoint
    (ties by id), which bounds every out-neighborhood by O(√m) on
    any graph — the wedge self-join then generates each triangle's
    candidate closing edge exactly once from its lowest-degree
    corner, instead of deg² wedges around every hub. The closing-edge
    probe is an equi-join back to the oriented edge list (the
    orientation is a pure function of the endpoint pair, so each
    undirected edge has exactly one oriented row to match). All
    counts are exact longs; the coefficient is ONE double division.
    Wedge total Σ deg·(deg−1)/2 uses integer ``div`` — no double
    fold anywhere.

    The physical path is the size gate shared with ``pagerank`` /
    ``connected_components``: at or below ``_DRIVER_MAX_EDGES`` the
    census runs on the driver (identical counts, one Arrow pull
    instead of the ~7-stage join cascade); above it the oriented-join
    plan runs. The gate is one Arrow job (``collect_if_small``) that
    runs when this function is called, and the driver path counts the
    edges it pulled.
    """
    from vectorsearchutil_spark.functions.vector import round_half_up

    # The edge list is referenced many times below (degrees ×2, the
    # orientation join, the wedge self-join ×2, the closing-edge
    # probe) — without a checkpoint each reference RE-DERIVES the
    # upstream pair-mining lineage (the shingle self-join), the exact
    # compounding the scan-audit gate exists to catch (measured: the
    # sf0.1 run dropped 48.7 → ~4 s with these two cuts). The edge
    # and oriented-edge tables are near-dup-pair-sized — bounded.
    e = pairs.select(
        F.col(id_a).alias("a"), F.col(id_b).alias("b")
    ).localCheckpoint(eager=False)
    tbl = collect_if_small(e, _DRIVER_MAX_EDGES)
    if tbl is not None:
        return _triangle_driver(pairs.sparkSession, tbl)
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ed = (
        e.join(
            deg.select(
                F.col("node").alias("a"), F.col("deg").alias("_da")
            ),
            "a",
        ).join(
            deg.select(
                F.col("node").alias("b"), F.col("deg").alias("_db")
            ),
            "b",
        )
    )
    lt = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    oriented = ed.select(
        F.when(lt, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lt, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lt, F.col("_db")).otherwise(F.col("_da")).alias("_dv"),
    ).localCheckpoint(eager=False)
    x = oriented.select(
        F.col("u"), F.col("v").alias("v1"), F.col("_dv").alias("_d1")
    )
    y = oriented.select(
        F.col("u"), F.col("v").alias("v2"), F.col("_dv").alias("_d2")
    )
    wedges = x.join(y, "u").filter(
        (F.col("_d1") < F.col("_d2"))
        | ((F.col("_d1") == F.col("_d2")) & (F.col("v1") < F.col("v2")))
    )
    closing = oriented.select(
        F.col("u").alias("v1"), F.col("v").alias("v2")
    )
    # Evaluated and rejected: bloom-pruning the wedge stream before
    # its shuffle (functions/bloom.py). The build side here is the
    # EDGE SET — the attempt exposed (and fixed) build_bloom's
    # quadratic dense-array assembly, but even the fixed linear build
    # costs ~29 s at 20M keys / 2^28 bits, roughly the wedge-shuffle
    # time it would save at this shape — net wash, so the plain
    # exact join below stays (it IS the honest cost of exact
    # triangle counting). Revisit only for triangle-sparse hub-heavy
    # graphs where wedges outnumber edges by far more than the
    # average degree.
    tri = wedges.join(closing, ["v1", "v2"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    nodes = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.coalesce(
            F.expr("sum(deg * (deg - 1)) div 2"), F.lit(0)
        ).alias("n_wedges"),
    )
    edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        nodes.crossJoin(edges)
        .crossJoin(tri)
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.col("n_triangles").cast("long").alias("n_triangles"),
            F.col("n_wedges").cast("long").alias("n_wedges"),
            F.coalesce(
                round_half_up(
                    F.lit(3.0)
                    * F.col("n_triangles").cast("double")
                    / F.nullif(
                        F.col("n_wedges").cast("double"), F.lit(0.0)
                    ),
                    6,
                ),
                F.lit(0.0),
            ).alias("clustering_coeff"),
        )
    )


def degree_assortativity(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Degree assortativity (Newman r) of an undirected pair list:
    the Pearson correlation of endpoint degrees over directed edge
    stubs — do high-degree near-dup hubs attach to other hubs
    (r > 0, template families) or to leaves (r < 0, hub-and-spoke
    boilerplate)? The structural companion to
    :func:`triangle_count`'s clustering coefficient (kin declared).

    Exactness: degrees are exact longs; both orientations of each
    edge enter the moment sums (so x and y are exchangeable and the
    correlation is orientation-free); Σx, Σxy, Σx² accumulate in
    DECIMAL(38,0) (order-free) and r = (M·Σxy − Σx·Σy) /
    (M·Σxx − Σx·Σx) combines in double once, with the symmetric
    Σy = Σx / Σyy = Σxx identity applied on BOTH engines.

    Plan: degrees are one groupBy over edge stubs; the stub→degree
    attachment is two |V|-sized equi-joins on a checkpointed
    edge list (the triangle_count lineage lesson). Everything is
    edge-list-sized — the near-dup pair table, not the corpus.
    """
    from vectorsearchutil_spark.functions.vector import round_half_up

    e = pairs.select(
        F.col(id_a).cast("long").alias("a"),
        F.col(id_b).cast("long").alias("b"),
    ).localCheckpoint(eager=False)
    stubs = e.unionAll(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = stubs.groupBy("a").agg(F.count(F.lit(1)).alias("_dg"))
    attached = (
        stubs.join(deg, "a")
        .withColumnRenamed("_dg", "_dx")
        .join(
            deg.select(F.col("a").alias("b"), F.col("_dg").alias("_dy")),
            "b",
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    mo = attached.agg(
        F.count(F.lit(1)).alias("_m"),
        F.sum(dec(F.col("_dx"))).alias("_sx"),
        F.sum(dec(F.col("_dx")) * dec(F.col("_dx"))).alias("_sxx"),
        F.sum(dec(F.col("_dx")) * dec(F.col("_dy"))).alias("_sxy"),
    )
    nodes = deg.agg(F.count(F.lit(1)).alias("_nn"))
    edges = e.agg(F.count(F.lit(1)).alias("_ne"))
    m = F.col("_m").cast("double")
    sx = F.col("_sx").cast("double")
    sxx = F.col("_sxx").cast("double")
    sxy = F.col("_sxy").cast("double")
    den = m * sxx - sx * sx
    r = F.when(den != 0, (m * sxy - sx * sx) / den)
    return (
        mo.crossJoin(F.broadcast(nodes))
        .crossJoin(F.broadcast(edges))
        .filter(F.col("_m") > 0)
        .select(
            F.col("_nn").cast("long").alias("n_nodes"),
            F.col("_ne").cast("long").alias("n_edges"),
            round_half_up(r, 6).alias("assortativity"),
        )
    )


def common_neighbor_link_prediction(
    pairs: DataFrame,
    k: int = 20,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Common-neighbour / Jaccard link prediction over an undirected
    pair list: the top-k NON-edges ranked by shared-neighbour count —
    "which near-dup pairs did the threshold miss?" (kin declared:
    :func:`triangle_count` closes wedges into triangles; this ranks
    the OPEN wedges, the candidate edges transitive dedup would add;
    dedup_connected_components merges them blindly — this is the
    ranked audit before trusting that merge).

    Output: (id_a, id_b, common_neighbors, deg_a, deg_b, jaccard =
    cn / (deg_a + deg_b − cn), 6dp), ordered by (cn desc, id_a,
    id_b) — a deterministic total order, so the k-cut is
    engine-invariant.

    Plan: the wedge join runs center-out on the checkpointed stub
    list (each wedge generated once per center), grouped exactly
    once; existing edges leave via one anti-join; the k-cut is a
    TakeOrderedAndProject. Everything is edge/wedge-sized — at 100 TB
    the wedge stage is bounded by near-dup cluster degree, the same
    envelope as triangle_count's oriented join.
    """
    from vectorsearchutil_spark.functions.vector import round_half_up

    e = pairs.select(
        F.least(F.col(id_a).cast("long"), F.col(id_b).cast("long")).alias(
            "a"
        ),
        F.greatest(
            F.col(id_a).cast("long"), F.col(id_b).cast("long")
        ).alias("b"),
    ).localCheckpoint(eager=False)
    stubs = e.unionAll(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = stubs.groupBy("a").agg(F.count(F.lit(1)).alias("_dg"))
    w1 = stubs.select(F.col("a").alias("z"), F.col("b").alias("u"))
    w2 = stubs.select(F.col("a").alias("z"), F.col("b").alias("v"))
    cand = (
        w1.join(w2, "z")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("cn"))
        .join(e.select(F.col("a").alias("u"), F.col("b").alias("v")),
              ["u", "v"], "left_anti")
    )
    scored = (
        cand.join(deg.select(F.col("a").alias("u"),
                             F.col("_dg").alias("_du")), "u")
        .join(deg.select(F.col("a").alias("v"),
                         F.col("_dg").alias("_dv")), "v")
    )
    jac = F.col("cn").cast("double") / (
        F.col("_du") + F.col("_dv") - F.col("cn")
    ).cast("double")
    return (
        scored.select(
            F.col("u").alias("id_a"),
            F.col("v").alias("id_b"),
            F.col("cn").cast("long").alias("common_neighbors"),
            F.col("_du").cast("long").alias("deg_a"),
            F.col("_dv").cast("long").alias("deg_b"),
            round_half_up(jac, 6).alias("jaccard"),
        )
        .orderBy(
            F.col("common_neighbors").desc(),
            F.col("id_a").asc(),
            F.col("id_b").asc(),
        )
        .limit(int(k))
    )

"""Query registry: every operator in SURVEY.md §2 exposed as a
``(spark, sf_dir) -> DataFrame`` callable plus (where SQL-expressible)
a DuckDB oracle returning the identical rows/schema.

Conventions that make the driver's order-insensitive value-hash
match:
* every computed column is aliased identically on both sides;
* float results are rounded (both sides) after double-precision
  arithmetic with identical summation order;
* ties in any top-k / argmax are broken by the id column ascending.

Entries registered with ``staged=True`` land in ``STAGED_QUERIES`` /
``STAGED_ORACLES``: built and oracle-checked like every other entry,
but not served by ``__spark_entry__.queries()`` until a driver window
takes them.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from vectorsearchutil_spark.functions.datetime import (
    epoch_micros,
    epoch_seconds,
)
from vectorsearchutil_spark.functions.vector import round_half_up
from vectorsearchutil_spark.operators.knn import knn, knn_batch
from vectorsearchutil_spark.operators.zeroshot import zeroshot, zeroshot_scores
from vectorsearchutil_spark.session import arrow_wins, local_frame
from vectorsearchutil_spark.sources.readers import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
STAGED_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
STAGED_ORACLES: dict[str, str] = {}


def query(name: str, oracle: str, staged: bool = False):
    """Register a query and its DuckDB oracle SQL in the live registry,
    or in the staged one when ``staged``.

    Every registered callable first ships this package to executor
    Python workers (addPyFile) so pickled-by-reference UDFs resolve
    even when the harness imported us from a foreign cwd with a bare
    default SparkSession.
    """

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            from vectorsearchutil_spark.session import (
                ensure_package_on_executors,
            )

            ensure_package_on_executors(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        (STAGED_QUERIES if staged else QUERIES)[name] = wrapped
        (STAGED_ORACLES if staged else ORACLES)[name] = oracle
        return fn

    return deco


def _finite_or_null(c: Column) -> Column:
    """Keep NULLs (SQL-transparent) but drop NaN/±Inf — a non-finite
    measure poisons ANSI casts (floor(-Inf) -> long-min -> INT
    overflow) and cents arithmetic; it cannot participate in value
    aggregates, the same convention as non-finite vectors."""
    return c.isNull() | (~F.isnan(c) & (F.abs(c) != F.lit(float("inf"))))


def _probe_vec(df: DataFrame) -> list:
    """First row's single (vector) column — or a 1-dim dummy when the
    table is EMPTY: with zero rows the distance expression never
    evaluates, so the plan still executes and yields an empty result
    with the query's declared schema (empty-in, empty-out; found by
    the registry-wide empty-input sweep)."""
    row = df.first()
    if row is None or row[0] is None:  # no rows, or a NULL payload
        return [0.0]
    return list(row[0])


# --------------------------------------------------------------------------
# kNN — reference A5/A6 (vsu/base/VectorSearchBase.py:193-213)
# --------------------------------------------------------------------------

_KNN_SINGLE_ORACLE = """
WITH q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
)
SELECT e.vec_id,
       e.label,
       ROUND(list_distance(e.embedding::DOUBLE[], q.qv), 4) AS distance
FROM embeddings e, q
ORDER BY list_distance(e.embedding::DOUBLE[], q.qv) ASC, e.vec_id ASC
LIMIT 10
"""


@query("knn_single", _KNN_SINGLE_ORACLE)
def knn_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force L2 top-10 around the vec_id=0 embedding.

    Reference parity: distance ASC + LIMIT k
    (vsu/base/VectorSearchBase.py:199-201); plan is
    TakeOrderedAndProject over a narrow scan — no shuffle.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _probe_vec(emb.filter(F.col("vec_id") == 0).select("embedding"))
    out = knn(emb, qv, k=10, vector_col="embedding", id_col="vec_id", metric="l2")
    return out.select(
        "vec_id", "label", F.round(F.col("distance"), 4).alias("distance")
    )


_KNN_BATCH_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 5
),
scored AS (
  SELECT q.query_id,
         e.vec_id,
         list_distance(e.embedding::DOUBLE[], q.qv) AS d,
         ROW_NUMBER() OVER (
           PARTITION BY q.query_id
           ORDER BY list_distance(e.embedding::DOUBLE[], q.qv) ASC, e.vec_id ASC
         ) AS rank
  FROM embeddings e CROSS JOIN q
)
SELECT query_id, vec_id, ROUND(d, 4) AS distance, CAST(rank AS INT) AS rank
FROM scored WHERE rank <= 5
"""


@query("knn_batch", _KNN_BATCH_ORACLE)
def knn_batch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched kNN: 5 query vectors × corpus, window top-5 per query.

    Plan: broadcast(queries) ⨯ corpus (big side never shuffles) →
    per-query row_number. Reference A5 generalized to query tables.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    out = knn_batch(emb, qs, k=5, vector_col="embedding", id_col="vec_id", metric="l2")
    return out.select(
        "query_id",
        "vec_id",
        F.round(F.col("distance"), 4).alias("distance"),
        F.col("rank").cast("int").alias("rank"),
    )


_KNN_COSINE_ORACLE = """
WITH q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 1
)
SELECT e.vec_id,
       e.label,
       ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 4) AS score
FROM embeddings e, q
ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC, e.vec_id ASC
LIMIT 10
"""


@query("knn_cosine", _KNN_COSINE_ORACLE)
def knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-similarity top-10 (the metric option the reference gets
    implicitly for unit-norm CLIP vectors, vsu/image/_classes.py:43)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _probe_vec(emb.filter(F.col("vec_id") == 1).select("embedding"))
    out = knn(emb, qv, k=10, vector_col="embedding", id_col="vec_id", metric="cosine")
    return out.select(
        "vec_id", "label", F.round(F.col("distance"), 4).alias("score")
    )


# --------------------------------------------------------------------------
# Zero-shot classification — reference A8/A9
# (vsu/text/_classes.py:29-44, vsu/image/_classes.py:21-36)
# --------------------------------------------------------------------------

def _label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label 'embeddings' = per-class centroids of the embeddings
    table (rounded to 6dp so Spark/DuckDB agree bitwise downstream).
    Stands in for encoder-produced label vectors (A19)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
        )
        .groupBy("label", "pos")
        .agg(F.round(F.avg("v"), 6).alias("v"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("s"))
        .select(
            F.col("label").alias("label_idx"),
            F.col("label").alias("label_name"),
            F.transform("s", lambda x: x["v"]).alias("label_vec"),
        )
    )


_CENTROIDS_CTE = """
centroids AS (
  SELECT label, list(v ORDER BY i) AS cvec
  FROM (
    SELECT label, i, ROUND(AVG(embedding[i]::DOUBLE), 6) AS v
    FROM embeddings, range(1, 65) t(i)
    GROUP BY label, i
  )
  GROUP BY label
)
"""

_ZEROSHOT_ORACLE = f"""
WITH {_CENTROIDS_CTE},
scored AS (
  SELECT e.vec_id,
         e.label AS true_label,
         c.label AS pred_label,
         list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) * 100 AS score,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) DESC,
                    c.label ASC
         ) AS rn
  FROM embeddings e CROSS JOIN centroids c
)
SELECT vec_id, true_label, pred_label, ROUND(score, 4) AS score
FROM scored WHERE rn = 1
"""


@query("zeroshot_cosine", _ZEROSHOT_ORACLE)
def zeroshot_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5-style zero-shot: cosine x100 against broadcast label
    centroids, argmax with lowest-index tie-break
    (vsu/text/_classes.py:36,40). Big side never shuffles."""
    emb = load_table(spark, sf_dir, "embeddings")
    labels = _label_centroids(spark, sf_dir)
    out = zeroshot(
        emb.select(F.col("vec_id"), F.col("label").alias("true_label"),
                   F.col("embedding")),
        labels,
        vector_col="embedding",
        id_col="vec_id",
        label_col="label_name",
    )
    return out.select(
        "vec_id",
        "true_label",
        F.col("zeroshot_pred").alias("pred_label"),
        F.round(F.col("score"), 4).alias("score"),
    )


_ZEROSHOT_SOFTMAX_ORACLE = f"""
WITH {_CENTROIDS_CTE},
scored AS (
  SELECT e.vec_id,
         c.label AS pred_label,
         list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) * 100 AS score
  FROM embeddings e CROSS JOIN centroids c
),
withmax AS (
  SELECT vec_id, pred_label, score,
         EXP(score - MAX(score) OVER (PARTITION BY vec_id)) AS e,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id ORDER BY score DESC, pred_label ASC
         ) AS rn
  FROM scored
),
sm AS (
  SELECT vec_id, pred_label, rn,
         e / SUM(e) OVER (PARTITION BY vec_id) AS prob
  FROM withmax
)
SELECT vec_id, pred_label, ROUND(prob, 6) AS prob
FROM sm WHERE rn = 1
"""


@query("zeroshot_softmax", _ZEROSHOT_SOFTMAX_ORACLE)
def zeroshot_softmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIP-style zero-shot: softmax over 100*cos before argmax
    (vsu/image/_classes.py:28-34) — same argmax, probability scores."""
    emb = load_table(spark, sf_dir, "embeddings")
    labels = _label_centroids(spark, sf_dir)
    out = zeroshot(
        emb.select("vec_id", "embedding"),
        labels,
        vector_col="embedding",
        id_col="vec_id",
        label_col="label_name",
        softmax=True,
    )
    return out.select(
        "vec_id",
        F.col("zeroshot_pred").alias("pred_label"),
        F.round(F.col("prob"), 6).alias("prob"),
    )


# --------------------------------------------------------------------------
# Relational suite — SURVEY.md §2 Table B [ext]: joins / aggregation /
# windows / set ops over the TPC-H-ish star. All stock DataFrame ops;
# Catalyst supplies pushdown, pruning, broadcast selection, partial aggs.
# --------------------------------------------------------------------------

_Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(l_quantity::DECIMAL(12,2)), 2) AS DOUBLE) AS sum_qty,
       CAST(ROUND(SUM(l_extendedprice::DECIMAL(12,2)), 2) AS DOUBLE)
         AS sum_base_price,
       CAST(ROUND(SUM(l_extendedprice::DECIMAL(12,2)
                      * (1 - l_discount::DECIMAL(12,2))), 2) AS DOUBLE)
         AS sum_disc_price,
       CAST(ROUND(SUM(l_extendedprice::DECIMAL(12,2)
                      * (1 - l_discount::DECIMAL(12,2))
                      * (1 + l_tax::DECIMAL(12,2))), 2) AS DOUBLE)
         AS sum_charge,
       ROUND(CAST(SUM(l_quantity::DECIMAL(12,2)) AS DOUBLE)
             / COUNT(*), 4) AS avg_qty,
       ROUND(CAST(SUM(l_extendedprice::DECIMAL(12,2)) AS DOUBLE)
             / COUNT(*), 4) AS avg_price,
       ROUND(CAST(SUM(l_discount::DECIMAL(12,2)) AS DOUBLE)
             / COUNT(*), 4) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@query("tpch_q1_pricing_summary", _Q1_ORACLE)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: filtered scan + hash aggregate. The shipdate
    predicate and 7-column projection push into the parquet scan;
    partial aggregation makes the shuffle carry 6 groups, not 600k
    rows — the pattern that survives 100 TB.

    Money math in DECIMAL (exact-cents sweep, round 6): the source
    prices/discounts/taxes are 2dp decimals stored as doubles, so the
    DECIMAL(12,2) cast recovers them exactly, products stay exact
    (scale 4/6, precision < 38), and SUMs are order-independent —
    `ROUND(SUM(double), 2)` flipped by a cent at half-way boundaries
    through BOTH rounding mode and partition-order float summation
    (ties-fixture finding). AVGs divide the exact decimal sum cast to
    double by the count — one deterministic division per group."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(12,2)")  # noqa: E731
    disc = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(dec("l_quantity")), 2)
            .cast("double").alias("sum_qty"),
            F.round(F.sum(dec("l_extendedprice")), 2)
            .cast("double").alias("sum_base_price"),
            F.round(F.sum(disc), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(disc * (F.lit(1) + dec("l_tax"))), 2)
            .cast("double").alias("sum_charge"),
            F.round(F.sum(dec("l_quantity")).cast("double") / n, 4)
            .alias("avg_qty"),
            F.round(F.sum(dec("l_extendedprice")).cast("double") / n, 4)
            .alias("avg_price"),
            F.round(F.sum(dec("l_discount")).cast("double") / n, 4)
            .alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_Q3_ORACLE = """
SELECT l.l_orderkey,
       CAST(ROUND(SUM(l.l_extendedprice::DECIMAL(12,2)
                      * (1 - l.l_discount::DECIMAL(12,2))), 2) AS DOUBLE)
         AS revenue,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       o.o_orderpriority AS orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15'
  AND l.l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey ASC
LIMIT 10
"""


@query("tpch_q3_shipping_priority", _Q3_ORACLE)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: dim-filtered multi-join + agg + top-k.
    customer (small, filtered) broadcasts into orders⋈lineitem;
    orderBy+limit compiles to TakeOrderedAndProject."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .filter(
            (F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
            & (F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(12,2)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(12,2)"))
                ),
                2,
            ).cast("double").alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_orderpriority").alias("orderpriority"),
        )
    )


_Q5_ORACLE = """
SELECT n.n_name,
       CAST(ROUND(SUM(l.l_extendedprice::DECIMAL(12,2)
                      * (1 - l.l_discount::DECIMAL(12,2))), 2) AS DOUBLE)
         AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n.n_name
"""


@query("tpch_q5_local_supplier", _Q5_ORACLE)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join. region/nation/supplier/customer are
    dims → broadcast; only orders⋈lineitem is a fact-fact shuffle
    join on orderkey. This join tree is the 100 TB-safe shape: one
    shuffle, everything else map-side."""
    t = {n: load_table(spark, sf_dir, n)
         for n in ("customer", "orders", "lineitem", "supplier", "nation", "region")}
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(t["supplier"]),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(12,2)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(12,2)"))
                ),
                2,
            ).cast("double").alias("revenue")
        )
    )


_TOPN_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (
           PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey ASC
         ) AS rn
  FROM orders
)
WHERE rn <= 3
"""


@query("orders_topn_per_customer", _TOPN_ORACLE)
def orders_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — the window-ranking pattern
    (same shape as batched kNN's per-query top-k)."""
    o = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    win = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(win).cast("int"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


_CUMSUM_ORACLE = """
SELECT o_custkey, o_orderkey,
       CAST(ROUND(SUM(o_totalprice::DECIMAL(12,2)) OVER (
         PARTITION BY o_custkey
         ORDER BY o_orderdate ASC, o_orderkey ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ), 2) AS DOUBLE) AS running_total
FROM orders
"""


@query("orders_running_total", _CUMSUM_ORACLE)
def orders_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum per customer over order date — rowsBetween
    frame window."""
    o = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    win = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).over(win), 2
        ).cast("double").alias("running_total"),
    )


_ROLLUP_ORACLE = """
SELECT COALESCE(o_orderpriority, 'ALL') AS orderpriority,
       COALESCE(o_orderstatus, 'ALL') AS orderstatus,
       CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
       CAST(ROUND(SUM(o_totalprice::DECIMAL(12,2)), 2) AS DOUBLE)
         AS total_revenue
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""


@query("orders_rollup", _ROLLUP_ORACLE)
def orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical aggregate via ROLLUP — subtotals + grand total in
    one pass (Catalyst expands to grouping sets with partial aggs)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(12,2)")), 2)
            .cast("double").alias("total_revenue"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            "n_orders",
            "total_revenue",
        )
    )


_INTERSECT_ORACLE = """
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
"""


@query("setop_intersect", _INTERSECT_ORACLE)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with both fulfilled and open orders — INTERSECT."""
    o = load_table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    op = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    return f.intersect(op)


_EXCEPT_ORACLE = """
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
"""


@query("setop_except", _EXCEPT_ORACLE)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with fulfilled but no open orders — EXCEPT."""
    o = load_table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    op = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    return f.subtract(op)


# --------------------------------------------------------------------------
# Events: JSON extraction, sessionization, windowed aggregation —
# SURVEY.md §2 Table B [ext] scalar-function + streaming-adjacent ops.
# --------------------------------------------------------------------------

_JSON_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k
FROM events
GROUP BY event_type
"""


@query("events_json_extract", _JSON_ORACLE)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction (get_json_object) + aggregate — stays
    fully JVM-side; no Python UDF for semi-structured props."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.round(F.avg(k), 4).alias("avg_k"),
    )


_SESSION_ORACLE = """
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) > 1800
                OR LAG(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
sessions AS (
  SELECT user_id, event_id,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts ASC, event_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_id
  FROM marked
)
SELECT user_id,
       CAST(COUNT(DISTINCT session_id) AS BIGINT) AS n_sessions,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sessions
GROUP BY user_id
"""


@query("events_sessionize", _SESSION_ORACLE)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via lag + running
    sum — the batch form of session_window; one shuffle on user_id
    reused by both windows and the final aggregate."""
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = epoch_seconds("ts") - F.lag(epoch_seconds("ts")).over(w)
    marked = e.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0)),
    )
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = marked.withColumn("session_id", F.sum("new_session").over(cum))
    return sess.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


_TUMBLE_ORACLE = """
SELECT CAST(epoch(time_bucket(INTERVAL '10 minutes', ts)) AS BIGINT) AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(ROUND(SUM(value::DECIMAL(12,2)), 3) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


@query("events_tumbling_window", _TUMBLE_ORACLE)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling-window aggregate — the batch twin of the
    Structured Streaming windowed agg in streaming/windows.py."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 3)
            .cast("double").alias("sum_value"),
        )
        .select(
            (epoch_micros(F.col("w.start")) / F.lit(1000000)).cast("bigint")
            .alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


_MOVAVG_ORACLE = """
SELECT event_id,
       ROUND(CAST(SUM(value::DECIMAL(12,2)) OVER w AS DOUBLE)
             / (COUNT(*) OVER w), 4) AS moving_avg
FROM events
WINDOW w AS (
  PARTITION BY user_id ORDER BY ts ASC, event_id ASC
  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
)
"""


@query("events_moving_avg", _MOVAVG_ORACLE)
def events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-row moving average per user — bounded rowsBetween frame."""
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-4, Window.currentRow)
    )
    return e.select(
        "event_id",
        F.round(
            F.sum(F.col("value").cast("decimal(12,2)")).over(w)
            .cast("double") / F.count(F.lit(1)).over(w),
            4,
        ).alias("moving_avg"),
    )


# --------------------------------------------------------------------------
# Dedup family — north-star LLM-pipeline operators (BASELINE.json);
# exact first-wins dedup is the reference's own semantics
# (vsu/base/VectorSearchBase.py:79-87,124), the rest generalize it.
# --------------------------------------------------------------------------

from vectorsearchutil_spark.operators import dedup as _dd  # noqa: E402

_DOCS_TOKS_CTE = """
doctoks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
  FROM documents
)
"""

_SHINGLES_CTE = f"""
{_DOCS_TOKS_CTE},
sh0 AS (
  SELECT doc_id, toks,
         unnest(range(1, greatest(len(toks) - 2, 0) + 1)) AS i
  FROM doctoks
),
sh AS (
  SELECT DISTINCT doc_id,
         toks[i] || '_' || toks[i+1] || '_' || toks[i+2] AS shingle
  FROM sh0
)
"""

_EXACT_DEDUP_ORACLE = """
SELECT md5(text) AS text_hash,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS keep_id
FROM documents
GROUP BY 1
"""


@query("dedup_exact", _EXACT_DEDUP_ORACLE)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: hash-groupBy on content, keep-first (min
    id) — one shuffle on a 32-byte key regardless of doc length."""
    docs = load_table(spark, sf_dir, "documents")
    return _dd.exact_dedup_groups(docs)


_NGRAM_JACCARD_ORACLE = f"""
WITH {_SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(inter * 1.0 / (sa.n_sh + sb.n_sh - inter), 4) AS jaccard
FROM inter i
JOIN sizes sa ON i.id_a = sa.doc_id
JOIN sizes sb ON i.id_b = sb.doc_id
WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= 0.8
"""


@query("dedup_ngram_jaccard", _NGRAM_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard near-dup pairs (≥0.8) via
    inverted shingle index — only docs sharing a shingle compared."""
    docs = load_table(spark, sf_dir, "documents")
    return _dd.ngram_jaccard_pairs(docs, n=3, threshold=0.8)


_MINHASH_ORACLE = f"""
WITH {_SHINGLES_CTE},
hashed AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 12))::BIGINT AS h1,
         ('0x' || substr(md5(shingle), 17, 12))::BIGINT AS h2
  FROM sh
),
sig AS (
  SELECT doc_id, s.i, MIN(h1 + s.i * h2) AS h
  FROM hashed, range(0, 16) s(i)
  GROUP BY doc_id, s.i
),
bands AS (
  SELECT doc_id, i // 4 AS band_idx,
         md5(string_agg(h::VARCHAR, '|' ORDER BY i)) AS band_val
  FROM sig GROUP BY doc_id, i // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       ROUND(inter * 1.0 / (sa.n_sh + sb.n_sh - inter), 4) AS jaccard
FROM inter i
JOIN cand c ON i.id_a = c.id_a AND i.id_b = c.id_b
JOIN sizes sa ON i.id_a = sa.doc_id
JOIN sizes sb ON i.id_b = sb.doc_id
WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= 0.8
"""


@query("dedup_minhash_lsh", _MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(4 bands) candidate generation + exact-Jaccard
    verify — the constant-signature-size dedup plan for 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    return _dd.minhash_lsh_pairs(docs, n=3, num_hashes=16, band_size=4, threshold=0.8)


_SIMHASH_ORACLE = f"""
WITH {_DOCS_TOKS_CTE},
tf AS (
  SELECT doc_id, tok, COUNT(*) AS w
  FROM (SELECT doc_id, unnest(toks) AS tok FROM doctoks)
  GROUP BY 1, 2
),
votes AS (
  SELECT doc_id, j.j,
         SUM(w * CASE WHEN (('0x' || substr(md5(tok), 1, 8))::BIGINT >> j.j) & 1 = 1
                      THEN 1 ELSE -1 END) AS s
  FROM tf, range(0, 32) j(j)
  GROUP BY doc_id, j.j
),
sims AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0 END) AS BIGINT)
           AS simhash
  FROM votes GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sims a JOIN sims b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
"""


@query("dedup_simhash", _SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-weighted SimHash-32 near-dup pairs (hamming ≤ 2) via
    8×4-bit band join — complete recall by pigeonhole, no O(n²)
    compare."""
    docs = load_table(spark, sf_dir, "documents")
    return _dd.simhash_pairs(docs, max_hamming=2)


_EMB_NEARDUP_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.v, b.v), 4) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.35
"""


@query("dedup_embedding_cosine", _EMB_NEARDUP_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup pairs (cosine ≥ 0.35), size-gated path:
    below the 5M-cell matrix gate the corpus matrix broadcasts and one
    narrow BLAS pass scores it (no shuffle); above the gate the
    blocked block-pair plan runs with no driver collect at all.
    Both paths return identical rows — same oracle."""
    from vectorsearchutil_spark.operators.similarity import neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return neardup_pairs(emb, threshold=0.35)


@query("dedup_embedding_cosine_blocked", _EMB_NEARDUP_ORACLE)
def dedup_embedding_cosine_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production (above-gate) path of dedup_embedding_cosine,
    called directly: exact all-pairs cosine via distributed
    block-pair tasks at ``neardup_pairs``' above-gate block count
    (``similarity._NEARDUP_BLOCKS``), with no full-corpus collect
    anywhere in the plan. Checked against the SAME oracle as the
    matrix path, proving path equivalence."""
    from vectorsearchutil_spark.operators.similarity import (
        neardup_pairs_blocked,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return neardup_pairs_blocked(emb, threshold=0.35, n_blocks=32)


# --------------------------------------------------------------------------
# Text analysis — north-star operators over `documents`.
# --------------------------------------------------------------------------

from vectorsearchutil_spark.operators import textanalysis as _ta  # noqa: E402

_TOKEN_STATS_ORACLE = f"""
WITH {_DOCS_TOKS_CTE},
toks AS (SELECT doc_id, unnest(toks) AS tok FROM doctoks)
SELECT doc_id,
       CAST(COUNT(*) AS INT) AS n_tokens,
       CAST(COUNT(DISTINCT tok) AS INT) AS n_unique,
       ROUND(SUM(length(tok)) * 1.0 / COUNT(*), 4) AS avg_token_len
FROM toks GROUP BY doc_id
"""


@query("text_token_stats", _TOKEN_STATS_ORACLE)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token statistics — one narrow pass, no explode shuffle
    (counts come from array expressions)."""
    docs = load_table(spark, sf_dir, "documents")
    return _ta.token_stats(docs)


_QUALITY_ORACLE = f"""
WITH {_DOCS_TOKS_CTE},
toks AS (SELECT doc_id, unnest(toks) AS tok FROM doctoks),
agg AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         SUM(CASE WHEN tok IN ('the','a','of','and','to','is','in','on')
                  THEN 1 ELSE 0 END) AS n_stop
  FROM toks GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_tokens AS INT) AS n_tokens,
       ROUND(n_stop * 1.0 / n_tokens, 4) AS stop_ratio,
       ROUND(LEAST(1.0, n_tokens / 100.0) * (1.0 - n_stop * 1.0 / n_tokens), 4)
         AS quality_score
FROM agg
"""


@query("text_quality_score", _QUALITY_ORACLE)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality pre-filter: length (saturating) × (1 −
    stopword ratio)."""
    docs = load_table(spark, sf_dir, "documents")
    return _ta.quality_score(docs)


_LANGID_ORACLE = f"""
WITH {_DOCS_TOKS_CTE},
toks AS (SELECT DISTINCT doc_id, unnest(toks) AS tok FROM doctoks),
markers(cand_lang, tok) AS (VALUES
  ('de','der'),('de','die'),('de','das'),('de','und'),('de','zu'),('de','ist'),
  ('en','the'),('en','a'),('en','of'),('en','and'),('en','to'),('en','is'),
  ('es','el'),('es','la'),('es','de'),('es','y'),('es','que'),('es','es'),
  ('fr','le'),('fr','la'),('fr','de'),('fr','et'),('fr','les'),('fr','est'),
  ('zh','de'),('zh','le'),('zh','shi'),('zh','bu'),('zh','wo'),('zh','zai')
),
hits AS (
  SELECT t.doc_id, m.cand_lang, COUNT(*) AS hits
  FROM toks t JOIN markers m ON t.tok = m.tok
  GROUP BY 1, 2
),
best AS (
  SELECT doc_id, cand_lang, hits,
         ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY hits DESC, cand_lang ASC
         ) AS rn
  FROM hits
)
SELECT d.doc_id,
       COALESCE(b.cand_lang, 'und') AS pred_lang,
       CAST(COALESCE(b.hits, 0) AS INT) AS marker_hits
FROM documents d
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.doc_id
"""


@query("text_langid", _LANGID_ORACLE)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: marker-word hits, argmax per doc
    (zero-shot plan shape with a broadcast word table)."""
    docs = load_table(spark, sf_dir, "documents")
    return _ta.language_id(docs)


_FINGERPRINT_ORACLE = """
SELECT doc_id,
       md5(array_to_string(
         list_sort(list_distinct(list_filter(string_split(text, ' '),
                                             x -> x != ''))), ' '))
         AS fingerprint
FROM documents
"""


@query("text_fingerprint", _FINGERPRINT_ORACLE)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive md5 fingerprint of each doc's token set."""
    docs = load_table(spark, sf_dir, "documents")
    return _ta.fingerprints(docs)


_TOP_TOKENS_ORACLE = f"""
WITH {_DOCS_TOKS_CTE},
toks AS (SELECT unnest(toks) AS token FROM doctoks)
SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
FROM toks GROUP BY token
ORDER BY freq DESC, token ASC
LIMIT 20
"""


@query("text_top_tokens", _TOP_TOKENS_ORACLE)
def text_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary histogram, top-20 (partial aggs keep the
    shuffle at vocabulary size, not corpus size)."""
    docs = load_table(spark, sf_dir, "documents")
    return _ta.top_tokens(docs, k=20)


# --------------------------------------------------------------------------
# ANN — IVF partition-pruned search (the 100 TB similarity-search plan;
# Spark analog of the reference's faiss index, VectorSearchBase.py:54-59).
# --------------------------------------------------------------------------

_IVF_ORACLE = f"""
WITH {_CENTROIDS_CTE},
assigned AS (
  SELECT e.vec_id, e.embedding, c.label AS centroid_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_distance(e.embedding::DOUBLE[], c.cvec) ASC,
                    c.label ASC
         ) AS rn
  FROM embeddings e CROSS JOIN centroids c
),
lists AS (
  SELECT vec_id, embedding, centroid_id FROM assigned WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
),
probes AS (
  SELECT q.query_id, q.qv, c.label AS centroid_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.query_id
           ORDER BY list_distance(q.qv::DOUBLE[], c.cvec) ASC, c.label ASC
         ) AS rn
  FROM q CROSS JOIN centroids c
),
pr AS (SELECT query_id, qv, centroid_id FROM probes WHERE rn <= 3),
cand AS (
  SELECT p.query_id, l.vec_id,
         list_distance(l.embedding::DOUBLE[], p.qv::DOUBLE[]) AS d
  FROM lists l JOIN pr p ON l.centroid_id = p.centroid_id
),
ranked AS (
  SELECT query_id, vec_id, d,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY d ASC, vec_id ASC
         ) AS rank
  FROM cand
)
SELECT query_id, vec_id, ROUND(d, 4) AS distance, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


@query("ann_ivf_search", _IVF_ORACLE)
def ann_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate kNN: assign corpus to nearest label-centroid
    list, probe the 3 nearest lists per query, exact-search within.
    At scale the list id is the Parquet partition key → partition
    pruning turns each query into a sub-scan."""
    from vectorsearchutil_spark.operators.similarity import (
        build_ivf_index,
        ivf_search,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # cached: the centroid aggregate feeds TWO independent broadcast
    # jobs (index assignment + query probes) — without the cache the
    # two-shuffle centroid plan executes twice
    cents = _label_centroids(spark, sf_dir).select(
        F.col("label_idx").alias("centroid_id"),
        F.col("label_vec").alias("centroid_vec"),
    ).cache()
    indexed = build_ivf_index(emb, cents, vector_col="embedding")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    out = ivf_search(
        indexed, cents, qs, k=5, n_probe=3,
        vector_col="embedding", id_col="vec_id",
    )
    return out.select(
        "query_id",
        "vec_id",
        F.round(F.col("distance"), 4).alias("distance"),
        F.col("rank").cast("int").alias("rank"),
    )


_KNN_MATRIX_ORACLE = _KNN_BATCH_ORACLE


@query("knn_batch_matrix", _KNN_MATRIX_ORACLE)
def knn_batch_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as knn_batch, matrix/BLAS execution path:
    broadcast query matrix, mapInPandas over the corpus, per-batch
    top-k then window reduce — the high-throughput exact path."""
    from vectorsearchutil_spark.operators.similarity import knn_batch_matrix

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    out = knn_batch_matrix(
        emb, qs, k=5, vector_col="embedding", id_col="vec_id", metric="l2"
    )
    return out.select(
        "query_id",
        "vec_id",
        F.round(F.col("distance"), 4).alias("distance"),
        F.col("rank").cast("int").alias("rank"),
    )


# --------------------------------------------------------------------------
# Multimodal binary columns — north-star scope; schema/batching plumbing
# is real, decode parses the deterministic synthetic header.
# --------------------------------------------------------------------------

_MULTIMODAL_ORACLE = """
SELECT doc_id,
       CAST((length(text) * 7 + 13) % 512 + 1 AS INT) AS width,
       CAST((length(text) * 11 + 17) % 512 + 1 AS INT) AS height,
       -- payload_len is the decoded payload's BYTE length (binary
       -- metadata measures bytes): strlen = DuckDB byte count, which
       -- diverges from length() (chars) on multi-byte text — found
       -- by the round-5 unicode-fixture parity sweep
       CAST(strlen(text) AS INT) AS payload_len
FROM documents
"""


@query("multimodal_decode_meta", _MULTIMODAL_ORACLE)
def multimodal_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column round trip: synthesize binary media (JVM-side
    hex/unhex), then decode headers to typed metadata via
    Arrow-batched mapInPandas — the full multimodal plumbing path."""
    from vectorsearchutil_spark.operators.multimodal import (
        decode_image_meta,
        synthesize_binary,
    )

    docs = load_table(spark, sf_dir, "documents")
    return decode_image_meta(synthesize_binary(docs))


# --------------------------------------------------------------------------
# ML ops — reference A15/A16 (VectorSearchBase.py:219-256). Not
# SQL-expressible, so no DuckDB oracle can replay the fit; instead the
# queries SELF-ASSERT against a committed golden contract
# (mlp_golden.json: row count + md5 of the sorted prediction rows per
# scale factor, regenerated by tools/gen_mlp_golden.py). The fits are
# seeded and deterministic across processes (verified); a contract
# violation raises, which the driver records as a red row — making its
# rows-only check a real gate (VERDICT r2 #4).
# --------------------------------------------------------------------------


def _mlp_golden_check(name: str, sf_dir: str, df: DataFrame) -> DataFrame:
    import hashlib
    import json
    import os

    if os.environ.get("VSU_SKIP_MLP_GOLDEN"):
        return df
    path = os.path.join(os.path.dirname(__file__), "mlp_golden.json")
    if not os.path.exists(path):
        return df
    with open(path) as fh:
        golden = json.load(fh)
    g = golden.get(os.path.basename(sf_dir.rstrip("/")), {}).get(name)
    if g is None:  # unrecorded scale factor (e.g. bench at sf0.1)
        return df
    rows = sorted(tuple(r) for r in df.collect())
    digest = hashlib.md5("\n".join(map(str, rows)).encode()).hexdigest()
    if len(rows) != g["rows"] or digest != g["md5"]:
        raise AssertionError(
            f"{name}: golden contract violated at {sf_dir}: "
            f"rows {len(rows)} (want {g['rows']}), md5 {digest} "
            f"(want {g['md5']}) — seeded fit no longer reproduces the "
            f"committed predictions"
        )
    return df


def _mlp_classifier_out(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vectorsearchutil_spark.operators.mlops import mlp_classifier

    emb = load_table(spark, sf_dir, "embeddings")
    # degenerate corpora: no rows, or a single class — the classifier
    # fit is undefined (the operator raises its declared ValueError),
    # so the query surface answers empty-in/degenerate-in → empty-out
    from vectorsearchutil_spark.functions.vector import finite_vector

    emb = emb.filter(finite_vector(F.col("embedding")))
    if (
        emb.filter(F.col("label").isNotNull())
        .select("label")
        .distinct()
        .limit(2)
        .count()
        < 2
    ):
        return local_frame(
            spark, [], "vec_id long, true_label int, pred_label int"
        )
    fit = mlp_classifier(
        emb, y_col="label", vector_col="embedding", id_col="vec_id"
    )
    return fit.scored.select(
        "vec_id",
        F.col("label").alias("true_label"),
        F.col("prediction").cast("int").alias("pred_label"),
    )


def _mlp_regressor_out(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vectorsearchutil_spark.operators.mlops import mlp_regressor

    emb = load_table(spark, sf_dir, "embeddings")
    from vectorsearchutil_spark.functions.vector import finite_vector

    emb = emb.filter(finite_vector(F.col("embedding")))
    if emb.filter(F.col("label").isNotNull()).first() is None:
        # no (usable) training data: no model, no rows
        return local_frame(spark, [], "vec_id long, prediction double")
    fit = mlp_regressor(
        emb, y_col="label", vector_col="embedding", id_col="vec_id"
    )
    return fit.scored.select(
        "vec_id", F.round(F.col("prediction"), 3).alias("prediction")
    )


def _mlp_pred_oracle(name: str) -> str | None:
    """Full-row constant oracle for the MLP prediction frames
    (VERDICT r9 #4 — close the `no_oracle` class). The committed
    golden (tools/gen_mlp_pred_oracle.py) holds every sf0.01
    prediction row; the oracle serves them back as a typed VALUES
    table, so the driver's order-insensitive value hash certifies the
    LIVE seeded fit reproduces the committed predictions per cell —
    strictly stronger than the digest gate, which stays on as the
    raise-on-drift self-assert (`_mlp_golden_check`). sf0.01-only by
    the same contract as `_mlp_golden_oracle` (the driver's and the
    full-registry self-check's comparison scale)."""
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "mlp_pred_golden.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        g = json.load(fh).get("sf0.01", {}).get(name)
    if g is None:
        return None
    sql_type = {"bigint": "BIGINT", "int": "INTEGER", "double": "DOUBLE"}

    def cell(value: object, spark_type: str) -> str:
        duck = sql_type[spark_type]
        return f"CAST({'NULL' if value is None else value} AS {duck})"

    cols = g["columns"]
    rows = ", ".join(
        "(" + ", ".join(cell(v, t) for v, (_, t) in zip(row, cols)) + ")"
        for row in g["rows"]
    )
    names = ", ".join(c for c, _ in cols)
    return f"SELECT * FROM (VALUES {rows}) AS t({names})"


@query("mlp_classifier_predictions", _mlp_pred_oracle("mlp_classifier_predictions"))
def mlp_classifier_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15: seeded MLP classifier (stratified 75/25, seed 810),
    distributed inference; self-asserts the golden contract."""
    return _mlp_golden_check(
        "mlp_classifier_predictions",
        sf_dir,
        _mlp_classifier_out(spark, sf_dir),
    )


@query("mlp_regressor_predictions", _mlp_pred_oracle("mlp_regressor_predictions"))
def mlp_regressor_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16: seeded MLP regressor (random_state=1 per reference),
    distributed inference; self-asserts the golden contract."""
    return _mlp_golden_check(
        "mlp_regressor_predictions",
        sf_dir,
        _mlp_regressor_out(spark, sf_dir),
    )


def _mlp_golden_oracle(name: str) -> str | None:
    """Constant oracle pinning the committed golden (rows, md5) at
    sf0.01 — the scale the external gate compares at. The Spark side
    recomputes the digest from a LIVE seeded fit, so a hash-green row
    certifies the fit still reproduces the committed predictions
    end-to-end (VERDICT r3 #5: give the MLP rows a real driver
    check, 'rows+md5 as output rows')."""
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "mlp_golden.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        g = json.load(fh).get("sf0.01", {}).get(name)
    if g is None:
        return None
    return (
        f"SELECT CAST({g['rows']} AS BIGINT) AS n_rows, "
        f"'{g['md5']}' AS pred_md5"
    )


def _mlp_digest_df(
    spark: SparkSession, out: DataFrame
) -> DataFrame:
    """(n_rows, md5-of-sorted-prediction-rows) — the same digest
    recipe as tools/gen_mlp_golden.py. The collect is bounded by the
    scored corpus (model-evaluation scale, not data scale) — the same
    sanctioned bound as the driver-side fit itself (SURVEY A15/A16)."""
    import hashlib

    rows = sorted(tuple(r) for r in out.collect())
    digest = hashlib.md5("\n".join(map(str, rows)).encode()).hexdigest()
    return local_frame(
        spark, [(len(rows), digest)], "n_rows bigint, pred_md5 string"
    )


@query("mlp_classifier_golden", _mlp_golden_oracle("mlp_classifier_predictions"))
def mlp_classifier_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15 driver gate: live seeded classifier fit → prediction
    digest, hash-matched against the committed golden constant."""
    return _mlp_digest_df(spark, _mlp_classifier_out(spark, sf_dir))


@query("mlp_regressor_golden", _mlp_golden_oracle("mlp_regressor_predictions"))
def mlp_regressor_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 driver gate: live seeded regressor fit → prediction
    digest, hash-matched against the committed golden constant."""
    return _mlp_digest_df(spark, _mlp_regressor_out(spark, sf_dir))


# --------------------------------------------------------------------------
# Store ingest semantics as oracle-checked queries — reference A1/A2/A7
# (VectorSearchBase.py:77-133, 215-217).
# --------------------------------------------------------------------------

_INGEST_APPEND_ORACLE = """
WITH existing AS (
  SELECT text AS target, source AS option1 FROM documents WHERE doc_id < 250
),
incoming AS (
  SELECT text AS target, 'NEW' AS option1 FROM documents WHERE doc_id >= 200
)
SELECT target, option1 FROM existing
UNION ALL
SELECT i.target, i.option1
FROM incoming i
WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.target = i.target)
"""


@query("store_ingest_append", _INGEST_APPEND_ORACLE)
def store_ingest_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 append semantics: insert-if-absent via left-anti join —
    overlapping targets keep the existing row, never overwritten
    (VectorSearchBase.py:79-87; demonstrated vsu/sample/main.py:31-54).
    No broadcast hint on the existing-target side — the store is
    unbounded, so AQE sizes the join; at scale the store is bucketed
    by hash(target) making this shuffle-free."""
    docs = load_table(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") < 250).select(
        F.col("text").alias("target"), F.col("source").alias("option1")
    )
    incoming = docs.filter(F.col("doc_id") >= 200).select(
        F.col("text").alias("target"), F.lit("NEW").alias("option1")
    )
    fresh = incoming.join(existing.select("target"), "target", "left_anti")
    return existing.unionByName(fresh)


_QUERY_WITH_INFO_ORACLE = """
WITH store AS (
  SELECT vec_id AS id,
         CAST(vec_id AS VARCHAR) AS target,
         CAST(label AS VARCHAR) AS option1,
         NULL::VARCHAR AS option2,
         embedding
  FROM embeddings
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 2)
SELECT s.id, s.target, s.option1,
       ROUND(list_distance(s.embedding::DOUBLE[], q.qv), 4) AS distance
FROM store s, q
ORDER BY list_distance(s.embedding::DOUBLE[], q.qv) ASC, s.id ASC
LIMIT 5
"""


@query("store_query_with_info", _QUERY_WITH_INFO_ORACLE)
def store_query_with_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: kNN result with all-null columns dropped (the reference's
    dropna(how='all', axis=1), VectorSearchBase.py:215-217). option2
    is entirely null in the store, so the data-dependent projection
    must remove it — the oracle simply never selects it."""
    from vectorsearchutil_spark.operators.projection import (
        prune_all_null_columns,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    store = emb.select(
        F.col("vec_id").alias("id"),
        F.col("vec_id").cast("string").alias("target"),
        F.col("label").cast("string").alias("option1"),
        F.lit(None).cast("string").alias("option2"),
        F.col("embedding").alias("vector"),
    )
    qv = _probe_vec(emb.filter(F.col("vec_id") == 2).select("embedding"))
    res = knn(store, qv, k=5, vector_col="vector", id_col="id").select(
        "id", "target", "option1", "option2",
        F.round(F.col("distance"), 4).alias("distance"),
    )
    return prune_all_null_columns(res)


# --------------------------------------------------------------------------
# More relational shapes: semi/anti joins, distinct counts, sliding windows.
# --------------------------------------------------------------------------

_SEMI_ORACLE = """
SELECT c_custkey, c_mktsegment FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
"""


@query("customers_semi_join", _SEMI_ORACLE)
def customers_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi join: customers having any order > 300k — existence
    check without duplicating customer rows."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 300000
    )
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_semi"
    ).select("c_custkey", "c_mktsegment")


_ANTI_ORACLE = """
SELECT c_custkey, c_acctbal FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 300000)
"""


@query("customers_anti_join", _ANTI_ORACLE)
def customers_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti join: customers with no order above 300k — the
    dedup/insert-if-absent primitive (A2) in relational form."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 300000
    )
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_acctbal")


_DISTINCT_ORACLE = """
SELECT o_orderstatus,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders GROUP BY o_orderstatus
"""


@query("orders_distinct_customers", _DISTINCT_ORACLE)
def orders_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count_distinct per group (expands to a two-phase aggregate;
    approx_count_distinct is the one-pass alternative at scale)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


_SLIDING_ORACLE = """
WITH buckets AS (
  SELECT CAST(FLOOR(epoch(ts) / 600) * 600 AS BIGINT) AS window_start, value
  FROM events
  UNION ALL
  SELECT CAST(FLOOR(epoch(ts) / 600) * 600 - 600 AS BIGINT) AS window_start, value
  FROM events
)
SELECT window_start,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(ROUND(SUM(value::DECIMAL(12,2)), 3) AS DOUBLE) AS sum_value
FROM buckets GROUP BY window_start
"""


@query("events_sliding_window", _SLIDING_ORACLE)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-minute windows sliding every 10 — each event lands in two
    windows (the overlap form of F.window)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "20 minutes", "10 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 3)
            .cast("double").alias("sum_value"),
        )
        .select(
            (epoch_micros(F.col("w.start")) / F.lit(1000000)).cast("bigint")
            .alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


_PART_STATS_ORACLE = """
SELECT p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       ROUND(CAST(SUM(p_retailprice::DECIMAL(12,2)) AS DOUBLE)
             / COUNT(*), 4) AS avg_price,
       MIN(p_size) AS min_size,
       MAX(p_size) AS max_size
FROM part GROUP BY p_brand
"""


@query("part_brand_stats", _PART_STATS_ORACLE)
def part_brand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain grouped aggregate over part."""
    p = load_table(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(
            F.sum(F.col("p_retailprice").cast("decimal(12,2)"))
            .cast("double") / F.count(F.lit(1)),
            4,
        ).alias("avg_price"),
        F.min("p_size").alias("min_size"),
        F.max("p_size").alias("max_size"),
    )


# --------------------------------------------------------------------------
# Batch session_window + the embedder-UDF path, oracle-checked.
# --------------------------------------------------------------------------

_SESSION_WINDOW_ORACLE = """
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) > 1800
                OR LAG(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
sess AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (
           PARTITION BY user_id ORDER BY ts ASC, event_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS sid
  FROM marked
)
SELECT user_id,
       CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sess GROUP BY user_id, sid
"""


@query("events_session_window_batch", _SESSION_WINDOW_ORACLE)
def events_session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window in BATCH mode (30-min gap) — same
    semantics as the lag-based islands (events_sessionize) and the
    streaming session operator, via the built-in gap-merge."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("s"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.floor(epoch_seconds(F.col("s.start"))).cast("bigint")
            .alias("session_start"),
            "n_events",
        )
    )


def _hash64_component_sql(j: int) -> str:
    """DuckDB expression replicating one hash64 embedder component
    (pre-normalization): int(md5('j:text')[:8], 16) / 2^31 - 1."""
    return (
        f"(('0x' || substr(md5('{j}:' || text), 1, 8))::BIGINT"
        f" / 2147483648.0 - 1.0)"
    )


_EMBED_ORACLE = f"""
WITH comps AS (
  SELECT doc_id,
         {_hash64_component_sql(0)} AS v0,
         {_hash64_component_sql(31)} AS v31,
         sqrt((SELECT SUM(POW(('0x' || substr(md5(t.i || ':' || d.text), 1, 8))::BIGINT
                             / 2147483648.0 - 1.0, 2))
               FROM range(0, 64) t(i))) AS nrm
  FROM documents d
)
SELECT doc_id,
       64 AS emb_dim,
       ROUND(((v0 / nrm)::FLOAT)::DOUBLE, 6) AS e0,
       ROUND(((v31 / nrm)::FLOAT)::DOUBLE, 6) AS e31
FROM comps
"""


@query("embed_documents_hash64", _EMBED_ORACLE)
def embed_documents_hash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedder-UDF surface end-to-end: documents.text through
    the registered hash64 iterator pandas UDF (per-task init, Arrow
    batches — reference A3's batched __trans_vec_main), checked
    component-wise against a SQL re-derivation of the same md5 math."""
    from vectorsearchutil_spark.embedders import embed_udf

    docs = load_table(spark, sf_dir, "documents")
    emb = docs.select(
        "doc_id", embed_udf("hash64")(F.col("text")).alias("emb")
    )
    return emb.select(
        "doc_id",
        F.size("emb").alias("emb_dim"),
        F.round(F.element_at("emb", 1).cast("double"), 6).alias("e0"),
        F.round(F.element_at("emb", 32).cast("double"), 6).alias("e31"),
    )


# --------------------------------------------------------------------------
# As-of join, range join, cube, pivot — timeseries/OLAP operator shapes.
# --------------------------------------------------------------------------

_ASOF_ORACLE = """
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
v AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
),
ranked AS (
  SELECT p.event_id,
         p.user_id,
         v.event_id AS view_event_id,
         v.ts AS view_ts,
         ROW_NUMBER() OVER (
           PARTITION BY p.event_id ORDER BY v.ts DESC, v.event_id DESC
         ) AS rn
  FROM p LEFT JOIN v
    ON p.user_id = v.user_id AND v.ts <= p.ts
)
SELECT event_id, user_id, view_event_id,
       CAST(FLOOR(COALESCE(epoch(view_ts), -1)) AS BIGINT) AS view_ts_floor
FROM ranked WHERE rn = 1
"""


@query("events_asof_join", _ASOF_ORACLE)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent
    prior (or simultaneous) view. Union-and-carry plan — ONE shuffle
    on user_id, no per-key fan-out (operators/asofjoin.py)."""
    from vectorsearchutil_spark.operators.asofjoin import asof_join

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(
        purchases, views, key="user_id",
        right_payload=["event_id"], suffix="_v",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("event_id_v").alias("view_event_id"),
        F.floor(F.coalesce(epoch_seconds(F.col("ts_v")), F.lit(-1.0)))
        .cast("bigint").alias("view_ts_floor"),
    )


_RANGE_JOIN_ORACLE = """
SELECT o.o_orderkey,
       CAST(COUNT(l.l_linenumber) AS BIGINT) AS n_lines_60d
FROM orders o
LEFT JOIN lineitem l
  ON l.l_orderkey = o.o_orderkey
 AND l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate < o.o_orderdate + INTERVAL 60 DAY
GROUP BY o.o_orderkey
"""


@query("orders_range_join", _RANGE_JOIN_ORACLE)
def orders_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi+band join: lineitems shipped within 60 days of their
    order date. The equi key carries the shuffle; the band predicate
    is a post-join filter — never a cartesian."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    joined = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") >= F.col("o_orderdate"))
        & (F.col("l_shipdate") < F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left",
    )
    return joined.groupBy("o_orderkey").agg(
        F.count("l_linenumber").alias("n_lines_60d")
    )


_CUBE_ORACLE = """
SELECT COALESCE(o_orderstatus, 'ALL') AS orderstatus,
       COALESCE(o_orderpriority, 'ALL') AS orderpriority,
       CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@query("orders_cube", _CUBE_ORACLE)
def orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^2 grouping-set combinations in one pass."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "n_orders",
        )
    )


_PIVOT_ORACLE = """
WITH centroids AS (
  SELECT label, list(v ORDER BY i) AS cvec
  FROM (
    SELECT label, i, ROUND(AVG(embedding[i]::DOUBLE), 6) AS v
    FROM embeddings, range(1, 65) t(i)
    GROUP BY label, i
  )
  GROUP BY label
),
scored AS (
  SELECT e.vec_id, c.label,
         list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) * 100 AS score
  FROM embeddings e CROSS JOIN centroids c
  WHERE e.vec_id < 20
)
SELECT vec_id,
       ROUND(MAX(CASE WHEN label = 0 THEN score END), 4) AS l0,
       ROUND(MAX(CASE WHEN label = 1 THEN score END), 4) AS l1,
       ROUND(MAX(CASE WHEN label = 2 THEN score END), 4) AS l2,
       ROUND(MAX(CASE WHEN label = 3 THEN score END), 4) AS l3,
       ROUND(MAX(CASE WHEN label = 4 THEN score END), 4) AS l4,
       ROUND(MAX(CASE WHEN label = 5 THEN score END), 4) AS l5,
       ROUND(MAX(CASE WHEN label = 6 THEN score END), 4) AS l6,
       ROUND(MAX(CASE WHEN label = 7 THEN score END), 4) AS l7,
       ROUND(MAX(CASE WHEN label = 8 THEN score END), 4) AS l8,
       ROUND(MAX(CASE WHEN label = 9 THEN score END), 4) AS l9
FROM scored GROUP BY vec_id
"""


@query("zeroshot_scores_pivot", _PIVOT_ORACLE)
def zeroshot_scores_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's zero-shot score MATRIX (A8 returns (scores,
    pred), vsu/text/_classes.py:44) as a pivot: one row per vector,
    one column per label."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20)
    labels = _label_centroids(spark, sf_dir)
    scored = zeroshot_scores(
        emb.select("vec_id", "embedding"),
        labels,
        vector_col="embedding",
        id_col="vec_id",
        label_col="label_name",
    )
    pivoted = (
        scored.groupBy("vec_id")
        .pivot("label_idx", list(range(10)))
        .agg(F.round(F.max("score"), 4))
    )
    renames = {str(i): f"l{i}" for i in range(10)}
    return pivoted.withColumnsRenamed(renames)


# --------------------------------------------------------------------------
# BPE-ish token counting, rolling-hash fingerprints, video frame
# sampling — remaining north-star text/multimodal items.
# --------------------------------------------------------------------------

_BPE_ORACLE = """
SELECT doc_id,
       CAST(len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+|[^a-z0-9 ]+')) AS INT)
         AS n_bpe_tokens,
       CAST(len(list_distinct(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+|[^a-z0-9 ]+'))) AS INT)
         AS n_unique_bpe
FROM documents
"""


@query("text_bpe_token_stats", _BPE_ORACLE)
def text_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (LLM-pipeline length estimation)."""
    docs = load_table(spark, sf_dir, "documents")
    return _ta.bpe_token_stats(docs)


_ROLLING_FP_ORACLE = """
WITH pos AS (
  SELECT doc_id, text,
         unnest(range(1, greatest(length(text) - 7, 1) + 1)) AS i
  FROM documents
)
SELECT doc_id, MIN(md5(substr(text, i, 8))) AS rolling_fp
FROM pos GROUP BY doc_id
"""


@query("text_rolling_fingerprint", _ROLLING_FP_ORACLE)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprint: min md5 over character 8-grams."""
    docs = load_table(spark, sf_dir, "documents")
    return _ta.rolling_fingerprints(docs, k=8)


_FRAME_SAMPLE_ORACLE = """
WITH frames AS (
  SELECT doc_id, text,
         length(text) % 30 + 2 AS n_frames,
         unnest(range(0, length(text) % 30 + 2)) AS i
  FROM documents
)
SELECT doc_id,
       CAST(i AS INT) AS frame_idx,
       md5(text || ':' || i) AS frame_hash
FROM frames
WHERE i % 3 = 0
"""


@query("multimodal_frame_sample", _FRAME_SAMPLE_ORACLE)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-column plumbing: synthesize binary multi-frame payloads
    JVM-side, then sample every 3rd frame via Arrow-batched
    mapInPandas — one output row per sampled frame, hash-verified
    against a SQL re-derivation of the frame bytes."""
    from vectorsearchutil_spark.operators.multimodal import (
        frame_sample,
        synthesize_video,
    )

    docs = load_table(spark, sf_dir, "documents")
    return frame_sample(synthesize_video(docs), every_k=3)


# --------------------------------------------------------------------------
# Cosine LSH — random-hyperplane bucketing; oracle replicates the same
# md5-derived hyperplanes, so even the approximate result is exact-checked.
# --------------------------------------------------------------------------

_COSINE_LSH_ORACLE = """
WITH planes AS (
  SELECT p.p, j.j,
         ('0x' || substr(md5(p.p || ':' || j.j), 1, 8))::BIGINT
           / 2147483648.0 - 1.0 AS w
  FROM range(0, 24) p(p), range(0, 64) j(j)
),
comps AS (
  SELECT e.vec_id, pl.p,
         SUM(e.embedding[pl.j + 1]::DOUBLE * pl.w) AS d
  FROM embeddings e, planes pl
  GROUP BY e.vec_id, pl.p
),
sigs AS (
  SELECT vec_id, p // 6 AS tbl,
         CAST(SUM(CASE WHEN d > 0 THEN 1::BIGINT << (p % 6) ELSE 0 END)
              AS BIGINT) AS bucket
  FROM comps GROUP BY vec_id, p // 6
),
cand AS (
  SELECT DISTINCT sa.vec_id AS id_a, sb.vec_id AS id_b
  FROM sigs sa JOIN sigs sb
    ON sa.tbl = sb.tbl AND sa.bucket = sb.bucket AND sa.vec_id < sb.vec_id
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT c.id_a, c.id_b,
       ROUND(list_cosine_similarity(ea.v, eb.v), 4) AS cosine
FROM cand c
JOIN e ea ON c.id_a = ea.vec_id
JOIN e eb ON c.id_b = eb.vec_id
WHERE list_cosine_similarity(ea.v, eb.v) >= 0.3
"""


@query("dedup_embedding_lsh", _COSINE_LSH_ORACLE)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table random-hyperplane cosine LSH near-dup: 4 tables x
    6-bit signatures -> bucket join -> exact-cosine verify. Recall
    1-(1-p^6)^4 per pair; hyperplanes are md5-derived so the oracle
    replicates the bucketing bit-for-bit."""
    from vectorsearchutil_spark.operators.similarity import cosine_lsh_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_lsh_pairs(emb, n_planes=6, n_tables=4, threshold=0.3, dim=64)


# --------------------------------------------------------------------------
# Iterative k-means — oracle generated by unrolling the same Lloyd's
# iterations in SQL (assignment subquery + elementwise-avg recompute).
# --------------------------------------------------------------------------

def _kmeans_cte_chain(k: int = 8, iterations: int = 3) -> str:
    """The Lloyd's-iteration CTE chain (c0..c{iterations}) shared by
    the kmeans oracle and the SemDeDup oracle below."""
    ctes = [
        f"c0 AS (SELECT CAST(vec_id AS INT) AS cid, embedding::DOUBLE[] AS cv "
        f"FROM embeddings WHERE vec_id < {k})"
    ]
    for i in range(iterations):
        ctes.append(
            f"a{i} AS (\n"
            f"  SELECT e.vec_id, e.embedding,\n"
            f"         (SELECT c.cid FROM c{i} c\n"
            f"          ORDER BY list_distance(e.embedding::DOUBLE[], c.cv) ASC,"
            f" c.cid ASC LIMIT 1) AS cid\n"
            f"  FROM embeddings e\n"
            f")"
        )
        ctes.append(
            f"n{i + 1} AS (\n"
            f"  SELECT cid, list(v ORDER BY pos) AS cv FROM (\n"
            f"    SELECT a.cid, t.i AS pos,"
            f" ROUND(AVG(a.embedding[t.i]::DOUBLE), 6) AS v\n"
            f"    FROM a{i} a, range(1, 65) t(i) GROUP BY a.cid, t.i\n"
            f"  ) GROUP BY cid\n"
            f")"
        )
        # empty clusters keep their previous centroid (matches
        # operators/clustering.py — k never shrinks)
        ctes.append(
            f"c{i + 1} AS (\n"
            f"  SELECT * FROM n{i + 1}\n"
            f"  UNION ALL\n"
            f"  SELECT p.cid, p.cv FROM c{i} p\n"
            f"  WHERE p.cid NOT IN (SELECT cid FROM n{i + 1})\n"
            f")"
        )
    return ",\n".join(ctes)


def _kmeans_oracle(k: int = 8, iterations: int = 3) -> str:
    final = iterations
    return (
        "WITH " + _kmeans_cte_chain(k, iterations) + f"""
SELECT e.vec_id,
       (SELECT c.cid FROM c{final} c
        ORDER BY list_distance(e.embedding::DOUBLE[], c.cv) ASC, c.cid ASC
        LIMIT 1) AS cluster,
       ROUND((SELECT MIN(list_distance(e.embedding::DOUBLE[], c.cv))
              FROM c{final} c), 4) AS distance
FROM embeddings e
"""
    )


@query("kmeans_clusters", _kmeans_oracle())
def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative Lloyd's k-means (k=8, 3 iterations), deterministic
    init + tie-breaks + per-iteration 6dp centroid rounding — the
    iterative-algorithm pattern, still fully oracle-checked."""
    from vectorsearchutil_spark.operators.clustering import kmeans

    emb = load_table(spark, sf_dir, "embeddings")
    assignments, _ = kmeans(
        emb, k=8, iterations=3, vector_col="embedding", id_col="vec_id"
    )
    return assignments


# --------------------------------------------------------------------------
# Text normalization, chunking, exact quantiles.
# --------------------------------------------------------------------------

_NORMALIZE_ORACLE = """
WITH cleaned AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                             ' +', ' ', 'g')) AS clean
  FROM documents
)
SELECT doc_id, md5(clean) AS clean_hash,
       CAST(length(clean) AS INT) AS clean_len
FROM cleaned
"""


@query("text_normalize", _NORMALIZE_ORACLE)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaning pass: lowercase, strip non-alphanumerics, collapse
    whitespace — hash-verified."""
    docs = load_table(spark, sf_dir, "documents")
    return _ta.normalize_text(docs)


_CHUNK_ORACLE = """
WITH doctoks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
  FROM documents
),
idx AS (
  SELECT doc_id, toks,
         unnest(range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT))) AS chunk_idx
  FROM doctoks
)
SELECT doc_id,
       CAST(chunk_idx AS INT) AS chunk_idx,
       md5(array_to_string(toks[chunk_idx * 10 + 1 : chunk_idx * 10 + 20], ' '))
         AS chunk_hash,
       CAST(len(toks[chunk_idx * 10 + 1 : chunk_idx * 10 + 20]) AS INT)
         AS n_chunk_tokens
FROM idx
"""


@query("text_chunking", _CHUNK_ORACLE)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (20-token windows, stride 10) — the
    pre-embedding stage of an LLM data pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    return _ta.chunk_documents(docs, chunk_tokens=20, stride=10)


_QUANTILES_ORACLE = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_quantity::DOUBLE, 0.5), 4) AS p50,
       ROUND(quantile_cont(l_quantity::DOUBLE, 0.9), 4) AS p90,
       ROUND(quantile_cont(l_quantity::DOUBLE, 0.99), 4) AS p99
FROM lineitem GROUP BY l_returnflag
"""


@query("lineitem_quantiles", _QUANTILES_ORACLE)
def lineitem_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ≡
    DuckDB `quantile_cont`); at 100 TB swap for approx_percentile with
    a bounded error budget."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("l_quantity", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("l_quantity", F.lit(0.99)), 4).alias("p99"),
    )


# --------------------------------------------------------------------------
# TPC-H Q18 shape — aggregate-subquery semi-join (large-volume orders).
# --------------------------------------------------------------------------

_Q18_ORACLE = """
SELECT c.c_custkey, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       ROUND(SUM(l.l_quantity), 2) AS total_qty
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING SUM(l_quantity) > 250
)
GROUP BY c.c_custkey, o.o_orderkey, o.o_orderdate
"""


@query("tpch_q18_large_orders", _Q18_ORACLE)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate-HAVING subquery driving a semi-join.
    The inner aggregate reduces lineitem to qualifying orderkeys
    (tiny) which broadcast into the outer join — the decompose-then-
    semi-join rewrite that avoids re-aggregating the big fact twice."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 250)
        .select("l_orderkey")
    )
    return (
        li.join(F.broadcast(big), "l_orderkey", "left_semi")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "o_orderkey", "o_orderdate")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "total_qty",
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q14/Q17 shapes — conditional-aggregate ratio and correlated
# per-group average filter.
# --------------------------------------------------------------------------

_Q14_ORACLE = """
SELECT ROUND(
         100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                          THEN l.l_extendedprice::DECIMAL(12,2)
                               * (1 - l.l_discount::DECIMAL(12,2))
                          ELSE 0 END) AS DOUBLE)
         / NULLIF(CAST(SUM(l.l_extendedprice::DECIMAL(12,2)
                           * (1 - l.l_discount::DECIMAL(12,2)))
                       AS DOUBLE), 0), 4)
         AS promo_revenue_pct
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate <  TIMESTAMP '1997-02-01'
"""


@query("tpch_q14_promo_revenue", _Q14_ORACLE)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregate ratio over a dim join —
    part broadcasts, lineitem's shipdate window pushes to the scan."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    disc = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(12,2)")
    )
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-02-01").cast("timestamp"))
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.try_divide(
                    100.0 * F.sum(promo).cast("double"),
                    F.sum(disc).cast("double"),
                ),
                4,
            ).alias("promo_revenue_pct")
        )
    )


_Q17_ORACLE = """
WITH part_avg AS (
  SELECT l_partkey, AVG(l_quantity) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT ROUND(CAST(SUM(l.l_extendedprice::DECIMAL(12,2)) AS DOUBLE) / 7.0, 2)
         AS avg_yearly
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN part_avg a ON l.l_partkey = a.l_partkey
WHERE p.p_brand = 'Brand#1'
  AND l.l_quantity < 0.5 * a.avg_qty
"""


@query("tpch_q17_small_quantity", _Q17_ORACLE)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-group average rewritten as an
    aggregate-then-join (decorrelation — the rewrite Catalyst can't
    always do for you, expressed explicitly)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    part_avg = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("avg_qty"))
    return (
        li.join(
            F.broadcast(p.filter(F.col("p_brand") == "Brand#1")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(part_avg, "l_partkey")
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
                .cast("double") / 7.0,
                2,
            ).alias("avg_yearly")
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q6/Q4/Q7/Q10/Q19/Q22 shapes — adapted to the driver's reduced
# star schema (no partsupp/commitdate/shipmode/phone columns).
# --------------------------------------------------------------------------

_Q6_ORACLE = """
SELECT CAST(ROUND(SUM(l_extendedprice::DECIMAL(12,2)
                      * l_discount::DECIMAL(12,2)), 2) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@query("tpch_q6_forecast_revenue", _Q6_ORACLE)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + scalar aggregate. Every predicate
    (shipdate window, discount band, quantity cap) is parquet-pushable
    and the scan reads only 4 columns — the canonical pushdown/pruning
    showcase: at 100 TB this plan reads row groups, not the table."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(12,2)")
                    * F.col("l_discount").cast("decimal(12,2)")
                ),
                2,
            ).cast("double").alias("revenue")
        )
    )


_Q4_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
"""


@query("tpch_q4_order_priority", _Q4_ORACLE)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (EXISTS → left-semi join): orders with at least
    one line shipped >60 days after the order date, counted by
    priority. The date window prunes orders at the scan; the semi-join
    carries the non-equi shipdate predicate alongside the orderkey
    equi-key, so it stays a hash join (never a cartesian)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    return (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


_Q7_ORACLE = """
SELECT supp_nation, cust_nation, l_year,
       CAST(ROUND(SUM(volume), 2) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation,
         n2.n_name AS cust_nation,
         CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INT) AS l_year,
         l.l_extendedprice::DECIMAL(12,2)
           * (1 - l.l_discount::DECIMAL(12,2)) AS volume
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""


@query("tpch_q7_volume_shipping", _Q7_ORACLE)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral nation-pair trade volume by year.
    supplier/customer/nation broadcast; the disjunctive nation-pair
    predicate is applied after the dim joins attach both nation names,
    leaving orders⋈lineitem as the only shuffle. Self-joining nation
    twice under different aliases exercises alias hygiene."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"),
        F.col("n_name").alias("supp_nation"),
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"),
        F.col("n_name").alias("cust_nation"),
    )
    pair = (
        (F.col("supp_nation") == "NATION_1")
        & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2")
        & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(12,2)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(12,2)"))
                ),
                2,
            ).cast("double").alias("revenue")
        )
    )


_Q10_ORACLE = """
SELECT c.c_custkey, c.c_name,
       CAST(ROUND(SUM(l.l_extendedprice::DECIMAL(12,2)
                      * (1 - l.l_discount::DECIMAL(12,2))), 2) AS DOUBLE)
         AS revenue,
       c.c_acctbal, n.n_name
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-10-01'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c.c_custkey ASC
LIMIT 20
"""


@query("tpch_q10_returned_items", _Q10_ORACLE)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: who returned the most revenue last quarter.
    returnflag + orderdate predicates push to the scans; customer and
    nation broadcast; orderBy+limit(20) compiles to
    TakeOrderedAndProject so only 20 rows reach the driver."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            o.filter(
                (
                    F.col("o_orderdate")
                    >= F.lit("1996-10-01").cast("timestamp")
                )
                & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(12,2)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(12,2)"))
                ),
                2,
            ).cast("double").alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


_Q19_ORACLE = """
SELECT CAST(ROUND(SUM(l.l_extendedprice::DECIMAL(12,2)
                      * (1 - l.l_discount::DECIMAL(12,2))), 2) AS DOUBLE)
         AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 15)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 25)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 35)
"""


@query("tpch_q19_disjunctive", _Q19_ORACLE)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    bands across the join. Catalyst extracts the common
    sub-predicates (brand IN (...), size/quantity hulls) and pushes
    them below the join, so part shrinks before it broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    band = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 15)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 25)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 35)
        )
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(band)
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(12,2)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(12,2)"))
                ),
                2,
            ).cast("double").alias("revenue")
        )
    )


_Q22_ORACLE = """
WITH avg_bal AS (
  SELECT ROUND(CAST(SUM(c_acctbal::DECIMAL(12,2)) AS DOUBLE)
               / COUNT(*), 2) AS threshold
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c.c_nationkey, COUNT(*) AS numcust,
       CAST(ROUND(SUM(c.c_acctbal::DECIMAL(12,2)), 2) AS DOUBLE)
         AS totacctbal
FROM customer c, avg_bal
WHERE c.c_acctbal > avg_bal.threshold
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2000-01-01'
  )
GROUP BY c.c_nationkey
"""


@query("tpch_q22_dormant_customers", _Q22_ORACLE)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers dormant since
    2000. The scalar AVG subquery becomes a 1-row broadcast cross
    join (threshold rounded on both sides so engine-order float
    summation can't flip a borderline row); NOT EXISTS becomes a
    left-anti join whose right side is pre-filtered to recent orders
    — the filter pushes below the anti-join, shrinking its build."""
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    threshold = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(12,2)"))
                .cast("double") / F.count(F.lit(1)),
                2,
            ).alias("threshold")
        )
    )
    return (
        c.join(F.broadcast(threshold))
        .filter(F.col("c_acctbal") > F.col("threshold"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(12,2)")), 2)
            .cast("double").alias("totacctbal"),
        )
    )


# --------------------------------------------------------------------------
# Stream-static dimension enrichment — batch twin of
# streaming.joins.stream_static_enrich (the streaming form is tested
# availableNow ≡ batch in tests/test_streaming.py).
# --------------------------------------------------------------------------

_ENRICH_ORACLE = """
SELECT c.c_mktsegment,
       COUNT(*) AS events,
       CAST(ROUND(SUM(e.value::DECIMAL(12,2)), 2) AS DOUBLE) AS total_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
"""


@query("events_enrich_dim", _ENRICH_ORACLE)
def events_enrich_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event stream enriched with the customer dimension, rolled up
    by market segment. The dim broadcasts (map-side hash join — the
    same plan the per-micro-batch streaming form gets), so the fact
    never shuffles for the join; only the 5-group aggregate moves."""
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return (
        e.join(F.broadcast(c), e.user_id == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
            .cast("double").alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# Dedup endgame: pairs → connected components → canonical survivors.
# The stage a training-data pipeline actually ships: near-dup PAIRS
# are diagnostics; clusters electing one survivor are the output.
# --------------------------------------------------------------------------

_CC_EDGES_CTE = f"""
{_SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b
  FROM inter i
  JOIN sizes sa ON i.id_a = sa.doc_id
  JOIN sizes sb ON i.id_b = sb.doc_id
  WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= 0.8
),
e AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
r AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e.b FROM r JOIN e ON r.b = e.a
),
comp AS (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
  FROM r GROUP BY a
)
"""

_CC_ORACLE = f"""
WITH RECURSIVE {_CC_EDGES_CTE}
SELECT doc_id, component FROM comp
"""


@query("dedup_connected_components", _CC_ORACLE)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: 3-gram Jaccard ≥0.8 pairs as edges →
    min-label-propagation connected components (component = min
    reachable doc_id). Oracle: recursive CTE transitive closure."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _dd.ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    return _dd.connected_components(pairs).select(
        F.col("node").alias("doc_id"), "component"
    )


_CANONICAL_ORACLE = f"""
WITH RECURSIVE {_CC_EDGES_CTE}
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d
WHERE d.doc_id NOT IN (
  SELECT doc_id FROM comp WHERE doc_id != component
)
"""


@query("dedup_canonical_docs", _CANONICAL_ORACLE)
def dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus: drop every cluster member except the
    canonical minimum-id survivor (exact dups have Jaccard 1.0, so
    they're covered too). Anti-join of the corpus against non-
    canonical members — no broadcast hint: at LLM-corpus dup rates
    the loser set is an unbounded fraction of the corpus, so AQE
    decides (demoting to broadcast only when it measures small)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _dd.ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    cc = _dd.connected_components(pairs)
    losers = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return docs.join(losers, "doc_id", "left_anti").select(
        "doc_id", "lang", "n_chars"
    )


# --------------------------------------------------------------------------
# TPC-H Q8 (market share) and Q15 (top supplier by revenue) shapes.
# --------------------------------------------------------------------------

_Q8_ORACLE = """
SELECT l_year,
       ROUND(CAST(SUM(CASE WHEN cust_nation = 'NATION_3'
                           THEN volume ELSE 0 END) AS DOUBLE)
             / NULLIF(CAST(SUM(volume) AS DOUBLE), 0), 4) AS mkt_share
FROM (
  SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS l_year,
         l.l_extendedprice::DECIMAL(12,2)
           * (1 - l.l_discount::DECIMAL(12,2)) AS volume,
         n.n_name AS cust_nation
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n   ON c.c_nationkey = n.n_nationkey
  JOIN part p     ON l.l_partkey = p.p_partkey
  WHERE p.p_type = 'ECONOMY'
) allnations
GROUP BY l_year
"""


@query("tpch_q8_market_share", _Q8_ORACLE)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a part segment's revenue
    per year — conditional-sum ratio over a 5-way join. All dims
    broadcast; the part p_type filter shrinks the probe before the
    fact join; one orders⋈lineitem shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    p = load_table(spark, sf_dir, "part")
    vol = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(12,2)")
    )
    return (
        li.join(F.broadcast(p.filter(F.col("p_type") == "ECONOMY")),
                F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.year("o_orderdate").alias("l_year"))
        .agg(
            F.round(
                F.try_divide(
                    F.sum(
                        F.when(
                            F.col("n_name") == "NATION_3", vol
                        ).otherwise(F.lit(0))
                    ).cast("double"),
                    F.sum(vol).cast("double"),
                ),
                4,
            ).alias("mkt_share")
        )
    )


_Q15_ORACLE = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(ROUND(SUM(l_extendedprice::DECIMAL(12,2)
                        * (1 - l_discount::DECIMAL(12,2))), 2) AS DOUBLE)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


@query("tpch_q15_top_supplier", _Q15_ORACLE)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the revenue 'view' is computed once and used
    twice (per-supplier revenue + its global max) — the reuse is
    explicit via a single aggregated DataFrame joined against its own
    1-row max, so the fact scan+agg never runs twice. Revenue is
    rounded BEFORE the max comparison on both sides, keeping the
    equality engine-stable."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(12,2)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(12,2)"))
                ),
                2,
            ).cast("double").alias("total_revenue")
        )
        .localCheckpoint()  # computed once, used for both the join and the max
    )
    top = revenue.agg(F.max("total_revenue").alias("_max"))
    return (
        revenue.join(F.broadcast(top), F.col("total_revenue") == F.col("_max"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


_REPETITION_ORACLE = f"""
WITH {_DOCS_TOKS_CTE},
sh0 AS (
  SELECT doc_id, toks,
         unnest(range(1, greatest(len(toks) - 2, 0) + 1)) AS i
  FROM doctoks
),
allsh AS (
  SELECT doc_id, toks[i] || '_' || toks[i+1] || '_' || toks[i+2] AS shingle
  FROM sh0
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(COUNT(DISTINCT shingle) AS BIGINT) AS n_distinct,
       ROUND(1.0 - COUNT(DISTINCT shingle) * 1.0 / COUNT(*), 4)
         AS repetition_ratio
FROM allsh GROUP BY doc_id
"""


@query("text_repetition_ratio", _REPETITION_ORACLE)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style duplicate-3-gram quality signal per document —
    narrow shingle projection + one groupBy(doc_id)."""
    from vectorsearchutil_spark.operators.textanalysis import (
        repetition_ratio,
    )

    docs = load_table(spark, sf_dir, "documents")
    return repetition_ratio(docs, n=3)


# --------------------------------------------------------------------------
# Window-function coverage: ntile bucketing and first/last frames.
# --------------------------------------------------------------------------

_NTILE_ORACLE = """
SELECT c_custkey,
       CAST(NTILE(10) OVER (ORDER BY c_acctbal DESC, c_custkey ASC) AS INT)
         AS decile
FROM customer
"""


@query("customers_acctbal_deciles", _NTILE_ORACLE)
def customers_acctbal_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Account-balance deciles — exact NTILE(10) semantics (first
    n mod k buckets take the extra row) WITHOUT the global sort,
    via the shared two-level helper (operators/analytics.py::
    exact_ntile): distinct-value histogram rank + nested
    order-preserving custkey buckets within ties, so even a
    constant-balance corpus never serializes more than one bucket's
    customers through a single sort task. Oracle stays the NTILE
    definition."""
    from vectorsearchutil_spark.operators.analytics import exact_ntile

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    return exact_ntile(
        c, "c_acctbal", 10,
        ascending=False, tie_col="c_custkey", out_col="decile",
    ).select("c_custkey", "decile")


_FIRST_LAST_ORACLE = """
SELECT DISTINCT user_id,
       FIRST_VALUE(event_type) OVER w AS first_event,
       LAST_VALUE(event_type)  OVER w AS last_event,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_events
FROM events
WINDOW w AS (
  PARTITION BY user_id
  ORDER BY ts ASC, event_id ASC
  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
)
"""


@query("events_first_last_per_user", _FIRST_LAST_ORACLE)
def events_first_last_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last event per user via an explicit unbounded frame —
    the frame form that makes last_value correct (the default frame
    stops at CURRENT ROW). One shuffle on user_id."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return e.select(
        "user_id",
        F.first("event_type").over(w).alias("first_event"),
        F.last("event_type").over(w).alias("last_event"),
        F.count(F.lit(1)).over(w).alias("n_events"),
    ).distinct()


_GROUPING_SETS_ORACLE = """
SELECT event_type,
       CAST(user_id AS BIGINT) AS user_id,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
                 AS BIGINT) AS DOUBLE) / 100.0 AS total_value
FROM events
GROUP BY GROUPING SETS ((event_type), (user_id), ())
"""


@query("events_grouping_sets", _GROUPING_SETS_ORACLE)
def events_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS — the third of the multi-aggregate trio
    (rollup/cube are separate entries): per-type totals, per-user
    totals, and the grand total in ONE pass with partial aggregation,
    instead of three scans unioned.

    total_value is an EXACT-CENTS sum (per-row floor-form cents →
    long sum → /100): `ROUND(SUM(double), 2)` is engine-divergent on
    half-way boundaries BOTH through the rounding mode and through
    the order-dependent float sum feeding it — found by the
    tie-heavy parity fixture (tools/gen_ties_fixture.py), where
    mass-repeated 10.005 values flipped the 2nd decimal."""
    e = load_table(spark, sf_dir, "events")
    # guarded cents (NULL for null/non-finite): floor(Inf) saturates
    # to Long.MAX and overflows the ANSI long SUM — round-6
    # value-materializing nan-inf sweep
    from vectorsearchutil_spark.operators.analytics import _cents

    cents = _cents(F.col("value"))
    return (
        e.groupingSets(
            [["event_type"], ["user_id"], []], "event_type", "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents).cast("double") / 100.0).alias("total_value"),
        )
        .select("event_type", "user_id", "n", "total_value")
    )


_HASH_SPLIT_ORACLE = """
SELECT doc_id,
       CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                 % 100 < 90
            THEN 'train' ELSE 'val' END AS split
FROM documents
"""


@query("documents_hash_split", _HASH_SPLIT_ORACLE)
def documents_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/10 train/val split by id hash — the stable
    sampling primitive a training pipeline needs (same row lands in
    the same split on every run, any engine, any partitioning;
    RNG-based sample() can guarantee none of those). Pure narrow
    projection — no shuffle, no state."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 100
    )
    return docs.select(
        "doc_id",
        F.when(bucket < 90, "train").otherwise("val").alias("split"),
    )


_GROUP_PCT_ORACLE = """
SELECT o_orderpriority,
       ROUND(quantile_cont(o_totalprice, 0.5), 2) AS p50,
       ROUND(quantile_cont(o_totalprice, 0.9), 2) AS p90,
       ROUND(quantile_cont(o_totalprice, 0.99), 2) AS p99
FROM orders
GROUP BY o_orderpriority
"""


@query("orders_percentiles_by_priority", _GROUP_PCT_ORACLE)
def orders_percentiles_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentiles (interpolated, quantile_cont
    semantics — Spark's `percentile`, not approx_percentile). Exact
    grouped percentiles need the group's values together: one shuffle
    on the group key. At 100 TB you'd reach for approx_percentile
    (t-digest-style mergeable sketch, partial-agg map-side) and
    accept the error bound — kept exact here so the oracle can pin
    values."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 2).alias("p99"),
    )


# --------------------------------------------------------------------------
# TPC-H Q12/Q16/Q21 shapes, adapted to the reduced star (no
# shipmode/partsupp/commitdate columns).
# --------------------------------------------------------------------------

_Q12_ORACLE = """
SELECT l.l_returnflag,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY l.l_returnflag
"""


@query("tpch_q12_priority_lines", _Q12_ORACLE)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional counts splitting one pass by a
    predicate on the joined dimension — two CASE sums instead of two
    scans. Shipdate pushes to the lineitem scan."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


_Q16_ORACLE = """
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p.p_brand, p.p_type, p.p_size
"""


@query("tpch_q16_supplier_counts", _Q16_ORACLE)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (lineitem as the part-supplier bridge):
    distinct-supplier counts per part segment, excluding a
    subquery-derived supplier blacklist. NOT IN becomes a left-anti
    join against the (tiny, broadcast) blacklist; the count-distinct
    expands to a two-phase aggregate under partial aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    blacklist = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(
            F.broadcast(
                p.filter(
                    (F.col("p_brand") != "Brand#1")
                    & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
                )
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            F.broadcast(blacklist),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


_Q21_ORACLE = """
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o    ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3, orders o3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND o3.o_orderkey = l3.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY s.s_name
"""


@query("tpch_q21_waiting_supplier", _Q21_ORACLE)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the double-correlated EXISTS / NOT EXISTS —
    the sole late supplier on a multi-supplier finished order.
    Both correlations decorrelate to per-orderkey aggregates over ONE
    extra pass: count of distinct suppliers and count of distinct
    LATE suppliers per order, then the predicate is suppliers > 1 AND
    late_suppliers == 1 AND "I am the late one" — three joins become
    one auxiliary aggregate (the rewrite Catalyst cannot do for
    correlated EXISTS pairs)."""
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 60 DAYS"
    )
    lo = li.join(
        o.filter(F.col("o_orderstatus") == "F").select(
            "o_orderkey", "o_orderdate"
        ),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select("l_orderkey", "l_suppkey", late.alias("_late"))
    per_order = lo.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(
            F.when(F.col("_late"), F.col("l_suppkey"))
        ).alias("n_late_supp"),
    )
    # count per qualifying LINE (a supplier twice-late on one order
    # counts twice), matching the correlated-SQL row semantics
    return (
        lo.filter(F.col("_late"))
        .join(
            per_order.filter(
                (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
            ),
            "l_orderkey",
        )
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


_Q13_ORACLE = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey
   AND o.o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c.c_custkey
) c_orders
GROUP BY c_count
"""


@query("tpch_q13_customer_distribution", _Q13_ORACLE)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: outer join with a residual predicate ON the
    join (not a WHERE — customers with zero qualifying orders must
    survive with count 0), then a re-aggregation of the aggregate.
    Two shuffles total: custkey, then the tiny c_count histogram."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o.filter(F.col("o_orderpriority") != "4-NOT SPECIFIED"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


_Q9_ORACLE = """
SELECT nation, o_year, CAST(ROUND(SUM(amount), 2) AS DOUBLE) AS sum_profit
FROM (
  SELECT n.n_name AS nation,
         CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS o_year,
         CAST(l.l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
           - CAST(p.p_retailprice AS DECIMAL(18,2))
             * CAST(l.l_quantity AS DECIMAL(18,2)) AS amount
  FROM lineitem l
  JOIN part p     ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN nation n   ON s.s_nationkey = n.n_nationkey
  WHERE p.p_name LIKE '%a%'
) profit
GROUP BY nation, o_year
"""


@query("tpch_q9_product_profit", _Q9_ORACLE)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (retailprice stands in for ps_supplycost — no
    partsupp in the reduced star): profit by supplier nation and
    order year across a 5-way join with a LIKE-filtered part dim.
    part/supplier/nation broadcast; orders⋈lineitem is the only
    fact-fact shuffle.

    The money math runs in DECIMAL(18,2): the source prices are 2dp
    decimals stored as doubles, so the cast recovers them exactly and
    the SUM is order-independent — double summation at a half-cent
    boundary flipped ROUND by one cent depending on partition order
    (driver-red r3). Final value casts back to double for the stable
    cross-engine dtype."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    amount = dec("l_extendedprice") * (F.lit(1) - dec("l_discount")) - dec(
        "p_retailprice"
    ) * dec("l_quantity")
    return (
        li.join(
            F.broadcast(p.filter(F.col("p_name").like("%a%"))),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            F.round(F.sum(amount), 2).cast("double").alias("sum_profit")
        )
    )


# --------------------------------------------------------------------------
# Round 2: filtered vector search, embedding transforms, deterministic
# sampling, stats suite, document filter pipeline.
# --------------------------------------------------------------------------

_KNN_FILTERED_ORACLE = """
WITH q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
)
SELECT e.vec_id,
       e.label,
       ROUND(list_distance(e.embedding::DOUBLE[], q.qv), 4) AS distance
FROM embeddings e, q
WHERE e.label IN (1, 2, 3)
ORDER BY list_distance(e.embedding::DOUBLE[], q.qv) ASC, e.vec_id ASC
LIMIT 10
"""


@query("knn_filtered", _KNN_FILTERED_ORACLE)
def knn_filtered_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: top-10 L2 neighbours among rows whose
    label passes a metadata predicate (pre-filter semantics — the
    predicate reaches the parquet scan below the distance projection,
    so at 100 TB row groups prune before any distance is computed)."""
    from vectorsearchutil_spark.operators.knn import knn_filtered

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _probe_vec(emb.filter(F.col("vec_id") == 0).select("embedding"))
    out = knn_filtered(
        emb, qv, F.col("label").isin(1, 2, 3), k=10,
        vector_col="embedding", id_col="vec_id",
    )
    return out.select(
        "vec_id", "label", F.round(F.col("distance"), 4).alias("distance")
    )


_EMB_NORMALIZE_ORACLE = """
WITH n AS (
  SELECT vec_id,
         sqrt(list_aggregate(
           list_transform(embedding::DOUBLE[], x -> x * x), 'sum'
         )) AS norm,
         embedding::DOUBLE[] AS v
  FROM embeddings
)
SELECT vec_id,
       ROUND(norm, 6) AS norm,
       array_to_string(
         list_transform(v, x -> printf('%.4f', ROUND(x / norm, 4) + 0.0)),
         ','
       ) AS unit_vec
FROM n
"""


@query("embedding_normalize", _EMB_NORMALIZE_ORACLE)
def embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-L2 normalization as a narrow projection (dot ≡ cosine
    downstream). The norm is materialized as its own column BEFORE the
    transform lambda references it — lambda bodies are not CSE'd.

    The unit vector leaves as a ','-joined %.4f string: the driver's
    canonicalizer cannot hash list cells (pandas sort_values raises
    on them — driver-red r3), so array outputs stringify in the final
    projection on BOTH sides."""
    from vectorsearchutil_spark.operators.embeddings import normalize_vectors

    emb = load_table(spark, sf_dir, "embeddings")
    out = normalize_vectors(emb, vector_col="embedding")
    return out.select(
        "vec_id",
        F.round(F.col("norm"), 6).alias("norm"),
        # + 0.0 canonicalizes IEEE -0.0 (both sides do this)
        F.array_join(
            F.transform(
                F.col("unit_vec"),
                lambda x: F.format_string(
                    "%.4f", F.round(x, 4) + F.lit(0.0)
                ),
            ),
            ",",
        ).alias("unit_vec"),
    )


_EMB_QUANTIZE_ORACLE = """
WITH s AS (
  SELECT vec_id,
         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0
           AS scale,
         embedding::DOUBLE[] AS v
  FROM embeddings
)
SELECT vec_id,
       ROUND(scale, 6) AS scale,
       array_to_string(
         list_transform(
           v,
           x -> CAST(least(127, greatest(-127, ROUND(x / scale, 0))) AS INT)
         ),
         ','
       ) AS q8
FROM s
"""


@query("embedding_quantize_int8", _EMB_QUANTIZE_ORACLE)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (the faiss SQ8 idea as
    a declarative transform): 4x smaller vectors for the 100 TB
    landing zone, exact reconstruction contract q*scale. Codes leave
    as a ','-joined string — the driver canonicalizer cannot hash
    list cells (driver-red r3)."""
    from vectorsearchutil_spark.operators.embeddings import quantize_int8

    emb = load_table(spark, sf_dir, "embeddings")
    out = quantize_int8(emb, vector_col="embedding")
    return out.select(
        "vec_id",
        F.round(F.col("scale"), 6).alias("scale"),
        F.array_join(F.col("q8").cast("array<string>"), ",").alias("q8"),
    )


_HASH_SAMPLE_ORACLE = """
SELECT doc_id, lang, source
FROM documents
WHERE ('0x' || substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      / 4294967296.0 < 0.3
"""


@query("documents_hash_sample", _HASH_SAMPLE_ORACLE)
def documents_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 30% Bernoulli sample by key hash: a pure filter —
    reproducible across engines/partitionings (df.sample is not),
    pushdown-friendly, shuffle-free."""
    from vectorsearchutil_spark.operators.sampling import hash_sample

    docs = load_table(spark, sf_dir, "documents")
    return hash_sample(docs, 0.3, key_col="doc_id", seed="s42").select(
        "doc_id", "lang", "source"
    )


_STRAT_SAMPLE_ORACLE = """
SELECT o_orderkey, o_orderpriority
FROM orders
WHERE ('0x' || substr(md5('s7:' || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
      / 4294967296.0
      < CASE o_orderpriority
          WHEN '1-URGENT' THEN 0.5
          WHEN '2-HIGH' THEN 0.2
          ELSE 0.05
        END
"""


@query("orders_stratified_sample", _STRAT_SAMPLE_ORACLE)
def orders_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling (downsample dominant strata,
    keep rare ones): rate lookup is a literal map, so the whole sample
    is one narrow filter — no join, no shuffle."""
    from vectorsearchutil_spark.operators.sampling import (
        stratified_hash_sample,
    )

    orders = load_table(spark, sf_dir, "orders")
    out = stratified_hash_sample(
        orders,
        rates={"1-URGENT": 0.5, "2-HIGH": 0.2},
        stratum_col="o_orderpriority",
        key_col="o_orderkey",
        seed="s7",
        default_rate=0.05,
    )
    return out.select("o_orderkey", "o_orderpriority")


_HISTOGRAM_ORACLE = """
SELECT CAST(least(floor(value / 25.0), 19) AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MIN(value), 2) AS lo,
       ROUND(MAX(value), 2) AS hi
FROM events
GROUP BY 1
"""


@query("events_value_histogram", _HISTOGRAM_ORACLE)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bound equi-width histogram (20 buckets of width 25,
    clamped): single partial-aggregated groupBy on a computed bucket
    key — the one-pass histogram shape that scales to any row count."""
    e = load_table(spark, sf_dir, "events").filter(
        _finite_or_null(F.col("value"))
    )
    bucket = F.least(F.floor(F.col("value") / 25.0), F.lit(19)).cast("int")
    return (
        e.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
        )
    )


_STATS_SUITE_ORACLE = """
WITH m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(l_quantity::DECIMAL(12,2)) AS DOUBLE) AS sq,
         CAST(SUM(l_extendedprice::DECIMAL(12,2)) AS DOUBLE) AS sp,
         CAST(SUM(l_discount::DECIMAL(12,2)) AS DOUBLE) AS sd,
         CAST(SUM(l_quantity::DECIMAL(12,2)
                  * l_extendedprice::DECIMAL(12,2)) AS DOUBLE) AS sqp,
         CAST(SUM(l_extendedprice::DECIMAL(12,2)
                  * l_discount::DECIMAL(12,2)) AS DOUBLE) AS spd,
         CAST(SUM(l_quantity::DECIMAL(12,2)
                  * l_quantity::DECIMAL(12,2)) AS DOUBLE) AS sqq,
         CAST(SUM(l_extendedprice::DECIMAL(12,2)
                  * l_extendedprice::DECIMAL(12,2)) AS DOUBLE) AS spp,
         CAST(SUM(l_discount::DECIMAL(12,2)
                  * l_discount::DECIMAL(12,2)) AS DOUBLE) AS sdd
  FROM lineitem
)
SELECT ROUND((n * sqp - sq * sp)
             / sqrt(n * sqq - sq * sq) / sqrt(n * spp - sp * sp), 4)
         AS corr_qty_price,
       ROUND((n * spd - sp * sd)
             / sqrt(n * spp - sp * sp) / sqrt(n * sdd - sd * sd), 4)
         AS corr_price_disc,
       ROUND((sqp - sq * sp / n) / (n - 1), 2) AS covar_qty_price,
       ROUND(sqrt((spp - sp * sp / n) / (n - 1)), 2) AS std_price,
       ROUND(sp / n, 2) AS avg_price
FROM m
"""


@query("lineitem_stats_suite", _STATS_SUITE_ORACLE)
def lineitem_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric profiling aggregates (Pearson corr / covariance /
    stddev) in ONE partial-aggregated pass — the schema-profiling
    step before training-data feature selection."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(12,2)")  # noqa: E731
    m = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dec("l_quantity")).cast("double").alias("sq"),
        F.sum(dec("l_extendedprice")).cast("double").alias("sp"),
        F.sum(dec("l_discount")).cast("double").alias("sd"),
        F.sum(dec("l_quantity") * dec("l_extendedprice"))
        .cast("double").alias("sqp"),
        F.sum(dec("l_extendedprice") * dec("l_discount"))
        .cast("double").alias("spd"),
        F.sum(dec("l_quantity") * dec("l_quantity"))
        .cast("double").alias("sqq"),
        F.sum(dec("l_extendedprice") * dec("l_extendedprice"))
        .cast("double").alias("spp"),
        F.sum(dec("l_discount") * dec("l_discount"))
        .cast("double").alias("sdd"),
    )
    n, sq, sp, sd = F.col("n"), F.col("sq"), F.col("sp"), F.col("sd")
    sqp, spd = F.col("sqp"), F.col("spd")
    sqq, spp, sdd = F.col("sqq"), F.col("spp"), F.col("sdd")
    return m.select(
        F.round(
            F.try_divide(
                F.try_divide(n * sqp - sq * sp, F.sqrt(n * sqq - sq * sq)),
                F.sqrt(n * spp - sp * sp),
            ),
            4,
        ).alias("corr_qty_price"),
        F.round(
            F.try_divide(
                F.try_divide(n * spd - sp * sd, F.sqrt(n * spp - sp * sp)),
                F.sqrt(n * sdd - sd * sd),
            ),
            4,
        ).alias("corr_price_disc"),
        F.round(
            F.try_divide(sqp - sq * sp / n, n - F.lit(1.0)), 2
        ).alias("covar_qty_price"),
        F.round(
            F.sqrt(F.try_divide(spp - sp * sp / n, n - F.lit(1.0))), 2
        ).alias("std_price"),
        F.round(sp / n, 2).alias("avg_price"),
    )


_FILTER_PIPELINE_ORACLE = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x != '') AS toks
  FROM documents
),
sig AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         list_aggregate(list_transform(toks, x -> CAST(length(x) AS DOUBLE)),
                        'sum') / len(toks) AS mean_tok_len,
         list_max(list_transform(toks, x -> length(x))) AS max_tok_len,
         len(list_distinct(toks)) * 1.0 / len(toks) AS uniq_ratio,
         len(list_filter(toks, x -> list_contains(
           ['the','a','of','and','to','is','in','on'], x)))
           * 1.0 / len(toks) AS stop_ratio
  FROM t
),
flagged AS (
  SELECT doc_id, n_tokens, mean_tok_len, uniq_ratio, stop_ratio,
         CASE
           WHEN n_tokens < 20 THEN 'too_short'
           WHEN n_tokens > 100000 THEN 'too_long'
           WHEN mean_tok_len < 3.0 THEN 'mean_tok_short'
           WHEN mean_tok_len > 10.0 THEN 'mean_tok_long'
           WHEN max_tok_len > 20 THEN 'token_too_long'
           WHEN uniq_ratio < 0.2 THEN 'repetitive'
           WHEN stop_ratio < 0.01 THEN 'no_stopwords'
         END AS reject_reason
  FROM sig
)
SELECT doc_id,
       CAST(n_tokens AS INT) AS n_tokens,
       ROUND(mean_tok_len, 4) AS mean_tok_len,
       ROUND(uniq_ratio, 4) AS uniq_ratio,
       ROUND(stop_ratio, 4) AS stop_ratio,
       reject_reason IS NULL AS keep,
       reject_reason
FROM flagged
"""


@query("docs_filter_pipeline", _FILTER_PIPELINE_ORACLE)
def docs_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style quality filter: all rules in one narrow
    projection, emitting keep + first-failing-rule reason per doc
    (the reject histogram is the pipeline's tuning dashboard)."""
    from vectorsearchutil_spark.operators.textanalysis import filter_pipeline

    docs = load_table(spark, sf_dir, "documents")
    return filter_pipeline(docs)


_SIMHASH64_ORACLE = f"""
WITH {_DOCS_TOKS_CTE},
tf AS (
  SELECT doc_id, tok, COUNT(*) AS w
  FROM (SELECT doc_id, unnest(toks) AS tok FROM doctoks)
  GROUP BY 1, 2
),
votes AS (
  SELECT doc_id, j.j,
         SUM(w * CASE WHEN (
               CASE WHEN j.j < 32
                 THEN ('0x' || substr(md5(tok), 1, 8))::BIGINT >> j.j
                 ELSE ('0x' || substr(md5(tok), 9, 8))::BIGINT >> (j.j - 32)
               END) & 1 = 1
             THEN 1 ELSE -1 END) AS s
  FROM tf, range(0, 64) j(j)
  GROUP BY doc_id, j.j
),
sims AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 AND j < 32 THEN 1::BIGINT << j
                       ELSE 0 END) AS BIGINT) AS sim_lo,
         CAST(SUM(CASE WHEN s > 0 AND j >= 32 THEN 1::BIGINT << (j - 32)
                       ELSE 0 END) AS BIGINT) AS sim_hi
  FROM votes GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sim_lo, b.sim_lo))
            + bit_count(xor(a.sim_hi, b.sim_hi)) AS INT) AS hamming
FROM sims a JOIN sims b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim_lo, b.sim_lo))
      + bit_count(xor(a.sim_hi, b.sim_hi)) <= 3
"""


@query("dedup_simhash64", _SIMHASH64_ORACLE)
def dedup_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit TF-weighted SimHash near-dup pairs (hamming <= 3) via
    4x16-bit band join — complete recall by pigeonhole, 65536-way
    buckets keep random collisions ~32x below the 32-bit layout."""
    docs = load_table(spark, sf_dir, "documents")
    return _dd.simhash64_pairs(docs, max_hamming=3)


_IVF_RECALL_ORACLE = f"""
WITH {_CENTROIDS_CTE},
assigned AS (
  SELECT e.vec_id, e.embedding, c.label AS centroid_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_distance(e.embedding::DOUBLE[], c.cvec) ASC,
                    c.label ASC
         ) AS rn
  FROM embeddings e CROSS JOIN centroids c
),
lists AS (
  SELECT vec_id, embedding, centroid_id FROM assigned WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
),
probes AS (
  SELECT q.query_id, q.qv, c.label AS centroid_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.query_id
           ORDER BY list_distance(q.qv::DOUBLE[], c.cvec) ASC, c.label ASC
         ) AS rn
  FROM q CROSS JOIN centroids c
),
pr AS (SELECT query_id, qv, centroid_id FROM probes WHERE rn <= 3),
ivf_ranked AS (
  SELECT p.query_id, l.vec_id,
         ROW_NUMBER() OVER (
           PARTITION BY p.query_id
           ORDER BY list_distance(l.embedding::DOUBLE[], p.qv::DOUBLE[]) ASC,
                    l.vec_id ASC
         ) AS rank
  FROM lists l JOIN pr p ON l.centroid_id = p.centroid_id
),
ivf_top AS (SELECT query_id, vec_id FROM ivf_ranked WHERE rank <= 5),
exact_ranked AS (
  SELECT q.query_id, e.vec_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.query_id
           ORDER BY list_distance(e.embedding::DOUBLE[], q.qv::DOUBLE[]) ASC,
                    e.vec_id ASC
         ) AS rank
  FROM embeddings e CROSS JOIN q
),
exact_top AS (SELECT query_id, vec_id FROM exact_ranked WHERE rank <= 5)
SELECT x.query_id,
       CAST(COUNT(i.vec_id) AS BIGINT) AS n_hit,
       ROUND(COUNT(i.vec_id) / 5.0, 4) AS recall_at_5
FROM exact_top x
LEFT JOIN ivf_top i
  ON x.query_id = i.query_id AND x.vec_id = i.vec_id
GROUP BY x.query_id
"""


@query("ann_ivf_recall", _IVF_RECALL_ORACLE)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN evaluation as a query: per-query recall@5 of IVF(n_probe=3)
    against exact brute force — the retrieval-quality dashboard a
    vector pipeline ships next to its index build."""
    from vectorsearchutil_spark.operators.similarity import (
        build_ivf_index,
        ivf_search,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _label_centroids(spark, sf_dir).select(
        F.col("label_idx").alias("centroid_id"),
        F.col("label_vec").alias("centroid_vec"),
    )
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    indexed = build_ivf_index(emb, cents, vector_col="embedding")
    ivf = ivf_search(
        indexed, cents, qs, k=5, n_probe=3,
        vector_col="embedding", id_col="vec_id",
    ).select("query_id", F.col("vec_id").alias("ivf_id"))
    exact = knn_batch(
        emb, qs, k=5, vector_col="embedding", id_col="vec_id", metric="l2"
    ).select("query_id", "vec_id")
    return (
        exact.join(
            ivf,
            (exact.query_id == ivf.query_id)
            & (exact.vec_id == ivf.ivf_id),
            "left",
        )
        .groupBy(exact.query_id)
        .agg(
            F.count("ivf_id").alias("n_hit"),
            F.round(F.count("ivf_id") / 5.0, 4).alias("recall_at_5"),
        )
    )


_CLUSTER_STATS_ORACLE = f"""
WITH RECURSIVE {_CC_EDGES_CTE},
labeled AS (
  SELECT d.doc_id, d.source,
         COALESCE(c.component, d.doc_id) AS component,
         c.component IS NOT NULL AS in_cluster
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN in_cluster THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_docs,
       CAST(COUNT(DISTINCT component) AS BIGINT) AS n_groups,
       ROUND(COUNT(DISTINCT component) * 1.0 / COUNT(*), 4) AS survivor_ratio
FROM labeled
GROUP BY source
"""


@query("dedup_cluster_stats_by_source", _CLUSTER_STATS_ORACLE)
def dedup_cluster_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup pipeline composition: near-dup clusters joined back to
    document metadata and rolled up per source — docs, docs in
    near-dup clusters, surviving groups, survivor ratio. The health
    dashboard a 100 TB dedup run reports per data source."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _dd.ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    comp = _dd.connected_components(pairs).select(
        F.col("node").alias("doc_id"), "component"
    )
    labeled = docs.join(comp, "doc_id", "left").select(
        "source",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
        F.col("component").isNotNull().alias("in_cluster"),
    )
    return labeled.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("in_cluster").cast("long")).alias("n_dup_docs"),
        F.count_distinct("component").alias("n_groups"),
        F.round(
            F.count_distinct("component") / F.count(F.lit(1)), 4
        ).alias("survivor_ratio"),
    )


def _mmr_oracle(k: int = 5, n_cand: int = 10, lam: float = 0.5) -> str:
    ctes = [
        """q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 3
)""",
        """scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS rel,
         e.embedding::DOUBLE[] AS v,
         ROW_NUMBER() OVER (
           PARTITION BY q.query_id
           ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC,
                    e.vec_id ASC
         ) AS rn
  FROM embeddings e CROSS JOIN q
)""",
        f"cands AS (SELECT query_id, vec_id, rel, v FROM scored WHERE rn <= {n_cand})",
        """ps AS (
  SELECT a.query_id, a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(list_cosine_similarity(a.v, b.v), 6) AS s
  FROM cands a JOIN cands b ON a.query_id = b.query_id
)""",
        """sel1 AS (
  SELECT query_id, vec_id, 1 AS mmr_rank, rel AS mmr
  FROM (
    SELECT query_id, vec_id, rel,
           ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY rel DESC, vec_id ASC
           ) AS rn2
    FROM cands
  ) WHERE rn2 = 1
)""",
    ]
    for i in range(2, k + 1):
        prev = f"sel{i - 1}"
        ctes.append(
            f"""step{i} AS (
  SELECT query_id, vec_id, mmr FROM (
    SELECT g.query_id, g.vec_id, g.mmr,
           ROW_NUMBER() OVER (
             PARTITION BY g.query_id ORDER BY g.mmr DESC, g.vec_id ASC
           ) AS rn3
    FROM (
      SELECT c.query_id, c.vec_id,
             {lam} * c.rel - {1 - lam} * MAX(p.s) AS mmr
      FROM cands c
      JOIN ps p ON p.query_id = c.query_id AND p.id_a = c.vec_id
      JOIN {prev} s ON s.query_id = p.query_id AND s.vec_id = p.id_b
      WHERE NOT EXISTS (
        SELECT 1 FROM {prev} z
        WHERE z.query_id = c.query_id AND z.vec_id = c.vec_id
      )
      GROUP BY c.query_id, c.vec_id, c.rel
    ) g
  ) WHERE rn3 = 1
)"""
        )
        ctes.append(
            f"""sel{i} AS (
  SELECT * FROM {prev}
  UNION ALL
  SELECT query_id, vec_id, {i} AS mmr_rank, mmr FROM step{i}
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT query_id, vec_id, mmr_rank, ROUND(mmr, 4) AS mmr_score
FROM sel{k}
"""
    )


@query("knn_mmr_rerank", _mmr_oracle())
def knn_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified retrieval: cosine top-10 candidates per query
    (distributed), then greedy maximal-marginal-relevance re-rank to
    5 (lambda=0.5) per query group via applyInPandas. Oracle: the
    greedy selection unrolled as k SQL steps."""
    from vectorsearchutil_spark.operators.similarity import mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    cands = (
        knn_batch(
            emb, qs, k=10, vector_col="embedding", id_col="vec_id",
            metric="cosine",
        )
        .select(
            "query_id",
            "vec_id",
            F.round(F.col("distance"), 6).alias("rel"),
        )
        .join(emb.select("vec_id", "embedding"), "vec_id")
    )
    out = mmr_rerank(
        cands, k=5, lam=0.5,
        query_id_col="query_id", id_col="vec_id",
        rel_col="rel", vector_col="embedding",
    )
    return out.select(
        "query_id", "vec_id", "mmr_rank",
        F.round(F.col("mmr_score"), 4).alias("mmr_score"),
    )


_ASOF_FWD_ORACLE = """
WITH v AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
),
p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
ranked AS (
  SELECT v.event_id,
         v.user_id,
         p.event_id AS purchase_event_id,
         p.ts AS purchase_ts,
         ROW_NUMBER() OVER (
           PARTITION BY v.event_id ORDER BY p.ts ASC, p.event_id ASC
         ) AS rn
  FROM v LEFT JOIN p
    ON v.user_id = p.user_id AND p.ts >= v.ts
)
SELECT event_id, user_id, purchase_event_id,
       CAST(FLOOR(COALESCE(epoch(purchase_ts), -1)) AS BIGINT)
         AS purchase_ts_floor
FROM ranked WHERE rn = 1
"""


@query("events_asof_join_forward", _ASOF_FWD_ORACLE)
def events_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each view matched to the user's NEXT (or
    simultaneous) purchase — the time-to-convert primitive. Same
    union-and-carry plan as the backward join, descending scan, ONE
    shuffle on user_id."""
    from vectorsearchutil_spark.operators.asofjoin import asof_join_forward

    e = load_table(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join_forward(
        views, purchases, key="user_id",
        right_payload=["event_id"], suffix="_p",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("event_id_p").alias("purchase_event_id"),
        F.coalesce(
            F.floor(epoch_seconds(F.col("ts_p"))).cast("bigint"), F.lit(-1)
        ).alias("purchase_ts_floor"),
    )


_FUNNEL_ORACLE = """
WITH fv AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY 1
),
fc AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN fv ON e.user_id = fv.user_id AND e.ts >= fv.t1
  WHERE e.event_type = 'click' GROUP BY 1
),
fp AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN fc ON e.user_id = fc.user_id AND e.ts >= fc.t2
  WHERE e.event_type = 'purchase' GROUP BY 1
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM fv) AS n_view,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM fc) AS n_click_after_view,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM fp) AS n_purchase_after_click
"""


@query("events_funnel", _FUNNEL_ORACLE)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: each stage
    is the earliest qualifying event at-or-after the previous stage.
    Cascading min-aggregate joins; every stage table is per-user
    (small) and broadcasts, so the event table is scanned three times
    but never shuffled."""
    e = load_table(spark, sf_dir, "events")
    fv = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    fc = (
        e.filter(F.col("event_type") == "click")
        .join(F.broadcast(fv), "user_id")
        .filter(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(fc), "user_id")
        .filter(F.col("ts") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        fv.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(fc.agg(F.count(F.lit(1)).alias("n_click_after_view")))
        .crossJoin(
            fp.agg(F.count(F.lit(1)).alias("n_purchase_after_click"))
        )
    )


_RETENTION_ORACLE = """
WITH cohorts AS (
  SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day FROM events GROUP BY 1
),
activity AS (
  SELECT DISTINCT e.user_id, c.cohort_day,
         date_diff('day', c.cohort_day, CAST(e.ts AS DATE)) AS day_offset
  FROM events e JOIN cohorts c ON e.user_id = c.user_id
)
SELECT CAST(cohort_day AS VARCHAR) AS cohort_day,
       CAST(day_offset AS INT) AS day_offset,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM activity
WHERE day_offset <= 7
GROUP BY cohort_day, day_offset
"""


@query("events_retention_cohorts", _RETENTION_ORACLE)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity day, counted
    per day-offset (0..7). Cohort table is per-user (small) and
    broadcasts back onto the event scan; one distinct + one aggregate
    shuffle regardless of event volume."""
    e = load_table(spark, sf_dir, "events")
    cohorts = e.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("cohort_day")
    )
    activity = (
        e.join(F.broadcast(cohorts), "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("ts").cast("date"), F.col("cohort_day")).alias(
                "day_offset"
            ),
        )
        .filter(F.col("day_offset") <= 7)
        .distinct()
    )
    return activity.groupBy(
        F.col("cohort_day").cast("string").alias("cohort_day"),
        F.col("day_offset").cast("int").alias("day_offset"),
    ).agg(F.count(F.lit(1)).alias("n_users"))


_GAPFILL_ORACLE = """
WITH bounds AS (
  SELECT CAST(MIN(date_trunc('hour', ts)) AS TIMESTAMP) AS t0,
         CAST(MAX(date_trunc('hour', ts)) AS TIMESTAMP) AS t1
  FROM events WHERE event_type = 'purchase'
),
grid AS (
  SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS hour_start
  FROM bounds
),
actual AS (
  SELECT date_trunc('hour', ts) AS hour_start,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
                   AS BIGINT) AS DOUBLE) / 100.0 AS total_value
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
)
SELECT CAST(g.hour_start AS VARCHAR) AS hour_start,
       COALESCE(a.n, 0) AS n,
       COALESCE(a.total_value, 0.0) AS total_value
FROM grid g LEFT JOIN actual a ON g.hour_start = a.hour_start
"""


@query("events_hourly_gapfill", _GAPFILL_ORACLE)
def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly series with gap-fill: the time grid is generated
    with `sequence()` from one aggregated bounds row (no driver loop),
    then left-joined onto the hourly aggregate — empty hours appear
    as zeros. The grid side is tiny and broadcasts; the event scan
    aggregates once."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    # exact-cents sum: ROUND(SUM(double)) is engine-divergent on
    # half-way boundaries (rounding mode + sum order) — ties-fixture
    # finding, same repair as events_grouping_sets
    # guarded cents (NULL for null/non-finite): floor(Inf) saturates
    # to Long.MAX and overflows the ANSI long SUM — round-6
    # value-materializing nan-inf sweep
    from vectorsearchutil_spark.operators.analytics import _cents

    cents = _cents(F.col("value"))
    actual = (
        e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_start"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents).cast("double") / 100.0).alias("total_value"),
        )
    )
    grid = (
        e.agg(
            F.date_trunc("hour", F.min("ts")).alias("t0"),
            F.date_trunc("hour", F.max("ts")).alias("t1"),
        )
        .select(
            F.explode(
                F.sequence("t0", "t1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour_start")
        )
    )
    return (
        grid.join(actual, "hour_start", "left")
        .select(
            F.col("hour_start").cast("string").alias("hour_start"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            F.coalesce(F.col("total_value"), F.lit(0.0)).alias("total_value"),
        )
    )


_SEQ_PATTERN_ORACLE = """
WITH seqs AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
           AS seq
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(length(seq) AS INT) AS n_events,
       regexp_matches(seq, 'v[^p]*p') AS viewed_then_purchased,
       CAST(length(seq) - length(replace(seq, 'e', '')) AS INT) AS n_errors
FROM seqs
"""


@query("events_sequence_pattern", _SEQ_PATTERN_ORACLE)
def events_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-sequence pattern matching: order each user's
    events into a compact symbol string (one aggregate shuffle), then
    regex-match behavioural patterns ('view then later purchase') as
    narrow expressions — the sequence-mining shape that avoids
    per-pattern self-joins."""
    e = load_table(spark, sf_dir, "events")
    seqs = (
        e.select(
            "user_id",
            F.struct(F.col("ts"), F.col("event_id"))
            .alias("_ord"),
            F.substring("event_type", 1, 1).alias("sym"),
        )
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "", F.transform(F.array_sort(F.collect_list(F.struct("_ord", "sym"))), lambda x: x["sym"])
            ).alias("seq")
        )
    )
    return seqs.select(
        "user_id",
        F.length("seq").cast("int").alias("n_events"),
        F.col("seq").rlike("v[^p]*p").alias("viewed_then_purchased"),
        (
            F.length("seq")
            - F.length(F.regexp_replace("seq", "e", ""))
        ).cast("int").alias("n_errors"),
    )


# --------------------------------------------------------------------------
# TPC-H q2/q11/q20 shapes — the testdata has no partsupp table, so the
# observed (l_partkey, l_suppkey) pairs in lineitem serve as the
# part-supplier bridge; the join/decorrelation structure of each query
# is preserved.
# --------------------------------------------------------------------------

_Q2_ORACLE = """
WITH supply AS (
  SELECT l_partkey, l_suppkey,
         MIN(l_extendedprice / NULLIF(l_quantity, 0)) AS unit_cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
eligible AS (
  SELECT sp.l_partkey AS partkey, sp.l_suppkey, sp.unit_cost,
         s.s_acctbal, s.s_name, n.n_name
  FROM supply sp
  JOIN supplier s ON sp.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
),
best AS (
  SELECT partkey, MIN(unit_cost) AS min_cost
  FROM eligible GROUP BY partkey
)
SELECT ROUND(e.s_acctbal, 2) AS s_acctbal, e.s_name, e.n_name,
       p.p_partkey, p.p_brand, ROUND(e.unit_cost, 4) AS unit_cost
FROM eligible e
JOIN best b ON e.partkey = b.partkey AND e.unit_cost = b.min_cost
JOIN part p ON p.p_partkey = e.partkey
WHERE p.p_type = 'LARGE' AND p.p_size <= 25
ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p.p_partkey
LIMIT 100
"""


@query("tpch_q2_min_cost_supplier", _Q2_ORACLE)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per part, the EUROPE supplier(s) with the
    minimum unit cost. The correlated MIN subquery decorrelates into
    one aggregate over the (part, supplier) supply table joined back
    on cost equality (exact: both sides take MIN over identical
    doubles). Plan: one shuffle to build supply, dims broadcast, the
    per-part min is a partial-aggregating groupBy on the already
    part-keyed aggregate, final TakeOrderedAndProject top-100."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") <= 25)
    )
    supply = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(
            F.try_divide(F.col("l_extendedprice"), F.col("l_quantity"))
        ).alias("unit_cost")
    )
    dims = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "EUROPE")
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    eligible = supply.join(
        F.broadcast(dims), F.col("l_suppkey") == F.col("s_suppkey")
    )
    best = eligible.groupBy("l_partkey").agg(
        F.min("unit_cost").alias("min_cost")
    )
    return (
        eligible.join(
            best.withColumnRenamed("l_partkey", "b_partkey"),
            (F.col("l_partkey") == F.col("b_partkey"))
            & (F.col("unit_cost") == F.col("min_cost")),
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            F.round("unit_cost", 4).alias("unit_cost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


_Q11_ORACLE = """
WITH natsup AS (
  SELECT s_suppkey
  FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE n.n_name = 'NATION_7'
),
value_by_part AS (
  SELECT l.l_partkey,
         SUM(l.l_extendedprice::DECIMAL(12,2)
             * (1 - l.l_discount::DECIMAL(12,2))) AS val
  FROM lineitem l JOIN natsup ns ON l.l_suppkey = ns.s_suppkey
  GROUP BY l.l_partkey
),
total AS (SELECT ROUND(CAST(SUM(val) AS DOUBLE) * 0.001, 2) AS threshold
          FROM value_by_part)
SELECT v.l_partkey AS p_partkey, CAST(ROUND(v.val, 2) AS DOUBLE) AS value
FROM value_by_part v, total t
WHERE CAST(ROUND(v.val, 2) AS DOUBLE) > t.threshold
"""


@query("tpch_q11_important_parts", _Q11_ORACLE)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose supplied value from one nation's
    suppliers exceeds a fraction of that nation's total. The scalar
    total is the SAME aggregate re-reduced (localCheckpoint computes
    value_by_part once, the Q15 view-reuse pattern) and broadcasts as
    a 1-row threshold; both sides round before comparing so engine
    summation order can't flip a borderline part."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    natsup = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name") == "NATION_7")
        .select("s_suppkey")
    )
    value_by_part = (
        li.join(F.broadcast(natsup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(12,2)"))
            ).alias("val")
        )
        .localCheckpoint(eager=False)
    )
    total = value_by_part.agg(
        F.round(F.sum("val").cast("double") * 0.001, 2).alias("threshold")
    )
    val2 = F.round(F.col("val"), 2).cast("double")
    return (
        value_by_part.join(F.broadcast(total))
        .filter(val2 > F.col("threshold"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            val2.alias("value"),
        )
    )


_Q20_ORACLE = """
WITH shipped AS (
  SELECT l_partkey, l_suppkey, SUM(l_quantity) AS supp_qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_partkey, l_suppkey
),
w AS (
  SELECT l_partkey, l_suppkey, supp_qty,
         SUM(supp_qty) OVER (PARTITION BY l_partkey) AS part_qty
  FROM shipped
),
excess AS (
  SELECT DISTINCT w.l_suppkey
  FROM w JOIN part p ON w.l_partkey = p.p_partkey
  WHERE p.p_name LIKE 'small%' AND w.supp_qty > 0.3 * w.part_qty
)
SELECT s.s_suppkey, s.s_name, n.n_name
FROM supplier s
JOIN excess e ON s.s_suppkey = e.l_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
"""


@query("tpch_q20_excess_suppliers", _Q20_ORACLE)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped >30% of 1996 demand for
    any 'small%' part. The nested demand subquery collapses into a
    window SUM over the (part, supplier) aggregate — per-part demand
    derives from the already-grouped rows, so the fact table is
    scanned and shuffled ONCE (quantities are small integers: the
    sums are exact doubles and the 0.3× comparison is
    engine-order-safe)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    from pyspark.sql import Window

    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("supp_qty")
    )
    w = shipped.withColumn(
        "part_qty", F.sum("supp_qty").over(Window.partitionBy("l_partkey"))
    )
    excess = (
        w.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(F.col("supp_qty") > 0.3 * F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(excess, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
    )


_KNN_QUANTIZED_ORACLE = """
WITH s AS (
  SELECT vec_id, label,
         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0
           AS scale,
         embedding::DOUBLE[] AS v
  FROM embeddings
),
dq AS (
  SELECT vec_id, label,
         list_transform(
           v,
           x -> CAST(least(127, greatest(-127, ROUND(x / scale, 0))) AS INT)
                * scale
         ) AS rv
  FROM s
),
q AS (SELECT rv AS qv FROM dq WHERE vec_id = 0)
SELECT d.vec_id, d.label,
       ROUND(list_distance(d.rv, q.qv), 4) AS distance
FROM dq d, q
ORDER BY list_distance(d.rv, q.qv) ASC, d.vec_id ASC
LIMIT 10
"""


@query("knn_quantized", _KNN_QUANTIZED_ORACLE)
def knn_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search over the int8-quantized store: dequantize (q*scale) on
    the fly, exact L2 top-10 — the 4x-smaller-scan search mode whose
    ranking error is bounded by the per-vector quantization step.
    Same TakeOrderedAndProject plan as knn_single."""
    from vectorsearchutil_spark.operators.embeddings import quantize_int8
    from vectorsearchutil_spark.operators.knn import knn

    emb = load_table(spark, sf_dir, "embeddings")
    dq = quantize_int8(emb, vector_col="embedding").withColumn(
        "rv",
        F.transform(F.col("q8"), lambda x: x * F.col("scale")),
    )
    qv = _probe_vec(dq.filter(F.col("vec_id") == 0).select("rv"))
    out = knn(dq, qv, k=10, vector_col="rv", id_col="vec_id")
    return out.select(
        "vec_id", "label", F.round(F.col("distance"), 4).alias("distance")
    )


_LEAKAGE_SAFE_SPLIT_ORACLE = f"""
WITH RECURSIVE {_CC_EDGES_CTE},
keyed AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS split_key
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
)
SELECT doc_id,
       CASE WHEN ('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 4))::BIGINT
                 % 100 < 90
            THEN 'train' ELSE 'val' END AS split
FROM keyed
"""


@query("documents_leakage_safe_split", _LEAKAGE_SAFE_SPLIT_ORACLE)
def documents_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val split hashed on the near-dup CLUSTER id, not the doc
    id: every member of a near-dup cluster lands in the same fold, so
    no training example leaks an eval twin — the split a dedup-aware
    training pipeline actually needs."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _dd.ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    comp = _dd.connected_components(pairs).select(
        F.col("node").alias("doc_id"), "component"
    )
    keyed = docs.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("split_key"),
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("split_key").cast("string")), 1, 4), 16, 10
        ).cast("long")
        % 100
    )
    return keyed.select(
        "doc_id",
        F.when(bucket < 90, F.lit("train")).otherwise(F.lit("val")).alias(
            "split"
        ),
    )


# --------------------------------------------------------------------------
# Text retrieval + rank fusion — the search side of a training-data
# pipeline (BM25 lexical scoring; reciprocal-rank fusion of lexical
# and vector retrievers).
# --------------------------------------------------------------------------

_BM25_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != ''))
           AS tok
  FROM documents
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) FROM dl) AS avgdl
),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
  WHERE tok IN ('spark', 'join', 'stream')
  GROUP BY doc_id, tok
),
df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
scored AS (
  SELECT tf.doc_id,
         SUM(CAST(floor(
           ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
           * tf.tf * 2.2
           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / NULLIF(s.avgdl, 0)))
           * 1e9 + 0.5) AS BIGINT)) AS score_n,
         COUNT(*) AS n_terms
  FROM tf
  JOIN df ON tf.tok = df.tok
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id,
       floor(CAST(score_n AS DOUBLE) / 1e9 * 10000.0 + 0.5) / 10000.0 AS bm25,
       CAST(n_terms AS INT) AS n_terms
FROM scored
"""


@query("text_bm25_search", _BM25_ORACLE)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (k1=1.2, b=0.75) for the query terms
    {spark, join, stream} over whitespace tokens. Every scored doc is
    returned (no top-k cutoff, so the hash compare is order-free).

    Plan shape for 100 TB: the term filter lands on the exploded
    token stream BEFORE any shuffle (only postings for the 3 query
    terms survive — the inverted-index scan analog), doc lengths are
    one partial-agg pass, and the df/avgdl sides are 1-row/3-row
    broadcasts. Order-independence (the score watch-list item): avgdl
    is an exact BIGINT sum divided once (no double AVG fold), and the
    per-term contributions are quantized to integer nano-units and
    summed as BIGINT on BOTH engines — no double fold anywhere, so
    engine/partition summation order cannot move the 4dp output.
    Both quantizations use the repo-standard floor form
    (floor(x·scale + 0.5); contribs and scores are strictly positive,
    so it is sign-safe) rather than ROUND, which diverges across
    engines on half-way-boundary doubles (ADVICE r7).
    """
    from vectorsearchutil_spark.functions.text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    terms = ["spark", "join", "stream"]
    toks = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    n_docs = docs.count()
    tf = (
        toks.filter(F.col("tok").isin(terms))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    avgdl = dl.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl")
    )
    return (
        tf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .join(F.broadcast(avgdl))
        .withColumn(
            "contrib",
            F.log(1 + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5))
            * F.col("tf") * 2.2
            / (
                F.col("tf")
                + 1.2
                * (
                    0.25
                    + 0.75
                    * F.try_divide(F.col("dl"), F.col("avgdl"))
                )
            ),
        )
        .withColumn(
            "contrib_n",
            F.floor(F.col("contrib") * 1e9 + F.lit(0.5)).cast("bigint"),
        )
        .groupBy("doc_id")
        .agg(
            round_half_up(
                F.sum("contrib_n").cast("double") / 1e9, 4
            ).alias("bm25"),
            F.count(F.lit(1)).cast("int").alias("n_terms"),
        )
    )


_RRF_ORACLE = """
WITH q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
),
l2r AS (
  SELECT e.vec_id,
         ROW_NUMBER() OVER (
           ORDER BY list_distance(e.embedding::DOUBLE[], q.qv) ASC, e.vec_id ASC
         ) AS r
  FROM embeddings e, q
),
cosr AS (
  SELECT e.vec_id,
         ROW_NUMBER() OVER (
           ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC,
                    e.vec_id ASC
         ) AS r
  FROM embeddings e, q
),
fused AS (
  SELECT COALESCE(a.vec_id, b.vec_id) AS vec_id,
         COALESCE(1.0 / (60 + a.r), 0) + COALESCE(1.0 / (60 + b.r), 0) AS rrf
  FROM (SELECT * FROM l2r WHERE r <= 100) a
  FULL OUTER JOIN (SELECT * FROM cosr WHERE r <= 100) b
    ON a.vec_id = b.vec_id
)
SELECT vec_id, ROUND(rrf, 6) AS rrf
FROM fused ORDER BY rrf DESC, vec_id ASC LIMIT 10
"""


@query("knn_rrf_fusion", _RRF_ORACLE)
def knn_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrievers (L2 and cosine
    top-100 for the vec_id=0 query): rrf = Σ 1/(60+rank). The
    rank-only combination needs no score calibration between
    retrievers — the standard hybrid-search merge. Plan: per
    retriever, ``orderBy().limit(100)`` compiles to
    TakeOrderedAndProject (distributed per-partition top-k, no
    global-window single-partition sort — the corpus never funnels
    through one task), then ranks are a row_number over the tiny
    100-row result; full-outer merge, top-10."""
    from pyspark.sql import Window

    from vectorsearchutil_spark.functions.vector import (
        cosine_similarity,
        l2_distance,
        lit_vector,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _probe_vec(emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qv")
    ))
    qlit = lit_vector(qv)
    scored = emb.select(
        "vec_id",
        l2_distance(F.col("embedding").cast("array<double>"), qlit).alias("d"),
        cosine_similarity(F.col("embedding").cast("array<double>"), qlit).alias(
            "c"
        ),
    )

    def topk_ranked(order, rank_alias):
        # distributed top-k FIRST (TakeOrderedAndProject); the window
        # only ever sees the k surviving rows
        top = scored.orderBy(*order).limit(100)
        return top.withColumn(
            rank_alias, F.row_number().over(Window.orderBy(*order))
        ).select("vec_id", rank_alias)

    l2r = topk_ranked(
        [F.col("d").asc(), F.col("vec_id").asc()], "r_a"
    )
    cosr = topk_ranked(
        [F.col("c").desc(), F.col("vec_id").asc()], "r_b"
    )
    fused = l2r.join(cosr, "vec_id", "full_outer").select(
        "vec_id",
        (
            F.coalesce(1.0 / (60 + F.col("r_a")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("r_b")), F.lit(0.0))
        ).alias("rrf"),
    )
    return (
        fused.select("vec_id", F.round("rrf", 6).alias("rrf"))
        .orderBy(F.col("rrf").desc(), F.col("vec_id").asc())
        .limit(10)
    )


# --------------------------------------------------------------------------
# Benchmark decontamination — flag training docs sharing n-gram
# shingles with a held-out eval set (the leakage check every LLM
# training pipeline runs before training).
# --------------------------------------------------------------------------

_DECONTAM_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS t
  FROM documents
),
sh0 AS (
  SELECT doc_id, t,
         unnest(range(1, greatest(len(t) - 3, 0) + 1)) AS i
  FROM toks
),
sh AS (
  SELECT DISTINCT doc_id,
         t[i] || '_' || t[i+1] || '_' || t[i+2] || '_' || t[i+3]
              AS shingle
  FROM sh0
),
eval_sh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 50),
hits AS (
  SELECT s.doc_id, COUNT(DISTINCT s.shingle) AS n_shared
  FROM sh s JOIN eval_sh e ON s.shingle = e.shingle
  WHERE s.doc_id >= 50
  GROUP BY s.doc_id
)
SELECT doc_id, CAST(n_shared AS INT) AS n_shared FROM hits
"""


@query("docs_decontamination", _DECONTAM_ORACLE)
def docs_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: training docs (doc_id ≥ 50) that
    share any 4-gram shingle with the eval slice (doc_id < 50),
    with the count of distinct shared shingles.

    Plan: one shingle table for the whole corpus (shared scan), the
    eval side collapses to a distinct-shingle set that broadcasts (an
    eval benchmark is tiny vs the training corpus), so the training
    side joins map-side and aggregates once — at 100 TB the corpus
    never shuffles on content."""
    from vectorsearchutil_spark.operators.dedup import _shingle_table

    docs = load_table(spark, sf_dir, "documents")
    sh = _shingle_table(docs, "text", "doc_id", 4, None)
    eval_sh = (
        sh.filter(F.col("doc_id") < 50).select("shingle").distinct()
    )
    return (
        sh.filter(F.col("doc_id") >= 50)
        .join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").cast("int").alias("n_shared"))
    )


# --------------------------------------------------------------------------
# Data-quality / profiling operators.
# --------------------------------------------------------------------------

_PROFILE_ORACLE = """
SELECT 'doc_id' AS col_name,
       CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct
FROM documents
UNION ALL
SELECT 'text',
       CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT text) AS BIGINT) FROM documents
UNION ALL
SELECT 'lang',
       CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT lang) AS BIGINT) FROM documents
UNION ALL
SELECT 'source',
       CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT source) AS BIGINT) FROM documents
UNION ALL
SELECT 'n_chars',
       CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT n_chars) AS BIGINT) FROM documents
"""


@query("documents_profile", _PROFILE_ORACLE)
def documents_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema profile of the documents table: per-column null count
    and exact distinct count, as rows. ONE aggregate pass computes
    every statistic (2×|columns| agg expressions under partial
    aggregation — not |columns| scans like the UNION-ALL SQL form);
    the 1-row result pivots to rows via an inline explode. At 100 TB
    swap count_distinct for approx_count_distinct (HLL) per column —
    exact kept here for the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    cols = docs.columns
    aggs = []
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"_n_{c}")
        )
        aggs.append(F.count_distinct(F.col(c)).alias(f"_d_{c}"))
    one = docs.agg(*aggs)
    return one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.col(f"_n_{c}").cast("long").alias("n_nulls"),
                        F.col(f"_d_{c}").cast("long").alias("n_distinct"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    ).select("p.col_name", "p.n_nulls", "p.n_distinct")


_OUTLIERS_ORACLE = """
WITH stats AS (
  SELECT event_type,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(value::DECIMAL(12,2)) AS DOUBLE) AS sv,
         CAST(SUM(value::DECIMAL(12,2) * value::DECIMAL(12,2)) AS DOUBLE)
           AS svv
  FROM events GROUP BY event_type
),
stats2 AS (
  SELECT event_type, sv / n AS mu,
         sqrt((svv - sv * sv / n) / (n - 1)) AS sigma
  FROM stats
)
SELECT e.event_id, e.event_type,
       ROUND((e.value - s.mu) / NULLIF(s.sigma, 0), 2) AS z
FROM events e JOIN stats2 s ON e.event_type = s.event_type
WHERE ABS(ROUND((e.value - s.mu) / NULLIF(s.sigma, 0), 2)) >= 2.5
"""


@query("events_value_outliers", _OUTLIERS_ORACLE)
def events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outliers (|z| ≥ 2.5). The per-type
    moment table is a tiny aggregate that broadcasts back onto the
    fact scan — one shuffle for the stats, none for the scoring pass
    (the plan a 100 TB anomaly sweep needs). The filter compares the
    ROUNDED z on both engines so summation-order ulps can't flip a
    borderline event."""
    e = load_table(spark, sf_dir, "events")
    # exact decimal moment sums -> deterministic mu/sigma (identical
    # formula tree to the oracle) — STDDEV/AVG over raw doubles are
    # order-dependent in the last ulps and the rounded-z boundary is
    # exactly where that bites (exact-cents sweep, round 6)
    vdec = F.col("value").cast("decimal(12,2)")
    mom = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum(vdec).cast("double").alias("_sv"),
        F.sum(vdec * vdec).cast("double").alias("_svv"),
    )
    stats = mom.select(
        "event_type",
        (F.col("_sv") / F.col("_n")).alias("mu"),
        F.sqrt(
            F.try_divide(
                F.col("_svv") - F.col("_sv") * F.col("_sv") / F.col("_n"),
                F.col("_n") - F.lit(1.0),
            )
        ).alias("sigma"),
    )
    # try_divide: a constant-valued type has sigma = 0 — its z is
    # undefined (NULL, filtered), not an ANSI DIVIDE_BY_ZERO (found
    # by the zero-variance skew sweep)
    z = F.round(
        F.try_divide(F.col("value") - F.col("mu"), F.col("sigma")), 2
    )
    return (
        e.join(F.broadcast(stats), "event_type")
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) >= 2.5)
        .select("event_id", "event_type", "z")
    )


_PER_USER_SAMPLE_ORACLE = """
SELECT event_id, user_id
FROM (
  SELECT event_id, user_id,
         ROW_NUMBER() OVER (
           PARTITION BY user_id
           ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
         ) AS rn
  FROM events
)
WHERE rn <= 3
"""


@query("events_per_user_sample", _PER_USER_SAMPLE_ORACLE)
def events_per_user_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group capped sample: at most 3 events per
    user, chosen by md5 order — the partition-independent,
    reproducible "cap each source's contribution" primitive of
    training-data assembly. One window shuffle on the group key; at
    extreme group counts swap row_number for a groupBy
    min_by-top-k aggregate."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    win = Window.partitionBy("user_id").orderBy(
        F.md5(F.col("event_id").cast("string")), F.col("event_id")
    )
    return (
        e.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= 3)
        .select("event_id", "user_id")
    )


_LABEL_CENTROIDS_ORACLE = """
WITH u AS (
  SELECT label, vec_id, embedding::DOUBLE[] AS v,
         unnest(range(1, len(embedding) + 1)) AS pos
  FROM embeddings
),
dims AS (
  SELECT label, pos, AVG(v[pos]) AS dim_avg
  FROM u GROUP BY label, pos
)
SELECT label,
       (SELECT COUNT(*) FROM embeddings e WHERE e.label = dims.label)
         AS n_vectors,
       array_to_string(
         list(printf('%.4f', ROUND(dim_avg, 4) + 0.0) ORDER BY pos), ','
       ) AS centroid
FROM dims GROUP BY label
"""


@query("embeddings_label_centroids", _LABEL_CENTROIDS_ORACLE)
def embeddings_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class prototypes: the mean embedding per label (the zero-shot
    / nearest-centroid-classifier build step). posexplode → per
    (label, dim) partial-agg average → re-assemble the vector sorted
    by position. One narrow shuffle on (label, pos) carrying doubles
    — the corpus vectors never move whole."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = (
        emb.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "pos", "v"
            ),
        )
        .groupBy("label", "pos")
        .agg(F.avg("v").alias("dim_avg"), F.count(F.lit(1)).alias("n"))
    )
    return (
        dims.groupBy("label")
        .agg(
            F.max("n").alias("n_vectors"),
            # ','-joined %.4f string, not array<double>: the driver
            # canonicalizer cannot hash list cells (r3 lesson)
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("pos", F.round("dim_avg", 4).alias("r"))
                        )
                    ),
                    lambda x: F.format_string("%.4f", x["r"] + F.lit(0.0)),
                ),
                ",",
            ).alias("centroid"),
        )
    )


_EWMA_ORACLE = """
WITH ordered AS (
  SELECT user_id,
         list(value ORDER BY ts, event_id)::DOUBLE[] AS vals
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(len(vals) AS INT) AS n_events,
       ROUND(list_reduce(vals, (acc, x) -> 0.3 * x + 0.7 * acc), 4) AS ewma
FROM ordered
"""


@query("events_user_ewma", _EWMA_ORACLE)
def events_user_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average of event values
    (α=0.3), folded in (ts, event_id) order. The recursive smoother
    SQL windows can't express becomes an ordered array fold
    (``F.aggregate``) after ONE groupBy — both engines reduce in the
    identical order, seeded with the first value."""
    e = load_table(spark, sf_dir, "events")
    ordered = e.groupBy("user_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", F.col("value")))
            ),
            lambda x: x["value"].cast("double"),
        ).alias("vals")
    )
    ewma = F.aggregate(
        F.slice(F.col("vals"), 2, F.greatest(F.size("vals") - 1, F.lit(0))),
        F.element_at(F.col("vals"), 1),
        lambda acc, x: 0.3 * x + 0.7 * acc,
    )
    return ordered.select(
        "user_id",
        F.size("vals").cast("int").alias("n_events"),
        F.round(ewma, 4).alias("ewma"),
    )


# --------------------------------------------------------------------------
# Training-data assembly: chunk-level dedup, PII redaction, hashed
# TF-IDF features, and context-window packing.
# --------------------------------------------------------------------------

_CHUNK_DEDUP_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS t
  FROM documents
),
c0 AS (
  SELECT doc_id, t,
         unnest(range(0, CAST(ceil(len(t) / 10.0) AS BIGINT))) AS i
  FROM toks
),
chunks AS (
  SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         array_to_string(t[i*10+1 : i*10+10], ' ') AS chunk
  FROM c0
),
ranked AS (
  SELECT doc_id, chunk_idx, chunk,
         ROW_NUMBER() OVER (
           PARTITION BY md5(chunk) ORDER BY doc_id, chunk_idx
         ) AS rn
  FROM chunks
)
SELECT doc_id,
       CAST(COUNT(*) AS INT) AS n_chunks,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INT) AS n_kept,
       md5(COALESCE(
         string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY chunk_idx),
         '')) AS kept_hash
FROM ranked GROUP BY doc_id
"""


@query("docs_chunk_dedup", _CHUNK_DEDUP_ORACLE)
def docs_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-wide chunk dedup: 10-token chunks, keep only
    each chunk's first occurrence (lowest (doc_id, chunk_idx)); per
    doc, how many chunks survived plus a hash of the rebuilt body.
    The election shuffle carries 16-byte chunk hashes, not text."""
    docs = load_table(spark, sf_dir, "documents")
    return _dd.chunk_dedup(docs, chunk_tokens=10)


_PII_ORACLE = r"""
WITH synth AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@mail-' || source ||
         '.com or call +1-555-' || lpad(CAST(doc_id * 7 % 10000 AS VARCHAR),
                                        4, '0') AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '[a-z0-9.]+@[a-z0-9.-]+\.[a-z]+'))
            AS INT) AS n_pat0,
       CAST(len(regexp_extract_all(t, '\+1-[0-9]{3}-[0-9]{4}'))
            AS INT) AS n_pat1,
       md5(regexp_replace(
             regexp_replace(t, '[a-z0-9.]+@[a-z0-9.-]+\.[a-z]+',
                            '<EMAIL>', 'g'),
             '\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_hash
FROM synth
"""


@query("docs_pii_redaction", _PII_ORACLE)
def docs_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over deterministically synthesized contact info
    (the corpus itself is synthetic word salad, so the email/phone
    strings are appended reproducibly first, mirroring the oracle).
    One narrow regexp projection — no shuffle; patterns stay in the
    RE2-compatible subset so both engines match identically."""
    from vectorsearchutil_spark.operators.textanalysis import redact_pii

    docs = load_table(spark, sf_dir, "documents")
    synth = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail-"),
            F.col("source"),
            F.lit(".com or call +1-555-"),
            F.lpad((F.col("doc_id") * 7 % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    out = redact_pii(synth, text_col="text", id_col="doc_id")
    return out.select(
        "doc_id", "n_pat0", "n_pat1", F.md5("redacted").alias("redacted_hash")
    )


_TFIDF_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != ''))
           AS tok
  FROM documents
),
cnt AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT tok, COUNT(*) AS df FROM cnt GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
w AS (
  SELECT c.doc_id,
         CAST(('0x' || substr(md5(c.tok), 1, 8))::BIGINT % 32 AS INT)
           AS bucket,
         c.tok,
         c.tf * ln(1 + n.n_docs * 1.0 / d.df) AS w
  FROM cnt c JOIN dfreq d ON c.tok = d.tok CROSS JOIN n
)
SELECT doc_id, bucket,
       ROUND(list_reduce(list_prepend(0.0, list(w ORDER BY tok)),
                         (a, b) -> a + b), 4) AS weight
FROM w GROUP BY doc_id, bucket
"""


@query("docs_tfidf_hashed", _TFIDF_ORACLE)
def docs_tfidf_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick TF-IDF features, sparse (doc, bucket, weight)
    rows over 32 md5-derived buckets. Per-bucket weights fold in
    token order on BOTH engines so float addition order is pinned."""
    from vectorsearchutil_spark.operators.textanalysis import hashed_tfidf

    docs = load_table(spark, sf_dir, "documents")
    return hashed_tfidf(docs, n_buckets=32)


_PACK_ORACLE = """
WITH sized AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), x -> x != '')) AS n
  FROM documents
),
off AS (
  SELECT doc_id, n,
         COALESCE(SUM(n) OVER (
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS start_offset
  FROM sized
)
SELECT doc_id,
       CAST(n AS INT) AS n_tokens,
       CAST(start_offset AS BIGINT) AS start_offset,
       CAST(start_offset // 256 AS INT) AS first_window,
       CAST((start_offset + n - 1) // 256 AS INT) AS last_window,
       CAST((start_offset + n - 1) // 256 - start_offset // 256 + 1 AS INT)
         AS n_windows
FROM off
"""


@query("docs_pack_windows", _PACK_ORACLE)
def docs_pack_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-cut sequence packing (GPT-style): docs concatenated
    in id order, cut into 256-token context windows; per doc the
    windows it touches. One prefix-sum over (id, count) rows."""
    from vectorsearchutil_spark.operators.textanalysis import (
        pack_context_windows,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = pack_context_windows(docs, capacity=256)
    return out.select(
        "doc_id",
        "n_tokens",
        F.col("start_offset").cast("long").alias("start_offset"),
        "first_window",
        "last_window",
        "n_windows",
    )


_INCR_INGEST_ORACLE = f"""
WITH {_SHINGLES_CTE},
cut AS (SELECT CAST(FLOOR(0.8 * MAX(doc_id)) AS BIGINT) AS c FROM documents),
hashed AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 12))::BIGINT AS h1,
         ('0x' || substr(md5(shingle), 17, 12))::BIGINT AS h2
  FROM sh
),
sig AS (
  SELECT doc_id, s.i, MIN(h1 + s.i * h2) AS h
  FROM hashed, range(0, 16) s(i)
  GROUP BY doc_id, s.i
),
bands AS (
  SELECT doc_id, i // 4 AS band_idx,
         md5(string_agg(h::VARCHAR, '|' ORDER BY i)) AS band_val
  FROM sig GROUP BY doc_id, i // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_in, b.doc_id AS id_ex
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
  CROSS JOIN cut
  WHERE a.doc_id >= cut.c AND b.doc_id < cut.c
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT c.id_in, c.id_ex, COUNT(*) AS n_int
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_in
  JOIN sh sb ON sb.doc_id = c.id_ex AND sb.shingle = sa.shingle
  GROUP BY 1, 2
),
near AS (
  SELECT id_in, MIN(id_ex) AS near_id
  FROM inter i
  JOIN sizes za ON za.doc_id = i.id_in
  JOIN sizes zb ON zb.doc_id = i.id_ex
  WHERE i.n_int * 1.0 / (za.n_sh + zb.n_sh - i.n_int) >= 0.8
  GROUP BY 1
),
exact AS (
  SELECT i.doc_id AS id_in, MIN(e.doc_id) AS exact_id
  FROM documents i
  JOIN documents e ON md5(i.text) = md5(e.text)
  CROSS JOIN cut
  WHERE i.doc_id >= cut.c AND e.doc_id < cut.c
  GROUP BY 1
)
SELECT d.doc_id,
       CASE WHEN x.exact_id IS NOT NULL THEN 'exact_dup'
            WHEN nr.near_id IS NOT NULL THEN 'near_dup'
            ELSE 'new' END AS verdict,
       COALESCE(x.exact_id, nr.near_id) AS matched_id
FROM documents d
CROSS JOIN cut
LEFT JOIN exact x ON x.id_in = d.doc_id
LEFT JOIN near nr ON nr.id_in = d.doc_id
WHERE d.doc_id >= cut.c
"""


@query("dedup_incremental_ingest", _INCR_INGEST_ORACLE)
def dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup gate: the newest 20% of docs (the incoming
    batch) checked against the older 80% (the store) — exact md5
    match first, then MinHash-LSH candidates verified at Jaccard
    ≥ 0.8. An incoming batch of at most ``INGEST_GATE_MAX_ROWS`` rows
    is gated on the driver; above that, store-side scans join against
    BROADCAST incoming buckets, so at 100 TB the store never shuffles
    for an append."""
    docs = load_table(spark, sf_dir, "documents")
    cut_row = docs.agg(F.floor(0.8 * F.max("doc_id"))).first()
    cut = int(cut_row[0]) if cut_row[0] is not None else 0  # empty corpus
    existing = docs.filter(F.col("doc_id") < cut)
    incoming = docs.filter(F.col("doc_id") >= cut)
    return _dd.incremental_ingest_dedup(
        existing, incoming, n=3, num_hashes=16, band_size=4, threshold=0.8
    )


_AUDIO_META_ORACLE = """
SELECT doc_id,
       CAST(8000 + (length(text) % 3) * 4000 AS INT) AS sample_rate,
       CAST(length(text) % 1000 + 16 AS INT) AS n_samples,
       CAST((length(text) % 1000 + 16) * 1000
            // (8000 + (length(text) % 3) * 4000) AS INT) AS duration_ms
FROM documents
"""


@query("multimodal_audio_meta", _AUDIO_META_ORACLE)
def multimodal_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-column round trip: synthesize binary audio (JVM-side
    hex/unhex), decode headers to (rate, samples, duration) via
    Arrow-batched mapInPandas — the audio twin of the image decode
    plumbing."""
    from vectorsearchutil_spark.operators.multimodal import (
        decode_audio_meta,
        synthesize_audio,
    )

    docs = load_table(spark, sf_dir, "documents")
    return decode_audio_meta(synthesize_audio(docs))


_PACK_BINS_ORACLE = """
WITH RECURSIVE sized AS (
  SELECT doc_id, source,
         len(list_filter(string_split(text, ' '), x -> x != '')) AS n,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
),
walk AS (
  SELECT doc_id, source, n, rn, 0 AS bin_idx, n AS fill
  FROM sized WHERE rn = 1
  UNION ALL
  SELECT s.doc_id, s.source, s.n, s.rn,
         CASE WHEN w.fill + s.n <= 512 THEN w.bin_idx
              ELSE w.bin_idx + 1 END,
         CASE WHEN w.fill + s.n <= 512 THEN w.fill + s.n ELSE s.n END
  FROM walk w JOIN sized s ON s.source = w.source AND s.rn = w.rn + 1
)
SELECT doc_id, source, CAST(bin_idx AS INT) AS bin_idx,
       CAST(fill AS INT) AS bin_fill
FROM walk
"""


@query("docs_pack_bins", _PACK_BINS_ORACLE)
def docs_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-split next-fit bin packing per source at 512-token
    capacity: the sequential fold runs per group in applyInPandas
    (groups in parallel); the oracle unrolls the same fold as a
    recursive CTE."""
    from vectorsearchutil_spark.operators.textanalysis import (
        pack_bins_next_fit,
    )

    docs = load_table(spark, sf_dir, "documents")
    return pack_bins_next_fit(docs, capacity=512)


_PACK_FFD_ORACLE = """
WITH RECURSIVE ordered AS MATERIALIZED (
  SELECT doc_id, source, n,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, doc_id) AS rn
  FROM (
    SELECT doc_id, source,
           len(list_filter(string_split(text, ' '), x -> x != '')) AS n
    FROM documents
  )
),
walk AS (
  SELECT source, CAST(0 AS BIGINT) AS rn, CAST([] AS BIGINT[]) AS fills,
         CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS bin_idx,
         CAST(NULL AS BIGINT) AS bin_fill
  FROM (SELECT DISTINCT source FROM ordered)
  UNION ALL
  SELECT source, rn,
         CASE WHEN pos IS NULL THEN list_append(fills, n)
              ELSE list_transform(fills,
                     (f, i) -> f + CASE WHEN i = pos THEN n ELSE 0 END) END,
         doc_id,
         COALESCE(pos, len(fills) + 1),
         CASE WHEN pos IS NULL THEN n ELSE fills[pos] + n END
  FROM (
    -- first-fit position computed ONCE here: DuckDB re-evaluates
    -- list lambdas placed inline in the recursive arm per reference,
    -- measured ~1000x slower; list_position yields 0 (not NULL) on
    -- no-fit in this build, hence NULLIF
    SELECT o.source, o.rn, w.fills, o.doc_id, o.n,
           NULLIF(list_position(
             list_transform(w.fills, f -> f + o.n <= 512), true), 0) AS pos
    FROM walk w JOIN ordered o ON o.source = w.source AND o.rn = w.rn + 1
  )
)
SELECT doc_id, source, CAST(bin_idx - 1 AS INT) AS bin_idx,
       CAST(bin_fill AS INT) AS bin_fill
FROM walk WHERE rn >= 1
"""


@query("docs_pack_bins_ffd", _PACK_FFD_ORACLE)
def docs_pack_bins_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing no-split packing per source at 512-token
    capacity — the tighter-packing counterpart of docs_pack_bins
    (next-fit). Sequential fold per group in applyInPandas; oracle
    unrolls the identical fold as a recursive CTE whose state carries
    the per-bin fill list."""
    from vectorsearchutil_spark.operators.textanalysis import (
        pack_bins_first_fit_decreasing,
    )

    docs = load_table(spark, sf_dir, "documents")
    return pack_bins_first_fit_decreasing(docs, capacity=512)


_WEIGHTED_SAMPLE_ORACLE = """
WITH sized AS (
  SELECT doc_id, source,
         len(list_filter(string_split(text, ' '), x -> x != ''))
           AS n_tokens
  FROM documents
),
scored AS (
  SELECT doc_id, source, n_tokens,
         ROUND(POWER(
           ('0x' || substr(md5('wres:' || CAST(doc_id AS VARCHAR)), 1, 8))
             ::BIGINT / 4294967296.0,
           1.0 / n_tokens), 12) AS wkey
  FROM sized WHERE n_tokens > 0
)
SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY source ORDER BY wkey DESC, doc_id ASC) AS rn
  FROM scored
) WHERE rn <= 5
"""


@query("docs_weighted_sample", _WEIGHTED_SAMPLE_ORACLE)
def docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted sample, 5 docs per source: Efraimidis–Spirakis
    A-Res with deterministic hash draws — inclusion probability ∝
    token count, partitioning-independent. One narrow projection +
    WindowGroupLimit per-source top-k; no corpus shuffle."""
    from vectorsearchutil_spark.functions.text import tokens_sql
    from vectorsearchutil_spark.operators.sampling import (
        weighted_reservoir_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.selectExpr(
        "doc_id", "source",
        f"cast(size({tokens_sql('text')}) as int) AS n_tokens",
    )
    return weighted_reservoir_sample(
        sized, k=5, weight_col="n_tokens", key_col="doc_id",
        stratum_col="source",
    )


# --------------------------------------------------------------------------
# Corpus mixture / rebalancing / global shuffle — the remaining
# assembly steps between "cleaned corpus" and "training shards".
# --------------------------------------------------------------------------

_TEMP_SAMPLE_ORACLE = """
WITH counts AS (
  SELECT lang, CAST(COUNT(*) AS DOUBLE) AS c FROM documents GROUP BY lang
),
rates AS (
  SELECT lang,
         ROUND(LEAST(1.0, POW(c, 0.5) / SUM(POW(c, 0.5)) OVER ()
                          * 300.0 / c), 6) AS rate
  FROM counts
)
SELECT d.doc_id, d.lang
FROM documents d JOIN rates r USING (lang)
WHERE ('0x' || substr(md5('temp:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
      / 4294967296.0 < r.rate
"""


@query("docs_temperature_sample", _TEMP_SAMPLE_ORACLE)
def docs_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (α=0.5) language rebalancing to a 300-doc budget —
    the multilingual-corpus smoothing step. Physically: one tiny
    per-language aggregate, broadcast back, then a narrow
    deterministic hash filter (scan-bound at any corpus size); rates
    rounded 6dp on both engines so stat-summation order can't flip a
    borderline row."""
    from vectorsearchutil_spark.operators.sampling import (
        temperature_rebalance,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = temperature_rebalance(
        docs, stratum_col="lang", key_col="doc_id",
        alpha=0.5, budget=300, seed="temp",
    )
    return out.select("doc_id", "lang")


_MIXTURE_SAMPLE_ORACLE = """
WITH counts AS (
  SELECT source, CAST(COUNT(*) AS DOUBLE) AS c FROM documents GROUP BY source
),
w AS (
  SELECT source, c,
         CASE source WHEN 'src0' THEN 3.0 WHEN 'src1' THEN 2.0 ELSE 1.0 END AS w
  FROM counts
),
rates AS (
  SELECT source,
         ROUND(LEAST(1.0, w / SUM(w) OVER () * 250 / c), 6) AS rate
  FROM w
)
SELECT d.doc_id, d.source
FROM documents d JOIN rates r USING (source)
WHERE ('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
      / 4294967296.0 < r.rate
"""


@query("docs_mixture_sample", _MIXTURE_SAMPLE_ORACLE)
def docs_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-weighted data-mixture draw (src0 3×, src1 2×, rest 1×,
    250-doc budget): the "compose the training mixture" step. Same
    physical shape as the temperature sample: stats aggregate →
    broadcast → narrow hash filter."""
    from vectorsearchutil_spark.operators.sampling import mixture_sample

    docs = load_table(spark, sf_dir, "documents")
    out = mixture_sample(
        docs,
        weights={"src0": 3.0, "src1": 2.0},
        stratum_col="source",
        key_col="doc_id",
        budget=250,
        seed="mix",
        default_weight=1.0,
    )
    return out.select("doc_id", "source")


_GLOBAL_SHUFFLE_ORACLE = """
WITH t AS (
  SELECT doc_id,
         ('0x' || substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 8))
           ::BIGINT % 8 AS shard,
         md5('shuffle:ord:' || CAST(doc_id AS VARCHAR)) AS oh
  FROM documents
)
SELECT doc_id, CAST(shard AS INT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY oh, doc_id) AS INT)
         AS pos
FROM t
"""


@query("docs_global_shuffle", _GLOBAL_SHUFFLE_ORACLE)
def docs_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into 8 addressed shards: every
    row's (shard, pos) derives only from its key, so the "shuffle the
    corpus before training" step is reproducible on any engine and
    restartable mid-write. No global sort exists in the plan — the
    only wide op is the per-shard window, parallel in n_shards."""
    from vectorsearchutil_spark.operators.sampling import deterministic_shard

    docs = load_table(spark, sf_dir, "documents")
    out = deterministic_shard(docs, key_col="doc_id", n_shards=8, seed="shuffle")
    return out.select("doc_id", "shard", "pos")


_UNIGRAM_LP_ORACLE = """
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token
  FROM documents
),
vocab AS (
  SELECT token, CAST(COUNT(*) AS DOUBLE) AS cnt FROM tok GROUP BY token
),
tot AS (SELECT SUM(cnt) AS total FROM vocab)
SELECT t.doc_id, COUNT(*) AS n_tokens,
       ROUND(AVG(ln(v.cnt) - ln(tot.total)), 4) AS avg_logprob
FROM tok t JOIN vocab v USING (token), tot
GROUP BY t.doc_id
"""


@query("docs_unigram_logprob", _UNIGRAM_LP_ORACLE)
def docs_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram log-probability per document under the corpus's
    own unigram LM — the cheap perplexity-like quality signal. One
    explode + vocabulary aggregate + (broadcastable) join + per-doc
    partial-agg mean; 4dp rounding pins AVG summation-order ulps."""
    from vectorsearchutil_spark.operators.textanalysis import unigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return unigram_logprob(docs)


_BIGRAM_LP_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS t
  FROM documents
),
big AS (
  SELECT doc_id, t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
  FROM toks, UNNEST(range(1, len(t))) AS u(i)
),
bg AS (
  SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS c12 FROM big GROUP BY w1, w2
),
ctx AS (SELECT w1, CAST(COUNT(*) AS DOUBLE) AS c1 FROM big GROUP BY w1),
v AS (
  SELECT CAST(COUNT(DISTINCT x) AS DOUBLE) AS vsz
  FROM (SELECT unnest(t) AS x FROM toks)
)
SELECT b.doc_id, COUNT(*) AS n_bigrams,
       ROUND(AVG(ln((g.c12 + 1.0) / (c.c1 + 1.0 * v.vsz))), 4) AS avg_logprob
FROM big b JOIN bg g USING (w1, w2) JOIN ctx c USING (w1), v
GROUP BY b.doc_id
"""


@query("docs_bigram_logprob", _BIGRAM_LP_ORACLE)
def docs_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean add-1-smoothed bigram log-probability per document under
    the corpus's own bigram LM — the CCNet-style "train an n-gram LM,
    keep unsurprising docs" perplexity filter, one step up from the
    unigram score (order-sensitive). Bigrams derive array-side from a
    single tokenize pass; the Zipf-small count tables broadcast back."""
    from vectorsearchutil_spark.operators.textanalysis import bigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return bigram_logprob(docs)


_VOCAB_OOV_ORACLE = """
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token
  FROM documents
),
cnt AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token),
vocab AS (
  SELECT token FROM (
    SELECT token, ROW_NUMBER() OVER (ORDER BY c DESC, token ASC) AS rn
    FROM cnt
  ) WHERE rn <= 20
)
SELECT t.doc_id, COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       ROUND(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 4) AS oov_ratio
FROM tok t LEFT JOIN vocab v USING (token)
GROUP BY t.doc_id
"""


@query("docs_vocab_oov", _VOCAB_OOV_ORACLE)
def docs_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus's own
    top-20 token vocabulary (deterministic count-desc/token-asc cut) —
    the tokenizer-coverage signal computed before committing to a
    vocab. One explode; the tiny vocabulary LEFT-joins back broadcast."""
    from vectorsearchutil_spark.operators.textanalysis import vocab_oov_stats

    docs = load_table(spark, sf_dir, "documents")
    return vocab_oov_stats(docs, vocab_k=20)


_PAGERANK_ORACLE = """
WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib
  FROM e0 a JOIN e0 b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= 0.35
),
ed AS (SELECT ia AS src, ib AS dst FROM p UNION ALL SELECT ib, ia FROM p),
deg AS (SELECT src, COUNT(*) AS d FROM ed GROUP BY src),
nn AS (SELECT CAST(COUNT(DISTINCT dst) AS DOUBLE) AS n FROM ed),
r1 AS (
  SELECT e.dst AS id,
         (1.0 - 0.85) / nn.n + 0.85 * (CAST(SUM(CAST(FLOOR(
           (1.0 / nn.n) / CAST(g.d AS DOUBLE) * 1099511627776.0
         ) AS BIGINT)) AS DOUBLE) / 1099511627776.0) AS r
  FROM ed e JOIN deg g ON g.src = e.src, nn
  GROUP BY e.dst, nn.n
),
r2 AS (
  SELECT e.dst AS id,
         (1.0 - 0.85) / nn.n + 0.85 * (CAST(SUM(CAST(FLOOR(
           r1.r / CAST(g.d AS DOUBLE) * 1099511627776.0
         ) AS BIGINT)) AS DOUBLE) / 1099511627776.0) AS r
  FROM ed e JOIN deg g ON g.src = e.src JOIN r1 ON r1.id = e.src, nn
  GROUP BY e.dst, nn.n
),
r3 AS (
  SELECT e.dst AS id,
         (1.0 - 0.85) / nn.n + 0.85 * (CAST(SUM(CAST(FLOOR(
           r2.r / CAST(g.d AS DOUBLE) * 1099511627776.0
         ) AS BIGINT)) AS DOUBLE) / 1099511627776.0) AS r
  FROM ed e JOIN deg g ON g.src = e.src JOIN r2 ON r2.id = e.src, nn
  GROUP BY e.dst, nn.n
)
SELECT r3.id AS node, CAST(g.d AS BIGINT) AS degree,
       ROUND(r3.r, 6) AS pagerank
FROM r3 JOIN deg g ON g.src = r3.id
"""


@query("graph_pagerank_neardup", _PAGERANK_ORACLE)
def graph_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality (3 iterations, d=0.85) over the embedding
    near-dup similarity graph — ranks each dup-cluster's members by
    representativeness for canonical selection. Iterative hash-join
    plan; per-node sums run in FIXED-POINT longs (exact, associative)
    so ranks are bit-identical across engines, partitionings, and
    aggregation orders — the only float ops are IEEE-deterministic
    scalar expressions. The oracle unrolls the 3 iterations as CTEs
    with the same fixed-point arithmetic."""
    from vectorsearchutil_spark.operators.graph import pagerank_over_pairs
    from vectorsearchutil_spark.operators.similarity import neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = neardup_pairs(emb, threshold=0.35)
    return pagerank_over_pairs(pairs, damping=0.85, iters=3)


_NEYMAN_ORACLE = """
WITH c AS (
  SELECT o_orderkey, o_orderpriority AS grp,
         CAST(o_totalprice * 100 AS BIGINT) AS cents
  FROM orders
),
st AS (
  SELECT grp,
         CAST(COUNT(*) AS DOUBLE) AS nh,
         CAST(SUM(cents) AS DOUBLE) AS s1,
         CAST(SUM(cents * cents) AS DOUBLE) AS s2
  FROM c GROUP BY grp
),
wt AS (
  SELECT grp, sqrt(GREATEST(nh * s2 - s1 * s1, 0.0)) AS w FROM st
),
tot AS (
  SELECT list_reduce(list_prepend(0.0, list(w ORDER BY grp)),
                     (a, b) -> a + b) AS t
  FROM wt
),
alloc AS (
  SELECT grp, CAST(FLOOR(1000.0 * w / NULLIF(tot.t, 0)) AS INT) AS n_h
  FROM wt, tot
),
ranked AS (
  SELECT o_orderkey, grp,
         ROW_NUMBER() OVER (
           PARTITION BY grp
           ORDER BY ('0x' || substr(md5('ney:' ||
                     CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT,
                    o_orderkey
         ) AS rk
  FROM c
)
SELECT r.o_orderkey, r.grp
FROM ranked r JOIN alloc a USING (grp)
WHERE r.rk <= a.n_h
"""


@query("orders_neyman_sample", _NEYMAN_ORACLE)
def orders_neyman_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-allocation stratified sample (budget 1000): each
    priority stratum gets n_h ∝ N_h·σ_h — the variance-optimal
    allocation for estimating mean order value. Stratum moments are
    EXACT integer cent-sums (long/decimal) cast once to double, so
    the allocation arithmetic is pure IEEE and identical on any
    engine; the stratum-weight total folds in sorted group order
    (five values — no partial-agg order dependence). Rows are then
    rank-sampled per stratum by deterministic md5 draw: exact n_h per
    stratum, reproducible under any partitioning."""
    from pyspark.sql import Window

    from vectorsearchutil_spark.operators.sampling import hash_uniform

    o = load_table(spark, sf_dir, "orders").filter(
        _finite_or_null(F.col("o_totalprice"))
    )
    c = o.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("grp"),
        (F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cd = F.col("cents").cast("decimal(18,0)")
    st = c.groupBy("grp").agg(
        F.count(F.lit(1)).cast("double").alias("nh"),
        F.sum("cents").cast("double").alias("s1"),
        F.sum(cd * cd).cast("double").alias("s2"),
    )
    wt = st.select(
        "grp",
        F.sqrt(
            F.greatest(
                F.col("nh") * F.col("s2") - F.col("s1") * F.col("s1"),
                F.lit(0.0),
            )
        ).alias("w"),
    )
    tot = wt.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("grp", "w"))),
            F.lit(0.0),
            lambda acc, x: acc + x["w"],
        ).alias("t")
    )
    alloc = wt.crossJoin(F.broadcast(tot)).select(
        "grp",
        # try_divide: an all-zero-variance corpus (e.g. one row per
        # stratum) has t = 0 — the allocation is undefined, so NULL
        # n_h samples nothing instead of raising ANSI DIVIDE_BY_ZERO
        F.floor(F.try_divide(F.lit(1000.0) * F.col("w"), F.col("t")))
        .cast("int")
        .alias("n_h"),
    )
    draw = (
        hash_uniform(F.col("o_orderkey").cast("string"), "ney")
        * F.lit(4294967296.0)
    ).cast("long")
    rk = F.row_number().over(
        Window.partitionBy("grp").orderBy(draw.asc(), F.col("o_orderkey").asc())
    )
    # rank <= LITERAL first: the data-dependent n_h bound cannot push
    # a WindowGroupLimit, so each stratum would full-sort in one task;
    # bounding by the (collected, #strata-sized) max allocation keeps
    # only max_n rows per partition before the window shuffle
    # (plan-asserted), then the exact per-stratum cut applies.
    max_row = alloc.agg(F.max("n_h").alias("m")).first()
    max_n = int(max_row["m"]) if max_row and max_row["m"] is not None else 0
    return (
        c.withColumn("rk", rk)
        .filter(F.col("rk") <= F.lit(max_n))
        .join(F.broadcast(alloc), "grp")
        .filter(F.col("rk") <= F.col("n_h"))
        .select("o_orderkey", "grp")
    )


_WEIGHTED_MEDIAN_ORACLE = """
WITH r AS (
  SELECT l_returnflag AS grp, l_extendedprice AS v, l_quantity AS w,
         SUM(l_quantity) OVER (PARTITION BY l_returnflag
                               ORDER BY l_extendedprice, l_orderkey,
                                        l_linenumber
                               ROWS UNBOUNDED PRECEDING) AS cum_w,
         SUM(l_quantity) OVER (PARTITION BY l_returnflag) AS tot_w
  FROM lineitem
)
SELECT grp, MIN(v) AS weighted_median
FROM r WHERE cum_w >= tot_w / 2
GROUP BY grp
"""


@query("lineitem_weighted_median", _WEIGHTED_MEDIAN_ORACLE)
def lineitem_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag — the weighted
    quantile every pricing/usage analysis needs (plain medians
    over-weight small lines). Computed by EXACT histogram refinement
    (operators/sketches.py::weighted_median_exact): the naive
    running-weight window puts each return flag's 1/3 of the table
    through ONE task's sort (measured 44.7 s at 15M rows — a serial
    wall at scale); refinement aggregates a 4096-bucket weight
    histogram, window-scans the HISTOGRAM for the W/2 crossing, and
    exact-sorts only the crossing bucket's values (measured 3.4 s,
    identical output — the oracle is the naive definition)."""
    from vectorsearchutil_spark.operators.sketches import (
        weighted_median_exact,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return weighted_median_exact(
        li.select(
            F.col("l_returnflag").alias("grp"),
            F.col("l_extendedprice").alias("v"),
            F.col("l_quantity").alias("w"),
        ),
        "grp",
        "v",
        "w",
    )


# finite-vector predicate, DuckDB side — mirrors
# functions/vector.py::finite_vector (NULL vector or any NaN/±Inf
# component ⇒ the row does not participate in covariance/PCA);
# defined there so the engine and the oracles share one definition
from vectorsearchutil_spark.functions.vector import (  # noqa: E402
    FINITE_VEC_SQL as _FINITE_VEC_SQL,
)

_DIM_COV_ORACLE = f"""
WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings
           WHERE {_FINITE_VEC_SQL}),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM e),
prod AS (
  SELECT CAST(t.i AS INT) AS i, CAST(u.j AS INT) AS j,
         SUM(CAST(FLOOR(v[CAST(t.i AS INT)] * 65536.0) AS BIGINT)
             * CAST(FLOOR(v[CAST(u.j AS INT)] * 65536.0) AS BIGINT)) AS sq
  FROM e, range(1, 65) t(i), range(1, 65) u(j)
  WHERE u.j >= t.i
  GROUP BY 1, 2
),
m AS (
  SELECT CAST(t.i AS INT) AS i,
         SUM(CAST(FLOOR(v[CAST(t.i AS INT)] * 65536.0) AS BIGINT)) AS mq
  FROM e, range(1, 65) t(i) GROUP BY 1
)
SELECT p.i, p.j,
       ROUND(p.sq / 65536.0 / 65536.0 / n.n
             - (a.mq / 65536.0 / n.n) * (b.mq / 65536.0 / n.n), 6)
         + 0.0 AS cov
FROM prod p JOIN m a ON a.i = p.i JOIN m b ON b.i = p.j, n
"""


@query("embeddings_dim_covariance", _DIM_COV_ORACLE)
def embeddings_dim_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full upper-triangle dimension covariance of the embedding
    column — the redundant-/dead-dimension audit. Fixed-point long
    sums of VALUE-quantized components (q = floor(v·2¹⁶); products
    q·q sum as exact integers via chunked float64 dgemm) make the
    result bit-identical under any partitioning or engine; one numpy
    mapInPandas pass emits d²/2 product + d mean partial rows per
    partition, map-side-combinable long aggregate after
    (operators/embeddings.py::dim_covariance)."""
    from vectorsearchutil_spark.operators.embeddings import dim_covariance

    emb = load_table(spark, sf_dir, "embeddings")
    return dim_covariance(emb)


_ATTRIBUTION_ORACLE = """
WITH seq AS (
  SELECT user_id, event_id, ts, event_type, value,
         MAX(CASE WHEN event_type IN ('click', 'view')
                  THEN ts END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS last_touch_ts
  FROM events
)
SELECT user_id, event_id AS purchase_event_id, value AS revenue,
       last_touch_ts,
       CASE WHEN last_touch_ts IS NULL THEN 'organic'
            WHEN ts - last_touch_ts <= INTERVAL 1 HOUR THEN 'attributed'
            ELSE 'expired' END AS attribution
FROM seq
WHERE event_type = 'purchase'
"""


@query("events_attribution", _ATTRIBUTION_ORACLE)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase claims the user's most
    recent prior click/view, attributed when within a 1-hour window
    (else expired; organic when no touch exists). One per-user window
    (conditional running MAX over prior rows) — no purchase×touch
    self-join, which is the naive quadratic plan."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = e.withColumn(
        "last_touch_ts",
        F.max(
            F.when(F.col("event_type").isin("click", "view"), F.col("ts"))
        ).over(w),
    )
    return seq.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        F.col("value").alias("revenue"),
        "last_touch_ts",
        F.when(F.col("last_touch_ts").isNull(), F.lit("organic"))
        .when(
            epoch_seconds(F.col("ts")) - epoch_seconds(F.col("last_touch_ts"))
            <= 3600,
            F.lit("attributed"),
        )
        .otherwise(F.lit("expired"))
        .alias("attribution"),
    )


_AHASH_PAIRS_ORACLE = """
WITH s AS (
  SELECT doc_id, text AS p,
         list_transform(range(0, 64),
           i -> ord(substr(text, CAST((i * length(text)) // 64 AS INT) + 1,
                           1))) AS sm
  FROM documents WHERE length(text) > 0
),
b AS (SELECT doc_id, sm, list_sum(sm) AS tot FROM s),
h AS (
  SELECT doc_id,
         list_transform([0, 1, 2, 3],
           j -> list_sum(list_transform(range(0, 16),
             i -> CASE WHEN 64 * sm[CAST(j * 16 + i AS INT) + 1] > tot
                  THEN (1::BIGINT << CAST(i AS INT)) ELSE 0 END))) AS ch
  FROM b
)
SELECT a.doc_id AS id_a, c.doc_id AS id_b,
       CAST(bit_count(xor(a.ch[1], c.ch[1])) + bit_count(xor(a.ch[2], c.ch[2]))
          + bit_count(xor(a.ch[3], c.ch[3])) + bit_count(xor(a.ch[4], c.ch[4]))
         AS INT) AS hamming
FROM h a JOIN h c ON a.doc_id < c.doc_id
WHERE bit_count(xor(a.ch[1], c.ch[1])) + bit_count(xor(a.ch[2], c.ch[2]))
    + bit_count(xor(a.ch[3], c.ch[3])) + bit_count(xor(a.ch[4], c.ch[4])) <= 7
"""


@query("multimodal_ahash_neardup", _AHASH_PAIRS_ORACLE)
def multimodal_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visually-near-duplicate image pairs: aHash within hamming 7,
    via 8×8-bit banded blocking (pigeonhole-complete for radius < 8;
    the oracle brute-forces all pairs). The multimodal twin of the
    SimHash text dedup path: signatures at scan speed, candidates
    only where a band collides, exact popcount verify."""
    from vectorsearchutil_spark.operators.multimodal import (
        ahash_neardup_pairs,
        image_ahash,
        synthesize_binary,
    )

    docs = load_table(spark, sf_dir, "documents")
    h = image_ahash(synthesize_binary(docs)).select("doc_id", "ahash")
    return ahash_neardup_pairs(h, max_hamming=7, n_bands=8)


_CURRICULUM_ORACLE = """
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> x != '') AS t
  FROM documents
),
q AS (
  SELECT doc_id, source, len(t) AS n_tokens,
         ROUND(LEAST(1.0, len(t) / 100.0) *
               (1.0 - len(list_filter(t, x -> list_contains(
                 ['the','a','of','and','to','is','in','on'], x)))
                * 1.0 / len(t)), 4) AS quality
  FROM toks WHERE len(t) > 0
),
r AS (
  SELECT doc_id, source, quality,
         CAST(ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY quality DESC, doc_id ASC) AS INT) AS pos_in_source
  FROM q
)
SELECT doc_id, source, quality, pos_in_source,
       CAST(ROW_NUMBER() OVER (ORDER BY pos_in_source, source, doc_id)
         AS INT) AS global_pos
FROM r
"""


@query("docs_curriculum_order", _CURRICULUM_ORACLE)
def docs_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training-order construction: rank docs by quality
    within each source (best first, doc_id tie-break), then interleave
    sources round-robin (global order = (per-source position, source))
    so every training prefix is source-balanced AND quality-sorted.
    Two window shuffles over narrow (id, source, quality) rows — text
    never moves past the scoring projection. The global row_number is
    the one inherently serial step (the output IS a total order); at
    100 TB you'd address shards instead (deterministic_shard)."""
    from pyspark.sql import Window

    from vectorsearchutil_spark.operators.textanalysis import quality_score

    docs = load_table(spark, sf_dir, "documents")
    q = (
        quality_score(docs)
        .filter(F.col("n_tokens") > 0)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", F.col("quality_score").alias("quality"))
    )
    per_src = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    ranked = q.withColumn(
        "pos_in_source", F.row_number().over(per_src).cast("int")
    )
    glob = Window.partitionBy().orderBy(
        "pos_in_source", "source", "doc_id"
    )
    return ranked.withColumn(
        "global_pos", F.row_number().over(glob).cast("int")
    )


_AHASH_ORACLE = """
WITH s AS (
  SELECT doc_id, text AS p,
         list_transform(range(0, 64),
           i -> ord(substr(text, CAST((i * length(text)) // 64 AS INT) + 1,
                           1))) AS sm
  FROM documents
),
b AS (SELECT doc_id, p, sm, list_sum(sm) AS tot FROM s)
SELECT doc_id,
  CASE WHEN length(p) = 0 THEN '0000000000000000' ELSE
    concat(
      lpad(hex(list_sum(list_transform(range(0, 16),
        i -> CASE WHEN 64 * sm[CAST(i AS INT) + 1] > tot
             THEN (1::BIGINT << CAST(i AS INT)) ELSE 0 END))), 4, '0'),
      lpad(hex(list_sum(list_transform(range(16, 32),
        i -> CASE WHEN 64 * sm[CAST(i AS INT) + 1] > tot
             THEN (1::BIGINT << CAST(i - 16 AS INT)) ELSE 0 END))), 4, '0'),
      lpad(hex(list_sum(list_transform(range(32, 48),
        i -> CASE WHEN 64 * sm[CAST(i AS INT) + 1] > tot
             THEN (1::BIGINT << CAST(i - 32 AS INT)) ELSE 0 END))), 4, '0'),
      lpad(hex(list_sum(list_transform(range(48, 64),
        i -> CASE WHEN 64 * sm[CAST(i AS INT) + 1] > tot
             THEN (1::BIGINT << CAST(i - 48 AS INT)) ELSE 0 END))), 4, '0'))
  END AS ahash
FROM b
"""


@query("multimodal_image_ahash", _AHASH_ORACLE)
def multimodal_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash over the synthesized binary image
    column: 64 evenly-spaced payload samples, integer mean threshold
    (64·sample > Σ — exact on any engine), packed to a 16-hex-char
    fingerprint. Pure JVM expressions over the binary column — visual
    dedup signatures at scan speed, no Python worker. The oracle
    recomputes from the source text (the payload behind the 8-byte
    header is the utf8 text by construction)."""
    from vectorsearchutil_spark.operators.multimodal import (
        image_ahash,
        synthesize_binary,
    )

    docs = load_table(spark, sf_dir, "documents")
    imgs = synthesize_binary(docs)
    return image_ahash(imgs).select("doc_id", "ahash")


_CDC_ORACLE = """
WITH changes AS (
  SELECT c_custkey, 1 AS seq, 'delete' AS op,
         c_name, c_acctbal
  FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey, 1, 'upsert', c_name, c_acctbal + 100
  FROM customer WHERE c_custkey % 10 IN (1, 2)
  UNION ALL
  SELECT c_custkey, 2, 'upsert', c_name, c_acctbal + 200
  FROM customer WHERE c_custkey % 100 = 1
  UNION ALL
  SELECT c_custkey + 1000000, 1, 'upsert',
         concat('New#', CAST(c_custkey AS VARCHAR)), 0.0
  FROM customer WHERE c_custkey % 50 = 0
),
winners AS (
  SELECT * FROM (
    SELECT c_custkey, seq, op, c_name, c_acctbal,
           ROW_NUMBER() OVER (PARTITION BY c_custkey
                              ORDER BY seq DESC, op ASC) AS rn
    FROM changes
  ) WHERE rn = 1
)
SELECT s.c_custkey, s.c_name, s.c_acctbal
FROM customer s
WHERE s.c_custkey NOT IN (SELECT c_custkey FROM winners)
UNION ALL
SELECT c_custkey, c_name, c_acctbal FROM winners WHERE op = 'upsert'
"""


@query("customers_cdc_merge", _CDC_ORACLE)
def customers_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CDC MERGE: a deterministic changelog (deletes for
    ids ≡0 mod 10, +100 upserts for ≡1,2, a superseding seq-2 +200
    upsert for ≡1 mod 100, inserts of brand-new ids) applied to the
    customer snapshot. The changelog alone shuffles (one window for
    latest-change-wins); the snapshot passes through an anti-join."""
    from vectorsearchutil_spark.operators.cdc import cdc_apply

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    k = F.col("c_custkey")
    deletes = cust.filter(k % 10 == 0).select(
        k.alias("c_custkey"), F.lit(1).alias("seq"),
        F.lit("delete").alias("op"), "c_name", "c_acctbal",
    )
    up1 = cust.filter((k % 10).isin(1, 2)).select(
        k.alias("c_custkey"), F.lit(1).alias("seq"),
        F.lit("upsert").alias("op"), "c_name",
        (F.col("c_acctbal") + 100).alias("c_acctbal"),
    )
    up2 = cust.filter(k % 100 == 1).select(
        k.alias("c_custkey"), F.lit(2).alias("seq"),
        F.lit("upsert").alias("op"), "c_name",
        (F.col("c_acctbal") + 200).alias("c_acctbal"),
    )
    inserts = cust.filter(k % 50 == 0).select(
        (k + 1000000).alias("c_custkey"), F.lit(1).alias("seq"),
        F.lit("upsert").alias("op"),
        F.concat(F.lit("New#"), k.cast("string")).alias("c_name"),
        F.lit(0.0).alias("c_acctbal"),
    )
    changes = deletes.unionByName(up1).unionByName(up2).unionByName(inserts)
    return cdc_apply(cust, changes, id_col="c_custkey")


_OHLC_ORACLE = """
SELECT event_type,
       CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS hour_start,
       arg_min(value, ts) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       arg_max(value, ts) AS close,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY 1, 2
"""


@query("events_ohlc_hourly", _OHLC_ORACLE)
def events_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling to hourly OHLC bars per event type —
    the downsampling shape behind dashboards and feature windows.
    One partial-aggregated groupBy; open/close are min_by/max_by on
    the event timestamp (no sort, no window). Timestamps are unique
    per (type, hour) in this data, so arg-extremes are deterministic."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            "event_type",
            F.window("ts", "1 hour").alias("_w"),
        )
        .agg(
            F.min_by("value", "ts").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ts").alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "event_type",
            (epoch_micros(F.col("_w.start")) / F.lit(1000000)).cast("bigint")
            .alias("hour_start"),
            "open", "high", "low", "close", "n",
        )
    )


_CORPUS_DIFF_ORACLE = """
WITH o AS (
  SELECT doc_id, md5(concat_ws(chr(1),
           COALESCE(text, chr(0)), COALESCE(source, chr(0)))) AS oh
  FROM documents WHERE doc_id % 10 != 0
),
n AS (
  SELECT doc_id, md5(concat_ws(chr(1),
           COALESCE(CASE WHEN doc_id % 7 = 0 THEN reverse(text) ELSE text
                    END, chr(0)),
           COALESCE(source, chr(0)))) AS nh
  FROM documents WHERE doc_id % 10 != 3
)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN o.oh = n.nh THEN 'unchanged'
            ELSE 'changed' END AS status
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
"""


@query("docs_snapshot_diff", _CORPUS_DIFF_ORACLE)
def docs_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two corpus versions (v1 drops ids ≡0 mod
    10; v2 drops ids ≡3 mod 10 and reverses every 7th doc's text):
    added/removed/changed/unchanged per doc. Raw text reduces to an
    md5 content hash in the scan projection — only (id, hash) rows
    enter the one full-outer join."""
    from vectorsearchutil_spark.operators.diffing import corpus_diff

    docs = load_table(spark, sf_dir, "documents")
    v1 = docs.filter(F.col("doc_id") % 10 != 0)
    v2 = docs.filter(F.col("doc_id") % 10 != 3).withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0, F.reverse(F.col("text"))).otherwise(
            F.col("text")
        ),
    )
    return corpus_diff(v1, v2, compare_cols=["text", "source"])


_CONCURRENCY_ORACLE = """
WITH marked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
               OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
),
iv AS (
  SELECT user_id, sid, MIN(ts) AS s, MAX(ts) AS e
  FROM sess GROUP BY user_id, sid
),
b AS (
  SELECT s AS ts, 1 AS delta FROM iv
  UNION ALL
  SELECT e AS ts, -1 AS delta FROM iv
),
r AS (
  SELECT CAST(ts AS DATE) AS day, delta,
         SUM(delta) OVER (ORDER BY ts, delta DESC) AS open_now
  FROM b
)
SELECT day, CAST(MAX(open_now) AS INT) AS peak_concurrency,
       CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS INT) AS n_starts
FROM r GROUP BY day
"""


@query("events_session_concurrency", _CONCURRENCY_ORACLE)
def events_session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day peak session concurrency via the DISTRIBUTED two-level
    sweep-line (operators/intervals.py): day-bucketed boundary deltas,
    a days-sized carry window, day-parallel running sums — where the
    naive plan is one global single-partition window. The oracle runs
    the naive global sweep (fine at sf0.01); identical results by the
    prefix-sum decomposition + ANSI RANGE-frame peer semantics."""
    from vectorsearchutil_spark.operators.intervals import (
        concurrency_by_day,
        sessions_from_events,
    )

    e = load_table(spark, sf_dir, "events")
    return concurrency_by_day(sessions_from_events(e))


_MARKOV_ORACLE = """
WITH nxt AS (
  SELECT user_id, event_type AS from_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS to_type
  FROM events
),
trans AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM nxt WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, n,
       ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY from_type), 4) AS p
FROM trans
"""


@query("events_markov_transitions", _MARKOV_ORACLE)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the behaviour model behind session simulation and
    anomaly scoring. One per-user window (lead) on narrow columns,
    one aggregate; the normalizing row-sum is a window over the tiny
    (type × type) transition table."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    nxt = e.select(
        "user_id",
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    trans = nxt.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    return trans.select(
        "from_type",
        "to_type",
        "n",
        F.round(
            F.col("n") / F.sum("n").over(Window.partitionBy("from_type")), 4
        ).alias("p"),
    )


_TOKEN_PMI_ORACLE = """
WITH tok AS (
  SELECT DISTINCT doc_id AS d,
         unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token
  FROM documents
),
vocab AS (
  SELECT token, CAST(c AS DOUBLE) AS df FROM (
    SELECT token, COUNT(*) AS c,
           ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token ASC) AS rn
    FROM tok GROUP BY token
  ) WHERE rn <= 50
),
tv AS (SELECT t.d, t.token FROM tok t JOIN vocab USING (token)),
n AS (SELECT CAST(COUNT(DISTINCT d) AS DOUBLE) AS nd FROM tv),
pairs AS (
  SELECT a.token AS w1, b.token AS w2, COUNT(*) AS n_ab
  FROM tv a JOIN tv b ON a.d = b.d AND a.token < b.token
  GROUP BY a.token, b.token HAVING COUNT(*) >= 5
)
SELECT p.w1, p.w2, p.n_ab,
       ROUND(ln(p.n_ab * n.nd / (va.df * vb.df)), 4) AS pmi
FROM pairs p
JOIN vocab va ON va.token = p.w1
JOIN vocab vb ON vb.token = p.w2, n
"""


@query("text_token_pmi", _TOKEN_PMI_ORACLE)
def text_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level token-co-occurrence PMI over the corpus top-50
    vocabulary (min support 5) — collocation mining. Vocabulary cut
    happens BEFORE pair generation so fan-out is bounded; marginals
    and N join back broadcast; no float-ordered top-m cut."""
    from vectorsearchutil_spark.operators.textanalysis import token_pmi_pairs

    docs = load_table(spark, sf_dir, "documents")
    return token_pmi_pairs(docs, vocab_k=50, min_support=5)


_FUZZY_NAME_ORACLE = """
SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
       a.c_name AS str_a, b.c_name AS str_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
FROM customer a JOIN customer b
  ON a.c_custkey < b.c_custkey
 AND abs(length(a.c_name) - length(b.c_name)) <= 1
 AND levenshtein(a.c_name, b.c_name) <= 1
"""


@query("customers_fuzzy_name_pairs", _FUZZY_NAME_ORACLE)
def customers_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Levenshtein-distance-1 similarity self-join on customer
    names via deletion-neighborhood (SymSpell) blocking — the entity-
    resolution / record-linkage primitive. The oracle brute-forces
    all pairs (fine at sf0.01); the Spark plan never does: ≤ L+1
    narrow signature rows per name, hash-join on signature, exact
    levenshtein verify on candidates only (operators/fuzzyjoin.py)."""
    from vectorsearchutil_spark.operators.fuzzyjoin import fuzzy_pairs_ed1

    cust = load_table(spark, sf_dir, "customer")
    return fuzzy_pairs_ed1(cust, key_col="c_custkey", str_col="c_name")


# --------------------------------------------------------------------------
# Product quantization — codebook training, encoding, ADC search,
# exact re-rank (operators/pq.py). The oracle replays the per-subspace
# k-means training in SQL (same pattern as the kmeans oracle), then
# re-derives codes, the query's distance table, and the two-stage
# search from first principles.
# --------------------------------------------------------------------------


def _pq_sqdist(sv: str, cv: str, d: int) -> str:
    # correlated scalar subquery (NOT a list lambda — DuckDB lambdas
    # cannot capture correlated columns); SUM over range(1..d) is the
    # same sequential per-dimension fold Spark's aggregate uses
    return (
        f"(SELECT SUM(({sv}[t.i] - {cv}[t.i])^2) FROM range(1, {d + 1}) t(i))"
    )


def _pq_cte_chain(m: int = 8, d: int = 8, k: int = 16, iters: int = 2) -> str:
    """WITH-chain body producing ``c{iters}`` (the trained codebooks
    as (j, cid, cv) rows) and ``codes`` ((vec_id, j, cid, d2): each
    vector's per-subspace argmin code + squared error)."""

    def argmin(src: str, cents: str, out: str) -> str:
        dist = _pq_sqdist("s.sv", "c.cv", d)
        return (
            f"{out} AS (SELECT vec_id, j, sv, cid, d2 FROM ("
            f"SELECT s.vec_id, s.j, s.sv, c.cid, {dist} AS d2,"
            f" ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j"
            f" ORDER BY {dist} ASC, c.cid ASC) AS rn"
            f" FROM {src} s JOIN {cents} c ON c.j = s.j) WHERE rn = 1)"
        )

    ctes = [
        f"sub AS (SELECT e.vec_id, t.j,"
        f" e.embedding[(t.j*{d}+1):(t.j*{d}+{d})]::DOUBLE[] AS sv"
        f" FROM embeddings e, range(0, {m}) t(j))",
        f"c0 AS (SELECT j, CAST(vec_id AS INT) AS cid, sv AS cv"
        f" FROM sub WHERE vec_id < {k})",
    ]
    for it in range(iters):
        ctes.append(argmin("sub", f"c{it}", f"a{it}"))
        ctes.append(
            f"n{it + 1} AS (SELECT j, cid, list(v ORDER BY pos) AS cv FROM ("
            f"SELECT a.j, a.cid, t.i AS pos, ROUND(AVG(a.sv[t.i]), 6) AS v"
            f" FROM a{it} a, range(1, {d + 1}) t(i) GROUP BY a.j, a.cid, t.i"
            f") GROUP BY j, cid)"
        )
        ctes.append(
            f"c{it + 1} AS (SELECT * FROM n{it + 1} UNION ALL"
            f" SELECT p.j, p.cid, p.cv FROM c{it} p WHERE NOT EXISTS"
            f" (SELECT 1 FROM n{it + 1} x WHERE x.j = p.j AND x.cid = p.cid))"
        )
    ctes.append(argmin("sub", f"c{iters}", "codes"))
    return ",\n".join(ctes)


_PQ_ADC_CTES = (
    _pq_cte_chain()
    + """,
q AS (SELECT j, sv FROM sub WHERE vec_id = 0),
dt AS (SELECT c.j, c.cid, """
    + _pq_sqdist("q.sv", "c.cv", 8)
    + """ AS v
      FROM c2 c JOIN q ON q.j = c.j),
adc AS (SELECT co.vec_id, ROUND(SUM(dt.v), 4) AS adc
        FROM codes co JOIN dt ON dt.j = co.j AND dt.cid = co.cid
        GROUP BY co.vec_id)
"""
)

_PQ_CODES_ORACLE = (
    "WITH "
    + _pq_cte_chain()
    + """
SELECT vec_id,
       array_to_string(
         list(CAST(cid AS VARCHAR) ORDER BY j), ','
       ) AS codes,
       ROUND(SUM(d2), 4) AS qerr
FROM codes GROUP BY vec_id
"""
)


@query("embeddings_pq_codes", _PQ_CODES_ORACLE)
def embeddings_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-encode the corpus: 64-dim float vectors → 8 codes (16-entry
    codebook per subspace, 2 Lloyd's iterations) + quantization
    error. Training is driver-side over a bounded sample (the faiss
    posture — codebooks are model state, not data state); encoding is
    one narrow broadcast pass, no shuffle. The encoded table is the
    32×-smaller artifact a 100 TB ANN serving layer actually ships.
    Codes leave as a ','-joined string — the driver canonicalizer
    cannot hash list cells (r3 lesson)."""
    from vectorsearchutil_spark.operators.pq import pq_encode, pq_train

    emb = load_table(spark, sf_dir, "embeddings")
    if emb.filter(F.col("embedding").isNotNull()).first() is None:
        # no (usable) corpus: no codebook, no codes
        return local_frame(
            spark, [], "vec_id long, codes string, qerr double"
        )
    books = pq_train(emb, m=8, k=16, iterations=2)
    return pq_encode(emb, books).select(
        "vec_id",
        F.array_join(F.col("codes").cast("array<string>"), ",").alias(
            "codes"
        ),
        "qerr",
    )


_PQ_ADC_ORACLE = (
    "WITH "
    + _PQ_ADC_CTES
    + """
SELECT vec_id, adc FROM adc ORDER BY adc ASC, vec_id ASC LIMIT 10
"""
)


@query("knn_pq_adc", _PQ_ADC_ORACLE)
def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 by PQ asymmetric distance: the query
    becomes an 8×16 lookup table, per-row distance is 8 array lookups
    + a fold over the codes column ONLY (raw vectors never read), and
    the cut is a distributed top-k. Ordering on (4dp-rounded adc, id)
    keeps the result engine-stable."""
    from vectorsearchutil_spark.operators.pq import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    if emb.filter(F.col("embedding").isNotNull()).first() is None:
        # no (usable) corpus: no codebook, no candidates
        return local_frame(spark, [], "vec_id long, adc double")
    books = pq_train(emb, m=8, k=16, iterations=2)
    qv = _probe_vec(emb.filter(F.col("vec_id") == 0).select("embedding"))
    codes = pq_encode(emb, books)
    return pq_adc_topk(codes, books, list(qv), k=10)


_PQ_RERANK_ORACLE = (
    "WITH "
    + _PQ_ADC_CTES
    + """,
short AS (SELECT vec_id FROM adc ORDER BY adc ASC, vec_id ASC LIMIT 50),
qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       ROUND(list_distance(e.embedding::DOUBLE[], qv.v), 4) AS distance
FROM embeddings e JOIN short USING (vec_id), qv
ORDER BY ROUND(list_distance(e.embedding::DOUBLE[], qv.v), 4) ASC,
         e.vec_id ASC
LIMIT 10
"""
)


@query("knn_pq_rerank", _PQ_RERANK_ORACLE)
def knn_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ search: ADC shortlist (50) over codes, exact L2
    re-rank to top-10 — the standard recall repair. The exact pass
    touches only the shortlist (broadcast semi-join against raw
    vectors); the corpus-wide scan reads codes alone."""
    from vectorsearchutil_spark.operators.pq import (
        pq_encode,
        pq_search_rerank,
        pq_train,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    if emb.filter(F.col("embedding").isNotNull()).first() is None:
        # no (usable) corpus: no codebook, no candidates
        return local_frame(spark, [], "vec_id long, distance double")
    books = pq_train(emb, m=8, k=16, iterations=2)
    qv = _probe_vec(emb.filter(F.col("vec_id") == 0).select("embedding"))
    codes = pq_encode(emb, books)
    return pq_search_rerank(emb, codes, books, list(qv), k=10, shortlist=50)


_IVFPQ_ORACLE = (
    f"WITH {_CENTROIDS_CTE},\n"
    + _pq_cte_chain()
    + """,
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.label AS centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_distance(e.embedding::DOUBLE[], c.cvec) ASC,
                      c.label ASC
           ) AS rn
    FROM embeddings e CROSS JOIN centroids c
  ) WHERE rn = 1
),
probes AS (
  SELECT centroid_id FROM (
    SELECT c.label AS centroid_id,
           ROW_NUMBER() OVER (
             ORDER BY list_distance(
               (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0),
               c.cvec) ASC, c.label ASC
           ) AS rn
    FROM centroids c
  ) WHERE rn <= 3
),
q AS (SELECT j, sv FROM sub WHERE vec_id = 0),
dt AS (SELECT c.j, c.cid, """
    + _pq_sqdist("q.sv", "c.cv", 8)
    + """ AS v
      FROM c2 c JOIN q ON q.j = c.j),
pruned AS (
  SELECT co.vec_id, co.j, co.cid FROM codes co
  JOIN assigned a ON a.vec_id = co.vec_id
  WHERE a.centroid_id IN (SELECT centroid_id FROM probes)
),
adc AS (SELECT p.vec_id, ROUND(SUM(dt.v), 4) AS adc
        FROM pruned p JOIN dt ON dt.j = p.j AND dt.cid = p.cid
        GROUP BY p.vec_id)
SELECT vec_id, adc FROM adc ORDER BY adc ASC, vec_id ASC LIMIT 10
"""
)


@query("ann_ivfpq_search", _IVFPQ_ORACLE)
def ann_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (faiss IVFADC) search: the index is ONE narrow pass
    producing (id, coarse list id, 8 PQ codes) — raw vectors dropped;
    the query probes the 3 nearest coarse lists and runs ADC top-10
    over the pruned codes. At 100 TB the index is written
    ``partitionBy(centroid_id)`` so the probe filter is partition
    pruning: the scan touches n_probe/n_lists of a table that is
    itself ~32× smaller than the raw vectors. Replaces the
    reference's faiss index (vsu/base/VectorSearchBase.py:54-59)
    with a layout a 1000-executor cluster can build and serve in
    bulk."""
    from vectorsearchutil_spark.operators.pq import (
        ivfpq_encode,
        ivfpq_search,
        pq_train,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _label_centroids(spark, sf_dir).select(
        F.col("label_idx").cast("long").alias("centroid_id"),
        F.col("label_vec").alias("centroid_vec"),
    )
    if emb.filter(F.col("embedding").isNotNull()).first() is None:
        # no (usable) corpus: no codebook, no candidates
        return local_frame(spark, [], "vec_id long, adc double")
    # collected once: the encode and the probe both read the centroids
    cents = local_frame(spark, cents.toArrow())
    books = pq_train(emb, m=8, k=16, iterations=2)
    qv = [float(v) for v in
          _probe_vec(emb.filter(F.col("vec_id") == 0).select("embedding"))]
    enc = ivfpq_encode(emb, cents, books)
    return ivfpq_search(enc, cents, books, qv, k=10, n_probe=3)


# --------------------------------------------------------------------------
# Cardinality sketches — deterministic HLL / KMV (operators/sketches.py).
# Exact COUNT(DISTINCT) shuffles every distinct value; a sketch shuffles
# fixed-size register state per group — the 100 TB distinct-count path.
# The estimator math is part of the declared semantics, so the oracle
# replays hash -> registers -> estimate from first principles.
# --------------------------------------------------------------------------

_HLL_ORACLE = """
WITH h AS (
  SELECT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM events
),
parts AS (
  SELECT event_type, hv & 255 AS bucket, hv >> 8 AS rem FROM h
),
regs AS (
  SELECT event_type, bucket,
         MAX(CASE WHEN rem = 0 THEN 53
                  ELSE 52 - length(bin(rem)) + 1 END) AS mj
  FROM parts GROUP BY event_type, bucket
),
folded AS (
  SELECT event_type,
         SUM(power(2.0, -mj)) AS hsum,
         COUNT(*) AS nonzero,
         256 - COUNT(*) AS zeros
  FROM regs GROUP BY event_type
),
est AS (
  SELECT event_type, zeros,
         (0.7213 / (1 + 1.079 / 256)) * 256 * 256 / (hsum + zeros) AS raw
  FROM folded
),
fin AS (
  SELECT event_type,
         CASE WHEN raw <= 2.5 * 256 AND zeros > 0
              THEN 256.0 * ln(256.0 / zeros) ELSE raw END AS e
  FROM est
),
exact AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY event_type
)
SELECT f.event_type, ROUND(f.e, 2) AS est_distinct, x.exact_distinct
FROM fin f JOIN exact x USING (event_type)
ORDER BY event_type
"""


@query("events_user_hll_distinct", _HLL_ORACLE)
def events_user_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via a deterministic 256-register
    HLL sketch (md5-derived hashes, ordered-fold harmonic sum, linear
    counting small-range correction), joined against the exact count
    for visible error. The sketch's shuffle is <=256 rows per group
    regardless of cardinality, and registers merge with max() across
    shards/days — the aggregation shape exact COUNT(DISTINCT) cannot
    scale to."""
    from vectorsearchutil_spark.operators.sketches import hll_distinct

    ev = load_table(spark, sf_dir, "events")
    est = hll_distinct(ev, ["event_type"], "user_id", b=8)
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    return (
        est.join(exact, "event_type")
        .select("event_type", "est_distinct", "exact_distinct")
        .orderBy("event_type")
    )


_KMV_ORACLE = """
WITH h AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM events
),
ranked AS (
  SELECT event_type, hv,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rk
  FROM h
),
agg AS (
  SELECT event_type, COUNT(*) AS n,
         MAX(CASE WHEN rk = 64 THEN hv END) AS uk
  FROM ranked WHERE rk <= 64 GROUP BY event_type
)
SELECT event_type,
       ROUND(CASE WHEN n < 64 THEN CAST(n AS DOUBLE)
                  ELSE 63.0 / (uk / 1152921504606846976.0) END, 2)
         AS est_distinct
FROM agg ORDER BY event_type
"""


@query("events_user_kmv_distinct", _KMV_ORACLE)
def events_user_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via a KMV (k minimum values,
    k=64) sketch: estimate = (k-1)/u_k over md5-derived hashes.
    The row_number <= k cut compiles to WindowGroupLimit — each map
    task forwards at most k rows per group, so the shuffle is
    k-bounded; sketches merge by union + re-truncate."""
    from vectorsearchutil_spark.operators.sketches import kmv_distinct

    ev = load_table(spark, sf_dir, "events")
    return kmv_distinct(ev, ["event_type"], "user_id", k=64).orderBy(
        "event_type"
    )


_KMV_OVERLAP_ORACLE = """
WITH h AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM events
),
ranked AS (
  SELECT event_type, hv,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rk
  FROM h
),
sk AS (
  SELECT event_type, list(hv ORDER BY hv) AS kmv
  FROM ranked WHERE rk <= 64 GROUP BY event_type
),
pairs AS (
  SELECT a.event_type AS key_a, b.event_type AS key_b,
         a.kmv AS ka, b.kmv AS kb,
         list_sort(list_distinct(a.kmv || b.kmv))[1:64] AS u
  FROM sk a JOIN sk b ON a.event_type < b.event_type
),
calc AS (
  SELECT key_a, key_b, len(u) AS nu, u[len(u)] AS umax,
         len(list_filter(u,
             x -> list_contains(ka, x) AND list_contains(kb, x))) AS n_match
  FROM pairs
),
est AS (
  SELECT key_a, key_b,
         n_match * 1.0 / nu AS jac,
         CASE WHEN nu < 64 THEN CAST(nu AS DOUBLE)
              ELSE 63.0 / (umax / 1152921504606846976.0) END AS est_union
  FROM calc
)
SELECT key_a, key_b,
       ROUND(jac, 4) AS jaccard_est,
       ROUND(jac * est_union, 2) AS intersection_est,
       ROUND(est_union, 2) AS union_est
FROM est
"""


@query("events_user_overlap_kmv", _KMV_OVERLAP_ORACLE)
def events_user_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types, estimated from
    KMV sketches alone (Beyer et al.): Jaccard = share of the union's
    k smallest hashes present in both sketches; intersection =
    jaccard · KMV-union-estimate. Every pair is answered from 2·64
    longs — no distinct-value shuffle, no data re-scan; the audience-
    overlap question a 100 TB event store answers from sketch state."""
    from vectorsearchutil_spark.operators.sketches import (
        kmv_overlap_pairs,
        kmv_sketch,
    )

    ev = load_table(spark, sf_dir, "events")
    sk = kmv_sketch(ev, ["event_type"], "user_id", k=64)
    return kmv_overlap_pairs(sk, "event_type", k=64)


_CMS_ORACLE = """
WITH tok AS (
  SELECT unnest(list_filter(string_split(text, ' '), x -> x != ''))
    AS token
  FROM documents
),
exact AS (
  SELECT token, COUNT(*) AS exact_count FROM tok GROUP BY token
),
top AS (
  SELECT token, exact_count FROM exact
  ORDER BY exact_count DESC, token LIMIT 20
),
cms AS (
  SELECT i, j, COUNT(*) AS cnt
  FROM (
    SELECT ('0x' || substr(md5(CAST(i.i AS VARCHAR) || ':' || token),
            1, 15))::BIGINT % 256 AS j, i.i AS i
    FROM tok, range(0, 4) i(i)
  ) GROUP BY i, j
),
probe AS (
  SELECT t.token, t.exact_count, i.i AS i,
         ('0x' || substr(md5(CAST(i.i AS VARCHAR) || ':' || t.token),
          1, 15))::BIGINT % 256 AS j
  FROM top t, range(0, 4) i(i)
)
SELECT p.token,
       CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est_count,
       CAST(MAX(p.exact_count) AS BIGINT) AS exact_count
FROM probe p LEFT JOIN cms c ON c.i = p.i AND c.j = p.j
GROUP BY p.token
"""


@query("docs_token_cms", _CMS_ORACLE)
def docs_token_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch over document tokens (4×256 counters, one
    partial-agg pass, mergeable by addition) probed for the exact
    top-20 tokens — est vs exact side by side. At 100 TB the sketch
    replaces the full distinct-token shuffle for frequency screening;
    estimates are never below truth (CMS guarantee, test-asserted)."""
    from vectorsearchutil_spark.functions.text import tokens_sql
    from vectorsearchutil_spark.operators.sketches import (
        cms_estimate,
        cms_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.selectExpr(f"explode({tokens_sql('text')}) AS token")
    cms = cms_table(toks, "token", d=4, w=256)
    exact = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    top = exact.orderBy(
        F.col("exact_count").desc(), F.col("token").asc()
    ).limit(20)
    est = cms_estimate(cms, top.select("token"), "token", d=4, w=256)
    return top.join(est, "token").select(
        "token", "est_count", F.col("exact_count").cast("long").alias("exact_count")
    )


def _zorder_inputs_sql() -> tuple[str, str]:
    # bucket-normalize both columns onto the 16-bit key domain with
    # integer math spelled identically in both engines (FLOOR, not
    # CAST — DuckDB casts round where Spark truncates). The scale
    # constants map the observed domains (user_id < 150, value < 500)
    # onto [0, 65535]; production derives them from percentile stats.
    a = "LEAST(GREATEST(user_id * 437, 0), 65535)"
    b = "LEAST(GREATEST(CAST(FLOOR(value * 133) AS BIGINT), 0), 65535)"
    return a, b


def _zorder_hist_sql() -> str:
    from vectorsearchutil_spark.functions.zorder import zorder_key_sql

    a, b = _zorder_inputs_sql()
    z = zorder_key_sql(a, b)
    return f"""
SELECT CAST({z} >> 26 AS INT) AS z_bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN({z}) AS z_min,
       MAX({z}) AS z_max
FROM events
GROUP BY 1
"""


@query("events_zorder_histogram", _zorder_hist_sql())
def events_zorder_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout keys over (user_id, value): bucket
    histogram of the interleaved 32-bit key. The key is closed-form
    bit arithmetic in whole-stage codegen (one narrow projection);
    laid out via zorder_by + per-file stats it makes range predicates
    on EITHER column prune files — the lakehouse multi-column layout
    (test-asserted: partition z-ranges are disjoint and narrow)."""
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events")
    return spark.sql(_zorder_hist_sql())


_HEAVY_HITTERS_ORACLE = """
WITH tok AS (
  SELECT unnest(list_filter(string_split(text, ' '), x -> x != ''))
    AS token
  FROM documents
),
tot AS (SELECT COUNT(*) AS n FROM tok)
SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
FROM tok, tot
GROUP BY token, tot.n
HAVING COUNT(*) >= 0.03 * tot.n
"""


@query("docs_heavy_tokens", _HEAVY_HITTERS_ORACLE)
def docs_heavy_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3%-heavy tokens via the two-pass plan: map-side local
    candidate generation (pigeonhole guarantees complete recall, zero
    shuffle), then exact counts for the broadcast candidate set only.
    The oracle is the naive GROUP BY + HAVING — the distributed plan
    is invisible in the result, while at 100 TB it never shuffles the
    full token multiset."""
    from vectorsearchutil_spark.functions.text import tokens_sql
    from vectorsearchutil_spark.operators.sketches import (
        heavy_hitters_exact,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.selectExpr(f"explode({tokens_sql('text')}) AS token")
    return heavy_hitters_exact(toks, "token", phi=0.03)


_SALTED_AGG_ORACLE = """
SELECT event_type,
       CAST(ROUND(SUM(value::DECIMAL(12,2)), 3) AS DOUBLE) AS sum_value,
       COUNT(*) AS n_rows
FROM events GROUP BY event_type ORDER BY event_type
"""


@query("events_type_stats_salted", _SALTED_AGG_ORACLE)
def events_type_stats_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant per-type sum/count: phase one aggregates on
    (event_type, salt) so a hot type spreads over 16 reducers, phase
    two merges partials. The oracle is the PLAIN group-by — salting
    must be invisible in the result (algebraic aggregates only)."""
    from vectorsearchutil_spark.functions.skew import salted_sum_count

    ev = load_table(spark, sf_dir, "events").withColumn(
        "value", F.col("value").cast("decimal(12,2)")
    )
    out = salted_sum_count(ev, ["event_type"], "value", buckets=16)
    return out.select(
        "event_type",
        F.round(F.col("sum_value"), 3).cast("double").alias("sum_value"),
        F.col("n_rows"),
    ).orderBy("event_type")


_HQUANT_ORACLE = """
WITH hist AS (
  SELECT LEAST(GREATEST(FLOOR(value / 3.90625), 0), 127)::INT AS bucket,
         COUNT(*) AS n
  FROM events GROUP BY 1
),
cum AS (
  SELECT bucket, n,
         SUM(n) OVER (ORDER BY bucket) AS cum,
         SUM(n) OVER (ORDER BY bucket) - n AS cum_before
  FROM hist
),
tot AS (SELECT COUNT(*) AS total FROM events),
probs AS (SELECT * FROM (VALUES (0.5), (0.9), (0.99)) t(p)),
hit AS (
  SELECT p.p, c.bucket, c.n, c.cum_before,
         CEIL(p.p * t.total) AS needed
  FROM probs p, tot t, cum c
  WHERE c.cum >= CEIL(p.p * t.total)
    AND c.cum_before < CEIL(p.p * t.total)
)
SELECT CAST(p AS DOUBLE) AS p,
       ROUND((bucket + (needed - cum_before) / n) * 3.90625, 4) AS est
FROM hit ORDER BY p
"""


@query("events_value_quantile_sketch", _HQUANT_ORACLE)
def events_value_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of events.value from a 128-bin histogram sketch:
    one partial-agg pass builds integer bin counts (mergeable by +,
    fixed size regardless of rows), then linear interpolation inside
    the rank-containing bin. The declared-semantics analog of
    approx_percentile — exact percentiles shuffle every value, the
    sketch shuffles 128 longs."""
    from vectorsearchutil_spark.operators.sketches import histogram_quantiles

    ev = load_table(spark, sf_dir, "events")
    return histogram_quantiles(
        ev, "value", lo=0.0, hi=500.0, bins=128, probs=(0.5, 0.9, 0.99)
    ).orderBy("p")


# --------------------------------------------------------------------------
# End-to-end training-data assembly: quality filter -> exact dedup ->
# eval decontamination -> context-window packing, as ONE composed plan
# with a full SQL oracle. The per-stage queries exist separately; this
# entry proves the stages compose (the thing a real corpus build runs).
# --------------------------------------------------------------------------

_E2E_PIPELINE_ORACLE = """
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), x -> x != '') AS toks
  FROM documents
),
sig AS (
  SELECT doc_id, text, toks,
         len(toks) AS n_tokens,
         list_aggregate(list_transform(toks, x -> CAST(length(x) AS DOUBLE)),
                        'sum') / len(toks) AS mean_tok_len,
         list_max(list_transform(toks, x -> length(x))) AS max_tok_len,
         len(list_distinct(toks)) * 1.0 / len(toks) AS uniq_ratio,
         len(list_filter(toks, x -> list_contains(
           ['the','a','of','and','to','is','in','on'], x)))
           * 1.0 / len(toks) AS stop_ratio
  FROM t
),
kept AS (
  SELECT doc_id, text, toks, n_tokens FROM sig
  WHERE NOT (n_tokens < 20 OR n_tokens > 100000
             OR mean_tok_len < 3.0 OR mean_tok_len > 10.0
             OR max_tok_len > 20 OR uniq_ratio < 0.2
             OR stop_ratio < 0.01)
),
canon AS (
  SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY md5(text)
),
clean AS (
  SELECT k.doc_id, k.toks, k.n_tokens
  FROM kept k JOIN canon c USING (doc_id)
),
sh0 AS (
  SELECT doc_id, toks AS tk,
         unnest(range(1, greatest(len(toks) - 3, 0) + 1)) AS i
  FROM t
),
sh AS (
  SELECT DISTINCT doc_id,
         tk[i] || '_' || tk[i+1] || '_' || tk[i+2] || '_' || tk[i+3]
              AS shingle
  FROM sh0
),
eval_sh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 50),
contaminated AS (
  SELECT DISTINCT s.doc_id FROM sh s
  JOIN eval_sh e ON s.shingle = e.shingle
  WHERE s.doc_id >= 50
),
survivors AS (
  SELECT c.doc_id, c.n_tokens FROM clean c
  WHERE c.doc_id >= 50
    AND NOT EXISTS (SELECT 1 FROM contaminated x WHERE x.doc_id = c.doc_id)
),
off AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS start_offset
  FROM survivors
)
SELECT doc_id,
       CAST(n_tokens AS INT) AS n_tokens,
       CAST(start_offset AS BIGINT) AS start_offset,
       CAST(start_offset // 256 AS INT) AS first_window,
       CAST((start_offset + n_tokens - 1) // 256 AS INT) AS last_window,
       CAST((start_offset + n_tokens - 1) // 256
            - start_offset // 256 + 1 AS INT) AS n_windows
FROM off
"""


@query("docs_assembly_pipeline", _E2E_PIPELINE_ORACLE)
def docs_assembly_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole corpus build in one composed plan: C4/Gopher quality
    filter -> exact dedup (min-id canonical per content hash) ->
    eval-set decontamination (docs sharing any 4-gram with the eval
    slice dropped) -> concat-and-cut packing into 256-token windows.

    Scale posture: the filter is one narrow projection; dedup
    shuffles 16-byte content hashes, not text; the eval shingle set
    broadcasts (benchmarks are tiny vs the corpus); packing shuffles
    only (id, count) pairs. Text crosses the wire zero times."""
    from vectorsearchutil_spark.operators.dedup import _shingle_table
    from vectorsearchutil_spark.operators.textanalysis import (
        filter_pipeline,
        pack_context_windows,
    )

    docs = load_table(spark, sf_dir, "documents")
    kept_ids = filter_pipeline(docs).filter("keep").select("doc_id")
    kept = docs.join(kept_ids, "doc_id")
    canon = (
        kept.groupBy(F.md5("text").alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    clean = kept.join(canon, "doc_id")
    sh = _shingle_table(docs, "text", "doc_id", 4, None)
    eval_sh = sh.filter(F.col("doc_id") < 50).select("shingle").distinct()
    contaminated = (
        sh.filter(F.col("doc_id") >= 50)
        .join(F.broadcast(eval_sh), "shingle")
        .select("doc_id")
        .distinct()
    )
    survivors = clean.filter(F.col("doc_id") >= 50).join(
        contaminated, "doc_id", "left_anti"
    )
    return pack_context_windows(survivors, capacity=256)


_BLOOM_JOIN_ORACLE = """
SELECT o.o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(o.o_totalprice::DECIMAL(12,2)), 2) AS DOUBLE)
         AS revenue
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
WHERE c.c_mktsegment = 'AUTOMOBILE'
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


@query("orders_bloom_prefilter_join", _BLOOM_JOIN_ORACLE)
def orders_bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom semi-join reduction: a filter sized from the AUTOMOBILE
    customer count (~10 bits/key, so it never saturates as sf grows —
    ADVICE r2) broadcasts to the orders scan, which drops non-matching
    rows BEFORE the join. The oracle is the PLAIN join — no false
    negatives means the reduction is invisible in the result. At
    100 TB this is the difference between shuffling the full fact
    table and shuffling the ~1/5 that can match."""
    from vectorsearchutil_spark.functions.bloom import bloom_prefiltered_join

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "AUTOMOBILE"
    ).select(F.col("c_custkey").alias("o_custkey"))
    joined = bloom_prefiltered_join(orders, cust, "o_custkey")
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(12,2)")), 2)
            .cast("double").alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Round 4: DSIR importance weighting, sub-document segment dedup,
# embedding outlier screening, token-entropy quality.
# --------------------------------------------------------------------------

_DSIR_ORACLE = """
WITH tok AS (
  SELECT doc_id, source = 'src0' AS is_t,
         unnest(list_filter(string_split(text, ' '), x -> x != ''))
           AS token
  FROM documents
),
b AS (
  SELECT doc_id, is_t,
         ('0x' || substr(md5('dsir:' || token), 1, 15))::BIGINT % 1024
           AS bucket
  FROM tok
),
models AS (
  SELECT bucket, COUNT(*) AS n_raw,
         SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS n_tgt
  FROM b GROUP BY bucket
),
tot AS (SELECT SUM(n_raw) AS t_raw, SUM(n_tgt) AS t_tgt FROM models),
ratio AS (
  SELECT bucket,
         ln((n_tgt + 1) / (t_tgt + 1024.0))
           - ln((n_raw + 1) / (t_raw + 1024.0)) AS lr
  FROM models, tot
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(AVG(lr), 4) AS dsir_weight
FROM b JOIN ratio USING (bucket)
GROUP BY doc_id
ORDER BY dsir_weight DESC, doc_id ASC
LIMIT 100
"""


@query("docs_dsir_sample", _DSIR_ORACLE)
def docs_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): hashed-unigram
    importance weights of every document against the src0 slice as
    the target distribution; top-100 most-target-like docs. The
    hashed feature space is fixed (1024 buckets) regardless of
    vocabulary, the model tables broadcast, and the per-doc mean is
    one partial-agg — the importance-resampling front door of a
    100 TB pretraining-mixture pipeline."""
    from vectorsearchutil_spark.operators.sampling import dsir_importance

    docs = load_table(spark, sf_dir, "documents")
    w = dsir_importance(docs, F.col("source") == "src0")
    return w.orderBy(
        F.col("dsir_weight").desc(), F.col("doc_id").asc()
    ).limit(100)


_SEGMENT_DEDUP_ORACLE = """
WITH toked AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x != '') AS toks
  FROM documents
),
idxs AS (
  SELECT doc_id, toks,
         unnest(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT)))
           AS idx
  FROM toked
),
segs AS (
  SELECT doc_id, idx,
         array_to_string(list_slice(toks, idx * 8 + 1, idx * 8 + 8),
                         ' ') AS seg
  FROM idxs
),
kept AS (
  SELECT doc_id, idx, seg,
         ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, idx)
           AS rn
  FROM segs
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       COALESCE(
         string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY idx),
         ''
       ) AS kept_text
FROM kept GROUP BY doc_id
"""


@query("docs_segment_dedup", _SEGMENT_DEDUP_ORACLE)
def docs_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style sub-document dedup: 8-token segments, every later
    occurrence of a corpus-repeated segment dropped (first = lowest
    (doc, idx)), survivors reassembled. One segment-valued shuffle +
    one per-doc reassembly shuffle; unsegmented text never moves."""
    from vectorsearchutil_spark.operators.dedup import segment_dedup

    docs = load_table(spark, sf_dir, "documents")
    return segment_dedup(docs, seg_tokens=8)


_EMB_OUTLIERS_ORACLE = """
WITH u AS (
  SELECT label, vec_id, embedding::DOUBLE[] AS v,
         unnest(range(1, len(embedding) + 1)) AS pos
  FROM embeddings
),
cent AS (
  SELECT label, pos, ROUND(AVG(v[pos]), 6) AS c
  FROM u GROUP BY label, pos
),
centarr AS (
  SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label
),
dist AS (
  SELECT e.vec_id, e.label,
         ROUND(sqrt(list_aggregate(
           list_transform(range(1, len(e.v) + 1),
                          i -> (e.v[i] - ca.cv[i]) ^ 2),
           'sum')), 6) AS dist
  FROM (SELECT vec_id, label, embedding::DOUBLE[] AS v
        FROM embeddings) e
  JOIN centarr ca USING (label)
),
stats AS (
  SELECT label, AVG(dist) AS mu, stddev_samp(dist) AS sd
  FROM dist GROUP BY label
)
SELECT d.vec_id, d.label, d.dist,
       ROUND((d.dist - s.mu) / s.sd, 3) AS z
FROM dist d JOIN stats s USING (label)
ORDER BY z DESC, d.vec_id ASC
LIMIT 20
"""


@query("embeddings_outliers", _EMB_OUTLIERS_ORACLE)
def embeddings_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding outliers (mislabel/contamination screen):
    L2 distance to the class centroid, z-scored within class, top 20.
    Centroids and class stats broadcast back — one corpus scan, two
    tiny aggregates, no vector ever shuffles whole."""
    from vectorsearchutil_spark.operators.embeddings import (
        centroid_outliers,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = centroid_outliers(emb)
    return out.orderBy(F.col("z").desc(), F.col("vec_id").asc()).limit(20)


_TOKEN_ENTROPY_ORACLE = """
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), x -> x != ''))
           AS token
  FROM documents
),
c AS (
  SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY doc_id, token
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       ROUND(log2(SUM(c)) - SUM(c * ln(c) / ln(2)) / SUM(c), 4)
         AS entropy_bits
FROM c GROUP BY doc_id
"""


@query("text_token_entropy", _TOKEN_ENTROPY_ORACLE)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity quality signal: per-doc Shannon entropy of
    the token distribution, in bits. Two partial-aggregated
    shuffles; per-doc state is its distinct-token count."""
    from vectorsearchutil_spark.operators.textanalysis import token_entropy

    docs = load_table(spark, sf_dir, "documents")
    return token_entropy(docs)


def _semdedup_oracle(threshold: float = 0.92) -> str:
    return (
        "WITH "
        + _kmeans_cte_chain(8, 3)
        + f""",
asg AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
         (SELECT c.cid FROM c3 c
          ORDER BY list_distance(e.embedding::DOUBLE[], c.cv) ASC,
                   c.cid ASC LIMIT 1) AS cluster
  FROM embeddings e
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM asg a JOIN asg b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= {threshold}
)
SELECT a.vec_id, a.cluster,
       a.vec_id NOT IN (SELECT vec_id FROM dropped) AS kept
FROM asg a
"""
    )


_TOKEN_BUDGET_ORACLE = """
WITH sized AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split(text, ' '), x -> x != ''))
              AS INT) AS n_tokens,
         ('0x' || substr(md5('tbudget:' || CAST(doc_id AS VARCHAR)),
          1, 8))::BIGINT / 4294967296.0 AS u
  FROM documents
),
budgets AS (
  SELECT * FROM (VALUES ('src0', 3000), ('src1', 2000), ('src2', 1000))
    AS t(source, _budget)
),
cum AS (
  SELECT s.doc_id, s.source, s.n_tokens, b._budget,
         SUM(s.n_tokens) OVER (
           PARTITION BY s.source
           ORDER BY ROUND(s.u, 12) ASC, s.doc_id ASC
           ROWS UNBOUNDED PRECEDING
         ) AS cum_tokens
  FROM sized s JOIN budgets b USING (source)
)
SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM cum WHERE cum_tokens <= _budget
"""


@query("docs_token_budget_mixture", _TOKEN_BUDGET_ORACLE)
def docs_token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture: src0/src1/src2 contribute docs (in
    deterministic hash order) until 3000/2000/1000 TOKENS — the unit
    pretraining mixtures are specified in; doc-count sampling
    over-weights short-doc sources. Scan reduces to (id, source, n)
    before the single window shuffle."""
    from vectorsearchutil_spark.operators.sampling import (
        token_budget_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    return token_budget_sample(
        docs, {"src0": 3000, "src1": 2000, "src2": 1000}
    )


_HARD_NEG_ORACLE = """
WITH a AS (
  SELECT vec_id AS anchor_id, label AS albl,
         embedding::DOUBLE[] AS av
  FROM embeddings WHERE vec_id < 10
),
pairs AS (
  SELECT a.anchor_id, e.vec_id,
         list_cosine_similarity(a.av, e.embedding::DOUBLE[]) AS cos
  FROM a JOIN embeddings e ON e.label <> a.albl
),
ranked AS (
  SELECT anchor_id, vec_id, cos,
         ROW_NUMBER() OVER (
           PARTITION BY anchor_id ORDER BY cos DESC, vec_id ASC
         ) AS rank
  FROM pairs
)
SELECT anchor_id, vec_id, ROUND(cos, 4) AS cosine,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""


@query("embeddings_hard_negatives", _HARD_NEG_ORACLE)
def embeddings_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor
    (ids 0-9), the 3 most-cosine-similar corpus vectors with a
    DIFFERENT label. Anchors broadcast onto one corpus scan; the
    per-anchor cut is WindowGroupLimit (k rows forwarded per task)."""
    from vectorsearchutil_spark.operators.similarity import (
        hard_negative_mining,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 10)
    return hard_negative_mining(emb, anchors, k=3)


@query("dedup_semantic", _semdedup_oracle(0.30))
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means clusters (the exact
    oracle-replayed Lloyd's fixture of ``kmeans_clusters``), then
    exact cosine ONLY within clusters — a vector is dropped when a
    lower-id cluster-mate is ≥0.30-similar (p99 of the within-cluster cosine mass on this corpus — a real drop set). The cluster step bounds
    the pair space to Σ n_c² (the paper's tractability trick); the
    within-cluster join is one equi-join on the cluster id."""
    from vectorsearchutil_spark.operators.similarity import semdedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semdedup(emb, k=8, iterations=3, threshold=0.30)


_LOGREG_ORACLE = """
WITH x AS (
  SELECT list_prepend(1.0, embedding::DOUBLE[]) AS x,
         CASE WHEN label = 0 THEN 1.0 ELSE 0.0 END AS y
  FROM embeddings
),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM x),
-- iter 1: w0 = 0 so z = 0 and s = 0.5 exactly
g1 AS (
  SELECT CAST(t.i AS INT) AS i,
         SUM(CAST(FLOOR(x[CAST(t.i AS INT)] * (0.5 - y)
                        * 1073741824.0) AS BIGINT)) AS q
  FROM x, range(1, 66) t(i) GROUP BY 1
),
w1 AS (
  SELECT list(wk ORDER BY i) AS w FROM (
    SELECT g1.i AS i,
           0.0 - 0.5 * ((g1.q / 1073741824.0) / n.n) AS wk
    FROM g1, n)
),
-- iter 2
r2 AS (
  SELECT x.x, x.y,
         0.5 * (1.0 + z / (1.0 + abs(z))) - x.y AS resid
  FROM (
    SELECT x.x, x.y,
           list_reduce(
             list_prepend(0.0, list_transform(range(1, 66),
               i -> x.x[CAST(i AS INT)] * w1.w[CAST(i AS INT)])),
             (a, b) -> a + b) AS z
    FROM x, w1) x
),
g2 AS (
  SELECT CAST(t.i AS INT) AS i,
         SUM(CAST(FLOOR(x[CAST(t.i AS INT)] * resid
                        * 1073741824.0) AS BIGINT)) AS q
  FROM r2, range(1, 66) t(i) GROUP BY 1
),
w2 AS (
  SELECT list(wk ORDER BY i) AS w FROM (
    SELECT g2.i AS i,
           w1.w[g2.i] - 0.5 * ((g2.q / 1073741824.0) / n.n) AS wk
    FROM g2, w1, n)
),
-- iter 3
r3 AS (
  SELECT x.x, x.y,
         0.5 * (1.0 + z / (1.0 + abs(z))) - x.y AS resid
  FROM (
    SELECT x.x, x.y,
           list_reduce(
             list_prepend(0.0, list_transform(range(1, 66),
               i -> x.x[CAST(i AS INT)] * w2.w[CAST(i AS INT)])),
             (a, b) -> a + b) AS z
    FROM x, w2) x
),
g3 AS (
  SELECT CAST(t.i AS INT) AS i,
         SUM(CAST(FLOOR(x[CAST(t.i AS INT)] * resid
                        * 1073741824.0) AS BIGINT)) AS q
  FROM r3, range(1, 66) t(i) GROUP BY 1
)
SELECT g3.i AS i,
       w2.w[g3.i] - 0.5 * ((g3.q / 1073741824.0) / n.n) AS weight
FROM g3, w2, n
"""


@query("embeddings_logreg_train", _LOGREG_ORACLE)
def embeddings_logreg_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed quality-classifier training: 3 full-batch GD
    iterations of a softsign-link logistic model over the embedding
    column (y = label 0 vs rest) — the fastText-style quality-filter
    trainer, but trained BY the cluster: per iteration one
    map-side-combinable aggregate ships d+1 gradient LONGS per
    partition; weights are the only driver state. Fixed-point
    gradient sums + an algebraic (exp-free) link make the trained
    weights bit-identical across engines and partitionings — the
    oracle replays all 3 iterations as unrolled CTEs
    (operators/mlops.py::logreg_train_fixed_point)."""
    from vectorsearchutil_spark.operators.mlops import (
        logreg_train_fixed_point,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    if emb.filter(F.col("embedding").isNotNull()).first() is None:
        # no (usable) training data: no model, no weights
        return local_frame(spark, [], "i int, weight double")
    data = emb.select(
        "embedding",
        F.when(F.col("label") == 0, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("y"),
    )
    return logreg_train_fixed_point(
        data, vec_col="embedding", y_col="y", iters=3, lr=0.5
    )


def _jl_oracle() -> str:
    """The JL oracle embeds the SAME literal ±1 matrix the Spark plan
    uses (driver-derived, md5-seeded — operators/embeddings.py::
    jl_signs), so the projection semantics are fully declared."""
    from vectorsearchutil_spark.operators.embeddings import jl_signs

    signs = jl_signs(64, 16, seed="jl")
    lit = (
        "["
        + ", ".join(
            "[" + ", ".join(f"{v}.0" for v in row) + "]" for row in signs
        )
        + "]"
    )
    return f"""
WITH s AS (SELECT {lit} AS sm),
x AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT x.vec_id, CAST(t.j AS INT) AS dim,
       list_reduce(list_prepend(0.0, list_transform(range(1, 65),
         i -> x.v[CAST(i AS INT)]
              * s.sm[CAST(t.j AS INT)][CAST(i AS INT)])),
         (a, b) -> a + b) / 4.0 AS value
FROM x, s, range(1, 17) t(j)
"""


@query("embeddings_random_projection", _jl_oracle())
def embeddings_random_projection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Johnson–Lindenstrauss 64→16 reduction with a deterministic
    md5-seeded ±1 matrix — the cheap pre-step that cuts every
    downstream ANN/clustering shuffle 4× while preserving pairwise
    distances within the JL bound. Long-form output (id, dim, value)
    hashes cross-engine without array stringification; per-coordinate
    sums fold input dims in a declared order so values are
    bit-identical (operators/embeddings.py::random_projection)."""
    from vectorsearchutil_spark.operators.embeddings import (
        random_projection,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return random_projection(emb, out_dim=16, seed="jl")


_UNIMAX_ORACLE = """
WITH sized AS (
  SELECT source,
         len(list_filter(string_split(text, ' '), x -> x != '')) AS n
  FROM documents
),
src AS (
  SELECT source, CAST(SUM(n) AS BIGINT) AS tokens,
         CAST(SUM(n) AS BIGINT) * 1 AS cap
  FROM sized GROUP BY source
),
a AS (
  SELECT source, tokens, cap,
         ROW_NUMBER() OVER (ORDER BY cap, source) AS k,
         COALESCE(SUM(cap) OVER (ORDER BY cap, source
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before,
         COUNT(*) OVER () AS m
  FROM src
),
f AS (
  SELECT *, cap * (m - k + 1) < 26000 - cum_before AS capped FROM a
),
c AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN capped THEN cap END), 0)
              AS BIGINT) AS capped_total,
         CAST(SUM(CASE WHEN capped THEN 0 ELSE 1 END) AS BIGINT)
           AS n_uncapped
  FROM f
)
SELECT f.source, f.tokens, f.cap,
       CASE WHEN f.capped THEN f.cap
            ELSE (26000 - c.capped_total)
                 // GREATEST(c.n_uncapped, 1) END AS alloc,
       ROUND((CASE WHEN f.capped THEN f.cap
              ELSE (26000 - c.capped_total)
                   // GREATEST(c.n_uncapped, 1) END)
             / f.tokens, 4) + 0.0 AS epochs_used
FROM f, c
"""


@query("docs_unimax_allocation", _UNIMAX_ORACLE)
def docs_unimax_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax mixture allocation (Chung et al. 2023): a 26k-token
    budget spread uniformly over sources with a 1-epoch cap —
    small sources saturate at their corpus size and the freed budget
    redistributes, closed-form (no iteration) via a rank window over
    ONE ROW PER SOURCE. The scan reduces to (source, token) partials;
    the selection itself is :func:`token_budget_sample` fed with the
    ``alloc`` column (driver-verified as docs_token_budget_mixture)."""
    from vectorsearchutil_spark.operators.sampling import (
        unimax_allocation,
    )

    docs = load_table(spark, sf_dir, "documents")
    return unimax_allocation(docs, budget=26000, max_epochs=1)


_DUP_SPANS_ORACLE = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x != '') AS t
  FROM documents
),
g0 AS (
  SELECT doc_id, CAST(u.p AS INT) AS p,
         (('0x' || substr(md5(array_to_string(
           t[CAST(u.p AS INT) + 1 : CAST(u.p AS INT) + 8], ' ')),
           1, 15))::BIGINT) AS h
  FROM t, unnest(range(0, GREATEST(len(t) - 7, 0))) u(p)
  WHERE len(t) >= 8
),
f AS (SELECT h FROM g0 GROUP BY h HAVING COUNT(*) <= 50),
g AS (SELECT g0.* FROM g0 JOIN f USING (h)),
m AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.p AS pa,
         a.p - b.p AS delta
  FROM g a JOIN g b USING (h) WHERE a.doc_id < b.doc_id
),
r AS (
  SELECT id_a, id_b, delta,
         pa - ROW_NUMBER() OVER (
           PARTITION BY id_a, id_b, delta ORDER BY pa) AS island
  FROM m
),
s AS (
  SELECT id_a, id_b, COUNT(*) + 7 AS span
  FROM r GROUP BY id_a, id_b, delta, island
)
SELECT id_a, id_b, CAST(MAX(span) AS INT) AS longest_span,
       CAST(COUNT(*) AS INT) AS n_spans
FROM s WHERE span >= 12 GROUP BY id_a, id_b
"""


@query("docs_duplicate_spans", _DUP_SPANS_ORACLE)
def docs_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest shared token span per document pair (exact-substring
    dedup at span granularity, Lee et al. 2022): positioned 8-gram
    anchors, stop-gram cap before the self-join, gaps-and-islands
    run reconstruction per (pair, offset-delta) — reports WHICH run
    of ≥12 tokens two docs share, the unit boilerplate scrubbing
    actually cuts (operators/dedup.py::duplicate_spans)."""
    from vectorsearchutil_spark.operators.dedup import duplicate_spans

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_spans(
        docs, width=8, min_span=12, max_df=50
    )


_WINSORIZE_ORACLE = """
WITH b AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       ROUND(LEAST(GREATEST(e.value, b.lo), b.hi), 6) + 0.0
         AS value_w,
       e.value < b.lo AS clipped_lo,
       e.value > b.hi AS clipped_hi
FROM events e JOIN b USING (event_type)
"""


@query("events_value_winsorized", _WINSORIZE_ORACLE)
def events_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (p05/p95-clipped) value column per event type — the
    robust-scaling step that keeps heavy-tail outliers from dominating
    downstream statistics. Exact interpolated percentiles via Spark's
    ``percentile`` aggregate (distributed counting state, merged — not
    a per-group sort; its state grows with per-group DISTINCT values,
    so at extreme cardinality the sketch path
    ``histogram_quantiles`` is the stand-in); the tiny per-type bound
    table broadcasts back onto the scan."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("lo"),
        F.expr("percentile(value, 0.95)").alias("hi"),
    )
    return ev.join(F.broadcast(bounds), "event_type").select(
        "event_id",
        "event_type",
        F.round(
            F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")),
            6,
        ).alias("value_w"),
        (F.col("value") < F.col("lo")).alias("clipped_lo"),
        (F.col("value") > F.col("hi")).alias("clipped_hi"),
    )


_BASKET_ORACLE = """
WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events
),
n AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n FROM events),
t AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t
  FROM ut GROUP BY event_type
),
p AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM ut a JOIN ut b USING (user_id)
  WHERE a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.n_ab,
       ROUND(p.n_ab / (n.n * 1.0), 6) + 0.0 AS support,
       ROUND((p.n_ab * n.n) / (ta.n_t * 1.0 * tb.n_t), 6) + 0.0
         AS lift
FROM p
JOIN t ta ON ta.event_type = p.type_a
JOIN t tb ON tb.event_type = p.type_b, n
"""


@query("events_basket_lift", _BASKET_ORACLE)
def events_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity over event types: for every type pair,
    the users exhibiting both, support, and lift
    n_ab·N / (n_a·n_b) — which behaviors co-occur beyond chance. The
    (user, type) distinct projection is the only full shuffle; the
    self-join fans out per user by their DISTINCT type count (small
    by construction — types, not events), and the tiny per-type
    marginals broadcast onto the pair aggregate."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    n_df = ev.agg(
        F.count_distinct("user_id").cast("long").alias("n")
    )
    t = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_t")
    )
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    return (
        pairs.join(
            F.broadcast(t.select(F.col("event_type").alias("type_a"),
                                 F.col("n_t").alias("_na"))),
            "type_a",
        )
        .join(
            F.broadcast(t.select(F.col("event_type").alias("type_b"),
                                 F.col("n_t").alias("_nb"))),
            "type_b",
        )
        .crossJoin(F.broadcast(n_df))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            F.round(F.col("n_ab") / (F.col("n") * F.lit(1.0)), 6)
            .alias("support"),
            F.round(
                (F.col("n_ab") * F.col("n"))
                / (F.col("_na") * F.lit(1.0) * F.col("_nb")),
                6,
            ).alias("lift"),
        )
    )


_CALIBRATED_ORACLE = """
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> x != '') AS t
  FROM documents
),
q AS (
  SELECT doc_id, source, len(t) AS n_tokens,
         ROUND(LEAST(1.0, len(t) / 100.0) *
               (1.0 - len(list_filter(t, x -> list_contains(
                 ['the','a','of','and','to','is','in','on'], x)))
                * 1.0 / len(t)), 4) AS quality
  FROM toks WHERE len(t) > 0
)
SELECT doc_id, source, quality,
       ROUND(PERCENT_RANK() OVER (PARTITION BY source
             ORDER BY quality), 6) + 0.0 AS pct_in_source,
       PERCENT_RANK() OVER (PARTITION BY source
             ORDER BY quality) >= 0.75 AS keep_top_quartile
FROM q
"""


@query("docs_calibrated_quality", _CALIBRATED_ORACLE)
def docs_calibrated_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-fair quality calibration: raw quality scores are not
    comparable across sources (a news corpus's median beats a web
    crawl's p90), so a single global threshold silently drops entire
    sources. Re-expressing each doc's quality as its PERCENTILE
    WITHIN ITS SOURCE makes one threshold (here: top quartile) take
    the same fraction from every source.

    Scale shape: percent_rank ties on quality (standard value
    semantics), so pct = count(quality' < q)/(n−1) computes from
    per-(source, quality) AGGREGATES — the window runs over ≤
    distinct-quality rows per source (quality rounds to 4dp → ≤ 10⁴),
    never raw docs; a naive per-source percent_rank window would sort
    a source's entire corpus in ONE task (the weighted-median
    lesson). The tiny pct table broadcasts back onto the scan."""
    from pyspark.sql import Window

    from vectorsearchutil_spark.operators.textanalysis import quality_score

    docs = load_table(spark, sf_dir, "documents")
    q = (
        quality_score(docs)
        .filter(F.col("n_tokens") > 0)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select(
            "doc_id", "source", F.col("quality_score").alias("quality")
        )
    )
    counts = q.groupBy("source", "quality").agg(
        F.count(F.lit(1)).alias("_c")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("quality")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tot = Window.partitionBy("source")
    n_src = F.sum("_c").over(tot)
    pct_tbl = counts.select(
        "source",
        "quality",
        # single-row sources: PERCENT_RANK is defined as 0 (and the
        # n−1 denominator would be 0) — match the SQL definition
        F.when(
            n_src > 1,
            F.coalesce(F.sum("_c").over(w), F.lit(0))
            / (n_src - F.lit(1)),
        )
        .otherwise(F.lit(0.0))
        .alias("_pct"),
    )
    return q.join(F.broadcast(pct_tbl), ["source", "quality"]).select(
        "doc_id",
        "source",
        "quality",
        F.round(F.col("_pct"), 6).alias("pct_in_source"),
        (F.col("_pct") >= 0.75).alias("keep_top_quartile"),
    )


_DRIFT_ORACLE = """
WITH a AS (
  SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 2 = 0
),
b AS (
  SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 2 = 1
),
ha AS (
  SELECT CAST(t.i AS INT) AS i,
         LEAST(GREATEST(CAST(FLOOR((v[CAST(t.i AS INT)] + 1.0) * 5.0)
               AS INT), 0), 9) AS bin,
         COUNT(*) AS c
  FROM a, range(1, 65) t(i) GROUP BY 1, 2
),
hb AS (
  SELECT CAST(t.i AS INT) AS i,
         LEAST(GREATEST(CAST(FLOOR((v[CAST(t.i AS INT)] + 1.0) * 5.0)
               AS INT), 0), 9) AS bin,
         COUNT(*) AS c
  FROM b, range(1, 65) t(i) GROUP BY 1, 2
),
na AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM a),
nb AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM b),
bins AS (
  SELECT CAST(t.i AS INT) AS i, CAST(u.b AS INT) AS bin
  FROM range(1, 65) t(i), range(0, 10) u(b)
),
j AS (
  SELECT bins.i, bins.bin,
         (COALESCE(ha.c, 0) + 0.5) / (na.n + 5.0) AS pa,
         (COALESCE(hb.c, 0) + 0.5) / (nb.n + 5.0) AS pb
  FROM bins
  LEFT JOIN ha ON ha.i = bins.i AND ha.bin = bins.bin
  LEFT JOIN hb ON hb.i = bins.i AND hb.bin = bins.bin, na, nb
)
SELECT i,
       ROUND(list_reduce(list_prepend(0.0,
         list(ROUND((pa - pb) * ln(pa / pb), 9) ORDER BY bin)),
         (x, y) -> x + y), 6) + 0.0 AS psi
FROM j GROUP BY i
"""


@query("embeddings_dim_drift_psi", _DRIFT_ORACLE)
def embeddings_dim_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension population-stability index between two corpus
    snapshots (even/odd vec_id halves as stand-ins) — the drift
    monitor run before retraining on a refreshed corpus: PSI =
    Σ_bins (p_A − p_B)·ln(p_A/p_B) over a fixed 10-bin [-1, 1)
    histogram, +0.5 Laplace smoothing so empty bins stay finite.
    Each half reduces to (dim, bin, count) partials (map-side
    combinable; vectors never shuffle); the 64×10 joined histogram is
    driver-trivial. Per-bin summands round to 9dp before a
    bin-ordered fold — the cross-engine determinism seam for the
    ln() term (libm vs JVM agree well inside 9dp)."""
    emb = load_table(spark, sf_dir, "embeddings")

    def hist(half):
        return (
            half.select(
                F.posexplode(
                    F.col("embedding").cast("array<double>")
                ).alias("pos", "x")
            )
            .filter(
                # non-finite components can't bin: floor(±Inf)
                # saturates to Long.MAX and overflows the INT cast
                # (round-6 value-materializing nan-inf sweep) — same
                # cannot-participate convention as finite_vector
                F.col("x").isNotNull()
                & ~F.isnan(F.col("x"))
                & (F.abs(F.col("x")) != F.lit(float("inf")))
            )
            .select(
                (F.col("pos") + 1).alias("i"),
                F.least(
                    F.greatest(
                        F.floor((F.col("x") + 1.0) * 5.0).cast("int"),
                        F.lit(0),
                    ),
                    F.lit(9),
                ).alias("bin"),
            )
            .groupBy("i", "bin")
            .agg(F.count(F.lit(1)).alias("c"))
        )
    a_half = emb.filter(F.col("vec_id") % 2 == 0)
    b_half = emb.filter(F.col("vec_id") % 2 == 1)
    ha, hb = hist(a_half), hist(b_half)
    na = a_half.agg(F.count(F.lit(1)).cast("double").alias("n_a"))
    nb = b_half.agg(F.count(F.lit(1)).cast("double").alias("n_b"))
    bins = (
        emb.sparkSession.range(1, 65)
        .select(F.col("id").cast("int").alias("i"))
        .crossJoin(
            emb.sparkSession.range(0, 10).select(
                F.col("id").cast("int").alias("bin")
            )
        )
    )
    j = (
        bins.join(ha.withColumnRenamed("c", "ca"), ["i", "bin"], "left")
        .join(hb.withColumnRenamed("c", "cb"), ["i", "bin"], "left")
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select(
            "i",
            "bin",
            ((F.coalesce(F.col("ca"), F.lit(0)) + 0.5)
             / (F.col("n_a") + 5.0)).alias("pa"),
            ((F.coalesce(F.col("cb"), F.lit(0)) + 0.5)
             / (F.col("n_b") + 5.0)).alias("pb"),
        )
    )
    summand = F.round(
        (F.col("pa") - F.col("pb")) * F.log(F.col("pa") / F.col("pb")), 9
    )
    return (
        j.groupBy("i")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("bin", summand.alias("s")))
                    ),
                    lambda e: e["s"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("_psi")
        )
        .select("i", F.round(F.col("_psi"), 6).alias("psi"))
    )


_PARETO_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x != '') AS t
  FROM documents
),
q AS (
  SELECT doc_id, len(t) AS n_tokens,
         ROUND(LEAST(1.0, len(t) / 100.0) *
               (1.0 - len(list_filter(t, x -> list_contains(
                 ['the','a','of','and','to','is','in','on'], x)))
                * 1.0 / len(t)), 4) AS quality
  FROM toks WHERE len(t) > 0
)
SELECT p.doc_id, p.n_tokens, p.quality
FROM q p
WHERE NOT EXISTS (
  SELECT 1 FROM q o
  WHERE o.n_tokens <= p.n_tokens AND o.quality >= p.quality
    AND (o.n_tokens < p.n_tokens OR o.quality > p.quality)
)
"""


@query("docs_pareto_frontier", _PARETO_ORACLE)
def docs_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents Pareto-optimal in (quality ↑, length ↓) — no doc is
    both shorter and better. The oracle is the textbook O(n²)
    NOT EXISTS skyline; the plan collapses dominance to a running-max
    sweep over per-length best-quality AGGREGATES (bounded by
    distinct lengths, not rows) and semi-joins survivors back
    (operators/skyline.py::pareto_frontier_2d)."""
    from vectorsearchutil_spark.operators.skyline import (
        pareto_frontier_2d,
    )
    from vectorsearchutil_spark.operators.textanalysis import quality_score

    docs = load_table(spark, sf_dir, "documents")
    q = (
        quality_score(docs)
        .filter(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            "n_tokens",
            F.col("quality_score").alias("quality"),
        )
    )
    return pareto_frontier_2d(q, maximize_col="quality", minimize_col="n_tokens")


_MAD_ORACLE = """
WITH r1 AS (
  SELECT event_type AS grp, value AS v, event_id,
         SUM(1.0) OVER (PARTITION BY event_type
                        ORDER BY value, event_id
                        ROWS UNBOUNDED PRECEDING) AS cum,
         COUNT(*) OVER (PARTITION BY event_type) AS tot
  FROM events
),
med AS (
  SELECT grp, MIN(v) AS med FROM r1
  WHERE cum >= tot / 2.0 GROUP BY grp
),
r2 AS (
  SELECT e.event_type AS grp, ABS(e.value - m.med) AS av, e.event_id,
         SUM(1.0) OVER (PARTITION BY e.event_type
                        ORDER BY ABS(e.value - m.med), e.event_id
                        ROWS UNBOUNDED PRECEDING) AS cum,
         COUNT(*) OVER (PARTITION BY e.event_type) AS tot
  FROM events e JOIN med m ON m.grp = e.event_type
),
mad AS (
  SELECT grp, MIN(av) AS mad FROM r2
  WHERE cum >= tot / 2.0 GROUP BY grp
)
SELECT e.event_id, e.event_type, e.value,
       FLOOR((0.6745 * (e.value - m.med) / d.mad) * 10000 + 0.5)
         / 10000.0 + 0.0 AS robust_z
FROM events e
JOIN med m ON m.grp = e.event_type
JOIN mad d ON d.grp = e.event_type
WHERE d.mad > 0
  AND ABS(0.6745 * (e.value - m.med) / d.mad) > 3.5
"""


@query("events_value_mad_outliers", _MAD_ORACLE)
def events_value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outliers via median absolute deviation: the
    modified z-score 0.6745·(v − median)/MAD flags |z| > 3.5
    (Iglewicz–Hoaglin) — unlike mean/stddev screens, the outliers
    themselves cannot drag the threshold. BOTH medians (value, then
    |v − median|) run as exact histogram refinement
    (sketches.py::weighted_median_exact with unit weights — never a
    per-group raw sort; the oracle is the naive window definition).

    The per-type median and MAD tables (≤ #types rows) are
    MATERIALIZED to literal relations between stages: left lazy,
    Spark re-executes the un-cached wme lineage once per consumer
    and the nested composition compounds to 36 scans of the raw
    relation in the optimized plan (scan-count audit, round 7);
    with the two bounded collects it is 7 scans and 2× faster at
    sf0.1. Same class as the repo's other bounded collects
    (k-centroid rows): rows ≤ group cardinality by construction."""
    from vectorsearchutil_spark.operators.sketches import (
        weighted_median_exact,
    )

    ev = load_table(spark, sf_dir, "events")
    # NOT cached: an r11 A/B of .cache() on this projection measured
    # parity (3.01 vs 2.95 s) — the cost is the refinement's job
    # count, not the narrow parquet re-scan, so the cache would only
    # add memory pressure at scale (guide §1: measure first)
    base = ev.select(
        "event_id",
        F.col("event_type").alias("grp"),
        F.col("value").alias("v"),
        F.lit(1.0).alias("w"),
    )
    med = local_frame(
        spark,
        weighted_median_exact(
            base, "grp", "v", "w", out_col="med"
        ).collect(),
        "grp string, med double",
    )
    with_med = base.join(F.broadcast(med), "grp").withColumn(
        "av", F.abs(F.col("v") - F.col("med"))
    )
    mad = local_frame(
        spark,
        weighted_median_exact(
            with_med.select("grp", F.col("av").alias("v"), "w"),
            "grp",
            "v",
            "w",
            out_col="mad",
        ).collect(),
        "grp string, mad double",
    )
    z = F.lit(0.6745) * (F.col("v") - F.col("med")) / F.col("mad")
    return (
        with_med.join(F.broadcast(mad), "grp")
        # a zero-MAD group (over half its values identical) has an
        # undefined modified z — declared: no outliers. Under ANSI
        # the bare division would RAISE, so the guard precedes it.
        .filter(F.col("mad") > 0)
        .filter(F.abs(z) > 3.5)
        .select(
            "event_id",
            F.col("grp").alias("event_type"),
            F.col("v").alias("value"),
            # floor(z·1e4 + 0.5)/1e4, NOT F.round: Spark rounds the
            # exact binary expansion (BigDecimal HALF_UP) while DuckDB
            # rounds the scaled double, so a quotient landing on a
            # .xxxx5 boundary flips the last digit between engines
            # (first seen at sf0.1: 3.8522 vs 3.8523). The floor form
            # is the same IEEE ops on both sides — bit-deterministic.
            (F.floor(z * 10000 + F.lit(0.5)) / 10000.0).alias(
                "robust_z"
            ),
        )
    )


_DIVERSITY_ORACLE = """
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> x != '') AS t
  FROM documents
),
tri AS (
  SELECT source,
         array_to_string(t[CAST(u.p AS INT) + 1 : CAST(u.p AS INT) + 3],
                         ' ') AS g
  FROM toks, unnest(range(0, GREATEST(len(t) - 2, 0))) u(p)
  WHERE len(t) >= 3
),
uni AS (
  SELECT source, CAST(u.p AS INT) AS p, t[CAST(u.p AS INT) + 1] AS w
  FROM toks, unnest(range(0, len(t))) u(p)
)
SELECT t.source,
       CAST(COUNT(*) AS BIGINT) AS n_trigrams,
       CAST(COUNT(DISTINCT t.g) AS BIGINT) AS d_trigrams,
       ROUND(COUNT(DISTINCT t.g) / (COUNT(*) * 1.0), 6) + 0.0
         AS trigram_ttr,
       ROUND(ANY_VALUE(u.d_uni) / (ANY_VALUE(u.n_uni) * 1.0), 6) + 0.0
         AS token_ttr
FROM tri t
JOIN (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_uni,
         CAST(COUNT(DISTINCT w) AS BIGINT) AS d_uni
  FROM uni GROUP BY source
) u ON u.source = t.source
GROUP BY t.source
"""


@query("docs_ngram_diversity", _DIVERSITY_ORACLE)
def docs_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n-gram diversity (type/token ratios at n=1 and
    n=3) — the repetitiveness audit that catches template-generated
    or self-repeating sources before they skew training. Exact
    distincts here (one shuffle of distinct grams); at 100 TB swap
    the COUNT(DISTINCT) for the mergeable HLL sketch
    (sketches.py::hll_distinct) — same query shape, fixed state."""
    docs = load_table(spark, sf_dir, "documents")
    from vectorsearchutil_spark.functions.text import tokens_sql

    toks = docs.selectExpr("source", f"{tokens_sql('text')} AS _t")
    tri = toks.filter(F.expr("size(_t) >= 3")).selectExpr(
        "source",
        """explode(transform(sequence(0, size(_t) - 3),
             p -> concat_ws(' ', slice(_t, p + 1, 3)))) AS g""",
    )
    uni = toks.selectExpr("source", "explode(_t) AS w")
    t_stats = tri.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_trigrams"),
        F.count_distinct("g").cast("long").alias("d_trigrams"),
    )
    u_stats = uni.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("_n_uni"),
        F.count_distinct("w").cast("long").alias("_d_uni"),
    )
    return (
        t_stats.join(u_stats, "source")
        .select(
            "source",
            "n_trigrams",
            "d_trigrams",
            F.round(
                F.col("d_trigrams") / (F.col("n_trigrams") * F.lit(1.0)),
                6,
            ).alias("trigram_ttr"),
            F.round(
                F.col("_d_uni") / (F.col("_n_uni") * F.lit(1.0)), 6
            ).alias("token_ttr"),
        )
    )


_TREND_ORACLE = """
WITH base AS (
  SELECT event_type AS g, epoch_us(ts) AS x, value AS y FROM events
),
a1 AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n, MIN(x) AS x0,
         CAST(SUM(CAST(FLOOR(y * 1048576.0) AS BIGINT)) AS BIGINT) AS qy
  FROM base GROUP BY g
),
a2 AS (
  SELECT b.g,
         CAST(SUM(CAST(FLOOR(CAST(b.x - a1.x0 AS DOUBLE)
           / 86400000000.0 * 1048576.0) AS BIGINT)) AS BIGINT) AS qx
  FROM base b JOIN a1 ON a1.g = b.g GROUP BY b.g
),
m AS (
  SELECT a1.g, a1.n, a1.x0,
         (a1.qy / 1048576.0) / a1.n AS my,
         (a2.qx / 1048576.0) / a1.n AS mx
  FROM a1 JOIN a2 ON a2.g = a1.g
),
a3 AS (
  SELECT b.g,
         CAST(SUM(CAST(FLOOR((CAST(b.x - m.x0 AS DOUBLE)
           / 86400000000.0 - m.mx) * (b.y - m.my) * 4096.0)
           AS BIGINT)) AS BIGINT) AS sxy,
         CAST(SUM(CAST(FLOOR((CAST(b.x - m.x0 AS DOUBLE)
           / 86400000000.0 - m.mx) * (CAST(b.x - m.x0 AS DOUBLE)
           / 86400000000.0 - m.mx) * 4096.0)
           AS BIGINT)) AS BIGINT) AS sxx,
         ANY_VALUE(m.n) AS n, ANY_VALUE(m.my) AS my,
         ANY_VALUE(m.mx) AS mx
  FROM base b JOIN m ON m.g = b.g GROUP BY b.g
)
SELECT g AS event_type, n,
       ROUND(CAST(sxy AS DOUBLE) / CAST(NULLIF(sxx, 0) AS DOUBLE), 6)
         + 0.0 AS slope_per_unit,
       ROUND(my - (CAST(sxy AS DOUBLE) / CAST(NULLIF(sxx, 0) AS DOUBLE))
             * mx, 6) + 0.0 AS intercept
FROM a3
"""


@query("events_trend_by_type", _TREND_ORACLE)
def events_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type least-squares trend of value over time (slope per
    day + intercept) — grouped regression as three narrow
    map-side-combinable passes with fixed-point long sums, so unlike
    float regr_slope() the result is bit-identical under any
    partitioning and replayable by the SQL oracle
    (operators/mlops.py::ols_trend_by_group)."""
    from vectorsearchutil_spark.operators.mlops import ols_trend_by_group

    ev = load_table(spark, sf_dir, "events")
    return ols_trend_by_group(
        ev.select(
            "event_type",
            epoch_micros(F.col("ts")).alias("x_us"),
            "value",
        ),
        group_col="event_type",
        x_col="x_us",
        y_col="value",
    )


_SEASONALITY_ORACLE = """
WITH b AS (
  SELECT event_type, dayofweek(ts) + 1 AS dow, hour(ts) AS hod, value
  FROM events
),
cell AS (
  SELECT event_type, dow, hod,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(value::DECIMAL(12,2)) AS DOUBLE) / COUNT(*) AS avg_raw
  FROM b GROUP BY 1, 2, 3
),
tot AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_tot
  FROM b GROUP BY 1
)
SELECT c.event_type, c.dow, c.hod, c.n,
       ROUND(c.avg_raw, 6) + 0.0 AS avg_value,
       ROUND(c.n * 168.0 / t.n_tot, 4) + 0.0 AS load_factor
FROM cell c JOIN tot t USING (event_type)
"""


@query("events_seasonality", _SEASONALITY_ORACLE)
def events_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality profile per event type: activity and mean
    value per (day-of-week, hour) cell, with a load factor normalized
    so 1.0 = uniform traffic (n·168/total) — the fingerprint behind
    anomaly baselines and capacity planning. One partial-aggregated
    pass to ≤ type×168 cells; the per-type totals broadcast back.
    AVG parity: the mean divides an exact DECIMAL(12,2) sum (cast to
    double) by the exact count — order-independent on every engine
    (exact-cents sweep, round 6)."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        F.dayofweek("ts").alias("dow"),
        F.hour("ts").alias("hod"),
        "value",
    )
    cell = b.groupBy("event_type", "dow", "hod").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("_avg"),
    )
    tot = b.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("_n_tot")
    )
    return cell.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "dow",
        "hod",
        "n",
        F.round(F.col("_avg"), 6).alias("avg_value"),
        F.round(F.col("n") * F.lit(168.0) / F.col("_n_tot"), 4).alias(
            "load_factor"
        ),
    )


_RUNNING_DISTINCT_ORACLE = """
WITH h AS (
  SELECT CAST(ts AS DATE) AS day,
         user_id,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
           AS hv
  FROM events
),
parts AS (SELECT day, hv & 255 AS bucket, hv >> 8 AS rem FROM h),
regs AS (
  SELECT day, bucket,
         MAX(CASE WHEN rem = 0 THEN 53
                  ELSE 52 - length(bin(rem)) + 1 END) AS mj
  FROM parts GROUP BY 1, 2
),
days AS (SELECT DISTINCT day FROM h),
grid AS (
  SELECT d.day, CAST(u.b AS BIGINT) AS bucket
  FROM days d, range(0, 256) u(b)
),
cum AS (
  SELECT g.day, g.bucket,
         MAX(r.mj) OVER (PARTITION BY g.bucket ORDER BY g.day
                         ROWS UNBOUNDED PRECEDING) AS mj
  FROM grid g
  LEFT JOIN regs r ON r.day = g.day AND r.bucket = g.bucket
),
folded AS (
  SELECT day, SUM(power(2.0, -mj)) AS hsum,
         COUNT(*) AS nonzero, 256 - COUNT(*) AS zeros
  FROM cum WHERE mj IS NOT NULL GROUP BY day
),
est AS (
  SELECT day, zeros,
         (0.7213 / (1 + 1.079 / 256)) * 256 * 256 / (hsum + zeros)
           AS raw
  FROM folded
),
fin AS (
  SELECT day,
         CASE WHEN raw <= 2.5 * 256 AND zeros > 0
              THEN 256.0 * ln(256.0 / zeros) ELSE raw END AS e
  FROM est
),
firsts AS (SELECT user_id, MIN(day) AS first_day FROM h GROUP BY 1),
newbie AS (
  SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS n_new
  FROM firsts GROUP BY 1
),
exact AS (
  SELECT d.day,
         CAST(SUM(nb.n_new) OVER (ORDER BY d.day
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS exact_distinct
  FROM days d LEFT JOIN newbie nb ON nb.day = d.day
)
SELECT f.day, ROUND(f.e, 2) + 0.0 AS est_distinct, x.exact_distinct
FROM fin f JOIN exact x USING (day)
"""


@query("events_running_distinct_hll", _RUNNING_DISTINCT_ORACLE)
def events_running_distinct_hll(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cumulative "users ever seen, by day" — exact running
    COUNT(DISTINCT) carries every seen value as state; HLL registers
    merge with max(), so the cumulative sketch is a running MAX over
    a day×256 grid (256 longs/day of state at any corpus size;
    sketches.py::hll_running_distinct). Joined against the exact
    cumulative count (computed scalably too: min-day per user +
    running sum of first-appearance counts) for visible error."""
    from pyspark.sql import Window

    from vectorsearchutil_spark.operators.sketches import (
        hll_running_distinct,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    est = hll_running_distinct(ev, "day", "user_id", b=8)
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    newbie = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("_n_new")
    )
    days = ev.select("day").distinct()
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    exact = (
        days.join(newbie, "day", "left")
        .withColumn(
            "exact_distinct",
            F.sum(F.coalesce(F.col("_n_new"), F.lit(0)))
            .over(w)
            .cast("long"),
        )
        .select("day", "exact_distinct")
    )
    return est.join(exact, "day").select(
        "day", "est_distinct", "exact_distinct"
    )


_OVERLAP_JOIN_ORACLE = """
WITH marked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
               OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
),
iv AS (
  SELECT user_id, sid, MIN(ts) AS s, MAX(ts) AS e
  FROM sess GROUP BY user_id, sid
),
inc AS (
  SELECT event_id AS incident_id,
         ts - INTERVAL 10 MINUTE AS s,
         ts + INTERVAL 10 MINUTE AS e
  FROM events WHERE event_type = 'error'
)
SELECT iv.user_id, CAST(iv.sid AS BIGINT) AS session_id,
       inc.incident_id,
       ROUND(epoch(LEAST(iv.e, inc.e)) - epoch(GREATEST(iv.s, inc.s)),
             3) + 0.0 AS overlap_s
FROM iv JOIN inc
  ON epoch(iv.s) < epoch(inc.e) AND epoch(inc.s) < epoch(iv.e)
"""


@query("events_incident_overlap_join", _OVERLAP_JOIN_ORACLE)
def events_incident_overlap_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Which user sessions overlapped an error-incident window (error
    ts ± 10 min) — an interval-overlap join, which Spark plans as a
    BroadcastNestedLoopJoin from the bare predicate (O(L·R), driver
    OOM once neither side broadcasts). The operator reduces it to a
    time-bucket HASH join with a canonical-bucket guard emitting each
    pair exactly once, no distinct shuffle
    (operators/intervals.py::interval_overlap_join; oracle is the
    naive predicate join)."""
    from vectorsearchutil_spark.operators.intervals import (
        interval_overlap_join,
        sessions_from_events,
    )

    ev = load_table(spark, sf_dir, "events")
    sessions = sessions_from_events(ev)
    incidents = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        (F.col("ts") - F.expr("INTERVAL 10 MINUTES")).alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("end_ts"),
    )
    joined = interval_overlap_join(
        sessions, incidents, bucket_s=3600
    )
    overlap = (
        epoch_seconds(F.least(F.col("end_ts"), F.col("r_end_ts")))
        - epoch_seconds(F.greatest(F.col("start_ts"), F.col("r_start_ts")))
    )
    return joined.select(
        "user_id",
        F.col("session_id").cast("long").alias("session_id"),
        "incident_id",
        F.round(overlap, 3).alias("overlap_s"),
    )


_IVF_FILTERED_ORACLE = f"""
WITH {_CENTROIDS_CTE},
assigned AS (
  SELECT e.vec_id, e.embedding, e.label, c.label AS centroid_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_distance(e.embedding::DOUBLE[], c.cvec) ASC,
                    c.label ASC
         ) AS rn
  FROM embeddings e CROSS JOIN centroids c
),
lists AS (
  SELECT vec_id, embedding, centroid_id FROM assigned
  WHERE rn = 1 AND label % 2 = 0
),
q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
),
probes AS (
  SELECT q.query_id, q.qv, c.label AS centroid_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.query_id
           ORDER BY list_distance(q.qv::DOUBLE[], c.cvec) ASC, c.label ASC
         ) AS rn
  FROM q CROSS JOIN centroids c
),
pr AS (SELECT query_id, qv, centroid_id FROM probes WHERE rn <= 3),
cand AS (
  SELECT p.query_id, l.vec_id,
         list_distance(l.embedding::DOUBLE[], p.qv::DOUBLE[]) AS d
  FROM lists l JOIN pr p ON l.centroid_id = p.centroid_id
),
ranked AS (
  SELECT query_id, vec_id, d,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY d ASC, vec_id ASC
         ) AS rank
  FROM cand
)
SELECT query_id, vec_id, ROUND(d, 4) AS distance, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


@query("ann_ivf_search_filtered", _IVF_FILTERED_ORACLE)
def ann_ivf_search_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN: metadata predicate (label % 2 = 0) applied to
    the probed lists BEFORE distance ranking — PRE-filter semantics,
    the correct filtered-vector-search contract (post-filtering a
    top-k under-returns when the predicate is selective). At scale
    the predicate rides the partition-pruned list scan — Catalyst
    pushes it to parquet alongside the centroid_id pruning, so the
    filter costs a row-group skip, not a rescan."""
    from vectorsearchutil_spark.operators.similarity import (
        build_ivf_index,
        ivf_search,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _label_centroids(spark, sf_dir).select(
        F.col("label_idx").alias("centroid_id"),
        F.col("label_vec").alias("centroid_vec"),
    ).cache()
    indexed = build_ivf_index(
        emb, cents, vector_col="embedding"
    ).filter(F.col("label") % 2 == 0)
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    out = ivf_search(
        indexed, cents, qs, k=5, n_probe=3,
        vector_col="embedding", id_col="vec_id",
    )
    return out.select(
        "query_id",
        "vec_id",
        F.round(F.col("distance"), 4).alias("distance"),
        F.col("rank").cast("int").alias("rank"),
    )


_BQ_ORACLE = """
WITH c AS (
  SELECT vec_id, embedding,
         list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 64),
           i -> CASE WHEN embedding[CAST(i AS INT) + 1] > 0
                THEN CASE WHEN i = 63 THEN (-9223372036854775807 - 1)
                     ELSE (1::BIGINT << CAST(i AS INT)) END
                ELSE 0::BIGINT END)),
           (a, b) -> a | b) AS code
  FROM embeddings
),
q AS (SELECT embedding AS qv, code AS qcode FROM c WHERE vec_id = 0),
h AS (
  SELECT c.vec_id, c.embedding, q.qv,
         CAST(bit_count(xor(c.code, q.qcode)) AS INT) AS hamming
  FROM c, q
),
cand AS (
  SELECT vec_id, embedding, qv, hamming FROM (
    SELECT h.*, ROW_NUMBER() OVER (ORDER BY hamming, vec_id) AS rn
    FROM h
  ) WHERE rn <= 40
)
SELECT vec_id, hamming,
       ROUND(list_distance(embedding::DOUBLE[], qv::DOUBLE[]), 4)
         AS distance,
       CAST(ROW_NUMBER() OVER (
         ORDER BY list_distance(embedding::DOUBLE[], qv::DOUBLE[]),
                  vec_id) AS INT) AS rank
FROM cand QUALIFY rank <= 10
"""


@query("knn_binary_rerank", _BQ_ORACLE)
def knn_binary_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized kNN: 1-bit sign codes (64 dims → ONE long,
    32× smaller than float32) prefilter by hamming distance
    (TakeOrdered top-40 — popcount on longs, no float math in the
    scan), then exact L2 reranks only the candidates. The modern
    memory-bandwidth-bound search mode: the first pass reads 8 bytes
    per vector, the exact pass touches 40 rows regardless of corpus
    size. Candidate count (4× k) trades recall for scan cost —
    declared, like n_probe."""
    from vectorsearchutil_spark.functions.vector import l2_distance

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()  # null rows have no code
    )
    coded = emb.selectExpr(
        "vec_id",
        "embedding",
        "aggregate(transform(sequence(0, 63),"
        " i -> IF(element_at(embedding, i + 1) > 0D,"
        " IF(i = 63, -9223372036854775807L - 1L, shiftleft(1L, i)),"
        " 0L)), 0L, (a, b) -> a | b) AS code",
    )
    qrow = coded.filter(F.col("vec_id") == 0).select(
        "embedding", "code"
    ).first()
    if qrow is None or qrow["embedding"] is None or qrow["code"] is None:
        # empty corpus / null payload: dummies never evaluate (the
        # null-vector rows are filtered out of the candidate scan)
        qv, qcode = [0.0], 0
    else:
        qv, qcode = list(qrow["embedding"]), int(qrow["code"])
    cand = (
        coded.withColumn(
            "hamming",
            F.bit_count(
                F.col("code").bitwiseXOR(F.lit(qcode))
            ).cast("int"),
        )
        .orderBy("hamming", "vec_id")
        .limit(40)
    )
    d = l2_distance(
        F.col("embedding"),
        F.array(*[F.lit(float(x)) for x in qv]),
    )
    from pyspark.sql import Window

    ranked = cand.withColumn("_d", d).withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.col("_d").asc(), F.col("vec_id").asc()))
        .cast("int"),
    )
    return ranked.filter(F.col("rank") <= 10).select(
        "vec_id",
        "hamming",
        F.round(F.col("_d"), 4).alias("distance"),
        "rank",
    )


_GOPHER_REP_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x != '') AS t
  FROM documents
),
base AS (SELECT doc_id, len(t) AS n_tokens FROM toks),
big AS (
  SELECT doc_id, 2.0 * MAX(c) / ANY_VALUE(n) AS f FROM (
    SELECT doc_id, len(t) AS n,
           t[CAST(u.p AS INT) + 1] || ' ' || t[CAST(u.p AS INT) + 2]
             AS g,
           COUNT(*) AS c
    FROM toks, unnest(range(0, GREATEST(len(t) - 1, 0))) u(p)
    WHERE len(t) >= 2
    GROUP BY doc_id, n, g
  ) GROUP BY doc_id
),
g5 AS (
  SELECT doc_id, len(t) AS n, CAST(u.p AS INT) AS p,
         array_to_string(t[CAST(u.p AS INT) + 1 : CAST(u.p AS INT) + 5],
                         ' ') AS g
  FROM toks, unnest(range(0, GREATEST(len(t) - 4, 0))) u(p)
  WHERE len(t) >= 5
),
dup AS (
  SELECT doc_id, n, p FROM (
    SELECT g5.*, COUNT(*) OVER (PARTITION BY doc_id, g) AS df FROM g5
  ) WHERE df >= 2
),
cov AS (
  SELECT doc_id,
         SUM(GREATEST(0, (p + 4)
             - GREATEST(COALESCE(pe, p - 1), p - 1))) AS c,
         ANY_VALUE(n) AS n
  FROM (
    SELECT doc_id, n, p,
           MAX(p + 4) OVER (PARTITION BY doc_id ORDER BY p
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
    FROM dup
  ) GROUP BY doc_id
)
SELECT b.doc_id, CAST(b.n_tokens AS INT) AS n_tokens,
       ROUND(COALESCE(big.f, 0), 6) + 0.0 AS top_2gram_frac,
       ROUND(COALESCE(cov.c * 1.0 / cov.n, 0), 6) + 0.0
         AS dup_5gram_frac
FROM base b
LEFT JOIN big USING (doc_id)
LEFT JOIN cov USING (doc_id)
"""


@query("text_gopher_repetition", _GOPHER_REP_ORACLE)
def text_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition family (Rae et al. 2021 §A1.1), token form:
    most-frequent-2-gram token fraction + duplicated-5-gram POSITION
    COVERAGE (interval union per doc — overlapping repeats counted
    once), the filters that catch one dominant template line and
    dense local loops. Per-doc windows only — parallel by the doc
    key (operators/textanalysis.py::gopher_repetition_signals)."""
    from vectorsearchutil_spark.operators.textanalysis import (
        gopher_repetition_signals,
    )

    docs = load_table(spark, sf_dir, "documents")
    return gopher_repetition_signals(docs)


_MINHASH_RECALL_ORACLE = """
WITH doctoks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
  FROM documents
),
sh0 AS (
  SELECT doc_id, toks,
         unnest(range(1, greatest(len(toks) - 2, 0) + 1)) AS i
  FROM doctoks
),
sh AS (
  SELECT DISTINCT doc_id,
         toks[i] || '_' || toks[i+1] || '_' || toks[i+2] AS shingle
  FROM sh0
),
hashed AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 12))::BIGINT AS h1,
         ('0x' || substr(md5(shingle), 17, 12))::BIGINT AS h2
  FROM sh
),
sig AS (
  SELECT doc_id, s.i, MIN(h1 + s.i * h2) AS h
  FROM hashed, range(0, 16) s(i)
  GROUP BY doc_id, s.i
),
bands AS (
  SELECT doc_id, i // 4 AS band_idx,
         md5(string_agg(h::VARCHAR, '|' ORDER BY i)) AS band_val
  FROM sig GROUP BY doc_id, i // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN sizes sa ON i.id_a = sa.doc_id
  JOIN sizes sb ON i.id_b = sb.doc_id
  WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= 0.8
),
found AS (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN cand c ON i.id_a = c.id_a AND i.id_b = c.id_b
  JOIN sizes sa ON i.id_a = sa.doc_id
  JOIN sizes sb ON i.id_b = sb.doc_id
  WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= 0.8
)
SELECT CAST(t.n AS BIGINT) AS n_true, CAST(f.n AS BIGINT) AS n_found,
       ROUND(f.n * 1.0 / NULLIF(t.n, 0), 4) + 0.0 AS recall
FROM (SELECT COUNT(*) AS n FROM truth) t,
     (SELECT COUNT(*) AS n FROM found) f
"""


@query("dedup_minhash_recall", _MINHASH_RECALL_ORACLE)
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured LSH retrieval quality: recall of the banded-MinHash
    near-dup path against the exact n-gram-Jaccard truth at the same
    threshold — the ann_ivf_recall analog for dedup (precision is 1
    by construction: LSH candidates are exact-verified). Re-runs the
    two registered pipelines verbatim and joins their counts; tune
    bands/rows until this says what your S-curve promised."""
    truth = dedup_ngram_jaccard(spark, sf_dir)
    found = dedup_minhash_lsh(spark, sf_dir)
    t = truth.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    f = found.agg(F.count(F.lit(1)).cast("long").alias("n_found"))
    return t.crossJoin(f).select(
        "n_true",
        "n_found",
        F.round(
            F.try_divide(
                F.col("n_found") * F.lit(1.0),
                F.nullif(F.col("n_true"), F.lit(0)),
            ),
            4,
        ).alias("recall"),
    )


_SCRUB_SPANS_ORACLE = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x != '') AS t
  FROM documents
),
g0 AS (
  SELECT doc_id, CAST(u.p AS INT) AS p,
         (('0x' || substr(md5(array_to_string(
           t[CAST(u.p AS INT) + 1 : CAST(u.p AS INT) + 8], ' ')),
           1, 15))::BIGINT) AS h
  FROM t, unnest(range(0, GREATEST(len(t) - 7, 0))) u(p)
  WHERE len(t) >= 8
),
f AS (SELECT h FROM g0 GROUP BY h HAVING COUNT(*) <= 50),
g AS (SELECT g0.* FROM g0 JOIN f USING (h)),
m AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, b.p AS pb,
         a.p - b.p AS delta
  FROM g a JOIN g b USING (h) WHERE a.doc_id < b.doc_id
),
r AS (
  SELECT id_a, id_b, delta, pb,
         pb - ROW_NUMBER() OVER (
           PARTITION BY id_a, id_b, delta ORDER BY pb) AS island
  FROM m
),
runs AS (
  SELECT id_b, MIN(pb) AS s, MAX(pb) + 7 AS e
  FROM r GROUP BY id_a, id_b, delta, island
  HAVING MAX(pb) + 7 - MIN(pb) + 1 >= 12
),
cut AS (
  SELECT id_b, GREATEST(s, COALESCE(pe + 1, s)) AS cf, e FROM (
    SELECT id_b, s, e,
           MAX(e) OVER (PARTITION BY id_b ORDER BY s
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
    FROM runs
  ) WHERE e >= GREATEST(s, COALESCE(pe + 1, s))
),
gone AS (
  SELECT id_b AS doc_id,
         list(CAST(u.x AS INT) ORDER BY CAST(u.x AS INT)) AS gone
  FROM cut, unnest(range(cf, e + 1)) u(x)
  GROUP BY id_b
)
SELECT d.doc_id,
       CASE WHEN gone.gone IS NULL THEN d.text
            ELSE COALESCE(array_to_string(list_filter(
              list_transform(range(0, len(t.t)),
                i -> CASE WHEN NOT list_contains(gone.gone,
                               CAST(i AS INT))
                     THEN t.t[CAST(i AS INT) + 1] END),
              x -> x IS NOT NULL), ' '), '') END AS text,
       CAST(COALESCE(len(gone.gone), 0) AS INT) AS n_removed_tokens
FROM documents d
JOIN t ON t.doc_id = d.doc_id
LEFT JOIN gone ON gone.doc_id = d.doc_id
"""


@query("docs_scrub_spans", _SCRUB_SPANS_ORACLE)
def docs_scrub_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scrub half of exact-substring dedup: every ≥12-token run
    two docs share (duplicate_spans, same anchors) is CUT from the
    higher-id doc — first-wins, the store's convention — overlapping
    runs removed once via the per-doc interval union, text rebuilt
    from surviving token positions
    (operators/dedup.py::scrub_duplicate_spans). Returns every doc,
    scrubbed or untouched, with its removed-token count."""
    from vectorsearchutil_spark.operators.dedup import (
        scrub_duplicate_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = scrub_duplicate_spans(
        docs, width=8, min_span=12, max_df=50
    )
    return out.select(
        "doc_id", "text", F.col("n_removed_tokens").cast("int")
        .alias("n_removed_tokens")
    )


_TIME_TO_CONVERT_ORACLE = """
WITH seq AS (
  SELECT user_id, event_id, ts,
         MAX(CASE WHEN event_type IN ('click', 'view')
                  THEN ts END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS last_touch_ts
  FROM events
),
conv AS (
  SELECT s.user_id,
         epoch(e.ts) - epoch(s.last_touch_ts) AS dt_s
  FROM seq s JOIN events e ON e.event_id = s.event_id
  WHERE e.event_type = 'purchase'
    AND s.last_touch_ts IS NOT NULL
    AND epoch(e.ts) - epoch(s.last_touch_ts) <= 3600
),
med AS (
  SELECT MIN(dt_s) AS m FROM (
    SELECT dt_s,
           SUM(1.0) OVER (ORDER BY dt_s, user_id
                          ROWS UNBOUNDED PRECEDING) AS cum,
           COUNT(*) OVER () AS tot
    FROM conv
  ) WHERE cum >= tot / 2.0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_conversions,
       ROUND(AVG(conv.dt_s), 3) + 0.0 AS mean_s,
       ROUND(ANY_VALUE(med.m), 3) + 0.0 AS median_s
FROM conv, med
"""


@query("events_time_to_convert", _TIME_TO_CONVERT_ORACLE)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Touch-to-purchase latency for ATTRIBUTED conversions — the
    funnel-speed KPI, composed from this engine's own pieces:
    last-touch attribution supplies (purchase, last_touch) pairs, the
    exact median comes from histogram refinement
    (weighted_median_exact with unit weights), never a global sort.
    One-row output: conversions, mean and exact median seconds."""
    from vectorsearchutil_spark.operators.sketches import (
        weighted_median_exact,
    )

    att = events_attribution(spark, sf_dir)
    conv = (
        att.filter(F.col("attribution") == "attributed")
        .join(
            load_table(spark, sf_dir, "events").select(
                F.col("event_id").alias("purchase_event_id"),
                F.col("ts").alias("_pts"),
            ),
            "purchase_event_id",
        )
        .select(
            "user_id",
            (
                epoch_seconds(F.col("_pts"))
                - epoch_seconds(F.col("last_touch_ts"))
            ).alias("dt_s"),
        )
    ).cache()  # the median refinement + stats = 4 consumers; without
    # the boundary each re-runs the attribution window (measured
    # 3.7 -> 1.3 s at sf0.1)
    med = weighted_median_exact(
        conv.select(
            F.lit(1).alias("g"), F.col("dt_s").alias("v"),
            F.lit(1.0).alias("w"),
        ),
        "g",
        "v",
        "w",
        out_col="m",
    )
    stats = conv.agg(
        F.count(F.lit(1)).cast("long").alias("n_conversions"),
        F.round(F.avg("dt_s"), 3).alias("mean_s"),
    )
    return stats.crossJoin(F.broadcast(med.select("m"))).select(
        "n_conversions",
        "mean_s",
        F.round(F.col("m"), 3).alias("median_s"),
    )


_WEIGHTED_QUANTILES_ORACLE = """
WITH r AS (
  SELECT l_returnflag AS grp, l_extendedprice AS v,
         SUM(l_quantity) OVER (PARTITION BY l_returnflag
                               ORDER BY l_extendedprice, l_orderkey,
                                        l_linenumber
                               ROWS UNBOUNDED PRECEDING) AS cum_w,
         SUM(l_quantity) OVER (PARTITION BY l_returnflag) AS tot_w
  FROM lineitem
)
SELECT grp, CAST(0.5 AS DOUBLE) AS q, MIN(v) AS weighted_quantile
FROM r WHERE cum_w >= tot_w * 0.5 GROUP BY grp
UNION ALL
SELECT grp, CAST(0.9 AS DOUBLE) AS q, MIN(v) AS weighted_quantile
FROM r WHERE cum_w >= tot_w * 0.9 GROUP BY grp
"""


@query("lineitem_weighted_quantiles", _WEIGHTED_QUANTILES_ORACLE)
def lineitem_weighted_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantity-weighted p50 AND p90 price per return flag — the
    generalized histogram refinement at two crossings (smallest v
    with W(≤v) ≥ q·W), still never sorting raw rows; the oracle is
    the naive running-weight definition at each q."""
    from vectorsearchutil_spark.operators.sketches import (
        weighted_median_exact,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_extendedprice").alias("v"),
        F.col("l_quantity").alias("w"),
    )
    out = None
    for q in (0.5, 0.9):
        one = weighted_median_exact(
            li, "grp", "v", "w", out_col="weighted_quantile", quantile=q
        ).select("grp", F.lit(float(q)).alias("q"), "weighted_quantile")
        out = one if out is None else out.unionByName(one)
    return out


_TFIDF_COSINE_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         (('0x' || substr(md5(u.t), 1, 15))::BIGINT) AS tok
  FROM (SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x != '') AS t
        FROM documents), unnest(t) u(t)
),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
w AS (
  SELECT tf.doc_id, tf.tok,
         ROUND(tf.tf * ln(n.n / dfq.df), 9) AS w
  FROM tf JOIN dfq USING (tok), n
  WHERE dfq.df <= 50
),
norms AS (
  SELECT doc_id,
         sqrt(list_reduce(list_prepend(0.0,
           list(w * w ORDER BY tok)), (a, b) -> a + b)) AS nrm
  FROM w GROUP BY doc_id
),
dot AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(SUM(CAST(FLOOR(a.w * b.w * 1073741824.0) AS BIGINT))
              AS BIGINT) AS dq
  FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d.id_a, d.id_b,
       ROUND((d.dq / 1073741824.0) / (na.nrm * nb.nrm), 6) + 0.0
         AS cosine
FROM dot d
JOIN norms na ON na.doc_id = d.id_a
JOIN norms nb ON nb.doc_id = d.id_b
WHERE ROUND((d.dq / 1073741824.0) / (na.nrm * nb.nrm), 6) >= 0.6
"""


@query("docs_tfidf_cosine_pairs", _TFIDF_COSINE_ORACLE)
def docs_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine near-dup pairs — the record-linkage
    scorer that survives token REORDERING (edit-distance and
    positional-anchor methods don't). Pure sparse relational algebra:
    df-capped postings, one token equi-join, fixed-point dot sums,
    token-sorted norm folds
    (operators/fuzzyjoin.py::tfidf_cosine_pairs)."""
    from vectorsearchutil_spark.operators.fuzzyjoin import (
        tfidf_cosine_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_cosine_pairs(docs, threshold=0.6, max_df=50)


_ABC_ORACLE = """
WITH rev AS (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey
),
tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS t FROM rev),
r AS (
  SELECT o_custkey, cents,
         CAST(SUM(cents) OVER (ORDER BY cents DESC, o_custkey
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM rev
)
SELECT r.o_custkey, r.cents AS revenue_cents,
       ROUND(r.cum * 1.0 / NULLIF(tot.t, 0), 6) + 0.0 AS cum_share,
       CASE WHEN r.cum * 100 <= tot.t * 80 THEN 'A'
            WHEN r.cum * 100 <= tot.t * 95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM r, tot
"""


@query("orders_abc_analysis", _ABC_ORACLE)
def orders_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto revenue classification: customers ranked by
    revenue, class A while cumulative share ≤ 80%, B ≤ 95%, C after.
    Exact integer cents end-to-end (order-free sums, exact threshold
    comparisons cum·100 ≤ t·80), and the cumulative runs TWO-LEVEL:
    per-revenue-bucket totals cumulate over the bucket histogram and
    rows finish with a within-bucket window keyed by the bucket —
    the token-budget discipline for cumulative-share reports, no
    global single-task sort."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").filter(
        _finite_or_null(F.col("o_totalprice"))
    )
    # ROUND before the long cast: Spark's cast truncates while
    # DuckDB's rounds, and 2-dp prices ×100 sit one ulp off integral
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("cents")
    )
    n_buckets = 4096
    stats = rev.agg(
        F.max("cents").alias("_mx"), F.sum("cents").alias("_t")
    )
    b = rev.crossJoin(F.broadcast(stats)).withColumn(
        "_b",
        F.least(
            F.floor(
                (F.col("_mx") - F.col("cents"))
                / F.greatest(F.col("_mx"), F.lit(1))
                * F.lit(n_buckets)
            ),
            F.lit(n_buckets - 1),
        ).cast("int"),
    )
    hist = b.groupBy("_b").agg(F.sum("cents").alias("_bt"))
    carry_w = Window.orderBy("_b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = hist.select(
        "_b",
        F.coalesce(F.sum("_bt").over(carry_w), F.lit(0)).alias("_carry"),
    )
    inner_w = (
        Window.partitionBy("_b")
        .orderBy(F.col("cents").desc(), F.col("o_custkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.col("_carry") + F.sum("cents").over(inner_w)
    return (
        b.join(F.broadcast(carry), "_b")
        .withColumn("_cum", cum)
        .select(
            "o_custkey",
            F.col("cents").alias("revenue_cents"),
            F.round(
                F.try_divide(F.col("_cum") * 1.0, F.col("_t")), 6
            ).alias("cum_share"),
            F.when(F.col("_cum") * 100 <= F.col("_t") * 80, "A")
            .when(F.col("_cum") * 100 <= F.col("_t") * 95, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )


_LTV_ORACLE = """
WITH cohorts AS (
  SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day FROM events
  GROUP BY 1
),
sized AS (
  SELECT c.cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_users
  FROM cohorts c GROUP BY 1
),
rev AS (
  SELECT c.cohort_day,
         datediff('day', c.cohort_day, CAST(e.ts AS DATE)) AS age_d,
         CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events e JOIN cohorts c USING (user_id)
  WHERE e.event_type = 'purchase'
    AND datediff('day', c.cohort_day, CAST(e.ts AS DATE)) <= 7
  GROUP BY 1, 2
),
grid AS (
  SELECT s.cohort_day, s.cohort_users, CAST(u.a AS INT) AS age_d
  FROM sized s, unnest(range(0, 8)) u(a)
)
SELECT g.cohort_day, g.age_d,
       ROUND(CAST(SUM(COALESCE(r.cents, 0)) OVER (
                PARTITION BY g.cohort_day ORDER BY g.age_d
                ROWS UNBOUNDED PRECEDING) AS BIGINT)
             / 100.0 / g.cohort_users, 4) + 0.0 AS cum_ltv
FROM grid g
LEFT JOIN rev r ON r.cohort_day = g.cohort_day AND r.age_d = g.age_d
"""


@query("events_cohort_ltv", _LTV_ORACLE)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: cumulative purchase revenue per user by
    cohort age (days 0-7) — the payback-period readout next to the
    retention triangle. Exact integer cents (order-free sums); the
    cumulative runs over the dense (cohort × 8 ages) GRID — per-day
    aggregates, never raw purchases — so the window input is 8 rows
    per cohort at any event volume."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    cohorts = e.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("cohort_day")
    )
    sized = cohorts.groupBy("cohort_day").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_users")
    )
    rev = (
        e.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(cohorts), "user_id")
        .withColumn(
            "age_d",
            F.datediff(F.col("ts").cast("date"), F.col("cohort_day")),
        )
        .filter(F.col("age_d") <= 7)
        .groupBy("cohort_day", "age_d")
        .agg(
            # finite guard: round(±Inf·100) overflows the ANSI
            # long cast (round-6 value-materializing nan-inf sweep)
            F.sum(
                F.when(
                    ~F.isnan(F.col("value"))
                    & (F.abs(F.col("value")) != F.lit(float("inf"))),
                    F.round(F.col("value") * 100, 0),
                ).cast("long")
            )
            .cast("long")
            .alias("cents")
        )
    )
    grid = sized.crossJoin(
        F.broadcast(
            e.sparkSession.range(0, 8).select(
                F.col("id").cast("int").alias("age_d")
            )
        )
    )
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("age_d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(rev, ["cohort_day", "age_d"], "left")
        .withColumn(
            "_cum",
            F.sum(F.coalesce(F.col("cents"), F.lit(0)))
            .over(w)
            .cast("long"),
        )
        .select(
            "cohort_day",
            "age_d",
            F.round(
                F.col("_cum") / 100.0 / F.col("cohort_users"), 4
            ).alias("cum_ltv"),
        )
    )


_JOINT_HIST_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x != '') AS t
  FROM documents
),
q AS (
  SELECT doc_id, len(t) AS n_tokens,
         ROUND(LEAST(1.0, len(t) / 100.0) *
               (1.0 - len(list_filter(t, x -> list_contains(
                 ['the','a','of','and','to','is','in','on'], x)))
                * 1.0 / len(t)), 4) AS quality
  FROM toks WHERE len(t) > 0
),
b AS (
  SELECT LEAST(CAST(n_tokens // 20 AS INT), 9) AS len_bin,
         LEAST(GREATEST(CAST(FLOOR(quality * 10) AS INT), 0), 9)
           AS q_bin
  FROM q
),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM b)
SELECT len_bin, q_bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(COUNT(*) / tot.n, 6) + 0.0 AS frac
FROM b, tot GROUP BY len_bin, q_bin, tot.n
"""


@query("docs_length_quality_histogram", _JOINT_HIST_ORACLE)
def docs_length_quality_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Joint (length, quality) 2-D histogram — the profiling readout
    curation thresholds are actually chosen from: a single global
    quality cut looks very different once you can SEE that short docs
    dominate the low-quality mass. ≤100 cells from one
    partial-aggregated pass; per-cell corpus fraction attached from a
    broadcast total."""
    from vectorsearchutil_spark.operators.textanalysis import quality_score

    docs = load_table(spark, sf_dir, "documents")
    q = quality_score(docs).filter(F.col("n_tokens") > 0)
    b = q.select(
        F.least(
            (F.col("n_tokens") / 20).cast("int"), F.lit(9)
        ).alias("len_bin"),
        F.least(
            F.greatest(
                F.floor(F.col("quality_score") * 10).cast("int"),
                F.lit(0),
            ),
            F.lit(9),
        ).alias("q_bin"),
    )
    cells = b.groupBy("len_bin", "q_bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    tot = b.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    return cells.crossJoin(F.broadcast(tot)).select(
        "len_bin",
        "q_bin",
        "n_docs",
        F.round(F.col("n_docs") / F.col("_n"), 6).alias("frac"),
    )


# --------------------------------------------------------------------------
# Environment-fingerprint canaries (VERDICT r6 "Next round" #2).
#
# Round 6 produced the first driver-red rows in three rounds
# (orders_yoy_growth / customer_rfm_scores / events_kaplan_meier) that
# were green in every local and judge re-run — an environment
# divergence, not a logic bug. The judge root-caused two of the three
# to session-timezone × parquet-timestamp-type freedom (now pinned in
# sources/readers.py:load_table); customer_rfm_scores did not
# reproduce in any of four configs and needs driver-side diagnostics.
# These two canaries make the driver's environment READABLE from the
# CORRECTNESS artifact itself:
#
#   * env_fingerprint (rows-only by design — the row count IS the
#     payload): rows = read_code*10_000 + jvm_tz_offset_min + 1440,
#     where read_code encodes how the host Spark maps the parquet
#     timestamp column (1=NTZ, 2=LTZ, 3=nanos-as-long w/ conf preset,
#     4=nanos data + conf was unset, 0=unknown) and the offset term
#     is the JVM default zone's raw UTC offset (the signal that
#     leaked into calendar functions before the load_table pin). The
#     single column's NAME encodes spark version / JVM zone id /
#     resolved session tz / python-duckdb version, readable from a
#     schema dump.
#   * env_fingerprint_duckdb (oracle-checked): both sides emit
#     N = major*10000 + minor*100 + patch rows of the constant 1,
#     Spark from the Python duckdb module, the oracle from DuckDB's
#     own version() — green iff the driver's Python duckdb matches
#     its oracle engine; on mismatch the artifact's spark_rows /
#     oracle_rows decode BOTH versions.


def _env_read_code(spark: SparkSession, sf_dir: str) -> int:
    """How does THIS session map the events timestamp column?"""
    try:
        raw = spark.read.parquet(f"{sf_dir}/events.parquet")
        ts_type = dict(raw.dtypes).get("ts", "missing")
        return {"timestamp_ntz": 1, "timestamp": 2, "bigint": 3}.get(ts_type, 0)
    except Exception:
        # TIMESTAMP(NANOS) data and nanosAsLong was not yet set on
        # this session: the scan itself throws. Set it and retry.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            spark.read.parquet(f"{sf_dir}/events.parquet").schema
            return 4
        except Exception:
            return 0


#: Expected-env oracle (VERDICT r7 "Next round" #4): the constant
#: column name spells the EXPECTED full environment label (spark
#: 4.1.2, JVM tz and resolved session tz in the UTC-alias family,
#: python-duckdb 1.0.0) and the row count the expected read fingerprint
#: (read_code 1 = parquet timestamps as NTZ, JVM UTC offset 0 →
#: 1·10000 + 0 + 1440 = 11440). Decode on red: rows mismatched →
#: spark_rows still decodes the driver's read mapping + tz offset
#: numerically; rows green + schema red → the numeric env matches but
#: one of the label's version/zone STRINGS differs (env_spark_version
#: then pins whether it is the Spark version).
_ENV_FP_ORACLE = """
SELECT 1 AS spark_4_1_2__jvmtz_UTC__sesstz_UTC__pyduckdb_1_0_0
FROM range(11440)
"""


#: zone-id spellings that all mean plain UTC — the label normalizes
#: through this set so an explicit ``session.timeZone=UTC`` and the
#: resolved vanilla default ``Etc/UTC`` fingerprint identically (the
#: NUMERIC offset term already catches any real divergence; the label
#: strings exist to compare versions and genuinely different zones)
_UTC_ALIASES = frozenset(
    {
        "UTC", "Etc/UTC", "GMT", "Etc/GMT", "GMT0", "Etc/GMT0",
        "Etc/GMT+0", "Etc/GMT-0", "Greenwich", "Etc/Greenwich",
        "Universal", "Etc/Universal", "Zulu", "Etc/Zulu", "Z",
        "+00:00",
    }
)


def _zone_label(zone_id: str) -> str:
    return "UTC" if zone_id in _UTC_ALIASES else zone_id


@query("env_fingerprint", _ENV_FP_ORACLE)
def env_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Environment canary — see the block comment above. Round 8
    gives it the expected-env oracle so it stops being a permanent
    ``no_oracle`` row: green certifies the driver env matches every
    fingerprinted assumption; red still decodes (VERDICT r7 #4)."""
    import re as _re

    read_code = _env_read_code(spark, sf_dir)
    try:
        tz = spark._jvm.java.util.TimeZone.getDefault()  # noqa: SLF001
        tz_id = _zone_label(str(tz.getID()))
        off_min = int(tz.getRawOffset()) // 60000
    except Exception:
        tz_id, off_min = "unavailable", 6120  # sentinel: +1440 = 7560
    try:
        # one-arg form: returns the RESOLVED default (e.g. Etc/UTC)
        # when unset. The two-arg form is unusable here — Spark 4
        # VALIDATES the fallback string as a timezone and throws on
        # any sentinel (found round 8; it made vanilla sessions read
        # as 'unreadable').
        sess_tz = _zone_label(
            spark.conf.get("spark.sql.session.timeZone") or "unset"
        )
    except Exception:
        sess_tz = "unreadable"
    try:
        import duckdb as _dk

        dver = _dk.__version__
    except Exception:
        dver = "absent"
    n = read_code * 10_000 + off_min + 1440
    label = _re.sub(
        r"[^A-Za-z0-9_]",
        "_",
        f"spark_{spark.version}__jvmtz_{tz_id}__sesstz_{sess_tz}__pyduckdb_{dver}",
    )
    return spark.range(n).select(F.lit(1).alias(label))


_DUCK_CANARY_ORACLE = r"""
SELECT 1 AS env_probe FROM range(
    CAST(regexp_extract(version(), '(\d+)\.(\d+)\.(\d+)', 1) AS INTEGER) * 10000
  + CAST(regexp_extract(version(), '(\d+)\.(\d+)\.(\d+)', 2) AS INTEGER) * 100
  + CAST(regexp_extract(version(), '(\d+)\.(\d+)\.(\d+)', 3) AS INTEGER)
)
"""


@query("env_fingerprint_duckdb", _DUCK_CANARY_ORACLE)
def env_fingerprint_duckdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB-version canary — see the block comment above."""
    import re as _re

    try:
        import duckdb as _dk

        m = _re.match(r"(\d+)\.(\d+)\.(\d+)", _dk.__version__)
        n = (
            int(m.group(1)) * 10000 + int(m.group(2)) * 100 + int(m.group(3))
            if m
            else 9999999
        )
    except Exception:
        n = 9999998
    return spark.range(n).select(F.lit(1).alias("env_probe"))


#: Spark-version canary (VERDICT r7 "Next round" #1a — THE remaining
#: unfingerprinted dimension): round 7 proved the driver env matches
#: the judge/builder environments in read mapping, JVM tz, session tz
#: resolution and DuckDB version, leaving "a driver Spark
#: version/build whose semantics differ" as one of exactly two live
#: hypotheses for the 3 sticky red rows. env_fingerprint encodes the
#: version only in its column NAME, which CORRECTNESS_r{N}.json does
#: not record — this canary moves it into the ROW COUNT, which the
#: artifact always records: rows = major·10000 + minor·100 + patch
#: (4.1.2 → 40102; unparsable → 9999997). Green = the driver runs the
#: engine version every local/judge experiment ran; red = spark_rows
#: IS the driver's version, readable straight from the artifact.
_SPARK_VERSION_ORACLE = """
SELECT 1 AS spark_probe FROM range(40102)
"""


@query("env_spark_version", _SPARK_VERSION_ORACLE)
def env_spark_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-decodable Spark-version canary — block comment above."""
    import re as _re

    m = _re.match(r"(\d+)\.(\d+)\.(\d+)", str(spark.version))
    n = (
        int(m.group(1)) * 10000 + int(m.group(2)) * 100 + int(m.group(3))
        if m
        else 9999997
    )
    return spark.range(n).select(F.lit(1).alias("spark_probe"))


# ==========================================================================
# ROUND-6 WAVE
# ==========================================================================

# --------------------------------------------------------------------------
# 1. Benchmark-contamination screen (per-doc 8-gram overlap RATIO —
#    complements docs_decontamination's hits-only shared count)
# --------------------------------------------------------------------------

_CONTAM_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS t
  FROM documents
),
sh0 AS (
  SELECT doc_id, t,
         unnest(range(1, greatest(len(t) - 7, 0) + 1)) AS i
  FROM toks
),
sh AS (
  SELECT DISTINCT doc_id,
         t[i] || '_' || t[i+1] || '_' || t[i+2] || '_' || t[i+3] || '_' ||
         t[i+4] || '_' || t[i+5] || '_' || t[i+6] || '_' || t[i+7]
           AS shingle
  FROM sh0
),
ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 50),
agg AS (
  SELECT s.doc_id,
         COUNT(*) AS n_grams,
         SUM(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END)
           AS n_contaminated
  FROM sh s LEFT JOIN ev e ON s.shingle = e.shingle
  WHERE s.doc_id >= 50
  GROUP BY s.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(a.n_grams, 0) AS INT) AS n_grams,
       CAST(COALESCE(a.n_contaminated, 0) AS INT) AS n_contaminated,
       floor(COALESCE(CAST(a.n_contaminated AS DOUBLE)
                      / CAST(a.n_grams AS DOUBLE), 0.0)
             * 1000000.0 + 0.5) / 1000000.0 AS contamination_ratio
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
WHERE d.doc_id >= 50
"""


@query("docs_benchmark_contamination", _CONTAM_ORACLE)
def docs_benchmark_contamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-training-doc benchmark contamination ratio: the fraction
    of each train doc's (doc_id ≥ 50) distinct 8-gram shingles that
    appear anywhere in the held-out slice (doc_id < 50) — the
    quantity decontamination pipelines threshold on. EVERY train doc
    is emitted (ratio 0.0 when clean or sub-8-token)."""
    from vectorsearchutil_spark.operators.textanalysis import (
        benchmark_contamination,
    )

    docs = load_table(spark, sf_dir, "documents")
    return benchmark_contamination(
        docs.filter(F.col("doc_id") >= 50),
        docs.filter(F.col("doc_id") < 50),
        n=8,
    )


# --------------------------------------------------------------------------
# 2. Quality-aware duplicate survivor (keep BEST, not first)
# --------------------------------------------------------------------------


def _keep_best_oracle() -> str:
    return f"""
WITH RECURSIVE {_CC_EDGES_CTE},
members AS (
  SELECT c.doc_id, c.component, d.n_chars
  FROM comp c JOIN documents d ON c.doc_id = d.doc_id
),
best AS (
  SELECT component, doc_id AS keep_id FROM (
    SELECT component, doc_id,
           row_number() OVER (
             PARTITION BY component
             ORDER BY n_chars DESC, doc_id ASC
           ) AS rn
    FROM members
  ) WHERE rn = 1
),
losers AS (
  SELECT m.doc_id
  FROM members m JOIN best b ON m.component = b.component
  WHERE m.doc_id != b.keep_id
)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
"""


@query("dedup_keep_best", _keep_best_oracle())
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduped corpus keeping the LONGEST member of each near-dup
    cluster (3-gram Jaccard ≥ 0.8 → connected components → argmax
    n_chars, ties min doc_id) — the production survivor rule, vs
    ``dedup_canonical_docs``' min-id rule."""
    from vectorsearchutil_spark.operators import dedup as _dd

    docs = load_table(spark, sf_dir, "documents")
    pairs = _dd.ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    return _dd.keep_best_representative(
        docs.select("doc_id", "lang", "n_chars"), pairs, "n_chars"
    )


# --------------------------------------------------------------------------
# 3. Tokenizer-aware truncation loss at candidate context lengths
# --------------------------------------------------------------------------

_TRUNC_ORACLE = """
WITH cnt AS (
  SELECT doc_id,
         len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+|[^a-z0-9 ]+'))
           AS n_tok
  FROM documents
),
x AS (
  SELECT doc_id, n_tok, unnest([16, 32, 64]) AS ctx_len FROM cnt
)
SELECT CAST(ctx_len AS INT) AS ctx_len,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_tok > ctx_len THEN 1 ELSE 0 END) AS BIGINT)
         AS n_truncated,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN n_tok > ctx_len THEN n_tok - ctx_len
                     ELSE 0 END) AS BIGINT) AS lost_tokens,
       floor(COALESCE(CAST(SUM(CASE WHEN n_tok > ctx_len
                                    THEN n_tok - ctx_len
                                    ELSE 0 END) AS DOUBLE)
                      / CAST(NULLIF(SUM(n_tok), 0) AS DOUBLE), 0.0)
             * 1000000.0 + 0.5) / 1000000.0 AS lost_frac
FROM x GROUP BY ctx_len
"""


@query("docs_truncation_stats", _TRUNC_ORACLE)
def docs_truncation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide truncation loss if trained at context lengths
    {16, 32, 64} BPE-ish tokens: docs truncated, tokens lost, lost
    fraction — the sizing pass before choosing a packing length."""
    from vectorsearchutil_spark.operators.textanalysis import (
        truncation_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    return truncation_stats(docs, [16, 32, 64])


# --------------------------------------------------------------------------
# 4. t-digest-lite: mergeable equi-depth centroid sketch quantiles
# --------------------------------------------------------------------------

_TDIGEST_ORACLE = """
WITH rows0 AS (
  SELECT CAST(event_id AS BIGINT) AS id, value::DOUBLE AS v
  FROM events
  WHERE value IS NOT NULL AND isfinite(value)
),
rows1 AS (
  SELECT id, v,
         CAST(floor(v * 1000000.0 + 0.5) AS BIGINT) AS v_fp,
         CAST(('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))::BIGINT
              % 32 AS INT) AS bucket
  FROM rows0
),
ranked AS (
  SELECT bucket, v_fp,
         row_number() OVER (PARTITION BY bucket ORDER BY v, id) AS rk,
         COUNT(*) OVER (PARTITION BY bucket) AS bn
  FROM rows1
),
cents AS (
  SELECT bucket,
         CAST(floor((rk - 1) * 64 / bn) AS INT) AS slice,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v_fp) AS BIGINT) AS sum_fp
  FROM ranked GROUP BY bucket, slice
),
cum AS (
  SELECT bucket, slice, n,
         (CAST(sum_fp AS DOUBLE) / CAST(n AS DOUBLE)) / 1000000.0
           AS mean,
         SUM(n) OVER (
           ORDER BY (CAST(sum_fp AS DOUBLE) / CAST(n AS DOUBLE))
                    / 1000000.0, bucket, slice
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum
  FROM cents
),
tot AS (SELECT SUM(n) AS total_n FROM cents),
qs AS (SELECT unnest(CAST([0.1, 0.5, 0.9, 0.99] AS DOUBLE[])) AS q)
SELECT q,
       floor(arg_min(mean, cum) * 10000.0 + 0.5) / 10000.0 AS est
FROM cum, tot, qs
WHERE cum >= greatest(1, ceil(q * CAST(total_n AS DOUBLE)))
GROUP BY q
"""


@query("events_value_tdigest", _TDIGEST_ORACLE)
def events_value_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p10/p50/p90/p99 of event value from the t-digest-lite sketch
    (32 buckets × 64 centroids of fixed-point mergeable state) — the
    constant-size complement to the exact histogram-refinement
    quantile family."""
    from vectorsearchutil_spark.operators.sketches import (
        tdigest_centroids,
        tdigest_quantiles,
    )

    e = load_table(spark, sf_dir, "events")
    cents = tdigest_centroids(
        e, "value", "event_id", n_buckets=32, n_centroids=64
    )
    return tdigest_quantiles(cents, [0.1, 0.5, 0.9, 0.99])


# --------------------------------------------------------------------------
# 5. Cross-encoder rerank over a first-stage kNN shortlist
# --------------------------------------------------------------------------

_CE_RERANK_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 3
),
c AS (
  SELECT vec_id, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id >= 3
),
scored AS (
  SELECT q.query_id, c.vec_id,
         floor(list_cosine_similarity(c.cv, q.qv) * 1000000.0 + 0.5)
           / 1000000.0 AS s,
         row_number() OVER (
           PARTITION BY q.query_id
           ORDER BY list_cosine_similarity(c.cv, q.qv) DESC,
                    c.vec_id ASC
         ) AS rn
  FROM q, c
),
short AS (SELECT query_id, vec_id, s FROM scored WHERE rn <= 20),
ce AS (
  SELECT query_id, vec_id,
         floor((0.8 * s + 0.2 *
                (('0x' || substr(md5('ce:' || query_id || ':' || vec_id),
                                 1, 8))::BIGINT / 4294967296.0))
               * 1000000.0 + 0.5) / 1000000.0 AS ce_score
  FROM short
)
SELECT query_id, vec_id, ce_score, CAST(rank AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY ce_score DESC, vec_id ASC
  ) AS rank FROM ce
) WHERE rank <= 5
"""


@query("knn_crossencoder_rerank", _CE_RERANK_ORACLE)
def knn_crossencoder_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: brute-force cosine top-20 shortlist per
    query (vec_id < 3 as queries, rest as corpus), then the stub
    cross-encoder (0.8·cosine + 0.2·md5-pair-uniform) reranks to
    top-5 via grouped-Arrow ``applyInPandas`` — the
    retrieve-then-rerank stack with deterministic, oracle-checkable
    scores. First-stage scores floor-round to 6dp on BOTH sides
    before blending, so engine cosine ulps cannot leak into the
    blend."""
    from pyspark.sql import Window

    from vectorsearchutil_spark.functions.vector import (
        cosine_similarity,
        round_half_up,
    )
    from vectorsearchutil_spark.operators.reranker import rerank_shortlist

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.filter(F.col("vec_id") >= 3).select(
        "vec_id", F.col("embedding").alias("cv")
    )
    cos = cosine_similarity("cv", "qv")
    w = Window.partitionBy("query_id").orderBy(
        cos.desc(), F.col("vec_id").asc()
    )
    short = (
        c.crossJoin(F.broadcast(q))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select(
            "query_id",
            "vec_id",
            round_half_up(cos, 6).alias("score"),
        )
    )
    return rerank_shortlist(short, k=5, id_col="vec_id")


# --------------------------------------------------------------------------
# 6. Shuffle-key skew diagnostic
# --------------------------------------------------------------------------

_SKEW_ORACLE = """
WITH counts AS (
  SELECT COALESCE(CAST(event_type AS VARCHAR), '<null>') AS key,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM events GROUP BY 1
),
tot AS (SELECT SUM(n_rows) AS total FROM counts)
SELECT key, n_rows,
       floor(CAST(n_rows AS DOUBLE) / total * 1000000.0 + 0.5)
         / 1000000.0 AS share,
       CAST(greatest(1, ceil(CAST(n_rows AS DOUBLE) / total / 0.02))
            AS INT) AS suggested_salt
FROM counts, tot
ORDER BY n_rows DESC, key ASC
LIMIT 10
"""


@query("events_skew_report", _SKEW_ORACLE)
def events_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type row share + the salt factor that would flatten
    each hot key to ≤2% of the shuffle — the measurement before
    salted aggregation / AQE skew hints."""
    from vectorsearchutil_spark.functions.skew import skew_report

    e = load_table(spark, sf_dir, "events")
    return skew_report(e, "event_type", top_n=10, target_share=0.02)


# --------------------------------------------------------------------------
# 7. Containment near-dup pairs (short-doc-inside-long-doc)
# --------------------------------------------------------------------------

_CONTAINMENT_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS t
  FROM documents
),
sh0 AS (
  SELECT doc_id, t,
         unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i
  FROM toks
),
sh AS (
  SELECT DISTINCT doc_id,
         t[i] || '_' || t[i+1] || '_' || t[i+2] AS shingle
  FROM sh0
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       floor(CAST(i.inter AS DOUBLE)
             / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS containment
FROM inter i
JOIN sizes sa ON i.id_a = sa.doc_id
JOIN sizes sb ON i.id_b = sb.doc_id
WHERE i.inter >= ceil(CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) * 0.9)
"""


@query("docs_containment_pairs", _CONTAINMENT_ORACLE)
def docs_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: pairs where ≥90% of the SMALLER doc's
    3-gram shingles appear in the larger one — quoting / boilerplate
    inclusion that Jaccard misses. Prefix-filtered inverted index
    (smaller side probes, larger side indexes in full)."""
    from vectorsearchutil_spark.operators.dedup import containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(docs, n=3, threshold=0.9)


# --------------------------------------------------------------------------
# 8. ANN hubness diagnostic (k-occurrence distribution)
# --------------------------------------------------------------------------

_HUBNESS_ORACLE = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
vv AS (
  -- the operator's participation contract: NULL / non-finite /
  -- zero-norm vectors neither query nor get counted
  SELECT vec_id, e FROM v
  WHERE e IS NOT NULL
    AND len(list_filter(e, x -> x IS NULL OR NOT isfinite(x))) = 0
    AND list_dot_product(e, e) > 0
),
nn AS (
  SELECT a.vec_id AS qid, b.vec_id AS nid,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY list_cosine_similarity(b.e, a.e) DESC, b.vec_id ASC
         ) AS rk
  FROM vv a JOIN vv b ON a.vec_id != b.vec_id
),
occ AS (SELECT nid, COUNT(*) AS n FROM nn WHERE rk <= 10 GROUP BY nid)
SELECT v.vec_id, CAST(COALESCE(occ.n, 0) AS INT) AS k_occurrence
FROM v LEFT JOIN occ ON v.vec_id = occ.nid
"""


@query("embeddings_hubness", _HUBNESS_ORACLE)
def embeddings_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-occurrence (k=10, cosine) of every embedding: how many other
    points count it among their 10 nearest — the hubness skew check
    run before trusting ANN recall."""
    from vectorsearchutil_spark.operators.knn import knn_hubness

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_hubness(
        emb, k=10, vector_col="embedding", id_col="vec_id", metric="cosine"
    )


# --------------------------------------------------------------------------
# 9. Referential-integrity audit over the declared FK edges
# --------------------------------------------------------------------------


def _fk_edge_sql(name: str, child: str, ckey: str, parent: str, pkey: str) -> str:
    return f"""
SELECT '{name}' AS edge,
       CAST((SELECT COUNT(*) FROM {child}) AS BIGINT) AS n_children,
       CAST((SELECT COUNT(DISTINCT {ckey}) FROM {child}
             WHERE {ckey} IS NOT NULL) AS BIGINT) AS n_distinct_keys,
       CAST(COALESCE((
         SELECT SUM(n) FROM (
           SELECT k.{ckey}, COUNT(*) AS n FROM {child} k
           WHERE k.{ckey} IS NOT NULL GROUP BY 1
         ) kk LEFT JOIN {parent} p ON kk.{ckey} = p.{pkey}
         WHERE p.{pkey} IS NULL), 0) AS BIGINT) AS n_orphan_rows,
       CAST(COALESCE((
         SELECT COUNT(*) FROM (
           SELECT DISTINCT {ckey} FROM {child} WHERE {ckey} IS NOT NULL
         ) kk LEFT JOIN {parent} p ON kk.{ckey} = p.{pkey}
         WHERE p.{pkey} IS NULL), 0) AS BIGINT) AS n_orphan_keys,
       floor(COALESCE(CAST((
         SELECT SUM(n) FROM (
           SELECT k.{ckey}, COUNT(*) AS n FROM {child} k
           WHERE k.{ckey} IS NOT NULL GROUP BY 1
         ) kk LEFT JOIN {parent} p ON kk.{ckey} = p.{pkey}
         WHERE p.{pkey} IS NULL) AS DOUBLE)
         / CAST((SELECT COUNT(*) FROM {child}) AS DOUBLE), 0.0)
         * 1000000.0 + 0.5) / 1000000.0 AS orphan_rate
"""


_FK_ORACLE = " UNION ALL ".join(
    _fk_edge_sql(*e)
    for e in [
        ("lineitem->orders", "lineitem", "l_orderkey", "orders",
         "o_orderkey"),
        ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem->supplier", "lineitem", "l_suppkey", "supplier",
         "s_suppkey"),
        ("orders->customer", "orders", "o_custkey", "customer",
         "c_custkey"),
        ("events->customer", "events", "user_id", "customer",
         "c_custkey"),
    ]
)


@query("tpch_fk_integrity", _FK_ORACLE)
def tpch_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan audit over the schema's five FK edges: per edge, child
    rows / distinct keys / orphan rows / orphan keys / orphan rate —
    the ingest-time integrity gate before any join-based pipeline."""
    from vectorsearchutil_spark.operators.integrity import (
        fk_orphan_audit,
        tpch_fk_edges,
    )

    return fk_orphan_audit(tpch_fk_edges(spark, sf_dir))


# --------------------------------------------------------------------------
# 10. Retrieval ranking-quality eval: MRR / NDCG@10 by label match
# --------------------------------------------------------------------------


def _retrieval_metrics_oracle(k: int = 10) -> str:
    import math

    from vectorsearchutil_spark.operators.evaluation import ndcg_discounts

    disc_fp = [
        int(math.floor(d * 1e12 + 0.5)) for d in ndcg_discounts(k)
    ]
    idcg = [0]
    for d in disc_fp:
        idcg.append(idcg[-1] + d)
    disc_lit = "[" + ", ".join(str(d) for d in disc_fp) + "]"
    idcg_lit = "[" + ", ".join(str(v) for v in idcg) + "]"
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS qlabel
  FROM embeddings WHERE vec_id < 50
),
c AS (
  SELECT vec_id, embedding::DOUBLE[] AS cv, label
  FROM embeddings WHERE NOT (vec_id < 50)
),
top AS (
  SELECT query_id, rk, rel FROM (
    SELECT q.query_id,
           CASE WHEN c.label = q.qlabel THEN 1 ELSE 0 END AS rel,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(c.cv, q.qv) DESC,
                      c.vec_id ASC
           ) AS rk
    FROM q, c
  ) WHERE rk <= {k}
),
per_q AS (
  SELECT query_id,
         COALESCE(MIN(CASE WHEN rel = 1 THEN rk END), 0) AS first_rel,
         CAST(SUM(rel * ({disc_lit})[rk]) AS BIGINT) AS dcg_fp,
         CAST(SUM(rel) AS INT) AS n_relevant
  FROM top GROUP BY query_id
)
SELECT query_id, n_relevant,
       floor((CASE WHEN first_rel > 0
                   THEN CAST(1 AS DOUBLE) / first_rel
                   ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS mrr,
       floor((CASE WHEN n_relevant = 0 THEN 0.0
                   ELSE CAST(dcg_fp AS DOUBLE)
                        / CAST(({idcg_lit})[n_relevant + 1] AS DOUBLE)
              END) * 1000000.0 + 0.5) / 1000000.0 AS ndcg
FROM per_q
"""


@query("embeddings_retrieval_metrics", _retrieval_metrics_oracle(10))
def embeddings_retrieval_metrics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-query MRR and NDCG@10 with label-match relevance over the
    vec_id < 50 eval slice vs the rest of the corpus — the
    ranking-quality metric pair next to ann_ivf_recall's candidate
    recall. Fixed-point literal log2 discounts keep both engines
    bit-identical (order-free long sums)."""
    from vectorsearchutil_spark.operators.evaluation import (
        retrieval_label_metrics,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return retrieval_label_metrics(
        emb,
        F.col("vec_id") < 50,
        k=10,
        vector_col="embedding",
        id_col="vec_id",
        label_col="label",
    )


# --------------------------------------------------------------------------
# 11. Per-row percentile rank (two-level, value-domain-bounded state)
# --------------------------------------------------------------------------

_PCT_RANK_ORACLE = """
WITH base AS (
  SELECT event_id, event_type AS g,
         CASE WHEN value IS NOT NULL AND isfinite(value)
              THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) END AS qv
  FROM events
),
counts AS (
  SELECT g, qv, COUNT(*) AS cnt FROM base
  WHERE qv IS NOT NULL GROUP BY g, qv
),
pre AS (
  SELECT g, qv,
         SUM(cnt) OVER (
           PARTITION BY g ORDER BY qv
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - cnt AS below,
         SUM(cnt) OVER (PARTITION BY g) AS n
  FROM counts
)
SELECT b.event_id, b.g AS event_type,
       floor(CAST(p.below AS DOUBLE)
             / CAST(NULLIF(p.n - 1, 0) AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS pct_rank
FROM base b LEFT JOIN pre p ON b.g = p.g AND b.qv = p.qv
"""


@query("events_percentile_rank", _PCT_RANK_ORACLE)
def events_percentile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every event enriched with its within-type percentile rank at
    cent resolution — the per-row member of the quantile family,
    built on per-(type, cent) counts so the window state is bounded
    by the value domain, never by row count."""
    from vectorsearchutil_spark.operators.sketches import (
        percentile_rank_enrich,
    )

    e = load_table(spark, sf_dir, "events")
    return percentile_rank_enrich(
        e, "value", "event_type", "event_id", resolution=2
    )


# --------------------------------------------------------------------------
# 12. C4-style blocklist screen
# --------------------------------------------------------------------------

_BADWORD_ORACLE = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x != '') AS toks
  FROM documents
),
d AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(
           toks,
           x -> list_contains(
             ['crash', 'junk', 'leak', 'noise', 'slow', 'spam'], x)
         )) AS BIGINT) AS n_blocked
  FROM t
),
s AS (
  SELECT doc_id, n_tokens, n_blocked,
         floor(COALESCE(CAST(n_blocked AS DOUBLE)
                        / NULLIF(CAST(n_tokens AS DOUBLE), 0.0), 0.0)
               * 1000000.0 + 0.5) / 1000000.0 AS blocked_frac
  FROM d
)
SELECT doc_id, n_tokens, n_blocked, blocked_frac,
       blocked_frac <= 0.05 AS keep
FROM s
"""


@query("docs_badword_filter", _BADWORD_ORACLE)
def docs_badword_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style blocklist screen: per doc, blocked-token count and
    fraction against the demo blocklist, keep/drop at 5% — a single
    narrow projection (literal array membership), zero joins."""
    from vectorsearchutil_spark.operators.textanalysis import (
        blocklist_screen,
    )

    docs = load_table(spark, sf_dir, "documents")
    return blocklist_screen(docs, max_bad_frac=0.05)


# --------------------------------------------------------------------------
# 13. Normalization-then-exact dedup (the cheap pre-fuzzy pass)
# --------------------------------------------------------------------------

_NORM_DEDUP_ORACLE = """
WITH keyed AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(
           translate(text,
                     'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                     'abcdefghijklmnopqrstuvwxyz'),
           '[\\x21-\\x2f\\x3a-\\x40\\x5b-\\x60\\x7b-\\x7e]', ' ', 'g'),
           ' +', ' ', 'g'))) AS norm_key
  FROM documents
),
g AS (
  SELECT norm_key, MIN(doc_id) AS doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_members
  FROM keyed GROUP BY 1
)
SELECT d.doc_id, d.lang, d.source, d.n_chars, g.norm_key, g.n_members
FROM documents d JOIN g ON d.doc_id = g.doc_id
"""


@query("docs_normalized_dedup", _NORM_DEDUP_ORACLE)
def docs_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after ASCII casefold + punctuation strip +
    whitespace collapse — the cheap normalization pass run before any
    fuzzy method. Survivor = min doc_id, annotated with cluster
    size."""
    from vectorsearchutil_spark.operators.dedup import (
        normalized_exact_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    return normalized_exact_dedup(docs)


# --------------------------------------------------------------------------
# 14. Zipf rank-frequency power-law fit
# --------------------------------------------------------------------------

_ZIPF_ORACLE = """
WITH toks AS (
  SELECT unnest(list_filter(string_split(text, ' '), x -> x != ''))
    AS tok
  FROM documents
),
cnt AS (SELECT tok, COUNT(*) AS freq FROM toks GROUP BY 1),
top AS (SELECT tok, freq FROM cnt ORDER BY freq DESC, tok ASC LIMIT 100),
ranked AS (
  SELECT row_number() OVER (ORDER BY freq DESC, tok ASC) AS rank, freq
  FROM top
),
terms AS (
  SELECT
    CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000000.0 + 0.5) AS BIGINT)
      AS x,
    CAST(floor(ln(CAST(freq AS DOUBLE)) * 1000000000.0 + 0.5) AS BIGINT)
      AS y,
    CAST(floor(ln(CAST(rank AS DOUBLE)) * ln(CAST(freq AS DOUBLE))
               * 1000000000.0 + 0.5) AS BIGINT) AS xy,
    CAST(floor(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE))
               * 1000000000.0 + 0.5) AS BIGINT) AS xx
  FROM ranked
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(xy) AS BIGINT) AS sxy, CAST(SUM(xx) AS BIGINT) AS sxx
  FROM terms
)
SELECT CAST(n AS INT) AS n_ranks,
       floor((CAST(n AS DOUBLE) * (sxy / 1000000000.0)
              - (sx / 1000000000.0) * (sy / 1000000000.0))
             / (CAST(n AS DOUBLE) * (sxx / 1000000000.0)
                - (sx / 1000000000.0) * (sx / 1000000000.0))
             * 1000000.0 + 0.5) / 1000000.0 AS zipf_slope,
       floor(((sy / 1000000000.0)
              - ((CAST(n AS DOUBLE) * (sxy / 1000000000.0)
                  - (sx / 1000000000.0) * (sy / 1000000000.0))
                 / (CAST(n AS DOUBLE) * (sxx / 1000000000.0)
                    - (sx / 1000000000.0) * (sx / 1000000000.0)))
                * (sx / 1000000000.0))
             / CAST(n AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
         AS zipf_intercept
FROM s
"""


@query("docs_zipf_fit", _ZIPF_ORACLE)
def docs_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS fit of ln(freq) on ln(rank) over the top-100 corpus
    tokens — the Zipf-law health check for synthetic/templated text.
    Per-rank terms fix to 1e-9 longs so both engines sum identical
    integers."""
    from vectorsearchutil_spark.operators.textanalysis import zipf_fit

    docs = load_table(spark, sf_dir, "documents")
    return zipf_fit(docs, top_n=100)


# --------------------------------------------------------------------------
# 15. Pairwise source Jensen-Shannon divergence
# --------------------------------------------------------------------------

_JS_ORACLE = """
WITH toks AS (
  SELECT source AS g,
         unnest(list_filter(string_split(text, ' '), x -> x != ''))
           AS tok
  FROM documents
),
counts AS (SELECT g, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
totals AS (SELECT g, SUM(c) AS n FROM counts GROUP BY 1),
vocab AS (SELECT DISTINCT tok FROM counts),
vs AS (SELECT COUNT(*) AS v FROM vocab),
grid AS (
  SELECT t.g, vb.tok, t.n, vs.v, COALESCE(c.c, 0) AS c
  FROM vocab vb CROSS JOIN totals t CROSS JOIN vs
  LEFT JOIN counts c ON c.g = t.g AND c.tok = vb.tok
),
pairs AS (
  SELECT a.g AS ga, b.g AS gb,
         CAST(a.c + 1 AS DOUBLE) / CAST(a.n + a.v AS DOUBLE) AS p,
         CAST(b.c + 1 AS DOUBLE) / CAST(b.n + b.v AS DOUBLE) AS q
  FROM grid a JOIN grid b ON a.tok = b.tok AND a.g < b.g
),
t AS (
  SELECT ga, gb,
         CAST(floor((p * ln(p / ((p + q) / 2.0))
                     + q * ln(q / ((p + q) / 2.0)))
                    * 1000000000000.0 + 0.5) AS BIGINT) AS t
  FROM pairs
)
SELECT ga AS source_a, gb AS source_b,
       floor(CAST(SUM(t) AS DOUBLE) / 1000000000000.0 / 2.0
             * 1000000.0 + 0.5) / 1000000.0 AS js_nats
FROM t GROUP BY 1, 2
"""


@query("docs_source_divergence", _JS_ORACLE)
def docs_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between per-source
    add-one-smoothed unigram distributions — the domain-shift /
    mixture-design diagnostic. Per-token terms fix to 1e-12 longs;
    sums are order-free."""
    from vectorsearchutil_spark.operators.textanalysis import (
        js_divergence_by_source,
    )

    docs = load_table(spark, sf_dir, "documents")
    return js_divergence_by_source(docs)


# --------------------------------------------------------------------------
# 16. Per-doc top-3 TF-IDF keyword extraction
# --------------------------------------------------------------------------

_TOP_TERMS_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), x -> x != ''))
           AS tok
  FROM documents
),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
r AS (
  SELECT tf.doc_id, tf.tok, tf.tf, dfq.df, nd.n_docs,
         row_number() OVER (
           PARTITION BY tf.doc_id
           ORDER BY tf.tf DESC, dfq.df ASC, tf.tok ASC
         ) AS rank
  FROM tf JOIN dfq USING (tok) CROSS JOIN nd
)
SELECT doc_id, CAST(rank AS INT) AS rank, tok AS term,
       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       floor(tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS tfidf
FROM r WHERE rank <= 3
"""


@query("docs_top_terms", _TOP_TERMS_ORACLE)
def docs_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF keywords. The ranking is the
    integer-exact (tf DESC, df ASC, term ASC) triple — a monotone
    proxy for tf*ln(N/df) no float tie can flip — with the rounded
    score informational."""
    from vectorsearchutil_spark.operators.textanalysis import (
        top_terms_per_doc,
    )

    docs = load_table(spark, sf_dir, "documents")
    return top_terms_per_doc(docs, k=3)


# --------------------------------------------------------------------------
# 17. Language-ID confusion matrix vs the labeled lang column
# --------------------------------------------------------------------------


def _langid_confusion_oracle() -> str:
    return f"""
WITH cells AS (
  SELECT d.lang AS label, p.pred_lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents d JOIN ({_LANGID_ORACLE}) p ON d.doc_id = p.doc_id
  GROUP BY 1, 2
),
tot AS (SELECT label, SUM(n_docs) AS lt FROM cells GROUP BY 1)
SELECT c.label, c.pred_lang, c.n_docs,
       floor(CAST(c.n_docs AS DOUBLE) / CAST(t.lt AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS label_share,
       c.label = c.pred_lang AS is_correct
FROM cells c JOIN tot t USING (label)
"""


@query("docs_langid_confusion", _langid_confusion_oracle())
def docs_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the heuristic language ID against the
    labeled lang column: per (label, prediction) cell, doc count and
    within-label share — the classifier eval for text_langid."""
    from vectorsearchutil_spark.operators.textanalysis import (
        langid_confusion,
    )

    docs = load_table(spark, sf_dir, "documents")
    return langid_confusion(docs)


# --------------------------------------------------------------------------
# 18. Per-user rolling z-score anomaly flags
# --------------------------------------------------------------------------

_ZSCORE_ORACLE = """
WITH base AS (
  SELECT event_id, user_id, ts,
         CASE WHEN value IS NOT NULL AND isfinite(value)
              THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) END AS qv
  FROM events
),
w AS (
  SELECT event_id, user_id, qv,
         SUM(qv) OVER win AS s,
         SUM(qv * qv) OVER win AS s2,
         COUNT(qv) OVER win AS cnt
  FROM base
  WINDOW win AS (
    PARTITION BY user_id ORDER BY ts ASC, event_id ASC
    ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING
  )
),
z AS (
  SELECT event_id, user_id, qv, cnt,
         CASE WHEN cnt >= 5 AND qv IS NOT NULL
                   AND (s2 - s * s / CAST(cnt AS DOUBLE))
                       / CAST(cnt AS DOUBLE) > 0
              THEN floor((CAST(qv AS DOUBLE) - s / CAST(cnt AS DOUBLE))
                         / sqrt((s2 - s * s / CAST(cnt AS DOUBLE))
                                / CAST(cnt AS DOUBLE))
                         * 1000000.0 + 0.5) / 1000000.0
         END AS zscore
  FROM w
)
SELECT event_id, user_id,
       CAST(qv AS DOUBLE) / 100.0 AS value_seen,
       CAST(cnt AS INT) AS n_window,
       zscore,
       COALESCE(abs(zscore) >= 3.0, FALSE) AS is_anomaly
FROM z
"""


@query("events_rolling_zscore", _ZSCORE_ORACLE)
def events_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling anomaly flags: each event z-scored against
    the mean/std of its user's 5 PRECEDING events (self excluded).
    Cents fixed-point keeps the frame sums integer-exact; the window
    partitions per user with an O(window) frame."""
    from vectorsearchutil_spark.operators.analytics import rolling_zscore

    e = load_table(spark, sf_dir, "events")
    return rolling_zscore(e, window=5, z_thresh=3.0)


# --------------------------------------------------------------------------
# 19. Exact inter-arrival gap quantiles per event type
# --------------------------------------------------------------------------

_INTERARRIVAL_ORACLE = """
WITH seq AS (
  SELECT event_type,
         CAST(FLOOR(epoch(ts)) AS BIGINT)
           - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts ASC, event_id ASC
             ) AS gap_s
  FROM events
),
g AS (SELECT event_type, gap_s FROM seq WHERE gap_s IS NOT NULL),
c AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps
  FROM g GROUP BY 1
),
ranked AS (
  SELECT event_type, gap_s,
         SUM(1) OVER (
           PARTITION BY event_type ORDER BY gap_s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM g
),
med AS (
  SELECT event_type, MIN(gap_s) AS p50_gap_s FROM ranked
  WHERE cum >= CAST(n AS DOUBLE) * 0.5 GROUP BY 1
),
p90 AS (
  SELECT event_type, MIN(gap_s) AS p90_gap_s FROM ranked
  WHERE cum >= CAST(n AS DOUBLE) * 0.9 GROUP BY 1
)
SELECT c.event_type, c.n_gaps, m.p50_gap_s, p.p90_gap_s
FROM c JOIN med m USING (event_type) JOIN p90 p USING (event_type)
"""


@query("events_interarrival", _INTERARRIVAL_ORACLE)
def events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90 inter-arrival gap (whole seconds) between
    consecutive events of the same (user, type) — per-entity cadence.
    The quantiles come from histogram refinement, never a per-type
    sort of raw gaps."""
    from vectorsearchutil_spark.operators.analytics import (
        interarrival_quantiles,
    )

    e = load_table(spark, sf_dir, "events")
    return interarrival_quantiles(e, quantiles=(0.5, 0.9))


# --------------------------------------------------------------------------
# 20. Monthly revenue with year-over-year growth
# --------------------------------------------------------------------------

#: shared month-grid CTE + YoY select skeleton — SINGLE SOURCE for
#: orders_yoy_growth, its round-8 ppm integer twin, and the
#: month-grid decomposition probe: the probes exist to rule out
#: divergence between halves of the original, so they must not be
#: able to drift from the original's own base expressions (review
#: r8; same discipline as _KM_PPM_ORACLE's derive-with-assert)
_YOY_MONTH_CTE = """
m AS (
  SELECT (year(o_orderdate) * 12 + month(o_orderdate) - 1) AS mi,
         CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
                       AND isfinite(o_totalprice)
                  THEN CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
             END) AS BIGINT) AS revenue_cents,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
)
"""

_YOY_MONTH_LABEL = """CAST({a}mi // 12 AS VARCHAR) || '-'
         || lpad(CAST({a}mi % 12 + 1 AS VARCHAR), 2, '0') AS month"""

#: the growth ratio in raw 1e-6 fixpoint units (pre-division)
_YOY_GROWTH_RAW = """floor(CAST(a.revenue_cents - b.revenue_cents AS DOUBLE)
             / CAST(CASE WHEN b.revenue_cents != 0
                         THEN b.revenue_cents END AS DOUBLE)
             * 1000000.0 + 0.5)"""

_YOY_SELECT = (
    "SELECT "
    + _YOY_MONTH_LABEL.format(a="a.")
    + """,
       a.n_orders, a.revenue_cents,
       b.revenue_cents AS prev_year_cents,
       {growth}
FROM m a LEFT JOIN m b ON a.mi = b.mi + 12
"""
)

_YOY_ORACLE = (
    "WITH "
    + _YOY_MONTH_CTE
    + _YOY_SELECT.format(
        growth=_YOY_GROWTH_RAW + " / 1000000.0 AS yoy_growth"
    )
)


@query("orders_yoy_growth", _YOY_ORACLE)
def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue (exact cents) with year-over-year growth via a
    self-join on the integer month index — no window, the joined side
    is the <=#months aggregate, broadcast."""
    from vectorsearchutil_spark.operators.analytics import yoy_growth

    o = load_table(spark, sf_dir, "orders")
    return yoy_growth(o)


# --------------------------------------------------------------------------
# 21. RFM customer segmentation with exact quintiles
# --------------------------------------------------------------------------

#: shared per-customer RFM base CTEs — SINGLE SOURCE for
#: customer_rfm_scores and the round-8 per-customer decomposition
#: probe (same no-drift discipline as _YOY_MONTH_CTE above)
_RFM_PC_CTE = """
anchor AS (SELECT MAX(o_orderdate) AS a FROM orders),
pc AS (
  SELECT o_custkey,
         CAST(MIN(date_diff('day', CAST(o_orderdate AS DATE),
                            CAST(a AS DATE))) AS INT) AS recency_days,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
                       AND isfinite(o_totalprice)
                  THEN CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
             END) AS BIGINT) AS monetary_cents
  FROM orders, anchor GROUP BY o_custkey
)
"""

_RFM_ORACLE = (
    "WITH "
    + _RFM_PC_CTE
    + """,
scored AS (
  SELECT o_custkey, recency_days, frequency, monetary_cents,
         CAST(NTILE(5) OVER (
           ORDER BY recency_days ASC NULLS LAST, o_custkey ASC
         ) AS INT) AS r_quintile,
         CAST(NTILE(5) OVER (
           ORDER BY frequency DESC NULLS LAST, o_custkey ASC
         ) AS INT) AS f_quintile,
         CAST(NTILE(5) OVER (
           ORDER BY monetary_cents DESC NULLS LAST, o_custkey ASC
         ) AS INT) AS m_quintile
  FROM pc
)
SELECT o_custkey, recency_days, frequency, monetary_cents,
       r_quintile, f_quintile, m_quintile,
       CAST(r_quintile AS VARCHAR) || CAST(f_quintile AS VARCHAR)
         || CAST(m_quintile AS VARCHAR) AS rfm_segment
FROM scored
"""
)


@query("customer_rfm_scores", _RFM_ORACLE)
def customer_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: recency/frequency/monetary per customer,
    each bucketed by EXACT NTILE(5) semantics rebuilt over the
    per-metric distinct-value histogram (no global customer sort
    anywhere in the plan)."""
    from vectorsearchutil_spark.operators.analytics import rfm_scores

    o = load_table(spark, sf_dir, "orders")
    return rfm_scores(o)


# --------------------------------------------------------------------------
# 22. A/B two-proportion z-test over hash-assigned arms
# --------------------------------------------------------------------------

_AB_ORACLE = """
WITH pu AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
armed AS (
  SELECT CASE WHEN ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)),
                    1, 8))::BIGINT / 4294967296.0 < 0.5
              THEN 'A' ELSE 'B' END AS arm,
         conv
  FROM pu
),
s AS (
  SELECT CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN arm = 'A' AND conv = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS conv_a,
         CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN arm = 'B' AND conv = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS conv_b
  FROM armed
)
SELECT n_a, conv_a, n_b, conv_b,
  floor(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS rate_a,
  floor(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS rate_b,
  floor(CASE WHEN sqrt(CAST(conv_a + conv_b AS DOUBLE)
                         / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                       * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                           / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                       * (1.0 / CAST(n_a AS DOUBLE)
                          + 1.0 / CAST(n_b AS DOUBLE))) > 0
             THEN (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                   - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                  / sqrt(CAST(conv_a + conv_b AS DOUBLE)
                           / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                         * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                             / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                         * (1.0 / CAST(n_a AS DOUBLE)
                            + 1.0 / CAST(n_b AS DOUBLE)))
        END * 1000000.0 + 0.5) / 1000000.0 AS z_score
FROM s
"""


@query("events_ab_test", _AB_ORACLE)
def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between md5-hash-assigned experiment
    arms (conversion = any purchase event): one summary row from four
    exact counts; the z formula is a single double expression both
    engines spell identically."""
    from vectorsearchutil_spark.operators.analytics import ab_test_ztest

    e = load_table(spark, sf_dir, "events")
    return ab_test_ztest(e)


# --------------------------------------------------------------------------
# 23. CUSUM changepoint per event type over the daily value series
# --------------------------------------------------------------------------

_CUSUM_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         SUM(CASE WHEN value IS NOT NULL AND isfinite(value)
                  THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
             END) AS d
  FROM events GROUP BY 1, 2
),
cum AS (
  SELECT event_type, day,
    SUM(d) OVER (PARTITION BY event_type ORDER BY day ASC
                 ROWS UNBOUNDED PRECEDING) AS pre,
    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day ASC) AS t,
    SUM(d) OVER (PARTITION BY event_type) AS tot,
    COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM daily
),
scored AS (
  SELECT event_type, day, n,
    CAST(n AS HUGEINT) * CAST(pre AS HUGEINT)
      - CAST(t AS HUGEINT) * CAST(tot AS HUGEINT) AS dstat
  FROM cum
)
SELECT event_type, CAST(day AS VARCHAR) AS changepoint_day,
       CAST(n AS INT) AS n_days,
       floor(CAST(dstat AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0)
             * 10000.0 + 0.5) / 10000.0 AS cusum_value
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY event_type
    ORDER BY abs(dstat) DESC NULLS LAST, day ASC) AS rn
  FROM scored
) WHERE rn = 1
"""


@query("events_cusum_changepoint", _CUSUM_ORACLE)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM level-shift detection per event type: the day maximizing
    |n*prefix - t*total| over the daily cents grid — the compared
    statistic stays an exact DECIMAL(38,0) so the argmax can't be
    float-flipped; only the reported value divides to double."""
    from vectorsearchutil_spark.operators.analytics import (
        cusum_changepoint,
    )

    e = load_table(spark, sf_dir, "events")
    return cusum_changepoint(e)


# --------------------------------------------------------------------------
# 24. Benford first-digit audit of order amounts
# --------------------------------------------------------------------------

_BENFORD_ORACLE = """
WITH c AS (
  SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders
  WHERE o_totalprice IS NOT NULL AND isfinite(o_totalprice)
),
d AS (
  SELECT substr(CAST(cents AS VARCHAR), 1, 1) AS digit,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM c WHERE cents > 0 GROUP BY 1
),
tot AS (SELECT SUM(n) AS t FROM d)
SELECT CAST(digit AS INT) AS digit, n,
  floor(CAST(n AS DOUBLE) / CAST(t AS DOUBLE) * 1000000.0 + 0.5)
    / 1000000.0 AS obs_share,
  floor(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * 1000000.0 + 0.5)
    / 1000000.0 AS benford_share,
  floor(abs(CAST(n AS DOUBLE) / CAST(t AS DOUBLE)
            - log10(1.0 + 1.0 / CAST(digit AS DOUBLE)))
        * 1000000.0 + 0.5) / 1000000.0 AS abs_dev
FROM d, tot
"""


@query("orders_benford", _BENFORD_ORACLE)
def orders_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals: digit
    extraction is a string op on the exact cents long (no float log
    near the data); shares round via the floor form."""
    from vectorsearchutil_spark.operators.analytics import benford_digits

    o = load_table(spark, sf_dir, "orders")
    return benford_digits(o)


# --------------------------------------------------------------------------
# 25. Gini coefficient of customer revenue concentration
# --------------------------------------------------------------------------

_GINI_ORACLE = """
WITH pk AS (
  SELECT o_custkey,
         SUM(CASE WHEN o_totalprice IS NOT NULL AND isfinite(o_totalprice)
                  THEN CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
             END) AS x
  FROM orders GROUP BY 1
),
r AS (
  SELECT x, ROW_NUMBER() OVER (ORDER BY x ASC, o_custkey ASC) AS i
  FROM pk WHERE x IS NOT NULL
),
s AS (
  SELECT SUM(CAST(i AS HUGEINT) * CAST(x AS HUGEINT)) AS sixi,
         SUM(CAST(x AS HUGEINT)) AS sx,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM r
)
SELECT n AS n_keys, CAST(sx AS BIGINT) AS total_cents,
  floor((2.0 * CAST(sixi AS DOUBLE)
         / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
         - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE))
        * 1000000.0 + 0.5) / 1000000.0 AS gini
FROM s
"""


@query("orders_gini", _GINI_ORACLE)
def orders_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue WITHOUT a global row
    sort: rank-sums derive from the distinct-revenue histogram
    (tie-order-invariant), everything integer until one final
    division."""
    from vectorsearchutil_spark.operators.analytics import (
        gini_coefficient,
    )

    o = load_table(spark, sf_dir, "orders")
    return gini_coefficient(o)


# --------------------------------------------------------------------------
# 26. Kaplan-Meier time-to-conversion survival curve
# --------------------------------------------------------------------------

#: shared survival risk-table CTE chain (everything through `risked`)
#: — SINGLE SOURCE for events_kaplan_meier (product-limit tail) and
#: the round-10 events_nelson_aalen (cumulative-hazard tail), the
#: same no-drift discipline as _YOY_MONTH_CTE: the two estimators'
#: oracles cannot diverge on the risk sets because they share them
#: textually (mirrors analytics._survival_risk_table on the Spark
#: side).
_KM_RISK_CTE = """
WITH pu AS (
  SELECT user_id,
    MIN(CASE WHEN event_type = 'signup'
             THEN CAST(epoch(ts) AS BIGINT) END) AS s,
    MIN(CASE WHEN event_type = 'purchase'
             THEN CAST(epoch(ts) AS BIGINT) END) AS c,
    MAX(CAST(epoch(ts) AS BIGINT)) AS seen
  FROM events GROUP BY user_id
),
pu2 AS (SELECT * FROM pu WHERE s IS NOT NULL),
h AS (SELECT MAX(seen) AS hmax FROM pu2),
obs AS (
  SELECT CASE WHEN c IS NOT NULL AND c >= s
              THEN CAST(floor(c / 86400.0) - floor(s / 86400.0) AS BIGINT)
         END AS edays,
         CAST(floor(hmax / 86400.0) - floor(s / 86400.0) AS BIGINT) AS cdays
  FROM pu2, h
),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM obs),
ev AS (
  SELECT edays AS delay_days, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM obs WHERE edays IS NOT NULL GROUP BY 1
),
cens AS (
  SELECT cdays AS delay_days, CAST(COUNT(*) AS BIGINT) AS nc
  FROM obs WHERE edays IS NULL GROUP BY 1
),
grid AS (
  SELECT COALESCE(ev.delay_days, cens.delay_days) AS delay_days,
         COALESCE(n_events, 0) AS n_events,
         COALESCE(nc, 0) AS nc
  FROM ev FULL JOIN cens ON ev.delay_days = cens.delay_days
),
risked AS (
  SELECT delay_days, n_events,
    CAST(n_total
      - COALESCE(SUM(n_events) OVER (ORDER BY delay_days ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      - COALESCE(SUM(nc) OVER (ORDER BY delay_days ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS BIGINT) AS n_at_risk
  FROM grid, nt
)"""

_KM_ORACLE = _KM_RISK_CTE + """,
cum AS (
  SELECT delay_days, n_at_risk, n_events,
    SUM(CASE WHEN n_events < n_at_risk
             THEN CAST(floor(ln(1.0 - CAST(n_events AS DOUBLE)
                                  / CAST(n_at_risk AS DOUBLE))
                             * 1000000000.0 + 0.5) AS BIGINT)
             ELSE 0 END)
      OVER (ORDER BY delay_days ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnsum,
    MAX(CASE WHEN n_events >= n_at_risk THEN 1 ELSE 0 END)
      OVER (ORDER BY delay_days ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
  FROM risked
)
SELECT delay_days, n_at_risk, n_events,
  floor(CASE WHEN dead = 1 THEN 0.0
             ELSE exp(CAST(lnsum AS DOUBLE) / 1000000000.0) END
        * 1000000.0 + 0.5) / 1000000.0 AS survival
FROM cum WHERE n_events > 0
"""


@query("events_kaplan_meier", _KM_ORACLE)
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival of signup->purchase delay with
    right-censoring at the corpus horizon: the curve runs over the
    distinct-delay-day histogram; the running product is an
    order-free sum of fixed-point ln terms (zipf_fit convention)."""
    from vectorsearchutil_spark.operators.analytics import kaplan_meier

    e = load_table(spark, sf_dir, "events")
    return kaplan_meier(e)


# --------------------------------------------------------------------------
# 27. Chi-square token/label association (feature selection screen)
# --------------------------------------------------------------------------

_CHI2_ORACLE = """
WITH dt AS (
  SELECT lang,
         unnest(list_distinct(list_filter(string_split(text, ' '),
                                          x -> x != ''))) AS tok
  FROM documents
),
cell AS (
  SELECT tok, lang, CAST(COUNT(*) AS BIGINT) AS a FROM dt GROUP BY 1, 2
),
tdf AS (
  SELECT tok, CAST(SUM(a) AS BIGINT) AS df FROM cell GROUP BY 1
  HAVING SUM(a) >= 5
),
ln_ AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS nl FROM documents GROUP BY 1
),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM documents),
j AS (
  SELECT c.tok, c.lang AS label, c.a, t.df, l.nl, nt.nn
  FROM cell c JOIN tdf t ON c.tok = t.tok
              JOIN ln_ l ON c.lang = l.lang, nt
),
x AS (
  SELECT tok, label, a, df,
    CASE WHEN (CAST(a AS DOUBLE) + CAST(nl - a AS DOUBLE))
              * (CAST(df - a AS DOUBLE) + CAST(nn - nl - df + a AS DOUBLE))
              * (CAST(a AS DOUBLE) + CAST(df - a AS DOUBLE))
              * (CAST(nl - a AS DOUBLE) + CAST(nn - nl - df + a AS DOUBLE))
              > 0
         THEN floor(
           CAST(nn AS DOUBLE)
             * (CAST(a AS DOUBLE) * CAST(nn - nl - df + a AS DOUBLE)
                - CAST(nl - a AS DOUBLE) * CAST(df - a AS DOUBLE))
             * (CAST(a AS DOUBLE) * CAST(nn - nl - df + a AS DOUBLE)
                - CAST(nl - a AS DOUBLE) * CAST(df - a AS DOUBLE))
             / ((CAST(a AS DOUBLE) + CAST(nl - a AS DOUBLE))
                * (CAST(df - a AS DOUBLE) + CAST(nn - nl - df + a AS DOUBLE))
                * (CAST(a AS DOUBLE) + CAST(df - a AS DOUBLE))
                * (CAST(nl - a AS DOUBLE) + CAST(nn - nl - df + a AS DOUBLE)))
             * 1000000.0 + 0.5) / 1000000.0
    END AS chi2
  FROM j
)
SELECT tok, label, a AS n_docs_with, df AS token_df, chi2
FROM x WHERE chi2 >= 3.84
"""


@query("docs_token_chi2", _CHI2_ORACLE)
def docs_token_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square token/label (lang) association over document
    presence, gated by integer df and the ROUNDED chi2 threshold —
    deterministic membership, no float top-k."""
    from vectorsearchutil_spark.operators.textanalysis import (
        token_label_chi2,
    )

    d = load_table(spark, sf_dir, "documents")
    return token_label_chi2(d)


# --------------------------------------------------------------------------
# 28. Mann-Whitney U rank-sum test (purchase vs view values)
# --------------------------------------------------------------------------

_MWU_ORACLE = """
WITH base AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v
  FROM events
  WHERE event_type IN ('purchase', 'view')
    AND value IS NOT NULL AND isfinite(value)
),
hist AS (
  SELECT v, CAST(SUM(ia) AS BIGINT) AS ca,
         CAST(SUM(1 - ia) AS BIGINT) AS cb
  FROM base GROUP BY 1
),
runs AS (
  SELECT ca, cb, ca + cb AS c,
    COALESCE(SUM(ca + cb) OVER (ORDER BY v ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p
  FROM hist
),
s AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
    SUM(CAST(ca AS HUGEINT)
        * (2 * CAST(p AS HUGEINT) + CAST(c AS HUGEINT) + 1)) AS r2a,
    SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT) * CAST(c AS HUGEINT)
        - CAST(c AS HUGEINT)) AS tie
  FROM runs
)
SELECT na AS n_a, nb AS n_b,
  floor((CAST(r2a AS DOUBLE)
         - CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) + 1.0)) / 2.0
        * 10.0 + 0.5) / 10.0 AS u_stat,
  floor(CASE WHEN CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
                  * ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1.0)
                     - CAST(tie AS DOUBLE)
                       / ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                          * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)
                             - 1.0))) > 0
        THEN ((CAST(r2a AS DOUBLE)
               - CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) + 1.0)) / 2.0
              - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 2.0)
             / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
                    * ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1.0)
                       - CAST(tie AS DOUBLE)
                         / ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                            * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)
                               - 1.0))))
        END * 1000000.0 + 0.5) / 1000000.0 AS z_score
FROM s
"""


@query("events_mannwhitney", _MWU_ORACLE)
def events_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U test between purchase and view value
    distributions: mid-ranks in exact 2x-integer units over the
    distinct-value histogram, tie-corrected z from exact sums."""
    from vectorsearchutil_spark.operators.analytics import mann_whitney_u

    e = load_table(spark, sf_dir, "events")
    return mann_whitney_u(e)


# --------------------------------------------------------------------------
# 29. Two-sample KS drift between time halves
# --------------------------------------------------------------------------

_KS_ORACLE = """
WITH bounds AS (
  SELECT MIN(CAST(epoch(ts) AS BIGINT)) AS lo,
         MAX(CAST(epoch(ts) AS BIGINT)) AS hi
  FROM events
),
base AS (
  SELECT CASE WHEN CAST(epoch(ts) AS BIGINT)
                   < floor((lo + hi) / 2.0) THEN 1 ELSE 0 END AS i1,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v
  FROM events, bounds
  WHERE value IS NOT NULL AND isfinite(value)
),
hist AS (
  SELECT v, CAST(SUM(i1) AS BIGINT) AS c1,
         CAST(SUM(1 - i1) AS BIGINT) AS c2
  FROM base GROUP BY 1
),
tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(SUM(c2) AS BIGINT) AS n2 FROM hist),
cum AS (
  SELECT v,
    SUM(c1) OVER (ORDER BY v ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS u1,
    SUM(c2) OVER (ORDER BY v ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS u2
  FROM hist
),
scored AS (
  SELECT v, n1, n2,
    abs(CAST(u1 AS HUGEINT) * CAST(n2 AS HUGEINT)
        - CAST(u2 AS HUGEINT) * CAST(n1 AS HUGEINT)) AS gap
  FROM cum, tot
)
SELECT n1 AS n_1, n2 AS n_2,
  floor(CAST(gap AS DOUBLE)
        / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
        * 1000000.0 + 0.5) / 1000000.0 AS ks_stat,
  CAST(v AS DOUBLE) / 100.0 AS ks_at_value
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY gap DESC, v ASC) AS rn
  FROM scored
) WHERE rn = 1
"""


@query("events_ks_drift", _KS_ORACLE)
def events_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS statistic between first- and second-half value
    distributions: the maximized ECDF gap is the exact integer
    |cum1*n2 - cum2*n1| so the argmax can't be float-flipped."""
    from vectorsearchutil_spark.operators.analytics import ks_two_sample

    e = load_table(spark, sf_dir, "events")
    return ks_two_sample(e)


# --------------------------------------------------------------------------
# 30. Daily-revenue autocorrelation at calendar lags 1..7
# --------------------------------------------------------------------------


def _acf_oracle(max_lag: int = 7) -> str:
    per_lag = " UNION ALL ".join(
        f"""
  SELECT {k} AS lag,
         SUM(a.d * b.d) AS num, CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM c a JOIN c b ON b.day = a.day + {k}"""
        for k in range(1, max_lag + 1)
    )
    return f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CASE WHEN o_totalprice IS NOT NULL AND isfinite(o_totalprice)
                  THEN CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
             END) AS x
  FROM orders GROUP BY 1
),
tot AS (SELECT SUM(x) AS s, CAST(COUNT(*) AS BIGINT) AS n FROM daily),
c AS (
  SELECT day,
         CAST(n AS HUGEINT) * CAST(x AS HUGEINT) - CAST(s AS HUGEINT) AS d
  FROM daily, tot
),
den AS (SELECT SUM(d * d) AS dd FROM c),
nums AS ({per_lag})
SELECT CAST(lag AS INT) AS lag, n_pairs,
  floor(CAST(num AS DOUBLE) / CAST(dd AS DOUBLE) * 1000000.0 + 0.5)
    / 1000000.0 AS acf
FROM nums, den
"""


@query("orders_daily_acf", _acf_oracle())
def orders_daily_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of daily revenue at calendar lags 1..7: pairs
    by a day+k self-join on the per-day aggregate (no window), exact
    DECIMAL sums of (n*x - S) products, one final division."""
    from vectorsearchutil_spark.operators.analytics import daily_acf

    o = load_table(spark, sf_dir, "orders")
    return daily_acf(o)


# --------------------------------------------------------------------------
# 31. Matryoshka (MRL) prefix truncation + retained-norm audit
# --------------------------------------------------------------------------

_MATRYOSHKA_ORACLE = """
WITH n AS (
  SELECT vec_id, label,
         embedding::DOUBLE[] AS v,
         (embedding::DOUBLE[])[1:16] AS h
  FROM embeddings
),
s AS (
  SELECT vec_id, label, h,
         sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS fn,
         sqrt(list_aggregate(list_transform(h, x -> x * x), 'sum')) AS hn
  FROM n
)
SELECT vec_id, label,
       FLOOR(hn / fn * 1000000.0 + 0.5) / 1000000.0 AS retained_frac,
       CASE WHEN hn != 0 THEN array_to_string(
         list_transform(h, x -> printf('%.4f', ROUND(x / hn, 4) + 0.0)),
         ','
       ) END AS mrl_vec
FROM s
"""


@query("embeddings_matryoshka", _MATRYOSHKA_ORACLE)
def embeddings_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka 64→16 prefix truncation with re-normalization and
    the retained-norm fraction (= cosine(full, zero-padded prefix))
    — the audit that decides whether serving the corpus at 1/4 the
    dims is safe. Narrow projection, no shuffle; the prefix vector
    leaves as a ','-joined %.4f string (the driver canonicalizer
    cannot hash list cells)."""
    from vectorsearchutil_spark.functions.vector import round_half_up
    from vectorsearchutil_spark.operators.embeddings import (
        matryoshka_truncate,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = matryoshka_truncate(emb, prefix_dim=16)
    return out.select(
        "vec_id",
        "label",
        round_half_up(F.col("retained_frac"), 6).alias("retained_frac"),
        F.array_join(
            F.transform(
                F.col("mrl_vec"),
                lambda x: F.format_string(
                    "%.4f", F.round(x, 4) + F.lit(0.0)
                ),
            ),
            ",",
        ).alias("mrl_vec"),
    )


# --------------------------------------------------------------------------
# 32. Holdout kNN majority-vote label eval (embedding-quality probe)
# --------------------------------------------------------------------------

_KNN_LABEL_EVAL_ORACLE = """
WITH base AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v
  FROM embeddings
  WHERE label IS NOT NULL AND embedding IS NOT NULL
),
q AS (
  SELECT vec_id AS query_id, v AS qv, label AS true_label
  FROM base WHERE vec_id % 10 = 0
),
c AS (
  SELECT vec_id AS cid, v AS cv, label AS nlabel
  FROM base WHERE vec_id % 10 != 0
),
scored AS (
  SELECT q.query_id, q.true_label, c.nlabel,
         ROW_NUMBER() OVER (
           PARTITION BY q.query_id
           ORDER BY list_distance(c.cv, q.qv) ASC, c.cid ASC
         ) AS rk
  FROM c CROSS JOIN q
),
votes AS (
  SELECT query_id, true_label, nlabel, COUNT(*) AS nv
  FROM scored WHERE rk <= 5 GROUP BY 1, 2, 3
),
pred AS (
  SELECT query_id, true_label, nlabel AS pred FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY nv DESC, nlabel ASC
    ) AS vr FROM votes
  ) WHERE vr = 1
)
SELECT true_label AS label,
       CAST(COUNT(*) AS BIGINT) AS n_eval,
       CAST(SUM(CASE WHEN pred = true_label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       FLOOR(CAST(SUM(CASE WHEN pred = true_label THEN 1 ELSE 0 END)
                  AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
         AS accuracy
FROM pred GROUP BY 1
"""


@query("embeddings_knn_label_eval", _KNN_LABEL_EVAL_ORACLE)
def embeddings_knn_label_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Holdout kNN classifier eval: every 10th vector is held out and
    label-predicted by majority vote of its 5 nearest corpus
    neighbours (L2, deterministic tie-breaks); per-true-label
    accuracy — the does-the-space-cluster-by-label probe run before
    trusting nearest-neighbour label transfer. Same scale shape as
    batch kNN (broadcast holdout, corpus never shuffles)."""
    from vectorsearchutil_spark.operators.evaluation import (
        knn_label_vote_eval,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_label_vote_eval(
        emb, F.col("vec_id") % 10 == 0, k=5,
        vector_col="embedding", id_col="vec_id", label_col="label",
    )


# --------------------------------------------------------------------------
# 33. Top principal component by fixed-point power iteration
# --------------------------------------------------------------------------


def _top_pc_oracle(iterations: int | None = None) -> str:
    """Unrolled fixed-point power iteration replay (same trick as the
    logistic-regression unrolled-CTE oracle): the covariance CTEs are
    the proven ``_DIM_COV_ORACLE`` expressions (queries.py), then each
    iteration is three CTEs (integer matvec, infinity norm, rescale)
    with arithmetic identical to
    ``operators/embeddings.py::power_iteration_top_pc``. The default
    iteration count and the finite-vector input filter both come from
    ONE shared definition each (TOP_PC_ITERATIONS /
    queries._FINITE_VEC_SQL), so operator and oracle cannot drift."""
    from vectorsearchutil_spark.functions.vector import (
        FINITE_VEC_SQL as _FINITE_VEC_SQL,
    )
    from vectorsearchutil_spark.operators.embeddings import (
        TOP_PC_ITERATIONS,
    )

    if iterations is None:
        iterations = TOP_PC_ITERATIONS
    parts = [f"""WITH e AS MATERIALIZED (SELECT embedding::DOUBLE[] AS v FROM embeddings
  WHERE {_FINITE_VEC_SQL}),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM e),
prod AS MATERIALIZED (
  SELECT CAST(t.i AS INT) AS i, CAST(u.j AS INT) AS j,
         SUM(CAST(FLOOR(v[CAST(t.i AS INT)] * 65536.0) AS BIGINT)
             * CAST(FLOOR(v[CAST(u.j AS INT)] * 65536.0) AS BIGINT)) AS sq
  FROM e, range(1, 65) t(i), range(1, 65) u(j)
  WHERE u.j >= t.i
  GROUP BY 1, 2
),
mm AS MATERIALIZED (
  SELECT CAST(t.i AS INT) AS i,
         SUM(CAST(FLOOR(v[CAST(t.i AS INT)] * 65536.0) AS BIGINT)) AS mq
  FROM e, range(1, 65) t(i) GROUP BY 1
),
cov0 AS MATERIALIZED (
  SELECT p.i, p.j,
         ROUND(p.sq / 65536.0 / 65536.0 / n.n
               - (a.mq / 65536.0 / n.n) * (b.mq / 65536.0 / n.n),
               6) + 0.0 AS cov
  FROM prod p JOIN mm a ON a.i = p.i JOIN mm b ON b.i = p.j, n
),
cov AS MATERIALIZED (
  SELECT i, j, CAST(FLOOR(cov * 1000000.0 + 0.5) AS BIGINT) AS c FROM cov0
  UNION ALL
  SELECT j, i, CAST(FLOOR(cov * 1000000.0 + 0.5) AS BIGINT)
  FROM cov0 WHERE i != j
),
v0 AS MATERIALIZED (
  SELECT CAST(t.i AS INT) AS d, CAST(1000000 AS BIGINT) AS vf
  FROM range(1, 65) t(i)
)"""]
    for it in range(1, iterations + 1):
        p = it - 1
        parts.append(f"""w{it} AS MATERIALIZED (
  SELECT cov.i AS d, SUM(cov.c * v{p}.vf) AS w
  FROM cov JOIN v{p} ON v{p}.d = cov.j GROUP BY 1
)""")
        parts.append(
            f"m{it} AS MATERIALIZED (SELECT NULLIF(MAX(ABS(w)), 0) AS m FROM w{it})"
        )
        parts.append(f"""v{it} AS MATERIALIZED (
  SELECT d, CAST(FLOOR(CAST(w AS DOUBLE) / CAST(m AS DOUBLE)
                       * 1000000.0 + 0.5) AS BIGINT) AS vf
  FROM w{it}, m{it}
)""")
    k = iterations
    parts.append(f"""wf AS MATERIALIZED (
  SELECT cov.i AS d, SUM(cov.c * v{k}.vf) AS w
  FROM cov JOIN v{k} ON v{k}.d = cov.j GROUP BY 1
)""")
    parts.append(f"""num AS MATERIALIZED (
  SELECT SUM(CAST(FLOOR(CAST(v.vf AS DOUBLE) * CAST(w.w AS DOUBLE)
                        / 1000000.0) AS BIGINT)) AS num
  FROM v{k} v JOIN wf w ON w.d = v.d
)""")
    parts.append(f"den AS MATERIALIZED (SELECT SUM(vf * vf) AS den FROM v{k})")
    body = ",\n".join(parts)
    return f"""{body}
SELECT v.d AS dim,
       CAST(v.vf AS DOUBLE) / 1000000.0 AS loading,
       FLOOR(CAST(num.num AS DOUBLE) / CAST(den.den AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS eigenvalue
FROM v{k} v, num, den
"""


@query("embeddings_top_pc", _top_pc_oracle())
def embeddings_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component of the embedding covariance via
    12 fixed-point power-iteration steps — the
    uncentered-/collapsed-space audit before whitening or dimension
    pruning. The distributed pass is the fixed-point covariance
    (one mapInPandas sweep, long sums); the 64x64 iteration is
    integer-exact driver math replayed bit-identically by the
    unrolled-CTE oracle."""
    from vectorsearchutil_spark.operators.embeddings import (
        power_iteration_top_pc,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return power_iteration_top_pc(emb, vec_col="embedding")


# ==========================================================================
# ROUND-7 WAVE
# ==========================================================================

# --------------------------------------------------------------------------
# 34. Per-source lexical profile: hapax ratio / type-token ratio
# --------------------------------------------------------------------------

_HAPAX_ORACLE = """
WITH tok AS (
  SELECT source,
         unnest(list_filter(string_split(text, ' '), x -> x != ''))
           AS token
  FROM documents
),
tc AS (
  SELECT source, token, COUNT(*) AS c FROM tok GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS vocab,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       floor(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
         AS hapax_frac,
       floor(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS type_token_ratio
FROM tc GROUP BY source
"""


@query("docs_hapax_ratio", _HAPAX_ORACLE)
def docs_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical health: vocabulary size, hapax-legomenon
    count/fraction (words seen exactly once — high hapax = rich or
    noisy text, near-zero = templated/duplicated text) and type-token
    ratio — the cheap corpus-quality screens run per source before
    mixing. One token aggregate, then a per-source rollup of the
    (source, token) counts; ratios divide exact integers."""
    from vectorsearchutil_spark.functions.text import tokens_sql
    from vectorsearchutil_spark.functions.vector import round_half_up

    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.selectExpr("source", f"explode({tokens_sql('text')}) AS token")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        tc.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("vocab"),
            F.sum((F.col("c") == 1).cast("int")).cast("long").alias("hapax"),
        )
        .select(
            "source",
            "n_tokens",
            "vocab",
            "hapax",
            round_half_up(
                F.col("hapax").cast("double") / F.col("vocab").cast("double"),
                6,
            ).alias("hapax_frac"),
            round_half_up(
                F.col("vocab").cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("type_token_ratio"),
        )
    )


# --------------------------------------------------------------------------
# 35. Daily revenue peak detection (calendar-neighbour local maxima)
# --------------------------------------------------------------------------

_PEAKS_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         SUM(CASE WHEN value IS NOT NULL AND isfinite(value)
                  THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) END) AS v
  FROM events GROUP BY 1, 2
),
nb AS (
  SELECT d.event_type, d.day + CAST(o.k AS INT) AS day, d.v AS nv
  FROM daily d, range(-3, 4) o(k) WHERE o.k != 0
),
agg AS (
  SELECT d.event_type, d.day, MAX(d.v) AS v0, MAX(n.nv) AS max_nb,
         SUM(n.nv) AS sum_nb, COUNT(*) AS n_nb
  FROM daily d
  JOIN nb n ON n.event_type = d.event_type AND n.day = d.day
  GROUP BY 1, 2
)
SELECT event_type,
       strftime(day, '%Y-%m-%d') AS day,
       CAST(v0 AS DOUBLE) / 100.0 AS day_value,
       CAST(n_nb AS BIGINT) AS n_neighbors,
       floor(CAST(sum_nb AS DOUBLE) / 100.0 / CAST(n_nb AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS neighbor_mean
FROM agg
WHERE CAST(v0 AS HUGEINT) > CAST(max_nb AS HUGEINT)
  AND 2 * CAST(v0 AS HUGEINT) * CAST(n_nb AS HUGEINT)
      >= 3 * CAST(sum_nb AS HUGEINT)
"""


@query("events_daily_peaks", _PEAKS_ORACLE)
def events_daily_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily revenue spikes: days strictly above every
    present calendar neighbour within ±3 days AND ≥1.5× the
    neighbour mean — the promo-impact / incident spike detector.
    Grid-bounded after one aggregate; the prominence test
    cross-multiplies in DECIMAL so no division sits on a float
    boundary (operators/analytics.py::daily_peaks)."""
    from vectorsearchutil_spark.operators.analytics import daily_peaks

    e = load_table(spark, sf_dir, "events")
    return daily_peaks(e)


# --------------------------------------------------------------------------
# 36. Theil–Sen robust daily-revenue trend
# --------------------------------------------------------------------------

_THEILSEN_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CASE WHEN o_totalprice IS NOT NULL AND isfinite(o_totalprice)
                  THEN CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
             END) AS x
  FROM orders GROUP BY 1
),
pairs AS (
  SELECT CAST(b.x - a.x AS DOUBLE)
         / CAST(datediff('day', a.day, b.day) AS DOUBLE) AS slope
  FROM daily a JOIN daily b ON b.day > a.day
),
hist AS (SELECT slope, COUNT(*) AS c FROM pairs GROUP BY 1),
tot AS (SELECT SUM(c) AS n FROM hist),
cum AS (
  SELECT slope,
         SUM(c) OVER (ORDER BY slope ASC
                      ROWS UNBOUNDED PRECEDING) AS cumc
  FROM hist
)
SELECT CAST(tot.n AS BIGINT) AS n_pairs,
       floor(MIN(cum.slope) / 100.0 * 1000000.0 + 0.5) / 1000000.0
         AS slope_per_day
FROM cum, tot
WHERE cum.cumc * 2 >= tot.n
GROUP BY tot.n
"""


@query("orders_theilsen_trend", _THEILSEN_ORACLE)
def orders_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of daily revenue: the lower median of
    all pairwise day-to-day slopes — outlier-immune where OLS is not.
    The pair table is calendar-bounded (days²), the median comes from
    the distinct-slope histogram (no serial row_number over pairs)
    (operators/analytics.py::theil_sen_daily_trend)."""
    from vectorsearchutil_spark.operators.analytics import (
        theil_sen_daily_trend,
    )

    o = load_table(spark, sf_dir, "orders")
    return theil_sen_daily_trend(o)


# --------------------------------------------------------------------------
# 37. Deterministic block-bootstrap CI for mean daily revenue
# --------------------------------------------------------------------------

_BOOTSTRAP_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         SUM(CASE WHEN value IS NOT NULL AND isfinite(value)
                  THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) END) AS x
  FROM events GROUP BY 1
),
daily2 AS (SELECT day, x FROM daily WHERE x IS NOT NULL),
ranked AS (
  SELECT x, ROW_NUMBER() OVER (ORDER BY day ASC) AS r FROM daily2
),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM ranked),
grid AS (
  -- the resample index i runs 1..nd: ranked.r IS that range (range()
  -- cannot take a lateral bound in DuckDB)
  SELECT CAST(b.b AS BIGINT) AS b, CAST(ranked.r AS BIGINT) AS i, nd.nd
  FROM range(1, 201) b(b), ranked, nd
),
draw AS (
  SELECT b,
         CAST(floor(
           (('0x' || substr(md5('boot:' || CAST(b AS VARCHAR) || ':'
                            || CAST(i AS VARCHAR)), 1, 8))::BIGINT
            / 4294967296.0) * CAST(nd AS DOUBLE)
         ) AS INT) + 1 AS r
  FROM grid
),
boots AS (
  SELECT d.b,
         CAST(SUM(ranked.x) AS DOUBLE) / 100.0 / COUNT(*) AS m
  FROM draw d JOIN ranked ON ranked.r = d.r
  GROUP BY d.b
),
qs AS (
  SELECT m, ROW_NUMBER() OVER (ORDER BY m ASC) AS q FROM boots
),
base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(x) AS DOUBLE) / 100.0 / COUNT(*) AS m
  FROM daily2
)
SELECT base.n_days,
       CAST(200 AS BIGINT) AS n_boot,
       floor(base.m * 10000.0 + 0.5) / 10000.0 AS mean_daily,
       floor(MIN(qs.m) * 10000.0 + 0.5) / 10000.0 AS ci_lo,
       floor(MAX(qs.m) * 10000.0 + 0.5) / 10000.0 AS ci_hi
FROM qs, base
WHERE qs.q IN (5, 195)
GROUP BY base.n_days, base.m
"""


@query("events_bootstrap_ci", _BOOTSTRAP_ORACLE)
def events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% block-bootstrap CI for mean daily revenue: 200
    deterministic md5-hash day-resamples (engine-reproducible — no
    RNG state), day-level blocks, lower-rank 2.5%/97.5% quantiles of
    the resample means. Grid-sized after the first aggregate
    (operators/analytics.py::block_bootstrap_mean_ci)."""
    from vectorsearchutil_spark.operators.analytics import (
        block_bootstrap_mean_ci,
    )

    e = load_table(spark, sf_dir, "events")
    return block_bootstrap_mean_ci(e)


# --------------------------------------------------------------------------
# 38. Top-2 principal components + spectral gap (deflated power iteration)
# --------------------------------------------------------------------------


def _top2_oracle(iterations: int | None = None) -> str:
    """Two-stage unrolled replay of
    ``operators/embeddings.py::power_iteration_top2``: the stage-1
    CTEs are ``_top_pc_oracle``'s; deflation subtracts
    ``floor(((λ1·v1ᵢ)·v1ⱼ)·10⁶ + 0.5)`` per cell (the identical
    left-associated double expression the Python driver evaluates),
    then stage 2 unrolls the same iteration over the deflated
    integer matrix."""
    from vectorsearchutil_spark.functions.vector import FINITE_VEC_SQL
    from vectorsearchutil_spark.operators.embeddings import (
        TOP_PC_ITERATIONS,
    )

    if iterations is None:
        iterations = TOP_PC_ITERATIONS
    parts = [f"""WITH e AS MATERIALIZED (SELECT embedding::DOUBLE[] AS v FROM embeddings
  WHERE {FINITE_VEC_SQL}),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM e),
prod AS MATERIALIZED (
  SELECT CAST(t.i AS INT) AS i, CAST(u.j AS INT) AS j,
         SUM(CAST(FLOOR(v[CAST(t.i AS INT)] * 65536.0) AS BIGINT)
             * CAST(FLOOR(v[CAST(u.j AS INT)] * 65536.0) AS BIGINT)) AS sq
  FROM e, range(1, 65) t(i), range(1, 65) u(j)
  WHERE u.j >= t.i
  GROUP BY 1, 2
),
mm AS MATERIALIZED (
  SELECT CAST(t.i AS INT) AS i,
         SUM(CAST(FLOOR(v[CAST(t.i AS INT)] * 65536.0) AS BIGINT)) AS mq
  FROM e, range(1, 65) t(i) GROUP BY 1
),
cov0 AS MATERIALIZED (
  SELECT p.i, p.j,
         ROUND(p.sq / 65536.0 / 65536.0 / n.n
               - (a.mq / 65536.0 / n.n) * (b.mq / 65536.0 / n.n),
               6) + 0.0 AS cov
  FROM prod p JOIN mm a ON a.i = p.i JOIN mm b ON b.i = p.j, n
),
cov AS MATERIALIZED (
  SELECT i, j, CAST(FLOOR(cov * 1000000.0 + 0.5) AS BIGINT) AS c FROM cov0
  UNION ALL
  SELECT j, i, CAST(FLOOR(cov * 1000000.0 + 0.5) AS BIGINT)
  FROM cov0 WHERE i != j
),
v0 AS MATERIALIZED (
  SELECT CAST(t.i AS INT) AS d, CAST(1000000 AS BIGINT) AS vf
  FROM range(1, 65) t(i)
)"""]

    def stage(cov_name: str, vpfx: str, wpfx: str, mpfx: str) -> None:
        for it in range(1, iterations + 1):
            pr = it - 1
            parts.append(f"""{wpfx}{it} AS MATERIALIZED (
  SELECT {cov_name}.i AS d, SUM({cov_name}.c * {vpfx}{pr}.vf) AS w
  FROM {cov_name} JOIN {vpfx}{pr} ON {vpfx}{pr}.d = {cov_name}.j GROUP BY 1
)""")
            parts.append(
                f"{mpfx}{it} AS MATERIALIZED"
                f" (SELECT NULLIF(MAX(ABS(w)), 0) AS m FROM {wpfx}{it})"
            )
            parts.append(f"""{vpfx}{it} AS MATERIALIZED (
  SELECT d, CAST(FLOOR(CAST(w AS DOUBLE) / CAST(m AS DOUBLE)
                       * 1000000.0 + 0.5) AS BIGINT) AS vf
  FROM {wpfx}{it}, {mpfx}{it}
)""")

    k = iterations
    stage("cov", "v", "w", "m")
    parts.append(f"""wf AS MATERIALIZED (
  SELECT cov.i AS d, SUM(cov.c * v{k}.vf) AS w
  FROM cov JOIN v{k} ON v{k}.d = cov.j GROUP BY 1
)""")
    parts.append(f"""num AS MATERIALIZED (
  SELECT SUM(CAST(FLOOR(CAST(v.vf AS DOUBLE) * CAST(w.w AS DOUBLE)
                        / 1000000.0) AS BIGINT)) AS num
  FROM v{k} v JOIN wf w ON w.d = v.d
)""")
    parts.append(f"den AS MATERIALIZED (SELECT SUM(vf * vf) AS den FROM v{k})")
    parts.append("""l1 AS MATERIALIZED (
  SELECT FLOOR(CAST(num.num AS DOUBLE) / CAST(den.den AS DOUBLE)
               * 1000000.0 + 0.5) / 1000000.0 AS lam
  FROM num, den
)""")
    parts.append(f"""defl AS MATERIALIZED (
  SELECT cov.i, cov.j,
         cov.c - CAST(FLOOR(((l1.lam * (CAST(a.vf AS DOUBLE) / 1000000.0))
                             * (CAST(b.vf AS DOUBLE) / 1000000.0))
                            * 1000000.0 + 0.5) AS BIGINT) AS c
  FROM cov JOIN v{k} a ON a.d = cov.i JOIN v{k} b ON b.d = cov.j, l1
)""")
    parts.append("""x0 AS MATERIALIZED (
  SELECT CAST(t.i AS INT) AS d, CAST(1000000 AS BIGINT) AS vf
  FROM range(1, 65) t(i)
)""")
    stage("defl", "x", "y", "p")
    parts.append(f"""yf AS MATERIALIZED (
  SELECT defl.i AS d, SUM(defl.c * x{k}.vf) AS w
  FROM defl JOIN x{k} ON x{k}.d = defl.j GROUP BY 1
)""")
    parts.append(f"""num2 AS MATERIALIZED (
  SELECT SUM(CAST(FLOOR(CAST(v.vf AS DOUBLE) * CAST(w.w AS DOUBLE)
                        / 1000000.0) AS BIGINT)) AS num
  FROM x{k} v JOIN yf w ON w.d = v.d
)""")
    parts.append(
        f"den2 AS MATERIALIZED (SELECT SUM(vf * vf) AS den FROM x{k})"
    )
    parts.append("""l2 AS MATERIALIZED (
  SELECT FLOOR(CAST(num2.num AS DOUBLE) / CAST(den2.den AS DOUBLE)
               * 1000000.0 + 0.5) / 1000000.0 AS lam
  FROM num2, den2
)""")
    body = ",\n".join(parts)
    return f"""{body}
SELECT a.d AS dim,
       CAST(a.vf AS DOUBLE) / 1000000.0 AS loading,
       CAST(b.vf AS DOUBLE) / 1000000.0 AS loading2,
       l1.lam AS eigenvalue,
       l2.lam AS eigenvalue2,
       FLOOR((l1.lam - l2.lam) * 1000000.0 + 0.5) / 1000000.0
         AS spectral_gap
FROM v{k} a JOIN x{k} b ON b.d = a.d, l1, l2
"""


@query("embeddings_pca_top2", _top2_oracle())
def embeddings_pca_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 principal components + spectral gap of the embedding
    covariance via deflated fixed-point power iteration — the
    anisotropy audit (narrow-cone geometry; all-but-the-top
    post-processing targets exactly these directions). One
    distributed covariance sweep; both 64×64 iterations replay
    bit-identically through the two-stage unrolled-CTE oracle."""
    from vectorsearchutil_spark.operators.embeddings import (
        power_iteration_top2,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return power_iteration_top2(emb)


# --------------------------------------------------------------------------
# 39. Curriculum order WITHOUT the serial global window (sharded form)
# --------------------------------------------------------------------------

_CURRICULUM_SHARDED_ORACLE = """
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> x != '') AS t
  FROM documents
),
q AS (
  SELECT doc_id, source, len(t) AS n_tokens,
         ROUND(LEAST(1.0, len(t) / 100.0) *
               (1.0 - len(list_filter(t, x -> list_contains(
                 ['the','a','of','and','to','is','in','on'], x)))
                * 1.0 / len(t)), 4) AS quality
  FROM toks WHERE len(t) > 0
),
r AS (
  SELECT doc_id, source, quality,
         CAST(ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY quality DESC, doc_id ASC) AS INT) AS pos_in_source
  FROM q
)
SELECT doc_id, source, quality, pos_in_source,
       CAST(ROW_NUMBER() OVER (ORDER BY pos_in_source, source, doc_id)
         AS INT) AS global_pos
FROM r
"""


@query("docs_curriculum_sharded", _CURRICULUM_SHARDED_ORACLE)
def docs_curriculum_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The docs_curriculum_order total order — IDENTICAL output, same
    oracle — built WITHOUT any serial global window (the one declared
    total-order output left in the repo; VERDICT r5 #8).

    The order is (pos_in_source, source, doc_id), and within a fixed
    pos_in_source every source contributes at most ONE row, so:

      global_pos(p, s) = f(p) + rank of s among sources with ≥ p docs

    * ``f(p) = Σ_{s'} min(cnt_{s'}, p−1)`` — rows that sort strictly
      before position p. Computed on the DISTINCT-COUNT axis: the
      per-source count histogram's cumulative (#sources, Σcnt) gives
      ``f(x=p−1) = cumSum(x) + (S − cumN(x))·x`` per count BRACKET,
      and each row range-joins the broadcast bracket table.
    * the within-p rank is a window PARTITIONED BY pos_in_source —
      ≤ #sources rows per partition, millions of independent
      partitions: embarrassingly parallel, never a single-task sort.

    Serial state is bounded by DISTINCT COUNT VALUES (the tiny
    bracket window), not rows — the 100 TB-safe construction of a
    total order."""
    from pyspark.sql import Window

    from vectorsearchutil_spark.operators.textanalysis import quality_score

    docs = load_table(spark, sf_dir, "documents")
    q = (
        quality_score(docs)
        .filter(F.col("n_tokens") > 0)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select(
            "doc_id", "source", F.col("quality_score").alias("quality")
        )
        # computed once, consumed by the ranking path AND the
        # count-histogram path (the q11/q15 view-reuse pattern)
        .localCheckpoint(eager=False)
    )
    per_src = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    ranked = q.withColumn(
        "pos_in_source", F.row_number().over(per_src).cast("int")
    )
    # per-source counts need no window — straight off q
    scnt = q.groupBy("source").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    chist = scnt.groupBy("_cnt").agg(F.count(F.lit(1)).alias("_h"))
    cw = Window.orderBy(F.col("_cnt").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = chist.select(
        F.col("_cnt").alias("_c"),
        F.sum("_h").over(cw).alias("_cumN"),
        F.sum(F.col("_h") * F.col("_cnt")).over(cw).alias("_cumSum"),
    )
    nxt = Window.orderBy(F.col("_c").asc())
    brackets = cum.select(
        "_c",
        "_cumN",
        "_cumSum",
        F.coalesce(
            F.lead("_c").over(nxt), F.lit(2_147_483_647)
        ).alias("_next"),
    ).unionByName(
        local_frame(
            spark,
            [(0, 0, 0, None)], "_c long, _cumN long, _cumSum long, _next long"
        ).select(
            "_c",
            "_cumN",
            "_cumSum",
            F.lit(None).cast("long").alias("_next"),
        )
    )
    # the synthetic (0,0,0) bracket covers x < min count; close it at
    # the real min count
    minc = cum.agg(F.min("_c").alias("_minc"))
    brackets = (
        brackets.crossJoin(F.broadcast(minc))
        .select(
            "_c",
            "_cumN",
            "_cumSum",
            F.coalesce(F.col("_next"), F.col("_minc")).alias("_next"),
        )
    )
    n_sources = scnt.agg(F.count(F.lit(1)).alias("_S"))
    # resolve f on the DISTINCT-p grid (1..max count — tiny), so rows
    # take a broadcast EQUI-join on pos_in_source instead of a per-row
    # range scan of the bracket table (measured 4x at the 2M probe)
    maxc = scnt.agg(F.max("_cnt").alias("_maxc"))
    pgrid = maxc.select(
        F.explode(F.sequence(F.lit(1), F.col("_maxc"))).alias(
            "pos_in_source"
        )
    )
    x = (F.col("pos_in_source") - 1).cast("long")
    ftab = (
        pgrid.join(
            F.broadcast(brackets),
            (x >= F.col("_c")) & (x < F.col("_next")),
        )
        .crossJoin(F.broadcast(n_sources))
        .select(
            "pos_in_source",
            (
                F.col("_cumSum") + (F.col("_S") - F.col("_cumN")) * x
            ).alias("_f"),
        )
    )
    with_f = ranked.join(F.broadcast(ftab), "pos_in_source")
    within = Window.partitionBy("pos_in_source").orderBy(
        F.col("source").asc(), F.col("doc_id").asc()
    )
    return with_f.select(
        "doc_id",
        "source",
        "quality",
        "pos_in_source",
        (F.col("_f") + F.row_number().over(within))
        .cast("int")
        .alias("global_pos"),
    )


# --------------------------------------------------------------------------
# 40. Weekly cohort retention triangle
# --------------------------------------------------------------------------

_RETENTION_TRIANGLE_ORACLE = """
WITH fw AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cw
  FROM events WHERE ts IS NOT NULL GROUP BY 1
),
act AS (
  SELECT DISTINCT e.user_id, f.cw,
         CAST(datediff('day', f.cw,
              CAST(date_trunc('week', e.ts) AS DATE)) / 7 AS INT) AS age_w
  FROM events e JOIN fw f ON f.user_id = e.user_id
  WHERE e.ts IS NOT NULL
),
sz AS (SELECT cw, COUNT(*) AS n0 FROM fw GROUP BY 1)
SELECT strftime(a.cw, '%Y-%m-%d') AS cohort_week,
       a.age_w,
       CAST(COUNT(*) AS BIGINT) AS n_active,
       CAST(s.n0 AS BIGINT) AS cohort_size,
       floor(CAST(COUNT(*) AS DOUBLE) / s.n0 * 1000000.0 + 0.5)
         / 1000000.0 AS retention
FROM act a JOIN sz s ON s.cw = a.cw
GROUP BY a.cw, a.age_w, s.n0
"""


@query("events_retention_triangle", _RETENTION_TRIANGLE_ORACLE)
def events_retention_triangle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weekly cohort retention triangle: users bucket into the week
    of their FIRST event; each later week they act in marks them
    retained at that age — the readout behind every retention curve.
    Age derives from two Monday-truncated dates (exact /7 integer),
    so both engines bucket identically; the distinct (user, age)
    reduction happens before any join back to cohort sizes. Grid
    output: weeks × weeks rows at any event volume."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    fw = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cw")
    )
    act = (
        e.join(fw, "user_id")
        .select(
            "user_id",
            "cw",
            F.floor(
                F.datediff(
                    F.date_trunc("week", F.col("ts")).cast("date"),
                    F.col("cw"),
                )
                / 7
            )
            .cast("int")
            .alias("age_w"),
        )
        .distinct()
    )
    sz = fw.groupBy("cw").agg(F.count(F.lit(1)).alias("_n0"))
    from vectorsearchutil_spark.functions.vector import round_half_up

    return (
        act.groupBy("cw", "age_w")
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
        .join(F.broadcast(sz), "cw")
        .select(
            F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
            "age_w",
            "n_active",
            F.col("_n0").cast("long").alias("cohort_size"),
            round_half_up(
                F.col("n_active").cast("double") / F.col("_n0"), 6
            ).alias("retention"),
        )
    )


# --------------------------------------------------------------------------
# 41. Near-dup cluster-size profile (how much duplication exists)
# --------------------------------------------------------------------------

_CLUSTER_PROFILE_ORACLE = f"""
WITH RECURSIVE {{cc_edges}},
sizes2 AS (
  SELECT component, CAST(COUNT(*) AS BIGINT) AS csize
  FROM comp GROUP BY 1
),
dist AS (
  SELECT csize AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
  FROM sizes2 GROUP BY 1
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
indup AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM comp)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size, n_clusters,
       CAST(cluster_size * n_clusters AS BIGINT) AS n_docs
FROM dist
UNION ALL
SELECT 1, tot.n - indup.n, tot.n - indup.n FROM tot, indup
"""


@query(
    "dedup_cluster_profile",
    _CLUSTER_PROFILE_ORACLE.format(cc_edges=_CC_EDGES_CTE.strip().lstrip()),
)
def dedup_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication profile of the corpus: near-dup cluster size
    distribution (3-gram Jaccard ≥ 0.8 → connected components),
    including the singleton row — the one-table answer to "how much
    duplication do we have and in what shape" that decides whether
    dedup is worth a pipeline stage. Everything after the banded
    pair stage is component-table-sized."""
    from vectorsearchutil_spark.operators import dedup as _dd

    docs = load_table(spark, sf_dir, "documents")
    pairs = _dd.ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    cc = _dd.connected_components(pairs)
    sizes = cc.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("csize")
    )
    dist = sizes.groupBy(F.col("csize").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters")
    )
    tot = docs.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    indup = cc.agg(F.count(F.lit(1)).cast("long").alias("_in"))
    singleton = (
        tot.crossJoin(F.broadcast(indup))
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            (F.col("_n") - F.col("_in")).alias("n_clusters"),
            (F.col("_n") - F.col("_in")).alias("n_docs"),
        )
    )
    return dist.select(
        "cluster_size",
        "n_clusters",
        (F.col("cluster_size") * F.col("n_clusters"))
        .cast("long")
        .alias("n_docs"),
    ).unionByName(singleton)



# --------------------------------------------------------------------------
# 42. Flesch-style readability score per document
# --------------------------------------------------------------------------

_READABILITY_ORACLE = """
WITH m AS (
  SELECT doc_id, source,
         len(list_filter(string_split(text, ' '), x -> x != ''))
           AS n_words,
         GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
           AS n_sent,
         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syl
  FROM documents
  WHERE text IS NOT NULL
)
SELECT doc_id, source,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_sent AS BIGINT) AS n_sentences,
       CAST(n_syl AS BIGINT) AS n_syllables,
       CASE WHEN n_words > 0 THEN
         floor((206.835
                - 1.015 * (CAST(n_words AS DOUBLE) / n_sent)
                - 84.6 * (CAST(n_syl AS DOUBLE) / n_words))
               * 10000.0 + 0.5) / 10000.0
       END AS flesch
FROM m
"""


@query("docs_readability", _READABILITY_ORACLE)
def docs_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-reading-ease-style readability per document
    (206.835 − 1.015·words/sentences − 84.6·syllables/words;
    syllables ≈ vowel-group count, sentences ≈ terminator runs,
    min 1) — the classic text-difficulty screen next to the
    C4/Gopher filters. Pure narrow regexp projection — scan-speed,
    no shuffle; the score is one deterministic double expression
    from three exact integers."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    n_words = F.size(
        F.expr("filter(split(text, ' '), x -> x != '')")
    ).cast("long")
    n_sent = F.greatest(
        F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")),
        F.lit(1),
    ).cast("long")
    n_syl = F.size(
        F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")
    ).cast("long")
    m = docs.select(
        "doc_id",
        "source",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syl.alias("n_syllables"),
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015)
        * (F.col("n_words").cast("double") / F.col("n_sentences"))
        - F.lit(84.6)
        * (F.col("n_syllables").cast("double") / F.col("n_words"))
    )
    return m.select(
        "doc_id",
        "source",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.when(
            F.col("n_words") > 0,
            F.floor(flesch * F.lit(10000.0) + F.lit(0.5))
            / F.lit(10000.0),
        ).alias("flesch"),
    )


# --------------------------------------------------------------------------
# 43. Additive seasonal decomposition of the daily value series
# --------------------------------------------------------------------------

_SEAS_DECOMP_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         SUM(CASE WHEN value IS NOT NULL AND isfinite(value)
                  THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) END) AS v
  FROM events GROUP BY 1, 2
),
nb AS (
  SELECT d.event_type, d.day + CAST(o.k AS INT) AS day, d.v AS nv
  FROM daily d, range(-3, 4) o(k)
),
tr AS (
  SELECT d.event_type, d.day, MAX(d.v) AS v0,
         CAST(floor(CAST(SUM(n.nv) AS DOUBLE) / COUNT(n.nv) + 0.5)
              AS BIGINT) AS trend
  FROM daily d
  JOIN nb n ON n.event_type = d.event_type AND n.day = d.day
  GROUP BY 1, 2
),
detr AS (
  SELECT event_type, day, v0, trend, v0 - trend AS d,
         dayofweek(day) + 1 AS dow
  FROM tr
),
seas AS (
  SELECT event_type, dow,
         CAST(floor(CAST(SUM(d) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
           AS s
  FROM detr GROUP BY 1, 2
)
SELECT t.event_type,
       strftime(t.day, '%Y-%m-%d') AS day,
       CAST(t.v0 AS DOUBLE) / 100.0 AS value,
       CAST(t.trend AS DOUBLE) / 100.0 AS trend,
       CAST(s.s AS DOUBLE) / 100.0 AS seasonal,
       CAST(t.d - s.s AS DOUBLE) / 100.0 AS residual
FROM detr t JOIN seas s ON s.event_type = t.event_type AND s.dow = t.dow
"""


@query("events_seasonal_decompose", _SEAS_DECOMP_ORACLE)
def events_seasonal_decompose(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Additive trend + day-of-week seasonal + residual decomposition
    of the per-type daily value series — the anomaly-baseline
    preprocessor. Exact-integer contract: floor-mean trend over the
    ±3-day present-neighbour window, floor-mean dow seasonal on the
    (exact-integer) detrended series, pure integer residual; both
    engines replay every step bit-identically
    (operators/analytics.py::seasonal_decompose_daily)."""
    from vectorsearchutil_spark.operators.analytics import (
        seasonal_decompose_daily,
    )

    e = load_table(spark, sf_dir, "events")
    return seasonal_decompose_daily(e)


# --------------------------------------------------------------------------
# 44. Centroid silhouette: cluster-quality readout over the kmeans fit
# --------------------------------------------------------------------------


def _silhouette_oracle(k: int = 8, iterations: int = 3) -> str:
    """Replays kmeans via the shared Lloyd's CTE chain
    (_kmeans_cte_chain), then the centroid-silhouette per
    point: a = dist to own (nearest) centroid, b = nearest OTHER
    centroid, s = (b−a)/max(a,b) — quantized to 1e-6 before the
    per-cluster mean so the aggregate is an exact integer sum."""
    final = iterations
    return (
        "WITH "
        + _kmeans_cte_chain(k, iterations)
        + f""",
asg AS (
  SELECT e.vec_id, e.embedding,
         (SELECT c.cid FROM c{final} c
          ORDER BY list_distance(e.embedding::DOUBLE[], c.cv) ASC,
                   c.cid ASC
          LIMIT 1) AS own
  FROM embeddings e
),
ab AS (
  SELECT g.vec_id, g.own,
         (SELECT floor(MIN(list_distance(g.embedding::DOUBLE[], c.cv))
                       * 10000.0 + 0.5) / 10000.0
          FROM c{final} c) AS a,
         (SELECT floor(MIN(list_distance(g.embedding::DOUBLE[], c.cv))
                       * 10000.0 + 0.5) / 10000.0
          FROM c{final} c WHERE c.cid != g.own) AS b
  FROM asg g
),
sq AS (
  SELECT own,
         CAST(floor(
           (CASE WHEN GREATEST(a, b) > 0
                 THEN (b - a) / GREATEST(a, b) ELSE 0.0 END)
           * 1000000.0 + 0.5) AS BIGINT) AS s_q
  FROM ab
)
SELECT CAST(own AS INT) AS cluster,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       floor(CAST(SUM(s_q) AS DOUBLE) / COUNT(*) + 0.5) / 1000000.0
         AS mean_silhouette
FROM sq GROUP BY own
"""
    )


@query("embeddings_silhouette", _silhouette_oracle())
def embeddings_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid silhouette per kmeans cluster (k=8, 3 Lloyd's
    iterations — the fully-oracle-replayed fit): s = (b−a)/max(a,b)
    with a = nearest-centroid distance, b = nearest OTHER centroid —
    the standard is-the-clustering-real readout (near 0 ⇒ clusters
    touch; near 1 ⇒ separated). One corpus×k broadcast pass after
    the fit; per-point s quantizes to 1e-6 so the per-cluster mean
    is an exact integer sum."""
    from vectorsearchutil_spark.functions.vector import finite_vector
    from vectorsearchutil_spark.operators.clustering import (
        kmeans,
        silhouette_ab,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.filter(finite_vector(F.col("embedding"))).select(
        "vec_id", "embedding"
    ).cache()
    _, centroids = kmeans(
        emb, k=8, iterations=3, vector_col="embedding", id_col="vec_id"
    )
    cents = [
        (r["cid"], list(r["cv"])) for r in centroids.collect()
    ]
    ab = silhouette_ab(pts, cents, "embedding", "vec_id")
    a, b = F.col("a"), F.col("b")
    s = F.when(
        F.greatest(a, b) > 0, (b - a) / F.greatest(a, b)
    ).otherwise(F.lit(0.0))
    per_pt = ab.select(
        "cluster",
        F.floor(s * F.lit(1e6) + F.lit(0.5)).cast("long").alias("_sq"),
    )
    return per_pt.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        (
            F.floor(
                F.sum("_sq").cast("double") / F.count(F.lit(1))
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("mean_silhouette"),
    )


# ==========================================================================
# ROUND-8 WAVE. Theme: rank statistics + sequence information theory +
# corpus-shape diagnostics for training-data curation.
# ==========================================================================

_DAILY_GRID_SQL = """
g AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n,
         SUM(CASE WHEN value IS NOT NULL AND isfinite(value)
                  THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) END)
           AS v_cents
  FROM events GROUP BY 1, 2
)
"""

_SPEARMAN_ORACLE = (
    "WITH "
    + _DAILY_GRID_SQL
    + """,
r AS (
  SELECT event_type,
         2 * rank() OVER (PARTITION BY event_type ORDER BY n)
           + COUNT(*) OVER (PARTITION BY event_type, n) - 1 AS rx,
         2 * rank() OVER (PARTITION BY event_type ORDER BY v_cents)
           + COUNT(*) OVER (PARTITION BY event_type, v_cents) - 1 AS ry
  FROM g
),
a AS (
  SELECT event_type, COUNT(*) AS nd,
         SUM(CAST(rx AS HUGEINT)) AS sx, SUM(CAST(ry AS HUGEINT)) AS sy,
         SUM(CAST(rx AS HUGEINT) * rx) AS sxx,
         SUM(CAST(ry AS HUGEINT) * ry) AS syy,
         SUM(CAST(rx AS HUGEINT) * ry) AS sxy
  FROM r GROUP BY 1
)
SELECT event_type, CAST(nd AS BIGINT) AS n_days,
       floor((CAST(nd * sxy - sx * sy AS DOUBLE)
              / sqrt(NULLIF(CAST(nd * sxx - sx * sx AS DOUBLE)
                            * CAST(nd * syy - sy * sy AS DOUBLE), 0.0)))
             * 1000000.0 + 0.5) / 1000000.0 AS spearman_rho
FROM a
"""
)


@query("events_spearman_corr", _SPEARMAN_ORACLE)
def events_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Spearman rank correlation between daily event count
    and daily value sum — monotonic association, robust to the value
    distribution's heavy tail (operators/analytics.py:
    spearman_daily: doubled midranks are exact integers; DECIMAL
    moment sums; windows only over the bounded day grid)."""
    from vectorsearchutil_spark.operators.analytics import spearman_daily

    return spearman_daily(load_table(spark, sf_dir, "events"))


_KENDALL_ORACLE = (
    "WITH "
    + _DAILY_GRID_SQL
    + """,
p AS (
  SELECT a.event_type,
         (a.n - b.n) AS dx, (a.v_cents - b.v_cents) AS dy
  FROM g a JOIN g b
    ON a.event_type = b.event_type AND a.day < b.day
),
a AS (
  SELECT event_type, COUNT(*) AS np,
         SUM(CASE WHEN (dx > 0 AND dy > 0) OR (dx < 0 AND dy < 0)
                  THEN 1 ELSE 0 END) AS c,
         SUM(CASE WHEN (dx > 0 AND dy < 0) OR (dx < 0 AND dy > 0)
                  THEN 1 ELSE 0 END) AS d,
         SUM(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS tx,
         SUM(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS ty
  FROM p GROUP BY 1
)
SELECT event_type, CAST(np AS BIGINT) AS n_pairs,
       CAST(c AS BIGINT) AS concordant, CAST(d AS BIGINT) AS discordant,
       floor((CAST(c - d AS DOUBLE)
              / sqrt(NULLIF((CAST(np AS DOUBLE) - CAST(tx AS DOUBLE))
                            * (CAST(np AS DOUBLE) - CAST(ty AS DOUBLE)),
                            0.0)))
             * 1000000.0 + 0.5) / 1000000.0 AS tau_b
FROM a
"""
)


@query("events_kendall_tau", _KENDALL_ORACLE)
def events_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Kendall tau-b on the daily (count, value) series —
    the O(d²) pair enumeration runs on the AGGREGATED day grid, so
    the self-join broadcasts a calendar-bounded table at any corpus
    scale (operators/analytics.py:kendall_tau_daily)."""
    from vectorsearchutil_spark.operators.analytics import kendall_tau_daily

    return kendall_tau_daily(load_table(spark, sf_dir, "events"))


_TRANSITION_ENTROPY_ORACLE = """
WITH nxt AS (
  SELECT user_id, event_type AS from_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS to_type
  FROM events
),
trans AS (
  SELECT from_type, to_type, COUNT(*) AS nij
  FROM nxt WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
),
wi AS (
  SELECT from_type, to_type, nij,
         SUM(nij) OVER (PARTITION BY from_type) AS ni
  FROM trans
),
h AS (
  SELECT from_type, MAX(ni) AS n_transitions,
         COUNT(*) AS n_next,
         SUM(-(CAST(nij AS DOUBLE) / ni)
             * log2(CAST(nij AS DOUBLE) / ni)) AS hbits
  FROM wi GROUP BY 1
),
tot AS (SELECT SUM(nij) AS n_all FROM trans)
SELECT from_type,
       CAST(n_transitions AS BIGINT) AS n_transitions,
       CAST(n_next AS BIGINT) AS n_next_types,
       floor(hbits * 1000000.0 + 0.5) / 1000000.0 AS h_bits,
       floor((CAST(n_transitions AS DOUBLE) / CAST(t.n_all AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS share
FROM h, tot t
"""


@query("events_transition_entropy", _TRANSITION_ENTROPY_ORACLE)
def events_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional next-event entropy per current state — how
    predictable each state's successor is; share-weighted sum is the
    chain's entropy rate (operators/analytics.py:transition_entropy;
    same lead-window/transition-table shape as
    events_markov_transitions)."""
    from vectorsearchutil_spark.operators.analytics import transition_entropy

    return transition_entropy(load_table(spark, sf_dir, "events"))


_FANO_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
span AS (
  SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
  FROM events
),
days AS (
  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM span
),
grid AS (
  SELECT t.event_type, dy.day, COALESCE(d.c, 0) AS c
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN days dy
  LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = dy.day
),
a AS (
  SELECT event_type, COUNT(*) AS nd,
         SUM(CAST(c AS HUGEINT)) AS s,
         SUM(CAST(c AS HUGEINT) * c) AS q
  FROM grid GROUP BY 1
)
SELECT event_type, CAST(nd AS BIGINT) AS n_days,
       CAST(s AS BIGINT) AS n_events,
       floor((CAST(nd * q - s * s AS DOUBLE)
              / NULLIF(CAST(nd - 1 AS DOUBLE) * CAST(s AS DOUBLE), 0.0))
             * 1000000.0 + 0.5) / 1000000.0 AS fano_factor
FROM a
"""


@query("events_fano_daily", _FANO_ORACLE)
def events_fano_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type burstiness: Fano factor (variance/mean) of daily
    counts over the zero-filled global day grid — Poisson ≈ 1,
    bursty ≫ 1 (operators/analytics.py:fano_daily; exact integer
    moments, grid-bounded)."""
    from vectorsearchutil_spark.operators.analytics import fano_daily

    return fano_daily(load_table(spark, sf_dir, "events"))


_BOILERPLATE_ORACLE = """
WITH pre AS (
  SELECT source, substr(text, 1, 24) AS p
  FROM documents WHERE text IS NOT NULL
),
c AS (SELECT source, p, COUNT(*) AS n FROM pre GROUP BY 1, 2),
mx AS (SELECT source, MAX(n) AS mxn FROM c GROUP BY 1),
best AS (
  SELECT c.source, MIN(c.p) AS top_prefix, MAX(c.n) AS bn
  FROM c JOIN mx ON c.source = mx.source AND c.n = mx.mxn
  GROUP BY c.source
),
tot AS (SELECT source, COUNT(*) AS n_docs FROM pre GROUP BY 1)
SELECT t.source, CAST(t.n_docs AS BIGINT) AS n_docs, b.top_prefix,
       CAST(b.bn AS BIGINT) AS top_prefix_docs,
       floor((CAST(b.bn AS DOUBLE) / CAST(t.n_docs AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS top_prefix_share
FROM tot t JOIN best b ON t.source = b.source
"""


@query("docs_boilerplate_prefix", _BOILERPLATE_ORACLE)
def docs_boilerplate_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template/boilerplate screen: per source, the modal 24-char
    document prefix and its share — cookie banners, licence headers
    and scraped-template wrappers surface here before they flood the
    dedup stage (operators/textanalysis.py:boilerplate_prefixes)."""
    from vectorsearchutil_spark.operators.textanalysis import (
        boilerplate_prefixes,
    )

    return boilerplate_prefixes(load_table(spark, sf_dir, "documents"))


_NOVELTY_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS t
  FROM documents
),
sh0 AS (
  SELECT doc_id, t,
         unnest(range(1, greatest(len(t) - 4, 0) + 1)) AS i
  FROM toks
),
sh AS (
  SELECT DISTINCT doc_id,
         (('0x' || substr(md5(t[i] || '_' || t[i+1] || '_' || t[i+2] ||
                          '_' || t[i+3] || '_' || t[i+4]), 1, 15))::BIGINT)
           AS h
  FROM sh0
),
first AS (SELECT h, MIN(doc_id) AS intro FROM sh GROUP BY h),
novel AS (
  SELECT intro AS doc_id, COUNT(*) AS n_novel FROM first GROUP BY intro
),
tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM sh GROUP BY doc_id)
SELECT t.doc_id, CAST(t.n_grams AS BIGINT) AS n_grams,
       CAST(COALESCE(v.n_novel, 0) AS BIGINT) AS n_novel,
       floor((CAST(COALESCE(v.n_novel, 0) AS DOUBLE)
              / CAST(t.n_grams AS DOUBLE)) * 1000000.0 + 0.5)
         / 1000000.0 AS novelty_ratio
FROM tot t LEFT JOIN novel v ON t.doc_id = v.doc_id
"""


@query("docs_ngram_novelty", _NOVELTY_ORACLE)
def docs_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 5-gram novelty in corpus order: the fraction of a
    doc's distinct 5-grams the corpus sees FIRST in this doc — the
    diminishing-returns diagnostic for whether more of a source still
    adds information (operators/textanalysis.py:ngram_novelty; md5
    keys, no pair re-join, text never shuffles)."""
    from vectorsearchutil_spark.operators.textanalysis import ngram_novelty

    return ngram_novelty(load_table(spark, sf_dir, "documents"))


_CHUNK_OVERLAP_ORACLE = """
WITH c AS (
  SELECT source,
         len(list_filter(string_split(text, ' '), x -> x != '')) AS t
  FROM documents
),
d AS (
  SELECT source, t,
         CASE WHEN t <= 0 THEN 0
              ELSE 1 + CAST(ceil(CAST(greatest(t - 256, 0) AS DOUBLE)
                                 / 192.0) AS BIGINT) END AS nc
  FROM c
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(t) AS BIGINT) AS total_tokens,
       CAST(SUM(nc) AS BIGINT) AS total_chunks,
       CAST(SUM(t + 64 * greatest(nc - 1, 0)) AS BIGINT) AS emitted_tokens,
       floor((CAST(SUM(t + 64 * greatest(nc - 1, 0)) AS DOUBLE)
              / NULLIF(CAST(SUM(t) AS DOUBLE), 0.0)) * 1000000.0 + 0.5)
         / 1000000.0 AS inflation
FROM d GROUP BY source
"""


@query("docs_chunk_overlap", _CHUNK_OVERLAP_ORACLE)
def docs_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-chunking cost report per source: sliding-window (256/192)
    chunk counts and the token inflation the overlap re-emits —
    closed-form integer arithmetic on per-doc token counts
    (operators/textanalysis.py:chunk_overlap_stats)."""
    from vectorsearchutil_spark.operators.textanalysis import (
        chunk_overlap_stats,
    )

    return chunk_overlap_stats(load_table(spark, sf_dir, "documents"))


def _pq_distortion_oracle() -> str:
    return (
        "WITH "
        + _pq_cte_chain()
        + """
SELECT CAST(j AS INT) AS subspace,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       floor((CAST(SUM(CAST(floor(d2 * 1000000.0 + 0.5) AS HUGEINT))
                   AS DOUBLE)
              / (COUNT(*) * 1000000.0)) * 1000000.0 + 0.5)
         / 1000000.0 AS mean_sq_err,
       floor(MAX(d2) * 1000000.0 + 0.5) / 1000000.0 AS max_sq_err,
       CAST(SUM(CASE WHEN d2 = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS exact_zero
FROM codes GROUP BY j
"""
    )


@query("embeddings_pq_distortion", _pq_distortion_oracle())
def embeddings_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subspace PQ quantization distortion (mean/max squared
    error + exactly-representable count) for the same deterministic
    8×16×2-iteration codebooks as embeddings_pq_codes — the
    diagnostic that says WHICH embedding slice needs a bigger
    codebook before recall pays for it
    (operators/pq.py:pq_subspace_distortion; value-quantized exact
    mean, corpus never shuffles)."""
    from vectorsearchutil_spark.operators.pq import (
        pq_subspace_distortion,
        pq_train,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    if emb.filter(F.col("embedding").isNotNull()).first() is None:
        return local_frame(
            spark,
            [],
            "subspace int, n_vectors long, mean_sq_err double,"
            " max_sq_err double, exact_zero long",
        )
    books = pq_train(emb, m=8, k=16, iterations=2)
    return pq_subspace_distortion(emb, books)


# --- round-8 wave 2: tail statistics + latency distributions ----------

_HILL_ORACLE = """
WITH pos AS (
  SELECT event_type AS t, value AS x FROM events
  WHERE value IS NOT NULL AND isfinite(value) AND value > 0
),
top AS (
  SELECT t, x, ROW_NUMBER() OVER (PARTITION BY t ORDER BY x DESC) AS rn
  FROM pos
),
xk1 AS (SELECT t, x AS xk1 FROM top WHERE rn = 101),
terms AS (
  SELECT top.t,
         CAST(floor(ln(top.x / xk1.xk1) * 1000000000.0 + 0.5)
              AS HUGEINT) AS q
  FROM top JOIN xk1 USING (t) WHERE rn <= 100
)
SELECT t AS event_type, CAST(COUNT(*) AS INT) AS k,
       floor((CAST(SUM(q) AS DOUBLE) / (100.0 * 1000000000.0))
             * 1000000.0 + 0.5) / 1000000.0 AS hill,
       floor(((100.0 * 1000000000.0)
              / NULLIF(CAST(SUM(q) AS DOUBLE), 0.0))
             * 1000000.0 + 0.5) / 1000000.0 AS alpha
FROM terms GROUP BY t
"""


@query("events_hill_tail_index", _HILL_ORACLE)
def events_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the value tail index per event type (top-100
    order statistics; alpha = 1/hill) — the heavy-tail diagnostic
    behind sampling-temperature and outlier-cap choices
    (operators/analytics.py:hill_tail_index; WindowGroupLimit top-k,
    1e-9-quantized exact log sums)."""
    from vectorsearchutil_spark.operators.analytics import hill_tail_index

    return hill_tail_index(load_table(spark, sf_dir, "events"))


def _norm_anova_oracle() -> str:
    from vectorsearchutil_spark.functions.vector import FINITE_VEC_SQL

    return f"""
WITH rows_q AS (
  SELECT label AS l,
         CAST(floor(list_sum(list_transform(embedding::DOUBLE[],
                                            x -> x * x))
                    * 1000000.0 + 0.5) AS HUGEINT) AS q
  FROM embeddings
  WHERE embedding IS NOT NULL AND label IS NOT NULL
    AND {FINITE_VEC_SQL}
),
per_l AS (
  SELECT l, COUNT(*) AS n, SUM(q) AS s, SUM(q * q) AS qq
  FROM rows_q GROUP BY l
),
tot AS (
  SELECT SUM(n) AS n, COUNT(*) AS k,
         CAST(SUM(s) AS DOUBLE) AS S, CAST(SUM(qq) AS DOUBLE) AS Q,
         SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
           AS B
  FROM per_l
)
SELECT CAST(n AS BIGINT) AS n, CAST(k AS INT) AS k_labels,
       floor(((B - S * S / CAST(n AS DOUBLE))
              / NULLIF(CAST(k - 1 AS DOUBLE), 0.0))
             / NULLIF((Q - B) / NULLIF(CAST(n - k AS DOUBLE), 0.0), 0.0)
             * 1000000.0 + 0.5) / 1000000.0 AS f_stat
FROM tot
"""


@query("embeddings_norm_anova", _norm_anova_oracle())
def embeddings_norm_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F of squared vector norms across labels — do
    classes live at different radii?
    (operators/analytics.py:norm_anova; 1e-6-quantized exact moment
    sums, single-row output)."""
    from vectorsearchutil_spark.operators.analytics import norm_anova

    return norm_anova(load_table(spark, sf_dir, "embeddings"))


_SHIP_DELAY_ORACLE = """
WITH d AS (
  SELECT o.o_orderpriority AS priority,
         CAST(CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE)
              AS INT) AS delay_days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
hist AS (
  SELECT priority, delay_days, COUNT(*) AS c FROM d GROUP BY 1, 2
),
cum AS (
  SELECT priority, delay_days, c,
         SUM(c) OVER (PARTITION BY priority ORDER BY delay_days) AS cm,
         SUM(c) OVER (PARTITION BY priority) AS n
  FROM hist
)
SELECT priority, CAST(MAX(n) AS BIGINT) AS n,
       CAST(MIN(CASE WHEN cm >= ceil(0.5 * n) THEN delay_days END)
            AS INT) AS p50_days,
       CAST(MIN(CASE WHEN cm >= ceil(0.9 * n) THEN delay_days END)
            AS INT) AS p90_days,
       CAST(MIN(CASE WHEN cm >= ceil(0.99 * n) THEN delay_days END)
            AS INT) AS p99_days
FROM cum GROUP BY priority
"""


@query("orders_ship_delay_quantiles", _SHIP_DELAY_ORACLE)
def orders_ship_delay_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 order-to-ship latency (days) per order
    priority — the fulfilment-SLA report
    (operators/analytics.py:ship_delay_quantiles; integer-day
    histogram quantiles, windows over the value domain only)."""
    from vectorsearchutil_spark.operators.analytics import (
        ship_delay_quantiles,
    )

    return ship_delay_quantiles(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


_INTERPURCHASE_ORACLE = """
WITH gaps AS (
  SELECT o_custkey,
         CAST(CAST(o_orderdate AS DATE)
              - LAG(CAST(o_orderdate AS DATE)) OVER (
                  PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey) AS INT) AS gap
  FROM orders
),
seg AS (
  SELECT c.c_mktsegment AS segment, g.gap
  FROM gaps g JOIN customer c ON g.o_custkey = c.c_custkey
  WHERE g.gap IS NOT NULL
),
hist AS (SELECT segment, gap, COUNT(*) AS c FROM seg GROUP BY 1, 2),
cum AS (
  SELECT segment, gap, c,
         SUM(c) OVER (PARTITION BY segment ORDER BY gap) AS cm,
         SUM(c) OVER (PARTITION BY segment) AS n
  FROM hist
)
SELECT segment, CAST(MAX(n) AS BIGINT) AS n_gaps,
       CAST(MIN(CASE WHEN cm >= ceil(0.5 * n) THEN gap END) AS INT)
         AS median_days,
       CAST(MIN(CASE WHEN cm >= ceil(0.9 * n) THEN gap END) AS INT)
         AS p90_days
FROM cum GROUP BY segment
"""


@query("orders_interpurchase_median", _INTERPURCHASE_ORACLE)
def orders_interpurchase_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median / p90 days between consecutive orders per market
    segment — repeat-purchase cadence
    (operators/analytics.py:interpurchase_median; per-customer lag
    window + integer-day histogram medians, no serial window)."""
    from vectorsearchutil_spark.operators.analytics import (
        interpurchase_median,
    )

    return interpurchase_median(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


# --- round-8 wave 3: dedup-tuning + corpus-sizing diagnostics ---------

_SHINGLES_CTE_P = """
doctoks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
  FROM documents
),
sh0 AS (
  SELECT doc_id, toks,
         unnest(range(1, greatest(len(toks) - 2, 0) + 1)) AS i
  FROM doctoks
),
sh AS (
  SELECT DISTINCT doc_id,
         toks[i] || '_' || toks[i+1] || '_' || toks[i+2] AS shingle
  FROM sh0
)
"""

_PAIR_HIST_ORACLE = f"""
WITH {_SHINGLES_CTE_P},
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
j AS (
  SELECT inter * 1.0 / (sa.n_sh + sb.n_sh - inter) AS jac
  FROM inter i
  JOIN sizes sa ON i.id_a = sa.doc_id
  JOIN sizes sb ON i.id_b = sb.doc_id
  WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= 0.5
)
SELECT CAST(LEAST(floor(jac * 20), 19) AS INT) AS sim_bin,
       floor(LEAST(floor(jac * 20), 19) / 20.0 * 1000000.0 + 0.5)
         / 1000000.0 AS bin_lo,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM j GROUP BY 1, 2
"""


@query("docs_pair_similarity_histogram", _PAIR_HIST_ORACLE)
def docs_pair_similarity_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-dup similarity histogram (0.05-wide Jaccard bins over
    candidate pairs ≥ 0.5) — the threshold-tuning curve every dedup
    rollout wants BEFORE committing a cutoff. Rides the exact
    prefix-filtered pair join (operators/dedup.py:
    ngram_jaccard_pairs); the histogram aggregates the pair table.

    Cost note: at t=0.5 the PPJoin prefix is ~half of each doc's
    shingles, so candidates (and the true pair table) grow
    quadratically in dup-cluster size — this is a tuning DIAGNOSTIC.
    At corpus scale run it over a deterministic hash-sample of docs
    (`docs.filter(pmod(xxhash64(doc_id), 10) = 0)` — the histogram
    shape converges fast and the oracle replicates the predicate);
    production screens at t>=0.8 keep the prefix short."""
    from vectorsearchutil_spark.operators import dedup as _dd

    docs = load_table(spark, sf_dir, "documents")
    pairs = _dd.ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    bucket = F.least(
        F.floor(F.col("jaccard") * F.lit(20.0)), F.lit(19)
    ).cast("int")
    from vectorsearchutil_spark.functions.vector import round_half_up

    return pairs.groupBy(bucket.alias("sim_bin")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    ).select(
        "sim_bin",
        round_half_up(F.col("sim_bin") / F.lit(20.0), 6).alias("bin_lo"),
        "n_pairs",
    )


_SOURCE_OVERLAP_ORACLE = f"""
WITH {_SHINGLES_CTE_P},
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
p AS (
  SELECT id_a, id_b
  FROM inter i
  JOIN sizes sa ON i.id_a = sa.doc_id
  JOIN sizes sb ON i.id_b = sb.doc_id
  WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= 0.8
),
lab AS (
  SELECT LEAST(da.source, db.source) AS source_a,
         GREATEST(da.source, db.source) AS source_b,
         p.id_a, p.id_b
  FROM p
  JOIN documents da ON p.id_a = da.doc_id
  JOIN documents db ON p.id_b = db.doc_id
)
SELECT source_a, source_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT id_a) + COUNT(DISTINCT id_b) AS BIGINT)
         AS n_docs_involved
FROM lab GROUP BY 1, 2
"""


@query("docs_source_overlap", _SOURCE_OVERLAP_ORACLE)
def docs_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate leakage matrix: near-dup pairs (≥0.8)
    aggregated per unordered source pair — the diagnostic that says
    WHICH two feeds are re-crawling each other before you debug a
    mixture weight. Joins the narrow pair table back to the two
    source labels; the corpus text never re-shuffles."""
    from vectorsearchutil_spark.operators import dedup as _dd

    docs = load_table(spark, sf_dir, "documents")
    pairs = _dd.ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    src = docs.select("doc_id", "source")
    lab = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("id_a"), F.col("source").alias("_sa")
            ),
            "id_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("id_b"), F.col("source").alias("_sb")
            ),
            "id_b",
        )
        .select(
            F.least(F.col("_sa"), F.col("_sb")).alias("source_a"),
            F.greatest(F.col("_sa"), F.col("_sb")).alias("source_b"),
            "id_a",
            "id_b",
        )
    )
    return lab.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (
            F.countDistinct("id_a") + F.countDistinct("id_b")
        ).alias("n_docs_involved"),
    )


_TOKEN_QUANTILES_ORACLE = """
WITH c AS (
  SELECT source,
         CAST(len(list_filter(string_split(text, ' '), x -> x != ''))
              AS INT) AS t
  FROM documents
),
hist AS (SELECT source, t, COUNT(*) AS c FROM c GROUP BY 1, 2),
cum AS (
  SELECT source, t, c,
         SUM(c) OVER (PARTITION BY source ORDER BY t) AS cm,
         SUM(c) OVER (PARTITION BY source) AS n
  FROM hist
)
SELECT source, CAST(MAX(n) AS BIGINT) AS n,
       CAST(MIN(CASE WHEN cm >= ceil(0.5 * n) THEN t END) AS INT)
         AS p50_tokens,
       CAST(MIN(CASE WHEN cm >= ceil(0.9 * n) THEN t END) AS INT)
         AS p90_tokens,
       CAST(MIN(CASE WHEN cm >= ceil(0.99 * n) THEN t END) AS INT)
         AS p99_tokens
FROM cum GROUP BY source
"""


@query("docs_token_quantiles", _TOKEN_QUANTILES_ORACLE)
def docs_token_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source token-count quantiles (p50/p90/p99) — the
    context-length / truncation-budget sizing table
    (operators/analytics.py:_int_value_quantiles over per-doc counts:
    quantile windows touch only the integer value domain)."""
    from vectorsearchutil_spark.operators.analytics import (
        _int_value_quantiles,
    )
    from vectorsearchutil_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source", F.size(tokens(F.col("text"))).cast("int").alias("t")
    )
    out = _int_value_quantiles(
        d, "source", "t", [0.5, 0.9, 0.99],
        ["p50_tokens", "p90_tokens", "p99_tokens"],
    )
    return out.select(
        "source", "n",
        F.col("p50_tokens").cast("int").alias("p50_tokens"),
        F.col("p90_tokens").cast("int").alias("p90_tokens"),
        F.col("p99_tokens").cast("int").alias("p99_tokens"),
    )


# --------------------------------------------------------------------------
# ROUND-8 WAVE 4 — concentration / co-movement / screening
# --------------------------------------------------------------------------

_LORENZ_ORACLE = """
WITH tot AS (
  SELECT user_id AS u,
         COALESCE(SUM(CASE WHEN value IS NOT NULL AND isfinite(value)
                  THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) END),
                  0) AS t
  FROM events GROUP BY 1
),
r AS (
  SELECT t, ROW_NUMBER() OVER (ORDER BY t, u) AS rk,
         COUNT(*) OVER () AS n, SUM(t) OVER () AS g
  FROM tot
),
d AS (
  SELECT CAST(floor(((rk - 1) * 10.0) / n) AS INT) AS d0,
         COUNT(*) AS n_users, SUM(t) AS dv, MAX(g) AS g
  FROM r GROUP BY 1
)
SELECT CAST(d0 + 1 AS INT) AS decile,
       CAST(n_users AS BIGINT) AS n_users,
       floor(CAST(dv AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0
         AS decile_value,
       floor((SUM(CAST(dv AS DOUBLE)) OVER (ORDER BY d0
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              / NULLIF(CAST(g AS DOUBLE), 0.0)) * 1000000.0 + 0.5)
         / 1000000.0 AS cum_share
FROM d
"""


@query("events_lorenz_curve", _LORENZ_ORACLE)
def events_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz concentration curve of lifetime value over users — the
    decile curve behind Gini. The global user ranking is the
    two-level bucketed rank (operators/analytics.py:
    lorenz_curve_by_user), never a single-partition sort."""
    from vectorsearchutil_spark.operators.analytics import (
        lorenz_curve_by_user,
    )

    return lorenz_curve_by_user(load_table(spark, sf_dir, "events"))


_DRAWDOWN_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         COALESCE(SUM(CASE WHEN value IS NOT NULL AND isfinite(value)
                  THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) END),
                  0) AS v
  FROM events GROUP BY 1
),
curve AS (
  SELECT day,
         SUM(v) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM daily
),
dd AS (
  SELECT day, cum,
         MAX(cum) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
  FROM curve
),
best AS (
  SELECT day, peak, (peak - cum) AS fall
  FROM dd ORDER BY fall DESC, day ASC LIMIT 1
),
cnt AS (SELECT COUNT(*) AS n_days FROM dd)
SELECT CAST(cnt.n_days AS BIGINT) AS n_days,
       floor(CAST(best.fall AS DOUBLE) / 100.0 * 100.0 + 0.5)
         / 100.0 AS max_drawdown,
       CAST(best.day AS VARCHAR) AS trough_day,
       floor(CAST(best.peak AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0
         AS peak_at_trough
FROM best, cnt
"""


@query("events_max_drawdown", _DRAWDOWN_ORACLE)
def events_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max drawdown of cumulative daily value — deepest fall under
    the running high-water mark, with the (earliest) trough day. All
    windows over the calendar-bounded day grid
    (operators/analytics.py:max_drawdown_daily)."""
    from vectorsearchutil_spark.operators.analytics import (
        max_drawdown_daily,
    )

    return max_drawdown_daily(load_table(spark, sf_dir, "events"))


_ROLLING_CORR_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         COALESCE(SUM(CASE WHEN event_type = 'purchase'
                  AND value IS NOT NULL AND isfinite(value)
                  THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) END),
                  0) AS x,
         COALESCE(SUM(CASE WHEN event_type = 'click'
                  AND value IS NOT NULL AND isfinite(value)
                  THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) END),
                  0) AS y
  FROM events GROUP BY 1
),
m AS (
  SELECT day,
         COUNT(*) OVER w AS k,
         SUM(CAST(x AS HUGEINT)) OVER w AS sx,
         SUM(CAST(y AS HUGEINT)) OVER w AS sy,
         SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) OVER w AS sxx,
         SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) OVER w AS syy,
         SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) OVER w AS sxy
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT CAST(day AS VARCHAR) AS day,
       floor((CAST(7 * sxy - sx * sy AS DOUBLE)
              / sqrt(NULLIF(CAST(7 * sxx - sx * sx AS DOUBLE)
                            * CAST(7 * syy - sy * sy AS DOUBLE), 0.0)))
             * 1000000.0 + 0.5) / 1000000.0 AS rolling_corr
FROM m WHERE k = 7
"""


@query("events_rolling_corr", _ROLLING_CORR_ORACLE)
def events_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling Pearson correlation between purchase and click
    daily value — the co-movement drift monitor. Exact integer moment
    sums over the zero-filled day grid
    (operators/analytics.py:rolling_corr_daily)."""
    from vectorsearchutil_spark.operators.analytics import (
        rolling_corr_daily,
    )

    return rolling_corr_daily(load_table(spark, sf_dir, "events"))


_CORR_MATRIX_ORACLE = """
WITH q AS (
  SELECT CAST(floor(l_quantity * 1.0 + 0.5) AS BIGINT) AS a,
         CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS b,
         CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS c
  FROM lineitem
),
m AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(a AS HUGEINT)) AS sa, SUM(CAST(b AS HUGEINT)) AS sb,
         SUM(CAST(c AS HUGEINT)) AS sc,
         SUM(CAST(a AS HUGEINT) * CAST(a AS HUGEINT)) AS qa,
         SUM(CAST(b AS HUGEINT) * CAST(b AS HUGEINT)) AS qb,
         SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS qc,
         SUM(CAST(a AS HUGEINT) * CAST(b AS HUGEINT)) AS pab,
         SUM(CAST(a AS HUGEINT) * CAST(c AS HUGEINT)) AS pac,
         SUM(CAST(b AS HUGEINT) * CAST(c AS HUGEINT)) AS pbc
  FROM q
)
SELECT pair, CAST(n AS BIGINT) AS n_rows,
       floor((CAST(n * p - s1 * s2 AS DOUBLE)
              / sqrt(NULLIF(CAST(n * q1 - s1 * s1 AS DOUBLE)
                            * CAST(n * q2 - s2 * s2 AS DOUBLE), 0.0)))
             * 1000000.0 + 0.5) / 1000000.0 AS pearson_r
FROM (
  SELECT 'l_quantity~l_extendedprice' AS pair, n, pab AS p,
         sa AS s1, sb AS s2, qa AS q1, qb AS q2 FROM m
  UNION ALL
  SELECT 'l_quantity~l_discount', n, pac, sa, sc, qa, qc FROM m
  UNION ALL
  SELECT 'l_extendedprice~l_discount', n, pbc, sb, sc, qb, qc FROM m
)
"""


@query("lineitem_corr_matrix", _CORR_MATRIX_ORACLE)
def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson screening matrix over lineitem numerics
    (quantity, price cents, discount points) — one full-scan
    aggregate with map-side partials; the pair expansion is
    driver-side (operators/analytics.py:numeric_corr_matrix)."""
    from vectorsearchutil_spark.operators.analytics import (
        numeric_corr_matrix,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return numeric_corr_matrix(
        li,
        [("l_quantity", 1), ("l_extendedprice", 100), ("l_discount", 100)],
    )


_SCD2_ORACLE = """
WITH log AS (
  SELECT c_custkey, 1 AS seq, 'upsert' AS op, c_name, c_acctbal
  FROM customer
  UNION ALL
  SELECT c_custkey, 2, 'upsert', c_name, c_acctbal + 100
  FROM customer WHERE c_custkey % 10 IN (1, 2)
  UNION ALL
  SELECT c_custkey, 3, 'upsert', c_name, c_acctbal + 200
  FROM customer WHERE c_custkey % 100 = 1
  UNION ALL
  SELECT c_custkey, 2, 'delete', c_name, c_acctbal
  FROM customer WHERE c_custkey % 10 = 0
),
v AS (
  SELECT c_custkey, seq, op, c_name, c_acctbal,
         LEAD(seq) OVER (PARTITION BY c_custkey ORDER BY seq)
           AS next_seq
  FROM log
)
SELECT c_custkey, c_name,
       floor(c_acctbal * 100.0 + 0.5) / 100.0 AS c_acctbal,
       CAST(seq AS INT) AS valid_from_seq,
       CAST(next_seq AS INT) AS valid_to_seq,
       (next_seq IS NULL) AS is_current
FROM v WHERE op != 'delete'
"""


@query("customers_scd2_history", _SCD2_ORACLE)
def customers_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history from a deterministic CDC
    changelog (same synthesis family as customers_cdc_merge):
    validity intervals + current flags via one per-key lead window
    (operators/cdc.py:scd2_build)."""
    from vectorsearchutil_spark.operators.cdc import scd2_build

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    k = F.col("c_custkey")
    v1 = cust.select(
        k, F.lit(1).alias("seq"), F.lit("upsert").alias("op"),
        "c_name", F.col("c_acctbal"),
    )
    v2 = cust.filter((k % 10).isin(1, 2)).select(
        k, F.lit(2).alias("seq"), F.lit("upsert").alias("op"),
        "c_name", (F.col("c_acctbal") + 100).alias("c_acctbal"),
    )
    v3 = cust.filter(k % 100 == 1).select(
        k, F.lit(3).alias("seq"), F.lit("upsert").alias("op"),
        "c_name", (F.col("c_acctbal") + 200).alias("c_acctbal"),
    )
    dels = cust.filter(k % 10 == 0).select(
        k, F.lit(2).alias("seq"), F.lit("delete").alias("op"),
        "c_name", F.col("c_acctbal"),
    )
    log = v1.unionByName(v2).unionByName(v3).unionByName(dels)
    out = scd2_build(log, "c_custkey", "seq")
    from vectorsearchutil_spark.operators.analytics import round_half_up

    return out.select(
        "c_custkey", "c_name",
        round_half_up(F.col("c_acctbal"), 2).alias("c_acctbal"),
        F.col("valid_from_seq").cast("int").alias("valid_from_seq"),
        F.col("valid_to_seq").cast("int").alias("valid_to_seq"),
        "is_current",
    )


_FERTILITY_ORACLE = """
WITH per AS (
  SELECT lang,
         CAST(len(list_filter(string_split(text, ' '), x -> x != ''))
              AS BIGINT) AS ws,
         CAST(len(regexp_extract_all(text,
              ' ?[a-z]+| ?[0-9]+|[^a-z0-9 ]+')) AS BIGINT) AS bpe,
         CAST(length(text) AS BIGINT) AS chars
  FROM documents
),
g AS (
  SELECT lang, COUNT(*) AS n_docs, SUM(ws) AS ws, SUM(bpe) AS bpe,
         SUM(chars) AS chars
  FROM per GROUP BY 1
)
SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(ws AS BIGINT) AS n_ws_tokens,
       CAST(bpe AS BIGINT) AS n_bpe_tokens,
       floor((CAST(bpe AS DOUBLE) / NULLIF(CAST(ws AS DOUBLE), 0.0))
             * 1000000.0 + 0.5) / 1000000.0 AS fertility,
       floor((CAST(chars AS DOUBLE) / NULLIF(CAST(bpe AS DOUBLE), 0.0))
             * 1000000.0 + 0.5) / 1000000.0 AS chars_per_token
FROM g
"""


@query("docs_tokenizer_fertility", _FERTILITY_ORACLE)
def docs_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language (BPE-ish tokens per
    whitespace word, chars per token) — which languages pay a
    context-length tax (operators/textanalysis.py:
    tokenizer_fertility)."""
    from vectorsearchutil_spark.operators.textanalysis import (
        tokenizer_fertility,
    )

    return tokenizer_fertility(load_table(spark, sf_dir, "documents"))


_STORAGE_BUDGET_ORACLE = """
WITH sized AS (
  SELECT source, CAST(strlen(text) + 8 AS BIGINT) AS bytes
  FROM documents
),
hist AS (
  SELECT source, bytes, COUNT(*) AS c FROM sized GROUP BY 1, 2
),
cum AS (
  SELECT source, bytes, c,
         SUM(c) OVER (PARTITION BY source ORDER BY bytes) AS cumc,
         SUM(c) OVER (PARTITION BY source) AS n
  FROM hist
)
SELECT source, CAST(MAX(n) AS BIGINT) AS n_objects,
       CAST(SUM(bytes * c) AS BIGINT) AS total_bytes,
       CAST(MIN(CASE WHEN cumc >= CAST(ceil(0.95 * n) AS BIGINT)
                THEN bytes END) AS BIGINT) AS p95_bytes,
       CAST(MAX(bytes) AS BIGINT) AS max_bytes
FROM cum GROUP BY 1
"""


@query("multimodal_storage_budget", _STORAGE_BUDGET_ORACLE)
def multimodal_storage_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source storage budget of the synthesized binary media
    column (count, total/max bytes, EXACT p95 size via the
    value-domain histogram) — capacity planning for a multimodal
    corpus (operators/multimodal.py:storage_budget)."""
    from vectorsearchutil_spark.operators.multimodal import (
        storage_budget,
        synthesize_binary,
    )

    docs = load_table(spark, sf_dir, "documents")
    return storage_budget(synthesize_binary(docs))


# --------------------------------------------------------------------------
# ROUND-8 WAVE 5 — corpus-health / OLAP-profile operators
# --------------------------------------------------------------------------

_BASKET_HIST_ORACLE = """
WITH sizes AS (
  SELECT l_orderkey, COUNT(*) AS k FROM lineitem GROUP BY 1
),
hist AS (
  SELECT k, COUNT(*) AS n_orders FROM sizes GROUP BY 1
),
tot AS (SELECT SUM(n_orders) AS n FROM hist)
SELECT CAST(k AS INT) AS basket_size,
       CAST(n_orders AS BIGINT) AS n_orders,
       floor((CAST(n_orders AS DOUBLE) / CAST(t.n AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS share
FROM hist, tot t
"""


@query("orders_basket_size_histogram", _BASKET_HIST_ORACLE)
def orders_basket_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PMF of lines per order — the basket-size distribution behind
    co-purchase and packing models. Two map-side-combined aggregates
    (order sizes, then the size histogram); the share divides by a
    broadcast 1-row total."""
    li = load_table(spark, sf_dir, "lineitem")
    sizes = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("_k"))
    hist = sizes.groupBy("_k").agg(F.count(F.lit(1)).alias("n_orders"))
    tot = hist.agg(F.sum("n_orders").alias("_n"))
    from vectorsearchutil_spark.operators.analytics import round_half_up

    return hist.crossJoin(F.broadcast(tot)).select(
        F.col("_k").cast("int").alias("basket_size"),
        F.col("n_orders").cast("long").alias("n_orders"),
        round_half_up(
            F.col("n_orders").cast("double")
            / F.col("_n").cast("double"),
            6,
        ).alias("share"),
    )


_DISCOUNT_BAND_ORACLE = """
WITH b AS (
  SELECT CAST(floor(l_discount * 100.0 + 0.5) AS INT) AS disc_pts,
         CAST(floor((l_quantity - 1) / 10.0) AS INT) AS qty_band,
         CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM lineitem
)
SELECT disc_pts, qty_band,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       floor(CAST(SUM(cents) AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0
         AS gross_revenue,
       floor(CAST(SUM(cents * CAST(100 - disc_pts AS BIGINT)) AS DOUBLE)
             / 10000.0 * 100.0 + 0.5) / 100.0 AS net_revenue
FROM b GROUP BY 1, 2
"""


@query("lineitem_discount_band_profit", _DISCOUNT_BAND_ORACLE)
def lineitem_discount_band_profit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gross vs net revenue by (discount-point, quantity-band) cell —
    the band-pricing profile. Net is EXACT integer arithmetic:
    cents × (100 − discount points) accumulates hundredths of cents;
    one aggregate pass to the ≤11×5-cell grid."""
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.floor(F.col("l_discount") * 100.0 + 0.5).cast("int")
    qb = F.floor((F.col("l_quantity") - 1) / 10.0).cast("int")
    cents = F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long")
    from vectorsearchutil_spark.operators.analytics import round_half_up

    return (
        li.select(
            disc.alias("disc_pts"),
            qb.alias("qty_band"),
            cents.alias("_c"),
        )
        .groupBy("disc_pts", "qty_band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            round_half_up(
                F.sum("_c").cast("double") / F.lit(100.0), 2
            ).alias("gross_revenue"),
            round_half_up(
                F.sum(
                    F.col("_c") * (F.lit(100) - F.col("disc_pts")).cast("long")
                ).cast("double")
                / F.lit(10000.0),
                2,
            ).alias("net_revenue"),
        )
    )


_UNICODE_HEALTH_ORACLE = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN regexp_matches(text, '\\x{FFFD}')
                THEN 1 ELSE 0 END) AS BIGINT) AS n_replacement_docs,
       CAST(SUM(len(regexp_extract_all(text,
            '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]'))) AS BIGINT)
         AS n_control_chars,
       floor((CAST(SUM(len(regexp_extract_all(text, '[^\\x00-\\x7f]')))
                AS DOUBLE)
              / NULLIF(CAST(SUM(length(text)) AS DOUBLE), 0.0))
             * 1000000.0 + 0.5) / 1000000.0 AS non_ascii_share
FROM documents GROUP BY 1
"""


@query("text_unicode_health", _UNICODE_HEALTH_ORACLE)
def text_unicode_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source encoding-health triage (U+FFFD docs, stray control
    chars, non-ASCII share) — catches a mis-decoded crawl before it
    poisons a mix (operators/textanalysis.py:unicode_health)."""
    from vectorsearchutil_spark.operators.textanalysis import (
        unicode_health,
    )

    return unicode_health(load_table(spark, sf_dir, "documents"))


_DIVERSITY_INDICES_ORACLE = """
WITH toks AS (
  SELECT source,
         unnest(list_filter(string_split(text, ' '), x -> x != ''))
           AS tok
  FROM documents
),
c AS (
  SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2
),
g AS (
  SELECT source,
         SUM(CAST(c AS HUGEINT)) AS n,
         COUNT(*) AS vocab,
         SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS s2,
         SUM(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) AS clogc
  FROM c GROUP BY 1
)
SELECT source,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(vocab AS BIGINT) AS vocab,
       floor((CAST(vocab AS DOUBLE) / CAST(n AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS ttr,
       floor((1.0 - CAST(s2 AS DOUBLE)
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
             * 1000000.0 + 0.5) / 1000000.0 AS gini_simpson,
       floor((log2(CAST(n AS DOUBLE)) - clogc / CAST(n AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS shannon_bits
FROM g
"""


@query("docs_diversity_indices", _DIVERSITY_INDICES_ORACLE)
def docs_diversity_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per source (TTR, Gini–Simpson, Shannon) —
    the repetitiveness fingerprint before mixture weighting
    (operators/textanalysis.py:diversity_indices)."""
    from vectorsearchutil_spark.operators.textanalysis import (
        diversity_indices,
    )

    return diversity_indices(load_table(spark, sf_dir, "documents"))


def _cluster_lang_purity_oracle() -> str:
    return f"""
WITH RECURSIVE {_CC_EDGES_CTE},
cl AS (
  SELECT c.component, d.lang
  FROM comp c JOIN documents d ON c.doc_id = d.doc_id
),
langc AS (
  SELECT component, lang, COUNT(*) AS c FROM cl GROUP BY 1, 2
),
per AS (
  SELECT component, SUM(c) AS nd, COUNT(*) AS nl, MAX(c) AS mc
  FROM langc GROUP BY 1
)
SELECT CAST(nl AS INT) AS n_langs,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(nd) AS BIGINT) AS n_docs,
       floor((CAST(SUM(mc) AS DOUBLE) / CAST(SUM(nd) AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS majority_share
FROM per GROUP BY 1
"""


@query("dedup_cluster_lang_purity", _cluster_lang_purity_oracle())
def dedup_cluster_lang_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual contamination of near-dup clusters: for each
    language-count bucket, how many clusters / docs, and the
    aggregate majority-language share (Σ max-lang count ÷ Σ docs —
    exact integers, ONE double division; no per-cluster double AVG
    whose fold order could differ). Clusters come from the shipped
    CC operator over 0.8-Jaccard pairs; the lang join touches only
    cluster members."""
    from vectorsearchutil_spark.operators import dedup as _dd
    from vectorsearchutil_spark.operators.analytics import round_half_up

    docs = load_table(spark, sf_dir, "documents")
    pairs = _dd.ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    comp = _dd.connected_components(pairs)
    cl = comp.join(
        docs.select("doc_id", "lang"),
        comp.node == F.col("doc_id"),
    ).select("component", "lang")
    langc = cl.groupBy("component", "lang").agg(
        F.count(F.lit(1)).alias("_c")
    )
    per = langc.groupBy("component").agg(
        F.sum("_c").alias("_nd"),
        F.count(F.lit(1)).alias("_nl"),
        F.max("_c").alias("_mc"),
    )
    return per.groupBy(F.col("_nl").cast("int").alias("n_langs")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("_nd").cast("long").alias("n_docs"),
        round_half_up(
            F.sum("_mc").cast("double") / F.sum("_nd").cast("double"), 6
        ).alias("majority_share"),
    )


# --------------------------------------------------------------------------
# ROUND-8 WAVE 6 — monitoring / evaluation / dedup-impact
# --------------------------------------------------------------------------

_SEAS_DECOMP_PREFIX = """
daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         SUM(CASE WHEN value IS NOT NULL AND isfinite(value)
                  THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) END) AS v
  FROM events GROUP BY 1, 2
),
nb AS (
  SELECT d.event_type, d.day + CAST(o.k AS INT) AS day, d.v AS nv
  FROM daily d, range(-3, 4) o(k)
),
tr AS (
  SELECT d.event_type, d.day, MAX(d.v) AS v0,
         CAST(floor(CAST(SUM(n.nv) AS DOUBLE) / COUNT(n.nv) + 0.5)
              AS BIGINT) AS trend
  FROM daily d
  JOIN nb n ON n.event_type = d.event_type AND n.day = d.day
  GROUP BY 1, 2
),
detr AS (
  SELECT event_type, day, v0, trend, v0 - trend AS d,
         dayofweek(day) + 1 AS dow
  FROM tr
),
seas AS (
  SELECT event_type, dow,
         CAST(floor(CAST(SUM(d) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
           AS s
  FROM detr GROUP BY 1, 2
)
"""

_SEAS_ANOMALY_ORACLE = f"""
WITH {_SEAS_DECOMP_PREFIX},
r AS (
  SELECT t.event_type, t.day, t.v0, t.d - s.s AS r
  FROM detr t JOIN seas s
    ON s.event_type = t.event_type AND s.dow = t.dow
),
h1 AS (SELECT event_type, r AS v, COUNT(*) AS c FROM r GROUP BY 1, 2),
c1 AS (
  SELECT event_type, v,
         SUM(c) OVER (PARTITION BY event_type ORDER BY v) AS cum,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM h1
),
m1 AS (
  SELECT event_type,
         MIN(CASE WHEN cum >= CAST(ceil(0.5 * n) AS BIGINT)
             THEN v END) AS med
  FROM c1 GROUP BY 1
),
d AS (
  SELECT r.event_type, r.day, r.v0, r.r, m1.med,
         abs(r.r - m1.med) AS ad
  FROM r JOIN m1 ON m1.event_type = r.event_type
),
h2 AS (SELECT event_type, ad AS v, COUNT(*) AS c FROM d GROUP BY 1, 2),
c2 AS (
  SELECT event_type, v,
         SUM(c) OVER (PARTITION BY event_type ORDER BY v) AS cum,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM h2
),
m2 AS (
  SELECT event_type,
         MIN(CASE WHEN cum >= CAST(ceil(0.5 * n) AS BIGINT)
             THEN v END) AS mad
  FROM c2 GROUP BY 1
)
SELECT d.event_type,
       strftime(d.day, '%Y-%m-%d') AS day,
       CAST(d.v0 AS DOUBLE) / 100.0 AS value,
       CAST(d.r AS DOUBLE) / 100.0 AS residual,
       CAST(m2.mad AS DOUBLE) * 30 / 1000.0 AS threshold,
       (abs(d.r - d.med) * 10 > m2.mad * 30) AS is_anomaly
FROM d JOIN m2 ON m2.event_type = d.event_type
"""


@query("events_seasonal_anomalies", _SEAS_ANOMALY_ORACLE)
def events_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly screen on the seasonal-decomposition residuals:
    |residual − median| > 3×MAD per type, every grid day emitted with
    its flag. Exact-integer residuals + type-1 medians over the value
    DOMAIN (operators/analytics.py:seasonal_anomalies_daily)."""
    from vectorsearchutil_spark.operators.analytics import (
        seasonal_anomalies_daily,
    )

    return seasonal_anomalies_daily(load_table(spark, sf_dir, "events"))


_COMPLETENESS_ORACLE = """
WITH g AS (
  SELECT DISTINCT event_type,
         CAST(floor(epoch(ts) / 3600.0) AS BIGINT) AS h
  FROM events
),
b AS (SELECT MIN(h) AS g0, MAX(h) AS g1 FROM g),
l AS (
  SELECT event_type, h,
         h - LAG(h) OVER (PARTITION BY event_type ORDER BY h) - 1 AS gap
  FROM g
),
p AS (
  SELECT event_type, COUNT(*) AS present, MIN(h) AS t0, MAX(h) AS t1,
         COALESCE(MAX(gap), 0) AS ig
  FROM l GROUP BY 1
)
SELECT event_type,
       CAST(b.g1 - b.g0 + 1 AS BIGINT) AS n_expected_hours,
       CAST(present AS BIGINT) AS n_present_hours,
       CAST(b.g1 - b.g0 + 1 - present AS BIGINT) AS n_missing_hours,
       CAST(greatest(ig, t0 - b.g0, b.g1 - t1) AS BIGINT)
         AS longest_gap_hours
FROM p, b
"""


@query("events_completeness_gaps", _COMPLETENESS_ORACLE)
def events_completeness_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly completeness audit per feed: coverage of the global
    hour window, missing hours, longest silent stretch — the
    pipeline-drop monitor (operators/analytics.py:
    completeness_gaps; integer hour indexes, no timestamp arithmetic
    past the first projection)."""
    from vectorsearchutil_spark.operators.analytics import (
        completeness_gaps,
    )

    return completeness_gaps(load_table(spark, sf_dir, "events"))


_WAPE_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS y
  FROM orders GROUP BY 1
),
j AS (
  SELECT a.y, b.y AS yhat
  FROM daily a JOIN daily b ON a.day = b.day + INTERVAL 7 DAY
),
m AS (
  SELECT COUNT(*) AS n, SUM(y - yhat) AS se,
         SUM(abs(y - yhat)) AS sae, SUM(abs(y)) AS say
  FROM j
)
SELECT CAST(n AS BIGINT) AS n_days_scored,
       floor((CAST(sae AS DOUBLE) / NULLIF(CAST(say AS DOUBLE), 0.0))
             * 1000000.0 + 0.5) / 1000000.0 AS wape,
       floor((CAST(sae AS DOUBLE) / CAST(n AS DOUBLE) / 100.0)
             * 100.0 + 0.5) / 100.0 AS mae,
       floor((CAST(se AS DOUBLE) / NULLIF(CAST(say AS DOUBLE), 0.0))
             * 1000000.0 + 0.5) / 1000000.0 AS bias
FROM m
"""


@query("orders_seasonal_naive_wape", _WAPE_ORACLE)
def orders_seasonal_naive_wape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast baseline (ŷ(t) = y(t−7)) scored with
    WAPE / MAE / bias on exact cent sums — the floor any forecaster
    must beat (operators/analytics.py:seasonal_naive_wape)."""
    from vectorsearchutil_spark.operators.analytics import (
        seasonal_naive_wape,
    )

    return seasonal_naive_wape(load_table(spark, sf_dir, "orders"))


def _dedup_impact_oracle() -> str:
    return f"""
WITH RECURSIVE {_CC_EDGES_CTE},
losers AS (SELECT doc_id FROM comp WHERE doc_id != component),
tok AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split(text, ' '), x -> x != ''))
              AS BIGINT) AS t
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS docs_before,
       CAST(SUM(t) AS BIGINT) AS tokens_before,
       CAST(SUM(CASE WHEN doc_id NOT IN (SELECT doc_id FROM losers)
                THEN 1 ELSE 0 END) AS BIGINT) AS docs_after,
       CAST(SUM(CASE WHEN doc_id NOT IN (SELECT doc_id FROM losers)
                THEN t ELSE 0 END) AS BIGINT) AS tokens_after,
       floor((1.0 - CAST(SUM(CASE WHEN doc_id NOT IN
                  (SELECT doc_id FROM losers) THEN t ELSE 0 END)
                AS DOUBLE)
              / NULLIF(CAST(SUM(t) AS DOUBLE), 0.0))
             * 1000000.0 + 0.5) / 1000000.0 AS token_removal_share
FROM tok GROUP BY 1
"""


@query("docs_dedup_impact", _dedup_impact_oracle())
def docs_dedup_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What dedup costs, per source: docs/tokens before vs after
    canonical near-dup dedup (0.8 Jaccard, min-id survivor) and the
    token-removal share — the report that justifies (or indicts) a
    dedup threshold. The loser set joins back WITHOUT a broadcast
    hint (unbounded side at corpus dup rates — the keep_best lesson,
    VERDICT r6 #4); only cluster members shuffle."""
    from vectorsearchutil_spark.operators import dedup as _dd
    from vectorsearchutil_spark.operators.analytics import round_half_up

    docs = load_table(spark, sf_dir, "documents")
    pairs = _dd.ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    comp = _dd.connected_components(pairs)
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("_loser")
    )
    tok = docs.select(
        "doc_id",
        "source",
        F.size(
            F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
        ).cast("long").alias("_t"),
    )
    flagged = tok.join(
        losers, tok.doc_id == F.col("_loser"), "left"
    ).select(
        "source", "_t", F.col("_loser").isNull().alias("_keep")
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("docs_before"),
        F.sum("_t").cast("long").alias("tokens_before"),
        F.sum(F.col("_keep").cast("long")).cast("long").alias("docs_after"),
        F.sum(F.when(F.col("_keep"), F.col("_t")).otherwise(F.lit(0)))
        .cast("long").alias("tokens_after"),
        round_half_up(
            F.lit(1.0)
            - F.sum(
                F.when(F.col("_keep"), F.col("_t")).otherwise(F.lit(0))
            ).cast("double")
            / F.nullif(F.sum("_t").cast("double"), F.lit(0.0)),
            6,
        ).alias("token_removal_share"),
    )


_EXACT_DUP_VECTORS_ORACLE = """
WITH all_v AS (
  SELECT vec_id, label, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, label, embedding
  FROM embeddings WHERE vec_id % 7 = 0
),
s AS (
  SELECT label,
         md5(array_to_string(list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                       AS BIGINT)), ',')) AS sig
  FROM all_v
),
g AS (SELECT label, sig, COUNT(*) AS c FROM s GROUP BY 1, 2)
SELECT CAST(label AS INT) AS label,
       CAST(SUM(c) AS BIGINT) AS n_vectors,
       CAST(COUNT(*) AS BIGINT) AS n_signatures,
       CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_groups,
       CAST(SUM(c - 1) AS BIGINT) AS n_redundant
FROM g GROUP BY 1
"""


@query("embeddings_exact_dup_vectors", _EXACT_DUP_VECTORS_ORACLE)
def embeddings_exact_dup_vectors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact-duplicate embedding detection (1e-6-quantized signature,
    md5-narrowed BEFORE the shuffle so only 32-char keys move, never
    vectors) on a deterministic dup-injected corpus (vec_id ≡ 0 mod 7
    re-inserted under new ids — the CDC synthesis convention).
    Duplicate vectors inflate ANN graphs and skew retrieval evals;
    this is the screen that catches re-encoded shards."""
    emb = load_table(spark, sf_dir, "embeddings")
    dups = emb.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        "embedding",
        "label",
    )
    allv = emb.select("vec_id", "embedding", "label").unionByName(dups)
    sig = F.md5(
        F.concat_ws(
            ",",
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.floor(x * F.lit(1000000.0) + F.lit(0.5))
                .cast("long")
                .cast("string"),
            ),
        )
    )
    g = allv.select(F.col("label"), sig.alias("_sig")).groupBy(
        "label", "_sig"
    ).agg(F.count(F.lit(1)).alias("_c"))
    return g.groupBy(F.col("label").cast("int").alias("label")).agg(
        F.sum("_c").cast("long").alias("n_vectors"),
        F.count(F.lit(1)).cast("long").alias("n_signatures"),
        F.sum((F.col("_c") >= 2).cast("long")).cast("long")
        .alias("n_dup_groups"),
        F.sum(F.col("_c") - 1).cast("long").alias("n_redundant"),
    )

# --------------------------------------------------------------------------
# ROUND-9 WAVE (wave 7) — graph motifs, funnel analysis,
# dup-cluster-aware split leakage, triplet mining, audience overlap,
# ANN recall-vs-cost curve. Four axes are brand-new (triangle/motif
# counting, contrastive triplet curation, the audience-overlap
# matrix, the IVF recall@k / scanned-fraction operating curve); two
# REFINE existing veterans and say so: events_funnel_conversion is
# the strict-ordered per-step-rate form of events_funnel (strictness
# is what makes its streaming twin exactly replayable), and
# docs_split_leakage upgrades documents_hash_split's naive per-doc
# draw to a dup-cluster-aware split plus a leakage audit of the
# naive form.
# --------------------------------------------------------------------------


def _triangle_oracle() -> str:
    return f"""
WITH RECURSIVE {_CC_EDGES_CTE},
deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT id_a AS node FROM pairs
    UNION ALL SELECT id_b FROM pairs
  ) GROUP BY 1
),
tri AS (
  SELECT COUNT(*) AS n_tri
  FROM pairs e1
  JOIN pairs e2 ON e2.id_a = e1.id_a AND e2.id_b > e1.id_b
  JOIN pairs e3 ON e3.id_a = e1.id_b AND e3.id_b = e2.id_b
)
SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_edges,
       CAST((SELECT n_tri FROM tri) AS BIGINT) AS n_triangles,
       CAST(COALESCE((SELECT SUM(deg * (deg - 1)) // 2 FROM deg), 0)
            AS BIGINT) AS n_wedges,
       COALESCE(
         floor(3.0 * (SELECT n_tri FROM tri)
               / NULLIF(CAST(COALESCE(
                   (SELECT SUM(deg * (deg - 1)) // 2 FROM deg), 0)
                   AS DOUBLE), 0.0)
               * 1000000.0 + 0.5) / 1000000.0,
         0.0) AS clustering_coeff
"""


@query("graph_triangle_count", _triangle_oracle())
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-dup similarity graph (0.8-Jaccard
    pairs): n_nodes / n_edges / n_triangles / n_wedges and the global
    clustering coefficient 3·Δ/wedges — the "are near-dup clusters
    cliquey or chainy?" diagnostic that decides whether
    transitive-closure dedup over-merges (a chain of pairwise-similar
    docs with NO triangles collapses distinct content; a clique-heavy
    graph dedups safely). Degree-ordered orientation bounds the wedge
    join by O(√m) out-degree per node — the 100 TB-safe plan
    (operators/graph.py:triangle_count). Oracle: triple self-join on
    the a<b<c ordering (orientation-invariant count)."""
    from vectorsearchutil_spark.operators import dedup as _dd
    from vectorsearchutil_spark.operators.graph import triangle_count

    docs = load_table(spark, sf_dir, "documents")
    pairs = _dd.ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    return triangle_count(pairs)


_FUNNEL_CONVERSION_ORACLE = """
WITH t1 AS (
  SELECT user_id, MIN(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY 1
),
t2 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN t1 ON e.user_id = t1.user_id AND e.ts > t1.t
  WHERE e.event_type = 'click' GROUP BY 1
),
t3 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN t2 ON e.user_id = t2.user_id AND e.ts > t2.t
  WHERE e.event_type = 'purchase' GROUP BY 1
),
u AS (
  SELECT (SELECT COUNT(*) FROM t1) AS u1,
         (SELECT COUNT(*) FROM t2) AS u2,
         (SELECT COUNT(*) FROM t3) AS u3
)
SELECT 1 AS step, 'view' AS step_name, CAST(u1 AS BIGINT) AS users,
       CAST(NULL AS DOUBLE) AS conv_from_prev,
       floor(u1 * 1.0 / NULLIF(u1, 0) * 1000000.0 + 0.5) / 1000000.0
         AS conv_overall
FROM u
UNION ALL
SELECT 2, 'click', CAST(u2 AS BIGINT),
       floor(u2 * 1.0 / NULLIF(u1, 0) * 1000000.0 + 0.5) / 1000000.0,
       floor(u2 * 1.0 / NULLIF(u1, 0) * 1000000.0 + 0.5) / 1000000.0
FROM u
UNION ALL
SELECT 3, 'purchase', CAST(u3 AS BIGINT),
       floor(u3 * 1.0 / NULLIF(u2, 0) * 1000000.0 + 0.5) / 1000000.0,
       floor(u3 * 1.0 / NULLIF(u1, 0) * 1000000.0 + 0.5) / 1000000.0
FROM u
"""


@query("events_funnel_conversion", _FUNNEL_CONVERSION_ORACLE)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step funnel (view → click → purchase), per-step
    conversion-rate form. Differs from the veteran ``events_funnel``
    (one wide counts row, at-or-after ≥ semantics) in TWO declared
    ways: 3-row step/rate output, and STRICTLY-AFTER ordering — a
    user reaches step k only via an event strictly after their
    step-(k−1) time. Strictness is load-bearing: it is exactly what
    makes the streaming twin (streaming/stateful.py:streaming_funnel)
    a faithful one-pass replay (an at-tie click can never depend on
    intra-timestamp processing order). Each stage is a per-user MIN over a
    type-filtered slice joined to the previous stage's (user, t) —
    narrow partial-agg shuffles on user_id, never a per-user event
    sort. The three stage counts are 1-row aggregates assembled into
    the 3-row funnel with exact-integer conversion ratios (ONE double
    division each). Timestamp logic is pure comparison — no calendar
    functions, TZ-immune by construction."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    return funnel_conversion(ev, ("view", "click", "purchase"))


def funnel_conversion(
    ev: DataFrame, steps: tuple[str, str, str]
) -> DataFrame:
    """Core of ``events_funnel_conversion`` over any (user_id,
    event_type, ts) frame — split out so unit tests can pin the
    strict-ordering semantics on hand-built sequences."""
    from vectorsearchutil_spark.functions.vector import round_half_up

    def stage(etype: str, prev: DataFrame | None) -> DataFrame:
        s = ev.filter(F.col("event_type") == etype)
        if prev is not None:
            s = s.join(prev, "user_id").filter(F.col("ts") > F.col("_t"))
        return s.groupBy("user_id").agg(F.min("ts").alias("_t"))

    t1 = stage(steps[0], None)
    t2 = stage(steps[1], t1)
    t3 = stage(steps[2], t2)
    u1 = t1.agg(F.count(F.lit(1)).alias("u1"))
    u2 = t2.agg(F.count(F.lit(1)).alias("u2"))
    u3 = t3.agg(F.count(F.lit(1)).alias("u3"))

    def conv(num, den):
        return round_half_up(
            num.cast("double") * F.lit(1.0)
            / F.nullif(den.cast("double"), F.lit(0.0)),
            6,
        )

    wide = u1.crossJoin(u2).crossJoin(u3)
    rows = F.array(
        F.struct(
            F.lit(1).alias("step"),
            F.lit(steps[0]).alias("step_name"),
            F.col("u1").cast("long").alias("users"),
            F.lit(None).cast("double").alias("conv_from_prev"),
            conv(F.col("u1"), F.col("u1")).alias("conv_overall"),
        ),
        F.struct(
            F.lit(2).alias("step"),
            F.lit(steps[1]).alias("step_name"),
            F.col("u2").cast("long").alias("users"),
            conv(F.col("u2"), F.col("u1")).alias("conv_from_prev"),
            conv(F.col("u2"), F.col("u1")).alias("conv_overall"),
        ),
        F.struct(
            F.lit(3).alias("step"),
            F.lit(steps[2]).alias("step_name"),
            F.col("u3").cast("long").alias("users"),
            conv(F.col("u3"), F.col("u2")).alias("conv_from_prev"),
            conv(F.col("u3"), F.col("u1")).alias("conv_overall"),
        ),
    )
    return wide.select(F.explode(rows).alias("_r")).select("_r.*")


_SPLIT_HASH_SQL = (
    "('0x' || substr(md5('split:' || CAST({key} AS VARCHAR)), 1, 8))"
    "::BIGINT / 4294967296.0"
)


def _split_leakage_oracle() -> str:
    un = _SPLIT_HASH_SQL.format(key="doc_id")
    ua = _SPLIT_HASH_SQL.format(key="rep")
    return f"""
WITH RECURSIVE {_CC_EDGES_CTE},
rep AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS rep
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
),
h AS (SELECT doc_id, rep, {un} AS un, {ua} AS ua FROM rep),
s AS (
  SELECT doc_id, rep,
         CASE WHEN un < 0.8 THEN 'train'
              WHEN un < 0.9 THEN 'val' ELSE 'test' END AS naive,
         CASE WHEN ua < 0.8 THEN 'train'
              WHEN ua < 0.9 THEN 'val' ELSE 'test' END AS aware
  FROM h
),
aw AS (
  SELECT aware AS split, COUNT(*) AS n_docs,
         COUNT(DISTINCT rep) AS n_clusters
  FROM s GROUP BY 1
),
sp AS (SELECT rep, COUNT(DISTINCT naive) AS ns FROM s GROUP BY 1),
nv AS (
  SELECT s.naive AS split, COUNT(*) AS naive_docs,
         SUM(CASE WHEN sp.ns > 1 THEN 1 ELSE 0 END) AS naive_leaked_docs
  FROM s JOIN sp ON s.rep = sp.rep GROUP BY 1
)
SELECT COALESCE(aw.split, nv.split) AS split,
       CAST(COALESCE(aw.n_docs, 0) AS BIGINT) AS n_docs,
       CAST(COALESCE(aw.n_clusters, 0) AS BIGINT) AS n_clusters,
       CAST(COALESCE(nv.naive_docs, 0) AS BIGINT) AS naive_docs,
       CAST(COALESCE(nv.naive_leaked_docs, 0) AS BIGINT)
         AS naive_leaked_docs
FROM aw FULL OUTER JOIN nv ON aw.split = nv.split
"""


@query("docs_split_leakage", _split_leakage_oracle())
def docs_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-cluster-aware train/val/test split (80/10/10) vs the naive
    per-doc hash split (the veteran ``documents_hash_split``'s
    mechanism, audited here for leakage): splitting by the CLUSTER representative's hash
    guarantees no near-dup cluster straddles train and eval
    (leakage = 0 by construction); the naive per-doc split's
    `naive_leaked_docs` column counts the docs it would leak — the
    number the decontamination literature says inflates eval scores.
    The split is the deterministic md5 draw every sampling operator
    uses (pure filter, partitioning-independent, reproducible at
    100 TB); cluster reps come from the shipped CC operator, and the
    corpus is ONE narrow hash groupBy and is never joined — all
    leakage arithmetic lives on the dup-rate-sized member map (see
    ``split_leakage``)."""
    from vectorsearchutil_spark.operators import dedup as _dd

    full = load_table(spark, sf_dir, "documents")
    pairs = _dd.ngram_jaccard_pairs(full, n=3, threshold=0.8)
    comp = _dd.connected_components(pairs).select(
        F.col("node").alias("doc_id"), "component"
    )
    return split_leakage(full.select("doc_id"), comp)


def split_leakage(docs: DataFrame, comp: DataFrame) -> DataFrame:
    """Core of ``docs_split_leakage`` over any (doc_id) frame and
    (doc_id, component) cluster map — split out for unit tests.

    Scale shape: the corpus is scanned ONCE with a narrow hash
    groupBy and never joined — a singleton doc is its own rep, so
    its aware split EQUALS its naive split and it can never leak;
    every correction term lives on the cluster-member map, which is
    dup-rate-sized, not corpus-sized. (The first cut joined the 50M-
    doc probe corpus twice — 89.8 s; this form does the identical
    arithmetic from the 2M-row member map: measured 9-14 s across runs.)
      n_docs(aware s)    = full(s) − members_naive(s) + members_aware(s)
      n_clusters(aware s) = singleton docs in s + distinct components
                            hashing to s
      naive_leaked(s)    = member docs in s whose component spans >1
                            naive split
    """
    from vectorsearchutil_spark.operators.sampling import hash_uniform

    def split_of(key):
        u = hash_uniform(key.cast("string"), "split")
        return (
            F.when(u < 0.8, F.lit("train"))
            .when(u < 0.9, F.lit("val"))
            .otherwise(F.lit("test"))
        )

    # ONE narrow corpus pass: per-naive-split totals (3-row result)
    full = docs.groupBy(split_of(F.col("doc_id")).alias("split")).agg(
        F.count(F.lit(1)).alias("_full")
    )
    # everything else is member-map-sized
    cm = comp.select(
        split_of(F.col("doc_id")).alias("naive"),
        split_of(F.col("component")).alias("aware"),
        "component",
    ).localCheckpoint(eager=False)
    m_naive = cm.groupBy(F.col("naive").alias("split")).agg(
        F.count(F.lit(1)).alias("_mn")
    )
    m_aware = cm.groupBy(F.col("aware").alias("split")).agg(
        F.count(F.lit(1)).alias("_ma")
    )
    comps = cm.groupBy("component", "aware").agg(
        F.count(F.lit(1)).alias("_sz")
    ).groupBy(F.col("aware").alias("split")).agg(
        F.count(F.lit(1)).alias("_ncomp")
    )
    spread = cm.groupBy("component").agg(
        F.countDistinct("naive").alias("_ns")
    )
    leaked = (
        cm.join(spread, "component")
        .filter(F.col("_ns") > 1)
        .groupBy(F.col("naive").alias("split"))
        .agg(F.count(F.lit(1)).alias("_leak"))
    )
    base = (
        full.join(m_naive, "split", "full")
        .join(m_aware, "split", "full")
        .join(comps, "split", "full")
        .join(leaked, "split", "full")
        .select(
            "split",
            F.coalesce(F.col("_full"), F.lit(0)).alias("_full"),
            F.coalesce(F.col("_mn"), F.lit(0)).alias("_mn"),
            F.coalesce(F.col("_ma"), F.lit(0)).alias("_ma"),
            F.coalesce(F.col("_ncomp"), F.lit(0)).alias("_ncomp"),
            F.coalesce(F.col("_leak"), F.lit(0)).alias("_leak"),
        )
    )
    return base.select(
        "split",
        (F.col("_full") - F.col("_mn") + F.col("_ma"))
        .cast("long").alias("n_docs"),
        (F.col("_full") - F.col("_mn") + F.col("_ncomp"))
        .cast("long").alias("n_clusters"),
        F.col("_full").cast("long").alias("naive_docs"),
        F.col("_leak").cast("long").alias("naive_leaked_docs"),
    )


_TRIPLET_ORACLE = """
WITH v AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
),
vv AS (
  SELECT vec_id, label, e FROM v
  WHERE e IS NOT NULL
    AND len(list_filter(e, x -> x IS NULL OR NOT isfinite(x))) = 0
    AND list_dot_product(e, e) > 0
),
p AS (
  SELECT a.vec_id AS aid, a.label AS albl, b.label AS blbl,
         floor(list_cosine_similarity(b.e, a.e) * 1000000.0 + 0.5)
           / 1000000.0 AS cq
  FROM vv a JOIN vv b ON b.vec_id != a.vec_id
  WHERE a.vec_id < 32
),
pos AS (
  SELECT aid, MAX(cq) AS pos_sim FROM p WHERE blbl = albl GROUP BY 1
),
neg AS (
  SELECT p.aid,
         MAX(p.cq) AS hardest_neg_sim,
         SUM(CASE WHEN p.cq >= pos.pos_sim THEN 1 ELSE 0 END) AS n_hard,
         SUM(CASE WHEN p.cq < pos.pos_sim
                   AND p.cq >= pos.pos_sim - 0.05
                  THEN 1 ELSE 0 END) AS n_semihard
  FROM p LEFT JOIN pos ON p.aid = pos.aid
  WHERE p.blbl != p.albl
  GROUP BY 1
)
SELECT a.vec_id, CAST(a.label AS INT) AS label,
       pos.pos_sim AS pos_sim,
       neg.hardest_neg_sim AS hardest_neg_sim,
       CAST(COALESCE(neg.n_hard, 0) AS INT) AS n_hard,
       CAST(COALESCE(neg.n_semihard, 0) AS INT) AS n_semihard
FROM (SELECT vec_id, label FROM vv WHERE vec_id < 32) a
LEFT JOIN pos ON a.vec_id = pos.aid
LEFT JOIN neg ON a.vec_id = neg.aid
"""


@query("embeddings_triplet_mining", _TRIPLET_ORACLE)
def embeddings_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-hard triplet census for contrastive training (FaceNet's
    mining rule): per anchor (vec_id < 32, finite + nonzero-norm
    participation contract), the best same-label similarity
    (pos_sim), the hardest different-label similarity, and how many
    negatives are HARD (≥ pos_sim — rank violations) vs SEMI-HARD
    (within the 0.05 cosine margin below pos_sim — the ones a triplet
    loss actually learns from). Complements hard_negative_mining
    (which returns the negatives themselves): this is the curriculum
    health check — zero semi-hard negatives means the margin is
    exhausted and mining must go harder.

    Plan: anchors broadcast onto corpus scans (corpus never
    shuffles); two passes by construction — pos_sim is itself an
    aggregate the negative pass compares against, so pass 1's 32-row
    aggregate broadcasts into pass 2. Cosines quantize to the 1e-6
    grid on BOTH engines before any threshold compare (the same
    floor-half-up grid every ranked-similarity entry uses)."""
    from vectorsearchutil_spark.operators.similarity import triplet_mining

    emb = load_table(spark, sf_dir, "embeddings")
    return triplet_mining(emb)


_AUDIENCE_ORACLE = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
sz AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY 1),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         COUNT(*) AS n_both
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT i.type_a, i.type_b,
       CAST(i.n_both AS BIGINT) AS n_both,
       CAST(sa.n AS BIGINT) AS n_a,
       CAST(sb.n AS BIGINT) AS n_b,
       floor(i.n_both * 1.0 / (sa.n + sb.n - i.n_both)
             * 1000000.0 + 0.5) / 1000000.0 AS jaccard
FROM inter i
JOIN sz sa ON i.type_a = sa.event_type
JOIN sz sb ON i.type_b = sb.event_type
"""


@query("events_audience_overlap", _AUDIENCE_ORACLE)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: exact |users(A) ∩ users(B)| and
    Jaccard for every event-type pair — the cross-feature user
    overlap that decides whether segments can be targeted
    independently. The (user, type) distinct is ONE shuffle; the
    self-join fans out ≤ T rows per user (T = 5 event types, so the
    pair stream is ≤ T² per user, linear in users); per-type sizes
    are a 5-row broadcast. All counts exact longs, Jaccard is ONE
    double division on exact integers."""
    return audience_overlap(load_table(spark, sf_dir, "events"))


def audience_overlap(ev: DataFrame) -> DataFrame:
    """Core of ``events_audience_overlap`` — split out for unit
    tests."""
    from vectorsearchutil_spark.functions.vector import round_half_up

    ut = ev.select("user_id", "event_type").distinct()
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sz = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return (
        inter.join(
            F.broadcast(sz.select(
                F.col("event_type").alias("type_a"),
                F.col("n").alias("n_a"),
            )),
            "type_a",
        )
        .join(
            F.broadcast(sz.select(
                F.col("event_type").alias("type_b"),
                F.col("n").alias("n_b"),
            )),
            "type_b",
        )
        .select(
            "type_a", "type_b",
            F.col("n_both").cast("long").alias("n_both"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            round_half_up(
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both"))
                .cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def _recall_curve_oracle() -> str:
    return f"""
WITH {_CENTROIDS_CTE},
assigned AS (
  SELECT e.vec_id, e.embedding, c.label AS centroid_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_distance(e.embedding::DOUBLE[], c.cvec) ASC,
                    c.label ASC
         ) AS rn
  FROM embeddings e CROSS JOIN centroids c
),
lists AS (
  SELECT vec_id, embedding, centroid_id FROM assigned WHERE rn = 1
),
sizes AS (SELECT centroid_id, COUNT(*) AS sz FROM lists GROUP BY 1),
q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id < 8
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, e.vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY list_distance(e.embedding::DOUBLE[], q.qv::DOUBLE[])
                        ASC, e.vec_id ASC
           ) AS rk
    FROM q CROSS JOIN embeddings e
  ) WHERE rk <= 10
),
probes AS (
  SELECT q.query_id, q.qv, c.label AS centroid_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.query_id
           ORDER BY list_distance(q.qv::DOUBLE[], c.cvec) ASC, c.label ASC
         ) AS rn
  FROM q CROSS JOIN centroids c
),
cum AS (
  SELECT p.query_id, p.rn,
         SUM(s.sz) OVER (PARTITION BY p.query_id ORDER BY p.rn) AS cumsz
  FROM probes p JOIN sizes s ON p.centroid_id = s.centroid_id
),
scanned AS (
  SELECT rn AS nprobe, SUM(cumsz) AS scanned_rows
  FROM cum WHERE rn <= 3 GROUP BY 1
),
appr AS (
  SELECT np.np AS nprobe, p.query_id, l.vec_id,
         ROW_NUMBER() OVER (
           PARTITION BY np.np, p.query_id
           ORDER BY list_distance(l.embedding::DOUBLE[], p.qv::DOUBLE[])
                      ASC, l.vec_id ASC
         ) AS rk
  FROM (SELECT * FROM (VALUES (1), (2), (3)) t(np)) np
  JOIN probes p ON p.rn <= np.np
  JOIN lists l ON l.centroid_id = p.centroid_id
),
m AS (
  SELECT a.nprobe, COUNT(*) AS matches
  FROM (SELECT * FROM appr WHERE rk <= 10) a
  JOIN exact x ON a.query_id = x.query_id AND a.vec_id = x.vec_id
  GROUP BY 1
),
tot AS (
  SELECT (SELECT COUNT(*) FROM exact) AS ex,
         (SELECT COUNT(*) FROM embeddings) AS n,
         (SELECT COUNT(*) FROM q) AS nq
)
SELECT np.np AS nprobe,
       CAST(COALESCE(m.matches, 0) AS BIGINT) AS matches,
       floor(COALESCE(m.matches, 0) * 1.0 / NULLIF(t.ex, 0)
             * 1000000.0 + 0.5) / 1000000.0 AS recall,
       CAST(COALESCE(s.scanned_rows, 0) AS BIGINT) AS scanned_rows,
       floor(COALESCE(s.scanned_rows, 0) * 1.0 / NULLIF(t.nq * t.n, 0)
             * 1000000.0 + 0.5) / 1000000.0 AS scanned_frac
FROM (SELECT * FROM (VALUES (1), (2), (3)) tt(np)) np
LEFT JOIN m ON np.np = m.nprobe
LEFT JOIN scanned s ON np.np = s.nprobe
CROSS JOIN tot t
"""


@query("ann_recall_curve", _recall_curve_oracle())
def ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN quality-cost CURVE (the number every IVF deployment is
    tuned by): recall@10 against exact brute-force ground truth AND
    the fraction of the corpus scanned, at n_probe ∈ {1, 2, 3} — one
    row per operating point. Complements ann_ivf_search (one fixed
    operating point) and dedup_minhash_recall (the LSH analog).

    Plan: the IVF index builds once (checkpointed — three search
    passes + the list-size census reference it), ground truth is one
    broadcast-queries × corpus scan, each probe level's candidates
    prune by list id before any distance; scanned_rows derives from
    the per-query cumulative probed-list sizes (8×L grid), so the
    cost axis is exact integers, no sampling. All ratios are ONE
    double division of exact longs."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _label_centroids(spark, sf_dir).select(
        F.col("label_idx").alias("centroid_id"),
        F.col("label_vec").alias("centroid_vec"),
    ).cache()
    return recall_curve(emb, cents)


def recall_curve(
    emb: DataFrame,
    cents: DataFrame,
    query_below: int = 8,
    k: int = 10,
    max_probe: int = 3,
) -> DataFrame:
    """Core of ``ann_recall_curve`` over any (vec_id, embedding)
    corpus and (centroid_id, centroid_vec) list heads — split out
    for unit tests. The exact ground-truth arm is the dominant cost
    at scale (queries x corpus x dim interpreted cells), so it takes
    the measured Arrow gate (``session.arrow_wins`` over the
    collected query vectors and one corpus count) like the index
    assignment does inside ``build_ivf_index``: above the wall the
    ground truth is ``knn_batch_matrix`` (same (distance asc, id asc)
    result contract, oracle-proven as its own registry entry) — the
    2M-row probe ran 53.7 s -> 13.9 s with identical outputs."""
    from vectorsearchutil_spark.functions.vector import (
        l2_distance,
        round_half_up,
    )
    from vectorsearchutil_spark.operators.similarity import (
        build_ivf_index,
        knn_batch_matrix,
    )

    indexed = build_ivf_index(
        emb, cents, vector_col="embedding"
    ).localCheckpoint(eager=False)
    qs = emb.filter(F.col("vec_id") < query_below).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    # collected once: it sizes the ground-truth gate and is the
    # broadcast query side of the ground truth and the probes
    q_rows = qs.collect()
    qs = local_frame(emb.sparkSession, q_rows, qs.schema)

    from pyspark.sql import Window

    if arrow_wins(emb, [r["query_vector"] for r in q_rows]):
        exact = knn_batch_matrix(
            emb, qs, k=k, vector_col="embedding", id_col="vec_id"
        ).select("query_id", "vec_id").localCheckpoint(eager=False)
    else:
        ewin = Window.partitionBy("query_id").orderBy(
            F.col("_d").asc(), F.col("vec_id").asc()
        )
        exact = (
            emb.select("vec_id", "embedding")
            .join(F.broadcast(qs))
            .withColumn(
                "_d",
                l2_distance(F.col("embedding"), F.col("query_vector")),
            )
            .withColumn("_rk", F.row_number().over(ewin))
            .filter(F.col("_rk") <= k)
            .select("query_id", "vec_id")
            .localCheckpoint(eager=False)
        )

    # One scored candidate table serves every operating point: the
    # nprobe-p candidate set is the probe_rank<=p SLICE of the
    # nprobe-max set, so scoring once and ranking per slice does a
    # third of the distance work of three ivf_search arms (and scans
    # the index once). Result contract identical to ivf_search's
    # (distance asc, id asc) per-query top-k.
    pwin0 = Window.partitionBy("query_id").orderBy(
        F.col("_pd").asc(), F.col("centroid_id").asc()
    )
    probes = (
        qs.crossJoin(F.broadcast(cents))
        .withColumn(
            "_pd",
            l2_distance(F.col("query_vector"), F.col("centroid_vec")),
        )
        .withColumn("_prn", F.row_number().over(pwin0))
        .filter(F.col("_prn") <= max_probe)
        .select("query_id", "query_vector", "centroid_id", "_prn")
    )
    cand = (
        indexed.join(F.broadcast(probes), "centroid_id")
        .withColumn(
            "_dist",
            l2_distance(F.col("embedding"), F.col("query_vector")),
        )
        .select("query_id", "vec_id", "_dist", "_prn")
        .localCheckpoint(eager=False)
    )
    # All operating points from ONE window pass (r11, guide §2.4):
    # the nprobe-p rank of a candidate — row_number within the
    # _prn<=p subset ordered by (_dist, vec_id) — equals the running
    # count of _prn<=p rows under the same total order, which is
    # unique per query ((query_id, vec_id) is unique in cand: each
    # vector lives in exactly one inverted list). One sort + one
    # exact-join + one aggregate replaces max_probe window sorts,
    # joins and aggregates plus the union.
    rwin = (
        Window.partitionBy("query_id")
        .orderBy(F.col("_dist").asc(), F.col("vec_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = cand.select(
        "query_id",
        "vec_id",
        "_prn",
        *[
            F.sum((F.col("_prn") <= p).cast("int"))
            .over(rwin)
            .alias(f"_c{p}")
            for p in range(1, max_probe + 1)
        ],
    )
    one = ranked.join(exact, ["query_id", "vec_id"]).agg(
        *[
            F.sum(
                (
                    (F.col("_prn") <= p) & (F.col(f"_c{p}") <= k)
                ).cast("long")
            ).alias(f"_m{p}")
            for p in range(1, max_probe + 1)
        ]
    )
    matches = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).alias("nprobe"),
                        F.coalesce(F.col(f"_m{p}"), F.lit(0).cast("long"))
                        .alias("matches"),
                    )
                    for p in range(1, max_probe + 1)
                ]
            )
        ).alias("_s")
    ).select("_s.nprobe", "_s.matches")

    sizes = indexed.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("_sz")
    )
    cwin = Window.partitionBy("query_id").orderBy(F.col("_prn").asc())
    scanned = (
        probes.join(sizes, "centroid_id")
        .withColumn("_cum", F.sum("_sz").over(cwin))
        .groupBy(F.col("_prn").alias("nprobe"))
        .agg(F.sum("_cum").alias("scanned_rows"))
    )
    tot = (
        exact.agg(F.count(F.lit(1)).alias("_ex"))
        .crossJoin(emb.agg(F.count(F.lit(1)).alias("_n")))
        .crossJoin(qs.agg(F.count(F.lit(1)).alias("_nq")))
    )
    return (
        matches.join(scanned, "nprobe", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("nprobe").cast("int").alias("nprobe"),
            F.col("matches").cast("long").alias("matches"),
            round_half_up(
                F.col("matches").cast("double")
                / F.nullif(F.col("_ex").cast("double"), F.lit(0.0)),
                6,
            ).alias("recall"),
            F.coalesce(F.col("scanned_rows"), F.lit(0))
            .cast("long").alias("scanned_rows"),
            round_half_up(
                F.coalesce(F.col("scanned_rows"), F.lit(0)).cast("double")
                / F.nullif(
                    (F.col("_nq") * F.col("_n")).cast("double"), F.lit(0.0)
                ),
                6,
            ).alias("scanned_frac"),
        )
    )


_CONFORMAL_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS y
  FROM orders GROUP BY 1
),
sc AS (
  SELECT a.day, abs(a.y - b.y) AS r
  FROM daily a JOIN daily b ON a.day = b.day + INTERVAL 7 DAY
),
idx AS (
  SELECT day, r, ROW_NUMBER() OVER (ORDER BY day ASC) AS i,
         COUNT(*) OVER () AS n
  FROM sc
),
cal AS (SELECT * FROM idx WHERE i <= CAST(ceil(n * 0.7) AS BIGINT)),
ev AS (SELECT * FROM idx WHERE i > CAST(ceil(n * 0.7) AS BIGINT)),
cs AS (SELECT COUNT(*) AS ncal FROM cal),
q AS (
  SELECT r AS q FROM (
    SELECT r, ROW_NUMBER() OVER (ORDER BY r ASC, day ASC) AS rk
    FROM cal
  ) t, cs WHERE rk = CAST(ceil((cs.ncal + 1) * 0.9) AS BIGINT)
),
es AS (
  SELECT COUNT(*) AS neval, MAX(q.q) AS q,
         SUM(CASE WHEN ev.r <= q.q THEN 1 ELSE 0 END) AS covered
  FROM ev LEFT JOIN q ON true
)
SELECT CAST(cs.ncal AS BIGINT) AS n_calibration,
       CAST(es.neval AS BIGINT) AS n_eval,
       CAST(es.q AS BIGINT) AS q_cents,
       CASE WHEN es.q IS NOT NULL AND es.neval > 0 THEN
         floor(CAST(es.covered AS DOUBLE) / CAST(es.neval AS DOUBLE)
               * 1000000.0 + 0.5) / 1000000.0
       END AS coverage
FROM es, cs
"""


@query("orders_conformal_coverage", _CONFORMAL_ORACLE)
def orders_conformal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal coverage check of the seasonal-naive daily
    forecaster (declared companion to ``orders_seasonal_naive_wape``,
    which scores the same predictor's point error): q̂ = the
    ⌈(n_cal+1)·0.9⌉-th smallest |y−ŷ| over the FIRST 70% of scored
    days, coverage = share of later days inside ŷ ± q̂. Valid ≥90%
    under exchangeability — the gap measures drift
    (operators/analytics.py:conformal_coverage_daily)."""
    from vectorsearchutil_spark.operators.analytics import (
        conformal_coverage_daily,
    )

    return conformal_coverage_daily(load_table(spark, sf_dir, "orders"))


_MUTUAL_ORACLE = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
vv AS MATERIALIZED (
  SELECT vec_id, e FROM v
  WHERE e IS NOT NULL
    AND len(list_filter(e, x -> x IS NULL OR NOT isfinite(x))) = 0
    AND list_dot_product(e, e) > 0
),
nn AS MATERIALIZED (
  SELECT a.vec_id AS qid, b.vec_id AS nid,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY list_cosine_similarity(b.e, a.e) DESC, b.vec_id ASC
         ) AS rk
  FROM vv a JOIN vv b ON a.vec_id != b.vec_id
),
top AS MATERIALIZED (SELECT qid, nid FROM nn WHERE rk <= 10),
mut AS MATERIALIZED (
  SELECT a.qid AS ia, a.nid AS ib
  FROM top a JOIN top b ON a.qid = b.nid AND a.nid = b.qid
  WHERE a.qid < a.nid
),
em AS (SELECT unnest([ia, ib]) AS x FROM mut),
ms AS (
  SELECT CAST(COUNT(*) / 2 AS BIGINT) AS nm,
         CAST(COUNT(DISTINCT x) AS BIGINT) AS nmp
  FROM em
),
ts AS (SELECT COUNT(*) AS ne FROM top),
vs AS (SELECT COUNT(*) AS np FROM vv)
SELECT CAST(vs.np AS BIGINT) AS n_points,
       CAST(ts.ne AS BIGINT) AS n_knn_edges,
       ms.nm AS n_mutual_pairs,
       ms.nmp AS n_mutual_points,
       CASE WHEN ts.ne > 0 THEN
         floor(2.0 * ms.nm / ts.ne * 1000000.0 + 0.5) / 1000000.0
       END AS reciprocity
FROM vs, ts, ms
"""

@query("embeddings_mutual_knn", _MUTUAL_ORACLE)
def embeddings_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-kNN mutuality census (k=10, cosine) — the
    companion diagnostic to embeddings_hubness: the share of kNN
    edges that are reciprocated, and the high-precision mutual core
    they span (operators/knn.py:knn_mutual_pairs; same participation
    contract, same gated Arrow scoring)."""
    from vectorsearchutil_spark.operators.knn import knn_mutual_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_mutual_pairs(
        emb, k=10, vector_col="embedding", id_col="vec_id", metric="cosine"
    )




# ==========================================================================
# ROUND-10 WAVE. Kinship per entry is declared in the operator docstrings
# (operators/analytics.py, operators/textanalysis.py) and COVERAGE.md.
# ==========================================================================


# --------------------------------------------------------------------------
# R10-1. Nelson-Aalen cumulative hazard (shares _KM_RISK_CTE — no drift)
# --------------------------------------------------------------------------

_NA_ORACLE = _KM_RISK_CTE + """,
cum AS (
  SELECT delay_days, n_at_risk, n_events,
    SUM(CASE WHEN n_at_risk > 0
             THEN CAST(floor(CAST(n_events AS DOUBLE)
                             / CAST(n_at_risk AS DOUBLE)
                             * 1000000000.0 + 0.5) AS BIGINT)
             ELSE 0 END)
      OVER (ORDER BY delay_days ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hsum
  FROM risked
)
SELECT delay_days, n_at_risk, n_events,
  floor(CAST(hsum AS DOUBLE) / 1000000000.0 * 1000000.0 + 0.5)
    / 1000000.0 AS cum_hazard
FROM cum WHERE n_events > 0
"""


@query("events_nelson_aalen", _NA_ORACLE)
def events_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard of signup->purchase delay over
    the SAME right-censored risk table as events_kaplan_meier (shared
    _survival_risk_table / _KM_RISK_CTE on both engines): H(t) =
    order-free cumulative sum of 1e9-fixpoint d/n increments."""
    from vectorsearchutil_spark.operators.analytics import nelson_aalen

    return nelson_aalen(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# R10-2/3. Mann-Kendall trend test + Benjamini-Hochberg FDR selection
#          (shared _MK_CORE — the FDR oracle cannot drift from the test)
# --------------------------------------------------------------------------

from vectorsearchutil_spark.operators.analytics import (  # noqa: E402
    normal_sf_sql as _normal_sf_sql,
)

#: CTE chain ending in `pt(event_type, n_days, s_stat, var_s_raw,
#: z_raw, p_raw)` — raw (unrounded) doubles, identical arithmetic to
#: analytics.mann_kendall_daily / normal_sf.
_MK_CORE = (
    "WITH "
    + _DAILY_GRID_SQL
    + """,
s AS (
  SELECT a.event_type,
         CAST(SUM(CASE WHEN b.v_cents > a.v_cents THEN 1
                       WHEN b.v_cents < a.v_cents THEN -1
                       ELSE 0 END) AS BIGINT) AS s_stat
  FROM g a JOIN g b
    ON a.event_type = b.event_type AND a.day < b.day
  GROUP BY 1
),
nd AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
  FROM g GROUP BY 1
),
ties AS (
  SELECT event_type,
         CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
  FROM (SELECT event_type, v_cents, CAST(COUNT(*) AS BIGINT) AS t
        FROM g GROUP BY 1, 2)
  GROUP BY 1
),
mk AS (
  SELECT nd.event_type, n_days, s_stat,
         n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS var18
  FROM nd
  JOIN s ON nd.event_type = s.event_type
  JOIN ties ON nd.event_type = ties.event_type
),
zt AS (
  SELECT event_type, n_days, s_stat,
         CAST(var18 AS DOUBLE) / 18.0 AS var_s_raw,
         CASE WHEN var18 > 0 AND s_stat != 0
              THEN (CAST(s_stat AS DOUBLE) - sign(s_stat))
                   / sqrt(CAST(var18 AS DOUBLE) / 18.0)
              ELSE 0.0 END AS z_raw
  FROM mk
),
pt AS (
  SELECT event_type, n_days, s_stat, var_s_raw, z_raw,
         2.0 * """
    + _normal_sf_sql("abs(z_raw)")
    + """ AS p_raw
  FROM zt
)
"""
)

_MK_ROUNDED_SELECT = """
SELECT event_type, n_days, s_stat,
  floor(var_s_raw * 1000000.0 + 0.5) / 1000000.0 AS var_s,
  floor(z_raw * 1000000.0 + 0.5) / 1000000.0 AS z_mk,
  floor(LEAST(p_raw, 1.0) * 1000000.0 + 0.5) / 1000000.0 AS p_value
FROM pt
"""

_MK_ORACLE = _MK_CORE + _MK_ROUNDED_SELECT


@query("events_mann_kendall", _MK_ORACLE)
def events_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Mann-Kendall trend test on the daily value-sum series
    (exact integer S / tie term / variance numerator; the two-sided p
    uses the pow-free A&S 26.2.19 polynomial both engines spell
    identically). Types with a single day have no pairs and are
    absent on both engines."""
    from vectorsearchutil_spark.operators.analytics import (
        mann_kendall_daily,
    )

    return mann_kendall_daily(load_table(spark, sf_dir, "events"))


_FDR_ORACLE = (
    _MK_CORE
    + ",\nmkr AS ("
    + _MK_ROUNDED_SELECT
    + """),
ranked AS (
  SELECT event_type, z_mk, p_value,
         CAST(ROW_NUMBER() OVER (ORDER BY p_value ASC, event_type ASC)
              AS INT) AS p_rank,
         CAST(COUNT(*) OVER () AS BIGINT) AS m_tests
  FROM mkr
)
SELECT event_type, z_mk, p_value, p_rank, m_tests,
  floor(0.1 * p_rank / CAST(m_tests AS DOUBLE) * 1000000.0 + 0.5)
    / 1000000.0 AS bh_threshold,
  MAX(CASE WHEN p_value <= 0.1 * p_rank / CAST(m_tests AS DOUBLE)
           THEN 1 ELSE 0 END)
    OVER (ORDER BY p_rank ASC
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) = 1
    AS rejected
FROM ranked
"""
)


@query("events_fdr_bh", _FDR_ORACLE)
def events_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR step-up (q=0.10) over the per-type
    Mann-Kendall p-values — the multiple-testing layer for per-
    segment drift screens. The oracle derives from the SAME _MK_CORE
    fragment as events_mann_kendall (no-drift); the step-up is a
    reversed running max over the m-row (tiny) test table."""
    from vectorsearchutil_spark.operators.analytics import fdr_bh_trend

    return fdr_bh_trend(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# R10-4. One-step EWMA forecast accuracy on the day grid
# --------------------------------------------------------------------------

_EWMA_FC_ORACLE = (
    "WITH "
    + _DAILY_GRID_SQL
    + """,
per AS (
  SELECT event_type,
         list(CAST(v_cents AS DOUBLE) ORDER BY day) AS vals,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM g WHERE v_cents IS NOT NULL GROUP BY 1
),
sp AS (
  SELECT event_type, n, vals,
         list_transform(range(1, n + 1),
           t -> list_reduce(list_slice(vals, 1, t),
                            (a, x) -> 0.3 * x + 0.7 * a)) AS sm
  FROM per WHERE n >= 2
),
ag AS (
  SELECT event_type, CAST(n AS INT) AS n_days,
         CAST(list_sum(list_transform(range(2, n + 1),
              t -> CAST(floor(abs(vals[t] - sm[t - 1]) * 100.0 + 0.5)
                        AS BIGINT))) AS BIGINT) AS es,
         CAST(list_sum(list_transform(range(2, n + 1),
              t -> CAST(floor(abs(vals[t]) * 100.0 + 0.5) AS BIGINT)))
              AS BIGINT) AS asum,
         sm[n] AS fc
  FROM sp
)
SELECT event_type, n_days,
  CASE WHEN asum > 0
       THEN floor(CAST(es AS DOUBLE) / CAST(asum AS DOUBLE)
                  * 1000000.0 + 0.5) / 1000000.0 END AS wape,
  floor(CAST(es AS DOUBLE) / 100.0 / CAST(n_days - 1 AS DOUBLE)
        * 10000.0 + 0.5) / 10000.0 AS mae_cents,
  floor(fc * 10000.0 + 0.5) / 10000.0 AS next_forecast_cents
FROM ag
"""
)


@query("events_ewma_forecast", _EWMA_FC_ORACLE)
def events_ewma_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type one-step EWMA (α=0.3) forecast WAPE/MAE on the daily
    value grid: both engines fold the identical left-to-right
    recurrence (Spark F.aggregate ≡ DuckDB list_reduce, seeded with
    the first element), error terms quantize to 1e2-fixpoint BIGINTs
    before summing (the int64-headroom rebase, round-9 close #3)."""
    from vectorsearchutil_spark.operators.analytics import (
        ewma_forecast_daily,
    )

    return ewma_forecast_daily(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# R10-5. Exact DAU/MAU stickiness (coverage islands + sweep deltas)
# --------------------------------------------------------------------------

_DAU_MAU_ORACLE = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
  FROM events WHERE ts IS NOT NULL
),
dau AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1
),
marked AS (
  SELECT user_id, day,
         CASE WHEN lag(day) OVER w IS NULL
                   OR date_diff('day', lag(day) OVER w, day) > 29
              THEN 1 ELSE 0 END AS ni
  FROM ud
  WINDOW w AS (PARTITION BY user_id ORDER BY day ASC)
),
isl AS (
  SELECT user_id, day,
         SUM(ni) OVER (PARTITION BY user_id ORDER BY day ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM marked
),
islands AS (
  SELECT user_id, island, MIN(day) AS s, MAX(day) + 30 AS e
  FROM isl GROUP BY 1, 2
),
delta AS (
  SELECT day, CAST(SUM(d) AS BIGINT) AS delta FROM (
    SELECT s AS day, 1 AS d FROM islands
    UNION ALL
    SELECT e AS day, -1 AS d FROM islands
  ) GROUP BY 1
),
merged AS (
  SELECT COALESCE(delta.day, dau.day) AS day,
         COALESCE(delta, 0) AS delta, dau
  FROM delta FULL JOIN dau ON delta.day = dau.day
),
cum AS (
  SELECT day, dau,
         SUM(delta) OVER (ORDER BY day ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mau
  FROM merged
)
SELECT day, dau, CAST(mau AS BIGINT) AS mau,
  floor(CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE) * 1000000.0 + 0.5)
    / 1000000.0 AS stickiness
FROM cum WHERE dau IS NOT NULL
"""


@query("events_dau_mau_stickiness", _DAU_MAU_ORACLE)
def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DAU / trailing-30-day MAU per day via per-user coverage
    islands (+1/−1 sweep deltas, prefix sum over the bounded day
    grid) — never a distinct-count window over users."""
    from vectorsearchutil_spark.operators.analytics import (
        dau_mau_stickiness,
    )

    return dau_mau_stickiness(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# R10-6. Difference-in-differences (hash treatment, midpoint period)
# --------------------------------------------------------------------------

_DID_ORACLE = """
WITH ev AS (
  SELECT * FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
b AS (
  SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM ev
),
base AS (
  SELECT (('0x' || substr(md5('did:' || CAST(user_id AS VARCHAR)), 1, 8))
            ::BIGINT / 4294967296.0 < 0.5) AS treated,
         (date_diff('day', d0, CAST(ts AS DATE))
          > floor(date_diff('day', d0, d1) / 2)) AS post,
         CASE WHEN value IS NOT NULL AND isfinite(value)
              THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) END AS v
  FROM ev, b
),
cell AS (
  SELECT treated, post, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS sv
  FROM base WHERE v IS NOT NULL GROUP BY 1, 2
),
piv AS (
  SELECT
    MAX(CASE WHEN treated AND post
             THEN CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) END) AS tp,
    MAX(CASE WHEN treated AND NOT post
             THEN CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) END) AS t0,
    MAX(CASE WHEN NOT treated AND post
             THEN CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) END) AS cp,
    MAX(CASE WHEN NOT treated AND NOT post
             THEN CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) END) AS c0,
    CAST(SUM(n) AS BIGINT) AS n_events
  FROM cell
)
SELECT n_events,
  floor(t0 / 100.0 * 10000.0 + 0.5) / 10000.0 AS pre_treat,
  floor(tp / 100.0 * 10000.0 + 0.5) / 10000.0 AS post_treat,
  floor(c0 / 100.0 * 10000.0 + 0.5) / 10000.0 AS pre_control,
  floor(cp / 100.0 * 10000.0 + 0.5) / 10000.0 AS post_control,
  floor(((tp - t0) - (cp - c0)) / 100.0 * 10000.0 + 0.5) / 10000.0
    AS did_estimate
FROM piv
"""


@query("events_diff_in_diff", _DID_ORACLE)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DiD estimator: deterministic md5-hash treatment assignment
    (the repo's standard draw — the oracle reproduces it bit-for-bit)
    × a midpoint pre/post split; four exact cents-mean cells, one
    output row."""
    from vectorsearchutil_spark.operators.analytics import diff_in_diff

    return diff_in_diff(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# R10-7. Stupid-backoff trigram LM scoring (reference-half counts)
# --------------------------------------------------------------------------

_SBO_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS t
  FROM documents
),
ref AS (
  SELECT * FROM toks
  WHERE ('0x' || substr(md5('sbo:' || CAST(doc_id AS VARCHAR)), 1, 8))
          ::BIGINT / 4294967296.0 < 0.5
),
tri0 AS (
  SELECT doc_id, t, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i
  FROM toks
),
tri AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3 FROM tri0
),
rtri0 AS (
  SELECT t, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i FROM ref
),
tc AS (
  SELECT t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3,
         CAST(COUNT(*) AS BIGINT) AS c3
  FROM rtri0 GROUP BY 1, 2, 3
),
rbig0 AS (
  SELECT t, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS i FROM ref
),
bc AS (
  SELECT t[i] AS w1, t[i + 1] AS w2, CAST(COUNT(*) AS BIGINT) AS cb
  FROM rbig0 GROUP BY 1, 2
),
runi AS (SELECT unnest(t) AS w FROM ref),
uc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cu FROM runi GROUP BY 1),
nt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM runi),
tall AS (SELECT DISTINCT w1, w2, w3 FROM tri),
sc AS (
  SELECT tall.w1, tall.w2, tall.w3,
    CAST(floor(
      CASE WHEN tc.c3 IS NOT NULL
           THEN CAST(tc.c3 AS DOUBLE) / CAST(ctx.cb AS DOUBLE)
           WHEN back.cb IS NOT NULL
           THEN 0.4 * (CAST(back.cb AS DOUBLE) / CAST(ucx.cu AS DOUBLE))
           WHEN nn > 0
           THEN 0.4 * (0.4 * (CAST(COALESCE(uw.cu, 0) AS DOUBLE) / nn))
           ELSE 0.0
      END * 1000000.0 + 0.5) AS BIGINT) AS s_ppm
  FROM tall
  LEFT JOIN tc ON tc.w1 = tall.w1 AND tc.w2 = tall.w2 AND tc.w3 = tall.w3
  LEFT JOIN bc ctx ON ctx.w1 = tall.w1 AND ctx.w2 = tall.w2
  LEFT JOIN bc back ON back.w1 = tall.w2 AND back.w2 = tall.w3
  LEFT JOIN uc ucx ON ucx.w = tall.w2
  LEFT JOIN uc uw ON uw.w = tall.w3
  CROSS JOIN nt
),
pd AS (
  SELECT tri.doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
         CAST(SUM(s_ppm) AS BIGINT) AS sp
  FROM tri
  JOIN sc ON tri.w1 = sc.w1 AND tri.w2 = sc.w2 AND tri.w3 = sc.w3
  GROUP BY 1
)
SELECT doc_id, n_trigrams,
  floor(CAST(sp AS DOUBLE) / 1000000.0 / CAST(n_trigrams AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS sbo_score
FROM pd
"""


@query("docs_trigram_backoff", _SBO_ORACLE)
def docs_trigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean stupid-backoff trigram score against an n-gram LM
    counted on a deterministic md5 reference half of the corpus (the
    CCNet shape); 3->2->1-gram fallback with α=0.4; per-position
    1e6-fixpoint sums (kin: docs_bigram_logprob)."""
    from vectorsearchutil_spark.operators.textanalysis import (
        trigram_stupid_backoff,
    )

    return trigram_stupid_backoff(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# R10-8. Template-skeleton clustering
# --------------------------------------------------------------------------

_TEMPLATE_ORACLE = r"""
SELECT md5(trim(regexp_replace(regexp_replace(text, '[A-Za-z0-9]+', 'x',
                                              'g'),
                               '[ \t\n\f\r]+', ' ', 'g')))
         AS template_hash,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS example_doc_id,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents WHERE text IS NOT NULL
GROUP BY 1 HAVING COUNT(*) >= 2
"""


@query("docs_template_clusters", _TEMPLATE_ORACLE)
def docs_template_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-spam clusters by structural skeleton hash (ASCII
    alnum runs -> 'x', explicit [ \\t\\n\\f\\r]+ whitespace class —
    Java/RE2-portable); one groupBy, scan-speed (kin:
    docs_boilerplate_prefix)."""
    from vectorsearchutil_spark.operators.textanalysis import (
        template_clusters,
    )

    return template_clusters(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# R10-9/10. LOO source influence + quality-score calibration (shared
#           quality CTE — the two oracles cannot drift on the metric)
# --------------------------------------------------------------------------

#: per-doc 4dp quality + 1e4-fixpoint int + source — the SAME quality
#: expression as _QUALITY_ORACLE (text_quality_score), with source
#: carried through; shared by the LOO-influence and ECE oracles.
_QSRC_CTE = """
toks AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> x != '') AS t
  FROM documents
),
q AS (
  SELECT doc_id, source,
         ROUND(LEAST(1.0, len(t) / 100.0) *
               (1.0 - len(list_filter(t, x -> list_contains(
                 ['the','a','of','and','to','is','in','on'], x)))
                * 1.0 / len(t)), 4) AS quality
  FROM toks WHERE len(t) > 0
),
qi AS (
  SELECT source, quality,
         CAST(floor(quality * 10000.0 + 0.5) AS BIGINT) AS q4
  FROM q
)
"""

_LOO_ORACLE = (
    "WITH "
    + _QSRC_CTE
    + """,
per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(q4) AS BIGINT) AS s4
  FROM qi GROUP BY 1
),
corpus AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(q4) AS BIGINT) AS s
  FROM qi
)
SELECT source, n_docs,
  floor(CAST(s4 AS DOUBLE) / (10000.0 * CAST(n_docs AS DOUBLE))
        * 1000000.0 + 0.5) / 1000000.0 AS source_mean,
  floor(CASE WHEN n > n_docs
             THEN CAST(s - s4 AS DOUBLE)
                  / (10000.0 * CAST(n - n_docs AS DOUBLE)) END
        * 1000000.0 + 0.5) / 1000000.0 AS loo_mean,
  floor((CAST(s AS DOUBLE) / (10000.0 * CAST(n AS DOUBLE))
         - CASE WHEN n > n_docs
                THEN CAST(s - s4 AS DOUBLE)
                     / (10000.0 * CAST(n - n_docs AS DOUBLE)) END)
        * 1000000.0 + 0.5) / 1000000.0 AS influence
FROM per_src, corpus
"""
)


@query("docs_loo_source_influence", _LOO_ORACLE)
def docs_loo_source_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out influence on the corpus mean quality —
    pure aggregate algebra on 1e4-fixpoint sums, one scan (kin:
    quality_score supplies the metric; docs_source_divergence is the
    distributional cousin)."""
    from vectorsearchutil_spark.operators.textanalysis import (
        loo_source_influence,
    )

    return loo_source_influence(load_table(spark, sf_dir, "documents"))


_ECE_ORACLE = (
    "WITH "
    + _QSRC_CTE
    + """,
per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS ns,
         CAST(SUM(q4) AS BIGINT) AS ss
  FROM qi GROUP BY 1
),
ranked AS (
  SELECT source,
         ROW_NUMBER() OVER (
           ORDER BY CAST(ss AS DOUBLE) / CAST(ns AS DOUBLE) DESC,
                    source ASC) AS rk,
         COUNT(*) OVER () AS S
  FROM per_src
),
pos AS (SELECT source, rk <= ceil(S / 2.0) AS p FROM ranked),
binned AS (
  SELECT CAST(LEAST(9, floor(quality * 10.0)) AS INT) AS bin, q4,
         CASE WHEN p THEN 1 ELSE 0 END AS y
  FROM qi JOIN pos USING (source)
),
agg AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(q4) AS BIGINT) AS sq, CAST(SUM(y) AS BIGINT) AS sy
  FROM binned GROUP BY 1
),
total AS (SELECT CAST(COUNT(*) AS BIGINT) AS N FROM binned)
SELECT bin, n_docs,
  floor(CAST(sq AS DOUBLE) / (10000.0 * CAST(n_docs AS DOUBLE))
        * 1000000.0 + 0.5) / 1000000.0 AS avg_conf,
  floor(CAST(sy AS DOUBLE) / CAST(n_docs AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS frac_pos,
  floor(CAST(n_docs AS DOUBLE) / CAST(N AS DOUBLE)
        * abs(CAST(sy AS DOUBLE) / CAST(n_docs AS DOUBLE)
              - CAST(sq AS DOUBLE) / (10000.0 * CAST(n_docs AS DOUBLE)))
        * 1000000.0 + 0.5) / 1000000.0 AS ece_contrib
FROM agg, total
"""
)


@query("docs_quality_ece", _ECE_ORACLE)
def docs_quality_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram ECE decomposition of the quality score as
    a predictor of 'doc's source is a top-half-quality source' —
    exact rank cut on source means, 1e4-fixpoint confidence sums
    (kin: docs_calibrated_quality). Sum ece_contrib for the ECE."""
    from vectorsearchutil_spark.operators.textanalysis import quality_ece

    return quality_ece(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# R10-11. Per-brand log-log OLS price elasticity
# --------------------------------------------------------------------------

_ELASTICITY_ORACLE = """
WITH li AS (
  SELECT l_partkey,
    CAST(floor(ln(l_extendedprice / l_quantity) * 1000000000.0 + 0.5)
         AS BIGINT) AS lx,
    CAST(floor(ln(l_quantity) * 1000000000.0 + 0.5) AS BIGINT) AS ly
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    AND l_quantity > 0 AND l_extendedprice > 0
    AND isfinite(l_quantity) AND isfinite(l_extendedprice)
),
m AS (
  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_obs,
         SUM(CAST(lx AS HUGEINT)) AS sx,
         SUM(CAST(ly AS HUGEINT)) AS sy,
         SUM(CAST(lx AS HUGEINT) * lx) AS sxx,
         SUM(CAST(lx AS HUGEINT) * ly) AS sxy
  FROM li JOIN part ON p_partkey = l_partkey
  GROUP BY 1
),
raw AS (
  SELECT p_brand, n_obs,
         CAST(n_obs AS DOUBLE) AS n, CAST(sx AS DOUBLE) AS sxd,
         CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
         CAST(sxy AS DOUBLE) AS sxyd
  FROM m
),
sl AS (
  SELECT p_brand, n_obs, n, sxd, syd,
         CASE WHEN n * sxxd - sxd * sxd != 0
              THEN (n * sxyd - sxd * syd) / (n * sxxd - sxd * sxd)
         END AS slope
  FROM raw
)
SELECT p_brand, n_obs,
  floor(slope * 1000000.0 + 0.5) / 1000000.0 AS elasticity,
  floor(CASE WHEN slope IS NOT NULL
             THEN (syd - slope * sxd) / (n * 1000000000.0) END
        * 1000000.0 + 0.5) / 1000000.0 AS ln_q_intercept
FROM sl
"""


@query("lineitem_price_elasticity", _ELASTICITY_ORACLE)
def lineitem_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand log-log OLS price elasticity of demand: 1e9-fixpoint
    ln terms (zipf_fit convention), exact DECIMAL(38,0) moment sums,
    closed-form slope in double once per brand (kin:
    orders_theilsen_trend is the robust pairwise-slope cousin)."""
    from vectorsearchutil_spark.operators.analytics import price_elasticity

    return price_elasticity(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


# ==========================================================================
# ROUND-11 STAGING WAVE: registered with ``staged=True``, so every entry
# below is oracle-checked (CHECK_ORACLES_PENDING=1, PLAN_LINT_PENDING=1,
# the test lanes) but not served by ``__spark_entry__.queries()``.
# Kinship per entry declared in the operator docstrings and COVERAGE.md.
# ==========================================================================


# --------------------------------------------------------------------------
# R11-1. Two-group log-rank survival test (KM/NA risk machinery, md5 split)
# --------------------------------------------------------------------------

_LOGRANK_ORACLE = """
WITH pu AS (
  SELECT user_id,
    MIN(CASE WHEN event_type = 'signup'
             THEN CAST(epoch(ts) AS BIGINT) END) AS s,
    MIN(CASE WHEN event_type = 'purchase'
             THEN CAST(epoch(ts) AS BIGINT) END) AS c,
    MAX(CAST(epoch(ts) AS BIGINT)) AS seen
  FROM events GROUP BY user_id
),
pu2 AS (
  SELECT CASE WHEN ('0x' || substr(md5('logrank:'
                    || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                   / 4294967296.0 < 0.5
              THEN 'A' ELSE 'B' END AS grp, s, c, seen
  FROM pu WHERE s IS NOT NULL
),
h AS (SELECT MAX(seen) AS hmax FROM pu2),
obs AS (
  SELECT grp,
    CASE WHEN c IS NOT NULL AND c >= s
         THEN CAST(floor(c / 86400.0) - floor(s / 86400.0) AS BIGINT)
    END AS edays,
    CAST(floor(hmax / 86400.0) - floor(s / 86400.0) AS BIGINT) AS cdays
  FROM pu2, h
),
nt AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_total FROM obs GROUP BY 1),
ev AS (
  SELECT grp, edays AS delay_days, CAST(COUNT(*) AS BIGINT) AS ne
  FROM obs WHERE edays IS NOT NULL GROUP BY 1, 2
),
cens AS (
  SELECT grp, cdays AS delay_days, CAST(COUNT(*) AS BIGINT) AS nc
  FROM obs WHERE edays IS NULL GROUP BY 1, 2
),
days AS (
  SELECT DISTINCT delay_days FROM
    (SELECT delay_days FROM ev UNION ALL SELECT delay_days FROM cens)
),
grid AS (
  SELECT g.grp, d.delay_days,
         COALESCE(ev.ne, 0) AS ne, COALESCE(cens.nc, 0) AS nc
  FROM days d CROSS JOIN (SELECT grp FROM nt) g
  LEFT JOIN ev ON ev.grp = g.grp AND ev.delay_days = d.delay_days
  LEFT JOIN cens ON cens.grp = g.grp AND cens.delay_days = d.delay_days
),
risked AS (
  SELECT grid.grp, grid.delay_days, ne,
    CAST(n_total - COALESCE(SUM(ne) OVER w, 0)
                 - COALESCE(SUM(nc) OVER w, 0) AS BIGINT) AS nr
  FROM grid JOIN nt ON nt.grp = grid.grp
  WINDOW w AS (PARTITION BY grid.grp ORDER BY grid.delay_days ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
pooled AS (
  SELECT delay_days,
    COALESCE(SUM(CASE WHEN grp = 'A' THEN ne END), 0) AS da,
    COALESCE(SUM(CASE WHEN grp = 'B' THEN ne END), 0) AS db,
    COALESCE(SUM(CASE WHEN grp = 'A' THEN nr END), 0) AS na,
    COALESCE(SUM(CASE WHEN grp = 'B' THEN nr END), 0) AS nb
  FROM risked GROUP BY 1
  HAVING COALESCE(SUM(CASE WHEN grp = 'A' THEN ne END), 0)
       + COALESCE(SUM(CASE WHEN grp = 'B' THEN ne END), 0) > 0
),
terms AS (
  SELECT da, db,
    CAST(floor(CAST(da + db AS DOUBLE) * CAST(na AS DOUBLE)
               / CAST(na + nb AS DOUBLE) * 1000000000.0 + 0.5)
         AS BIGINT) AS ea,
    CAST(floor(CAST(da + db AS DOUBLE) * CAST(nb AS DOUBLE)
               / CAST(na + nb AS DOUBLE) * 1000000000.0 + 0.5)
         AS BIGINT) AS eb,
    CASE WHEN na + nb > 1 THEN
      CAST(floor(CAST(da + db AS DOUBLE) * CAST(na AS DOUBLE)
                 / CAST(na + nb AS DOUBLE) * CAST(nb AS DOUBLE)
                 / CAST(na + nb AS DOUBLE)
                 * (CAST(na + nb AS DOUBLE) - CAST(da + db AS DOUBLE))
                 / (CAST(na + nb AS DOUBLE) - 1.0)
                 * 1000000000.0 + 0.5) AS BIGINT)
    ELSE 0 END AS vt
  FROM pooled
),
tot AS (
  SELECT CAST(SUM(da) AS BIGINT) AS oa, CAST(SUM(db) AS BIGINT) AS ob,
         CAST(SUM(ea) AS BIGINT) AS sea, CAST(SUM(eb) AS BIGINT) AS seb,
         CAST(SUM(vt) AS BIGINT) AS sv
  FROM terms
),
cnts AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN grp = 'A' THEN n_total END), 0)
              AS BIGINT) AS n_a,
         CAST(COALESCE(SUM(CASE WHEN grp = 'B' THEN n_total END), 0)
              AS BIGINT) AS n_b
  FROM nt
),
zc AS (
  SELECT *,
    CASE WHEN sv > 0 THEN
      (CAST(oa AS DOUBLE) - CAST(sea AS DOUBLE) / 1000000000.0)
      / sqrt(CAST(sv AS DOUBLE) / 1000000000.0)
    END AS zz
  FROM tot, cnts WHERE oa IS NOT NULL
)
SELECT n_a, n_b,
  oa AS observed_a,
  floor(CAST(sea AS DOUBLE) / 1000000000.0 * 1000000.0 + 0.5)
    / 1000000.0 AS expected_a,
  ob AS observed_b,
  floor(CAST(seb AS DOUBLE) / 1000000000.0 * 1000000.0 + 0.5)
    / 1000000.0 AS expected_b,
  CASE WHEN sv > 0
       THEN floor(zz * zz * 1000000.0 + 0.5) / 1000000.0 END AS chi2,
  CASE WHEN sv > 0
       THEN floor(2.0 * {SF} * 1000000.0 + 0.5) / 1000000.0
  END AS p_value
FROM zc
""".replace("{SF}", _normal_sf_sql("abs(zz)"))


@query("events_logrank_test", _LOGRANK_ORACLE, staged=True)
def events_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group log-rank test of signup→purchase survival over a
    deterministic md5 user split (kin: events_kaplan_meier /
    events_nelson_aalen share the risk-set machinery;
    events_diff_in_diff shares the hash_uniform treatment draw;
    p-value via the shared A&S 26.2.19 normal-SF fragment)."""
    from vectorsearchutil_spark.operators.analytics import logrank_test

    return logrank_test(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# R11-2. Two-period Poisson rate-ratio z-test per type (shared normal SF)
# --------------------------------------------------------------------------

_POISSON_RATE_ORACLE = """
WITH ev AS (SELECT * FROM events WHERE ts IS NOT NULL),
b AS (
  SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM ev
),
base AS (
  SELECT event_type,
    (date_diff('day', d0, CAST(ts AS DATE))
     <= floor(date_diff('day', d0, d1) / 2)) AS pre,
    date_diff('day', d0, d1) AS span
  FROM ev, b
),
cell AS (
  SELECT event_type,
    CAST(SUM(CASE WHEN pre THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(SUM(CASE WHEN pre THEN 0 ELSE 1 END) AS BIGINT) AS n2,
    MAX(span) AS span
  FROM base GROUP BY 1
),
calc AS (
  SELECT event_type, n1, n2, span,
    CAST(CAST(floor(span / 2) AS BIGINT) + 1 AS DOUBLE) AS t1,
    CAST(span - CAST(floor(span / 2) AS BIGINT) AS DOUBLE) AS t2,
    CAST(n1 + n2 AS DOUBLE) AS n
  FROM cell
),
zc AS (
  SELECT *,
    CASE WHEN span > 0 AND n1 + n2 > 0 THEN
      (CAST(n1 AS DOUBLE) - n * (t1 / (t1 + t2)))
        / sqrt(n * (t1 / (t1 + t2)) * (1.0 - t1 / (t1 + t2)))
    END AS zz
  FROM calc
)
SELECT event_type, n1 AS n_pre, n2 AS n_post,
  floor(CAST(n1 AS DOUBLE) / t1 * 1000000.0 + 0.5) / 1000000.0
    AS rate_pre,
  CASE WHEN t2 > 0
       THEN floor(CAST(n2 AS DOUBLE) / t2 * 1000000.0 + 0.5)
            / 1000000.0 END AS rate_post,
  CASE WHEN span > 0 AND n1 + n2 > 0
       THEN floor(zz * 1000000.0 + 0.5) / 1000000.0 END AS z_stat,
  CASE WHEN span > 0 AND n1 + n2 > 0
       THEN floor(2.0 * {SF} * 1000000.0 + 0.5) / 1000000.0
  END AS p_value
FROM zc
""".replace("{SF}", _normal_sf_sql("abs(zz)"))


@query("events_poisson_rate_test", _POISSON_RATE_ORACLE, staged=True)
def events_poisson_rate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type two-period Poisson rate-ratio z-test over the
    midpoint calendar split (kin: events_ab_test compares hash-group
    proportions; events_diff_in_diff shares the midpoint split;
    p-value via the shared A&S 26.2.19 normal-SF fragment)."""
    from vectorsearchutil_spark.operators.analytics import (
        poisson_rate_test,
    )

    return poisson_rate_test(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# R11-3. Holt double-exponential one-step forecast (EWMA kin, [l,b] fold)
# --------------------------------------------------------------------------

_HOLT_ORACLE = (
    "WITH "
    + _DAILY_GRID_SQL
    + """,
per AS (
  SELECT event_type,
         list(CAST(v_cents AS DOUBLE) ORDER BY day) AS vals,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM g WHERE v_cents IS NOT NULL GROUP BY 1
),
sp AS (
  SELECT event_type, n, vals,
         list_transform(range(1, n + 1),
           t -> list_reduce(
                  list_slice(list_transform(vals,
                               v -> [v, CAST(0.0 AS DOUBLE)]), 1, t),
                  (a, x) -> [0.3 * x[1] + 0.7 * (a[1] + a[2]),
                             0.1 * ((0.3 * x[1] + 0.7 * (a[1] + a[2]))
                                    - a[1]) + 0.9 * a[2]])) AS st
  FROM per WHERE n >= 2
),
ag AS (
  SELECT event_type, CAST(n AS INT) AS n_days,
         CAST(list_sum(list_transform(range(2, n + 1),
              t -> CAST(floor(abs(vals[t] - (st[t - 1][1] + st[t - 1][2]))
                              * 100.0 + 0.5) AS BIGINT))) AS BIGINT) AS es,
         CAST(list_sum(list_transform(range(2, n + 1),
              t -> CAST(floor(abs(vals[t]) * 100.0 + 0.5) AS BIGINT)))
              AS BIGINT) AS asum,
         st[n][1] + st[n][2] AS fc
  FROM sp
)
SELECT event_type, n_days,
  CASE WHEN asum > 0
       THEN floor(CAST(es AS DOUBLE) / CAST(asum AS DOUBLE)
                  * 1000000.0 + 0.5) / 1000000.0 END AS wape,
  floor(CAST(es AS DOUBLE) / 100.0 / CAST(n_days - 1 AS DOUBLE)
        * 10000.0 + 0.5) / 10000.0 AS mae_cents,
  floor(fc * 10000.0 + 0.5) / 10000.0 AS next_forecast_cents
FROM ag
"""
)


@query("events_holt_forecast", _HOLT_ORACLE, staged=True)
def events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type one-step Holt (level+trend, α=0.3, β=0.1) forecast
    WAPE/MAE on the daily value grid (kin: events_ewma_forecast is
    the level-only twin — same grid, fold technique, and 1e2-fixpoint
    scoring; Spark F.aggregate over array(l,b) ≡ DuckDB list_reduce
    over DOUBLE[] elements seeded with [v1, 0])."""
    from vectorsearchutil_spark.operators.analytics import (
        holt_forecast_daily,
    )

    return holt_forecast_daily(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# R11-4. Aggregated-variance Hurst exponent per type (daily grid)
# --------------------------------------------------------------------------

_HURST_ORACLE = (
    "WITH "
    + _DAILY_GRID_SQL
    + """,
gi AS (
  SELECT event_type, v_cents,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
  FROM g WHERE v_cents IS NOT NULL
),
nd AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
  FROM gi GROUP BY 1
),
ex AS (
  SELECT event_type, i, v_cents, m
  FROM gi CROSS JOIN (SELECT unnest([1, 2, 4, 8, 16]) AS m)
),
blk AS (
  SELECT event_type, m, CAST(floor((i - 1) / m) AS BIGINT) AS blk,
         COUNT(*) AS c, CAST(SUM(v_cents) AS BIGINT) AS s
  FROM ex GROUP BY 1, 2, 3
),
vm AS (
  SELECT event_type, m, CAST(COUNT(*) AS BIGINT) AS k,
         SUM(CAST(s AS HUGEINT)) AS a,
         SUM(CAST(s AS HUGEINT) * s) AS b
  FROM blk WHERE c = m GROUP BY 1, 2
  HAVING COUNT(*) >= 2
),
pts AS (
  SELECT event_type,
    CAST(floor(ln(CAST(m AS DOUBLE)) * 1000000000.0 + 0.5) AS BIGINT)
      AS x,
    CASE WHEN (CAST(k AS DOUBLE) * CAST(b AS DOUBLE)
               - CAST(a AS DOUBLE) * CAST(a AS DOUBLE))
              / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
                 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)) > 0
         THEN CAST(floor(ln((CAST(k AS DOUBLE) * CAST(b AS DOUBLE)
                             - CAST(a AS DOUBLE) * CAST(a AS DOUBLE))
                            / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
                               * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)))
                         * 1000000000.0 + 0.5) AS BIGINT)
    END AS y
  FROM vm
),
pts2 AS (SELECT * FROM pts WHERE y IS NOT NULL),
mo AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_scales,
         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(x AS HUGEINT) * y) AS sxy
  FROM pts2 GROUP BY 1 HAVING COUNT(*) >= 2
)
SELECT mo.event_type, n_days, n_scales,
  floor((1.0 + (CASE WHEN CAST(n_scales AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0
                     THEN (CAST(n_scales AS DOUBLE) * CAST(sxy AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                          / (CAST(n_scales AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                END) * 0.5) * 1000000.0 + 0.5) / 1000000.0 AS hurst
FROM mo JOIN nd ON nd.event_type = mo.event_type
"""
)


@query("events_hurst_exponent", _HURST_ORACLE, staged=True)
def events_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregated-variance Hurst exponent per event type over the
    daily value grid: V(m) of full-block means for m ∈ {1,2,4,8,16},
    H = 1 + slope/2 of the 1e9-fixpoint ln-ln OLS (kin:
    orders_daily_acf measures short-lag memory; lineitem_
    price_elasticity shares the DECIMAL-moment closed-form OLS)."""
    from vectorsearchutil_spark.operators.analytics import (
        hurst_exponent_daily,
    )

    return hurst_exponent_daily(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# R11-5/6. Near-dup graph: degree assortativity + common-neighbour link
#          prediction (shared _CC_EDGES_CTE — same edges as triangles/CC)
# --------------------------------------------------------------------------

def _assortativity_oracle() -> str:
    return f"""
WITH RECURSIVE {_CC_EDGES_CTE},
stubs AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
dg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS dg FROM stubs GROUP BY 1),
att AS (
  SELECT dx.dg AS x, dy.dg AS y
  FROM stubs s JOIN dg dx ON dx.a = s.a JOIN dg dy ON dy.a = s.b
),
mo AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         SUM(CAST(x AS HUGEINT)) AS sx,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(x AS HUGEINT) * y) AS sxy
  FROM att
)
SELECT CAST((SELECT COUNT(*) FROM dg) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_edges,
  CASE WHEN CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0
       THEN floor((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * 1000000.0 + 0.5) / 1000000.0
  END AS assortativity
FROM mo WHERE m > 0
"""


@query("graph_degree_assortativity", _assortativity_oracle(), staged=True)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity of the 0.8-Jaccard near-dup graph
    (kin: graph_triangle_count — same edge set via _CC_EDGES_CTE,
    structural companion; hubs-to-hubs r>0 means template families,
    hub-and-spoke r<0 means boilerplate stars)."""
    from vectorsearchutil_spark.operators import dedup as _dd
    from vectorsearchutil_spark.operators.graph import degree_assortativity

    docs = load_table(spark, sf_dir, "documents")
    return degree_assortativity(
        _dd.ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    )


#: The 0.8-Jaccard text graph is pure CLIQUES on this corpus (exact
#: near-dup groups — zero open wedges at ANY Jaccard threshold, 25
#: edges at 0.5), so link prediction over it is vacuous. The
#: embedding cosine graph at the LIVE dedup_embedding_cosine
#: threshold (0.35) has chains (sf0.01: 271 edges, 268 open wedges)
#: — and reusing that exact pair-mining call means edge membership
#: at the float threshold boundary inherits the already-driver-green
#: parity of dedup_embedding_cosine.
_LINKPRED_EDGES_CTE = """
v AS (SELECT vec_id, embedding::DOUBLE[] AS emb
      FROM embeddings WHERE embedding IS NOT NULL),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM v a JOIN v b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.emb, b.emb) >= 0.35
)"""


def _linkpred_oracle() -> str:
    return f"""
WITH {_LINKPRED_EDGES_CTE},
stubs AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
dg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS dg FROM stubs GROUP BY 1),
cand AS (
  SELECT w1.b AS u, w2.b AS v, CAST(COUNT(*) AS BIGINT) AS cn
  FROM stubs w1 JOIN stubs w2 ON w1.a = w2.a AND w1.b < w2.b
  GROUP BY 1, 2
),
nonedge AS (
  SELECT c.u, c.v, c.cn FROM cand c
  LEFT JOIN pairs p ON p.id_a = c.u AND p.id_b = c.v
  WHERE p.id_a IS NULL
),
sc AS (
  SELECT u, v, cn, du.dg AS da, dv.dg AS db
  FROM nonedge JOIN dg du ON du.a = u JOIN dg dv ON dv.a = v
)
SELECT u AS id_a, v AS id_b, cn AS common_neighbors,
       da AS deg_a, db AS deg_b,
       floor(CAST(cn AS DOUBLE) / CAST(da + db - cn AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS jaccard
FROM sc
ORDER BY cn DESC, id_a ASC, id_b ASC
LIMIT 20
"""


@query("graph_common_neighbors", _linkpred_oracle(), staged=True)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 common-neighbour/Jaccard link predictions over the
    SEMANTIC near-dup graph (cosine ≥ 0.35 — the exact
    dedup_embedding_cosine edge set, whose threshold-boundary parity
    is already driver-green) — the open wedges transitive dedup
    would close (kin: graph_triangle_count counts the CLOSED ones on
    the text graph; dedup_connected_components merges blindly, this
    ranks the audit list; deterministic (cn desc, id_a, id_b)
    k-cut)."""
    from vectorsearchutil_spark.operators.graph import (
        common_neighbor_link_prediction,
    )
    from vectorsearchutil_spark.operators.similarity import neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return common_neighbor_link_prediction(
        neardup_pairs(emb, threshold=0.35), k=20
    )


# --------------------------------------------------------------------------
# R11-7. Per-term burstiness (variance-to-mean dispersion, zeros included)
# --------------------------------------------------------------------------

_BURSTINESS_ORACLE = """
WITH doctoks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
  FROM documents WHERE text IS NOT NULL
),
nd AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n
  FROM documents WHERE text IS NOT NULL
),
tk AS (SELECT doc_id, unnest(toks) AS term FROM doctoks),
dc AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c
  FROM tk GROUP BY 1, 2
),
per AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
         CAST(SUM(c) AS BIGINT) AS cf,
         SUM(CAST(c AS HUGEINT) * c) AS scc
  FROM dc GROUP BY 1
),
top AS (SELECT * FROM per ORDER BY cf DESC, term ASC LIMIT 50)
SELECT term, df AS doc_freq, cf AS coll_freq,
  floor(CAST(df AS DOUBLE) / CAST(n AS DOUBLE) * 1000000.0 + 0.5)
    / 1000000.0 AS doc_rate,
  floor(CAST(CAST(n AS HUGEINT) * scc
             - CAST(cf AS HUGEINT) * cf AS DOUBLE)
        / CAST(CAST(n AS HUGEINT) * cf AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS burstiness_vmr
FROM top, nd
"""


@query("docs_term_burstiness", _BURSTINESS_ORACLE, staged=True)
def docs_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-to-mean dispersion of per-doc term counts (zeros in)
    for the 50 most frequent terms — bursty topical/template terms vs
    Poisson background (kin: docs_zipf_fit fits frequency,
    docs_top_terms ranks within docs; exact integer moments)."""
    from vectorsearchutil_spark.operators.textanalysis import (
        term_burstiness,
    )

    return term_burstiness(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# R11-8. Cohen's kappa between two deterministic quality raters
# --------------------------------------------------------------------------

_KAPPA_ORACLE = """
WITH d AS (
  SELECT list_filter(string_split(text, ' '), x -> x != '') AS toks
  FROM documents WHERE text IS NOT NULL
),
r AS (
  SELECT (len(toks) >= 30) AS a,
         (2 * len(list_distinct(toks)) >= len(toks)) AS b
  FROM d
),
cell AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
    CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
    CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
    CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
      AS n00
  FROM r
),
pe AS (
  SELECT *,
    CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
      + CAST(n01 + n00 AS HUGEINT) * (n10 + n00) AS pe_num
  FROM cell
)
SELECT n AS n_docs, n11 AS n_both_good, n10 AS n_only_a,
  n01 AS n_only_b, n00 AS n_neither,
  floor(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
        * 1000000.0 + 0.5) / 1000000.0 AS p_observed,
  floor(CAST(pe_num AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
        * 1000000.0 + 0.5) / 1000000.0 AS p_expected,
  CASE WHEN CAST(CAST(n AS HUGEINT) * n - pe_num AS DOUBLE) <> 0
       THEN floor(CAST(CAST(n AS HUGEINT) * (n11 + n00) - pe_num
                       AS DOUBLE)
                  / CAST(CAST(n AS HUGEINT) * n - pe_num AS DOUBLE)
                  * 1000000.0 + 0.5) / 1000000.0
  END AS kappa
FROM pe WHERE n > 0
"""


@query("docs_rater_agreement", _KAPPA_ORACLE, staged=True)
def docs_rater_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic binary quality raters
    (length ≥ 30 tokens vs type-token ratio ≥ 0.5) — the
    inter-annotator-consistency audit (kin: docs_quality_ece measures
    calibration; exact 2x2 integer table, one double division)."""
    from vectorsearchutil_spark.operators.textanalysis import (
        rater_agreement,
    )

    return rater_agreement(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# R11-9. OCR/extraction garbage heuristics (explicit char classes)
# --------------------------------------------------------------------------

_OCR_ORACLE = r"""
WITH d AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), x -> x != '') AS toks
  FROM documents WHERE text IS NOT NULL
),
c AS (
  SELECT doc_id,
    CAST(len(toks) AS INT) AS n_tokens,
    CAST(len(list_filter(toks,
         t -> regexp_matches(t, '[0-9]')
              AND regexp_matches(t, '[a-zA-Z]'))) AS BIGINT) AS mixed,
    CAST(len(list_filter(toks, t -> length(t) = 1)) AS BIGINT)
      AS single,
    CAST(length(text) AS BIGINT) AS n_chars,
    CAST(length(text)
         - length(regexp_replace(text, '[^a-zA-Z0-9 \t\n\f\r]', '', 'g'))
         AS BIGINT) AS nonal
  FROM d
),
s AS (
  SELECT doc_id, n_tokens,
    CASE WHEN n_tokens > 0
         THEN CAST(mixed AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS m,
    CASE WHEN n_tokens > 0
         THEN CAST(single AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS sg,
    CASE WHEN n_chars > 0
         THEN CAST(nonal AS DOUBLE) / CAST(n_chars AS DOUBLE) END AS nc,
    n_chars
  FROM c
)
SELECT doc_id, n_tokens,
  floor(m * 1000000.0 + 0.5) / 1000000.0 AS mixed_token_share,
  floor(sg * 1000000.0 + 0.5) / 1000000.0 AS single_char_share,
  floor(nc * 1000000.0 + 0.5) / 1000000.0 AS nonalnum_char_share,
  CASE WHEN n_tokens > 0 AND n_chars > 0
       THEN floor(((m + sg) + nc) / 3.0 * 1000000.0 + 0.5) / 1000000.0
  END AS garbage_score
FROM s
"""


@query("docs_ocr_garbage_score", _OCR_ORACLE, staged=True)
def docs_ocr_garbage_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc OCR/extraction-garbage heuristics from explicit
    char-class counts: digit-letter blend tokens, 1-char shrapnel,
    non-alphanumeric residue, and their mean (kin:
    text_unicode_health audits codepoints; explicit
    [^a-zA-Z0-9 \\t\\n\\f\\r] class per the Java-vs-RE2 lesson)."""
    from vectorsearchutil_spark.operators.textanalysis import (
        ocr_garbage_score,
    )

    return ocr_garbage_score(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# R11-10. TwoNN intrinsic dimension (self-kNN machinery, k=2)
# --------------------------------------------------------------------------

_TWONN_ORACLE = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
vv AS (
  SELECT vec_id, e FROM v
  WHERE e IS NOT NULL
    AND len(list_filter(e, x -> x IS NULL OR NOT isfinite(x))) = 0
    AND list_dot_product(e, e) > 0
),
nn AS (
  SELECT a.vec_id AS qid, list_cosine_similarity(b.e, a.e) AS s,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY list_cosine_similarity(b.e, a.e) DESC, b.vec_id ASC
         ) AS rk
  FROM vv a JOIN vv b ON a.vec_id != b.vec_id
),
per AS (
  SELECT qid, MAX(CASE WHEN rk = 1 THEN s END) AS s1,
              MAX(CASE WHEN rk = 2 THEN s END) AS s2
  FROM nn WHERE rk <= 2 GROUP BY 1
),
pts AS (
  SELECT CAST(floor((1.0 - s1) * 1000000.0 + 0.5) AS BIGINT) AS d1,
         CAST(floor((1.0 - s2) * 1000000.0 + 0.5) AS BIGINT) AS d2
  FROM per WHERE s2 IS NOT NULL
),
pts2 AS (SELECT * FROM pts WHERE d1 > 0),
np AS (SELECT CAST(COUNT(*) AS BIGINT) AS np FROM vv),
ag AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nu,
         CAST(SUM(CAST(floor(ln(CAST(d2 AS DOUBLE) / CAST(d1 AS DOUBLE))
                             * 1000000000.0 + 0.5) AS BIGINT))
              AS BIGINT) AS ls
  FROM pts2
)
SELECT np AS n_points, nu AS n_used,
  CASE WHEN ls > 0
       THEN floor(CAST(nu AS DOUBLE)
                  / (CAST(ls AS DOUBLE) / 1000000000.0)
                  * 1000000.0 + 0.5) / 1000000.0
  END AS intrinsic_dim
FROM ag, np WHERE np > 0
"""


@query("embeddings_intrinsic_dim", _TWONN_ORACLE, staged=True)
def embeddings_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TwoNN intrinsic-dimension MLE from each point's two nearest
    cosine neighbours (kin: embeddings_hubness — same self-kNN
    machinery incl. the round-10 blocked no-collect path; 1e6
    micro-distance quantization before the ratio, 1e9-fixpoint ln
    sum)."""
    from vectorsearchutil_spark.operators.knn import intrinsic_dim_twonn

    emb = load_table(spark, sf_dir, "embeddings")
    return intrinsic_dim_twonn(emb, vector_col="embedding", id_col="vec_id")


# --------------------------------------------------------------------------
# R11-11. Linear CKA between embedding dim-halves (dim_covariance kin)
# --------------------------------------------------------------------------

_CKA_ORACLE = """
WITH v AS (
  SELECT embedding::DOUBLE[] AS e FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding,
          x -> x IS NULL OR NOT isfinite(x))) = 0
    AND len(embedding) >= 64
),
q AS (
  SELECT list_transform(e,
           x -> CAST(floor(x * 10000.0 + 0.5) AS BIGINT)) AS q
  FROM v
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q),
dims AS (
  SELECT i, SUM(CAST(q[i + 1] AS HUGEINT)) AS s
  FROM q, (SELECT unnest(range(0, 64)) AS i) GROUP BY i
),
prs AS (
  SELECT i, j,
    SUM(CAST(q[i + 1] AS HUGEINT) * q[32 + j + 1]) AS pxy,
    SUM(CAST(q[i + 1] AS HUGEINT) * q[j + 1]) AS pxx,
    SUM(CAST(q[32 + i + 1] AS HUGEINT) * q[32 + j + 1]) AS pyy
  FROM q, (SELECT unnest(range(0, 32)) AS i),
          (SELECT unnest(range(0, 32)) AS j)
  GROUP BY i, j
),
sc AS (
  SELECT
    n.n * pxy - dxi.s * dyj.s AS sxy,
    n.n * pxx - dxi.s * dxj.s AS sxx,
    n.n * pyy - dyi.s * dyj.s AS syy
  FROM prs p, n
  JOIN dims dxi ON dxi.i = p.i
  JOIN dims dxj ON dxj.i = p.j
  JOIN dims dyi ON dyi.i = 32 + p.i
  JOIN dims dyj ON dyj.i = 32 + p.j
),
fro AS (
  SELECT SUM(sxy * sxy) AS fxy, SUM(sxx * sxx) AS fxx,
         SUM(syy * syy) AS fyy
  FROM sc
)
SELECT (SELECT n FROM n) AS n_points,
       CAST(32 AS INT) AS n_dims_split,
  CASE WHEN fxx > 0 AND fyy > 0
       THEN floor(CAST(fxy AS DOUBLE)
                  / (sqrt(CAST(fxx AS DOUBLE)) * sqrt(CAST(fyy AS DOUBLE)))
                  * 1000000.0 + 0.5) / 1000000.0
  END AS cka
FROM fro
"""


@query("embeddings_cka_similarity", _CKA_ORACLE, staged=True)
def embeddings_cka_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear CKA between the first and second 32 embedding dims —
    the representation-redundancy audit before matryoshka-style
    truncation (kin: dim_covariance computes the substrate,
    embeddings_matryoshka consumes the verdict; exact 1e4-fixpoint
    integer moments, integer Frobenius sums, ONE double ratio)."""
    from vectorsearchutil_spark.operators.embeddings import cka_dim_split

    return cka_dim_split(
        load_table(spark, sf_dir, "embeddings"), vector_col="embedding"
    )


# --------------------------------------------------------------------------
# Registry ordering: the driver window
# --------------------------------------------------------------------------
# The driver's correctness gate checks a bounded prefix (~50 rows) of
# ``queries()``, so the names below move to the head of the registry;
# every other entry keeps its registration order behind them. Each
# round edits this one list in place. Composition (exactly 50 rows):
#   1. the 3 env canaries (permanently diagnostic);
#   2. the 11-entry round-10 wave, on its first driver check;
#   3. the 36 stalest veterans: every row last checked in round 2,
#      then the first 8 of the round-3 cohort in registry order.
_DRIVER_WINDOW = [
    # 1. env canaries (permanent)
    "env_spark_version", "env_fingerprint", "env_fingerprint_duckdb",
    # 2. round-10 staging wave (driver-first-time)
    "events_nelson_aalen", "events_mann_kendall", "events_fdr_bh",
    "events_ewma_forecast", "events_dau_mau_stickiness",
    "events_diff_in_diff", "docs_trigram_backoff",
    "docs_template_clusters", "docs_loo_source_influence",
    "docs_quality_ece", "lineitem_price_elasticity",
    # 3a. the complete last-checked-round-2 cohort (28)
    "knn_cosine", "orders_topn_per_customer",
    "setop_intersect", "setop_except",
    "events_json_extract", "dedup_ngram_jaccard",
    "dedup_simhash", "dedup_embedding_cosine",
    "text_token_stats", "text_langid",
    "text_fingerprint", "text_top_tokens",
    "multimodal_decode_meta",
    "mlp_classifier_predictions", "mlp_regressor_predictions",
    "store_query_with_info",
    "customers_semi_join", "customers_anti_join",
    "orders_distinct_customers", "embed_documents_hash64",
    "orders_range_join", "orders_cube",
    "zeroshot_scores_pivot", "text_bpe_token_stats",
    "text_rolling_fingerprint", "multimodal_frame_sample",
    "dedup_embedding_lsh", "kmeans_clusters",
    # 3b. first 8 of the last-checked-round-3 cohort (registry order)
    "dedup_embedding_cosine_blocked", "text_normalize",
    "text_chunking", "lineitem_quantiles",
    "tpch_q18_large_orders", "tpch_q4_order_priority",
    "text_repetition_ratio", "events_first_last_per_user",
]


def _reorder_for_driver_window() -> None:
    head = [n for n in _DRIVER_WINDOW if n in QUERIES]
    rest = [n for n in QUERIES if n not in set(head)]
    ordering = head + rest
    assert sorted(ordering) == sorted(QUERIES), "registry reorder lost entries"
    for d in (QUERIES, ORACLES):
        snapshot = dict(d)
        d.clear()
        d.update({n: snapshot[n] for n in ordering if n in snapshot})


_reorder_for_driver_window()

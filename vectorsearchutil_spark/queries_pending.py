"""Round-6 PENDING query registry.

The live registry is FROZEN at 188 entries until the round-5 driver
window closes the 43-query rotation (VERDICT r4 "Next round" #1/#3:
new entries must not outgrow the ~50-row driver window again). These
six operators are the round-6 wave, fully implemented and
oracle-checked NOW — ``CHECK_ORACLES_PENDING=1
python tools/check_oracles.py`` runs them through the same
driver-strict gate — but kept OUT of ``__spark_entry__.queries()``
so the frozen registry stays bit-identical for the external gate.
Round 6 promotes them by moving each ``@pending_query`` to
``@query`` (same names, same oracles) once CORRECTNESS_r05 lands
188/188.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vectorsearchutil_spark.session import local_frame
from vectorsearchutil_spark.sources.readers import load_table

PENDING_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
PENDING_ORACLES: dict[str, str] = {}


def pending_query(name: str, oracle: str | None = None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            from vectorsearchutil_spark.session import (
                ensure_package_on_executors,
            )

            ensure_package_on_executors(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        PENDING_QUERIES[name] = wrapped
        if oracle is not None:
            PENDING_ORACLES[name] = oracle
        return fn

    return deco


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


@pending_query("docs_benchmark_contamination", _CONTAM_ORACLE)
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
    from vectorsearchutil_spark.queries import _CC_EDGES_CTE

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


@pending_query("dedup_keep_best")
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


PENDING_ORACLES["dedup_keep_best"] = _keep_best_oracle()


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


@pending_query("docs_truncation_stats", _TRUNC_ORACLE)
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


@pending_query("events_value_tdigest", _TDIGEST_ORACLE)
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


@pending_query("knn_crossencoder_rerank", _CE_RERANK_ORACLE)
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


@pending_query("events_skew_report", _SKEW_ORACLE)
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


@pending_query("docs_containment_pairs", _CONTAINMENT_ORACLE)
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


@pending_query("embeddings_hubness", _HUBNESS_ORACLE)
def embeddings_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-occurrence (k=10, cosine) of every embedding: how many other
    points count it among their 10 nearest — the hubness skew check
    run before trusting ANN recall."""
    from vectorsearchutil_spark.operators.knn import knn_hubness

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_hubness(
        emb, k=10, vector_col="embedding", id_col="vec_id",
        metric="cosine", n_rows=emb.count(),
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


@pending_query("tpch_fk_integrity", _FK_ORACLE)
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


@pending_query("embeddings_retrieval_metrics")
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


PENDING_ORACLES["embeddings_retrieval_metrics"] = (
    _retrieval_metrics_oracle(10)
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


@pending_query("events_percentile_rank", _PCT_RANK_ORACLE)
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


@pending_query("docs_badword_filter", _BADWORD_ORACLE)
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


@pending_query("docs_normalized_dedup", _NORM_DEDUP_ORACLE)
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


@pending_query("docs_zipf_fit", _ZIPF_ORACLE)
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


@pending_query("docs_source_divergence", _JS_ORACLE)
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


@pending_query("docs_top_terms", _TOP_TERMS_ORACLE)
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
    from vectorsearchutil_spark.queries import _LANGID_ORACLE

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


@pending_query("docs_langid_confusion")
def docs_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the heuristic language ID against the
    labeled lang column: per (label, prediction) cell, doc count and
    within-label share — the classifier eval for text_langid."""
    from vectorsearchutil_spark.operators.textanalysis import (
        langid_confusion,
    )

    docs = load_table(spark, sf_dir, "documents")
    return langid_confusion(docs)


PENDING_ORACLES["docs_langid_confusion"] = _langid_confusion_oracle()


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


@pending_query("events_rolling_zscore", _ZSCORE_ORACLE)
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


@pending_query("events_interarrival", _INTERARRIVAL_ORACLE)
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


@pending_query("orders_yoy_growth", _YOY_ORACLE)
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


@pending_query("customer_rfm_scores", _RFM_ORACLE)
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


@pending_query("events_ab_test", _AB_ORACLE)
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


@pending_query("events_cusum_changepoint", _CUSUM_ORACLE)
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


@pending_query("orders_benford", _BENFORD_ORACLE)
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


@pending_query("orders_gini", _GINI_ORACLE)
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


@pending_query("events_kaplan_meier", _KM_ORACLE)
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


@pending_query("docs_token_chi2", _CHI2_ORACLE)
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


@pending_query("events_mannwhitney", _MWU_ORACLE)
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


@pending_query("events_ks_drift", _KS_ORACLE)
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


@pending_query("orders_daily_acf", _acf_oracle())
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


@pending_query("embeddings_matryoshka", _MATRYOSHKA_ORACLE)
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


@pending_query("embeddings_knn_label_eval", _KNN_LABEL_EVAL_ORACLE)
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


@pending_query("embeddings_top_pc", _top_pc_oracle())
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
# ROUND-7 STAGING WAVE (pending — NOT in ROUND6_PROMOTED, so these stay
# out of the live registry until their own promotion round).
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


@pending_query("docs_hapax_ratio", _HAPAX_ORACLE)
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


@pending_query("events_daily_peaks", _PEAKS_ORACLE)
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


@pending_query("orders_theilsen_trend", _THEILSEN_ORACLE)
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


@pending_query("events_bootstrap_ci", _BOOTSTRAP_ORACLE)
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


@pending_query("embeddings_pca_top2", _top2_oracle())
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


@pending_query("docs_curriculum_sharded", _CURRICULUM_SHARDED_ORACLE)
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

_RETENTION_ORACLE = """
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


@pending_query("events_retention_triangle", _RETENTION_ORACLE)
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


@pending_query("dedup_cluster_profile")
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


from vectorsearchutil_spark.queries import _CC_EDGES_CTE  # noqa: E402

PENDING_ORACLES["dedup_cluster_profile"] = _CLUSTER_PROFILE_ORACLE.format(
    cc_edges=_CC_EDGES_CTE.strip().lstrip()
)


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


@pending_query("docs_readability", _READABILITY_ORACLE)
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


@pending_query("events_seasonal_decompose", _SEAS_DECOMP_ORACLE)
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
    (queries._kmeans_cte_chain), then the centroid-silhouette per
    point: a = dist to own (nearest) centroid, b = nearest OTHER
    centroid, s = (b−a)/max(a,b) — quantized to 1e-6 before the
    per-cluster mean so the aggregate is an exact integer sum."""
    from vectorsearchutil_spark.queries import _kmeans_cte_chain

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


@pending_query("embeddings_silhouette", _silhouette_oracle())
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
    n_rows = pts.count()
    _, centroids = kmeans(
        emb, k=8, iterations=3, vector_col="embedding",
        id_col="vec_id", n_rows=n_rows,
    )
    cents = [
        (r["cid"], list(r["cv"])) for r in centroids.collect()
    ]
    ab = silhouette_ab(pts, cents, "embedding", "vec_id", n_rows=n_rows)
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


#: The round-6 promotion set: exactly the 33 entries staged during the
#: round-5 freeze and promoted into the live registry by
#: queries._promote_pending. Entries registered here AFTER this list
# ==========================================================================
# ROUND-8 STAGING WAVE (pending — NOT in the promoted list, so these
# stay out of the driver registry until their own rotation). Theme:
# rank statistics + sequence information theory + corpus-shape
# diagnostics for training-data curation.
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


@pending_query("events_spearman_corr", _SPEARMAN_ORACLE)
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


@pending_query("events_kendall_tau", _KENDALL_ORACLE)
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


@pending_query("events_transition_entropy", _TRANSITION_ENTROPY_ORACLE)
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


@pending_query("events_fano_daily", _FANO_ORACLE)
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


@pending_query("docs_boilerplate_prefix", _BOILERPLATE_ORACLE)
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


@pending_query("docs_ngram_novelty", _NOVELTY_ORACLE)
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


@pending_query("docs_chunk_overlap", _CHUNK_OVERLAP_ORACLE)
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
    from vectorsearchutil_spark.queries import _pq_cte_chain

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


@pending_query("embeddings_pq_distortion", _pq_distortion_oracle())
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


@pending_query("events_hill_tail_index", _HILL_ORACLE)
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


@pending_query("embeddings_norm_anova", _norm_anova_oracle())
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


@pending_query("orders_ship_delay_quantiles", _SHIP_DELAY_ORACLE)
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


@pending_query("orders_interpurchase_median", _INTERPURCHASE_ORACLE)
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


@pending_query("docs_pair_similarity_histogram", _PAIR_HIST_ORACLE)
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


@pending_query("docs_source_overlap", _SOURCE_OVERLAP_ORACLE)
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


@pending_query("docs_token_quantiles", _TOKEN_QUANTILES_ORACLE)
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
# ROUND-8 STAGING WAVE 4 — concentration / co-movement / screening
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


@pending_query("events_lorenz_curve", _LORENZ_ORACLE)
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


@pending_query("events_max_drawdown", _DRAWDOWN_ORACLE)
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


@pending_query("events_rolling_corr", _ROLLING_CORR_ORACLE)
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


@pending_query("lineitem_corr_matrix", _CORR_MATRIX_ORACLE)
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


@pending_query("customers_scd2_history", _SCD2_ORACLE)
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


@pending_query("docs_tokenizer_fertility", _FERTILITY_ORACLE)
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


@pending_query("multimodal_storage_budget", _STORAGE_BUDGET_ORACLE)
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
# ROUND-8 STAGING WAVE 5 — corpus-health / OLAP-profile operators
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


@pending_query("orders_basket_size_histogram", _BASKET_HIST_ORACLE)
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


@pending_query("lineitem_discount_band_profit", _DISCOUNT_BAND_ORACLE)
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


@pending_query("text_unicode_health", _UNICODE_HEALTH_ORACLE)
def text_unicode_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source encoding-health triage (U+FFFD docs, stray control
    chars, non-ASCII share) — catches a mis-decoded crawl before it
    poisons a mix (operators/textanalysis.py:unicode_health)."""
    from vectorsearchutil_spark.operators.textanalysis import (
        unicode_health,
    )

    return unicode_health(load_table(spark, sf_dir, "documents"))


_DIVERSITY_ORACLE = """
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


@pending_query("docs_diversity_indices", _DIVERSITY_ORACLE)
def docs_diversity_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per source (TTR, Gini–Simpson, Shannon) —
    the repetitiveness fingerprint before mixture weighting
    (operators/textanalysis.py:diversity_indices)."""
    from vectorsearchutil_spark.operators.textanalysis import (
        diversity_indices,
    )

    return diversity_indices(load_table(spark, sf_dir, "documents"))


def _cluster_lang_purity_oracle() -> str:
    from vectorsearchutil_spark.queries import _CC_EDGES_CTE

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


@pending_query("dedup_cluster_lang_purity", _cluster_lang_purity_oracle())
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
# ROUND-8 STAGING WAVE 6 — monitoring / evaluation / dedup-impact
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


@pending_query("events_seasonal_anomalies", _SEAS_ANOMALY_ORACLE)
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


@pending_query("events_completeness_gaps", _COMPLETENESS_ORACLE)
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


@pending_query("orders_seasonal_naive_wape", _WAPE_ORACLE)
def orders_seasonal_naive_wape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast baseline (ŷ(t) = y(t−7)) scored with
    WAPE / MAE / bias on exact cent sums — the floor any forecaster
    must beat (operators/analytics.py:seasonal_naive_wape)."""
    from vectorsearchutil_spark.operators.analytics import (
        seasonal_naive_wape,
    )

    return seasonal_naive_wape(load_table(spark, sf_dir, "orders"))


def _dedup_impact_oracle() -> str:
    from vectorsearchutil_spark.queries import _CC_EDGES_CTE

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


@pending_query("docs_dedup_impact", _dedup_impact_oracle())
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


@pending_query("embeddings_exact_dup_vectors", _EXACT_DUP_VECTORS_ORACLE)
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
# ROUND-9 STAGING WAVE (wave 7) — graph motifs, funnel analysis,
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
    from vectorsearchutil_spark.queries import _CC_EDGES_CTE

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


@pending_query("graph_triangle_count", _triangle_oracle())
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


_FUNNEL_ORACLE = """
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


@pending_query("events_funnel_conversion", _FUNNEL_ORACLE)
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
    from vectorsearchutil_spark.queries import _CC_EDGES_CTE

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


@pending_query("docs_split_leakage", _split_leakage_oracle())
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


@pending_query("embeddings_triplet_mining", _TRIPLET_ORACLE)
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
    return triplet_mining(emb, n_rows=emb.count())


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


@pending_query("events_audience_overlap", _AUDIENCE_ORACLE)
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
    from vectorsearchutil_spark.queries import _CENTROIDS_CTE

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


@pending_query("ann_recall_curve", _recall_curve_oracle())
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
    from vectorsearchutil_spark.queries import _label_centroids

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
    n_rows: int | None = None,
) -> DataFrame:
    """Core of ``ann_recall_curve`` over any (vec_id, embedding)
    corpus and (centroid_id, centroid_vec) list heads — split out
    for unit tests. The exact ground-truth arm is the dominant cost
    at scale (queries x corpus x dim interpreted cells): pass
    ``n_rows`` to gate BOTH the index assignment (build_ivf_index's
    kmeans-shared BLAS gate — the 2M x 32 x 64 assignment was 4.1G
    interpreted cells and dominated) and the ground truth
    (knn_batch_matrix, same (distance asc, id asc) result contract,
    already oracle-proven as its own registry entry): 25x probe
    53.7 s -> 13.9 s, identical outputs."""
    from vectorsearchutil_spark.functions.vector import (
        l2_distance,
        round_half_up,
    )
    from vectorsearchutil_spark.operators.similarity import (
        build_ivf_index,
        knn_batch_matrix,
    )

    indexed = build_ivf_index(
        emb, cents, vector_col="embedding", id_col="vec_id",
        n_rows=n_rows,
    ).localCheckpoint(eager=False)
    qs = emb.filter(F.col("vec_id") < query_below).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )

    from pyspark.sql import Window

    use_matrix = (
        n_rows is not None and n_rows * query_below * 64 > 50_000_000
    )
    if use_matrix:
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


@pending_query("orders_conformal_coverage", _CONFORMAL_ORACLE)
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

@pending_query("embeddings_mutual_knn", _MUTUAL_ORACLE)
def embeddings_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-kNN mutuality census (k=10, cosine) — the
    companion diagnostic to embeddings_hubness: the share of kNN
    edges that are reciprocated, and the high-precision mutual core
    they span (operators/knn.py:knn_mutual_pairs; same participation
    contract, same gated Arrow scoring)."""
    from vectorsearchutil_spark.operators.knn import knn_mutual_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_mutual_pairs(
        emb, k=10, vector_col="embedding", id_col="vec_id",
        metric="cosine", n_rows=emb.count(),
    )


# ==========================================================================
# ROUND-8 DIAGNOSTICS (VERDICT r7 "Next round" #1/#3): instruments for
# the 3 sticky driver-red rows (orders_yoy_growth, customer_rfm_scores,
# events_kaplan_meier — green in every builder/judge re-run since round
# 6, red in the driver's artifact both rounds, with every fingerprinted
# environment dimension now proven identical). Two live hypotheses
# remain: (H1) the driver's Spark computes different VALUES in some
# function these plans share, (H2) the driver's hasher/canonicalizer
# treats these outputs' shape specially. These entries make the
# driver's answer READABLE from CORRECTNESS_r08 alone:
#
#   * hashecho_* — each engine digests ITS OWN computed output of the
#     exact shipped query (deterministic canonical form: fixed column
#     order, 'N' for NULL, floats as floor(x·1e6+0.5) integers, rows
#     byte-sorted, md5) and emits 1000 + first-16-bits-of-digest ROWS.
#     The artifact's spark_rows/oracle_rows then read as: both equal
#     the committed expected value (PROBES_r08.txt) while the original
#     row stays red => both driver engines compute OUR values => H2
#     (the comparator). spark_rows differs => H1, and WHICH query's
#     echo moved says where. oracle_rows differs => the driver's
#     DuckDB diverges (excluded by the version canary, but recorded).
#   * *_ppm integer twins — the two float-bearing reds re-emitted with
#     the final /1e6 dropped (BIGINT fixpoint). Twin green + original
#     red => the channel is float repr in the driver's hasher; both
#     red => values differ (H1).
#   * decomposition probes — customer_rfm_scores (pure-integer output
#     = the sharpest signal) split into its two halves: the per-
#     customer aggregate (no ntile) and exact_ntile over a LITERAL
#     fixture (no parquet, no aggregation). Whichever half reds
#     localizes the divergent subexpression; both green + rfm red
#     points at the recombining joins or H2. orders_yoy_monthly does
#     the same for the YoY pair (month grid without the self-join /
#     growth division).
# ==========================================================================


def _hashecho_df(
    spark: SparkSession, df: DataFrame, float_cols: tuple = ()
) -> DataFrame:
    """Digest ``df`` (computed by THIS Spark) into a row count.

    Canonical form shared with :func:`_echo_oracle`: cells in
    ``df.columns`` order, NULL → 'N', columns named in ``float_cols``
    → ``floor(x·1e6 + 0.5)`` rendered as a plain integer, everything
    else ``str()``; cells joined with ',', rows byte-sorted and
    joined with '|'; md5; rows = 1000 + int(hex[:4], 16) — bounded at
    66,535 constant rows, so the collect the driver performs stays
    trivial. The inner collect is the POINT here: the digest must be
    of the values the HOST engine computed, not of a plan.

    Scale contract: this is a DIAGNOSTIC for the sf0.01 correctness
    window, not a production operator — the inner collect is bounded
    by the wrapped query's output cardinality (80 months / 15k
    customers / 9 delay-days at sf0.1), which is fine for the probe's
    purpose and would NOT be acceptable for an unbounded corpus-sized
    result."""
    import hashlib
    import math

    cols = df.columns
    out = []
    for r in df.collect():
        cells = []
        for c in cols:
            v = r[c]
            if v is None:
                cells.append("N")
            elif c in float_cols:
                # non-finite floats have no floor: render them as
                # fixed tokens so a future wrapped query that CAN
                # emit NaN/Inf stays decodable instead of erroring
                # the probe (ADVICE r8); _echo_oracle mirrors these
                fv = float(v)
                if math.isnan(fv):
                    cells.append("NaN")
                elif math.isinf(fv):
                    cells.append("Inf" if fv > 0 else "-Inf")
                else:
                    cells.append(str(int(math.floor(fv * 1e6 + 0.5))))
            else:
                # guard the canonical form: Python str() and DuckDB's
                # CAST(x AS VARCHAR) agree ONLY for ints and strings
                # (bool renders 'True' vs 'true'; an undeclared float
                # compares repr vs duckdb's formatting) — a silent
                # divergence here would decode as a phantom H1, so
                # refuse any dtype outside the contract (review r8)
                if isinstance(v, bool) or not isinstance(v, (int, str)):
                    raise TypeError(
                        f"hashecho cell {c!r} has unsupported type "
                        f"{type(v).__name__}; declare floats in "
                        "float_cols, pre-stringify everything else"
                    )
                cells.append(str(v))
        out.append(",".join(cells))
    payload = "|".join(sorted(out))
    n = 1000 + int(hashlib.md5(payload.encode("utf-8")).hexdigest()[:4], 16)
    return spark.range(n).select(F.lit(1).alias("hash_probe"))


def _echo_oracle(base_sql: str, cols: tuple) -> str:
    """DuckDB twin of :func:`_hashecho_df` over ``base_sql``'s output:
    same cell rendering ('f' columns through the identical floor
    fixpoint), same ',' / byte-ordered '|' assembly, same md5 → rows
    mapping. ASCII-only outputs make Python ``sorted`` and DuckDB's
    binary-collation ORDER BY agree."""
    cells = []
    for name, kind in cols:
        if kind == "f":
            # NaN/Inf tokens mirror _hashecho_df (NULL falls through
            # the CASE to the floor branch, yielding NULL → 'N')
            v = (
                f"CASE WHEN isnan({name}) THEN 'NaN'"
                f" WHEN isinf({name}) THEN"
                f" (CASE WHEN {name} > 0 THEN 'Inf' ELSE '-Inf' END)"
                f" ELSE CAST(CAST(floor({name} * 1000000.0 + 0.5)"
                " AS BIGINT) AS VARCHAR) END"
            )
        else:
            v = f"CAST({name} AS VARCHAR)"
        cells.append(f"COALESCE({v}, 'N')")
    rowstr = " || ',' || ".join(cells)
    return f"""
WITH base AS ({base_sql}),
canon AS (SELECT {rowstr} AS rowstr FROM base),
d AS (SELECT md5(COALESCE(string_agg(rowstr, '|' ORDER BY rowstr), '')) AS h
      FROM canon)
SELECT 1 AS hash_probe
FROM range(66536) r, d
WHERE r.range < 1000 + ('0x' || substr(d.h, 1, 4))::BIGINT
"""


@pending_query(
    "hashecho_yoy_growth",
    _echo_oracle(
        _YOY_ORACLE,
        (
            ("month", "s"), ("n_orders", "s"), ("revenue_cents", "s"),
            ("prev_year_cents", "s"), ("yoy_growth", "f"),
        ),
    ),
)
def hashecho_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-internal digest of orders_yoy_growth — section header
    above; expected row count committed in PROBES_r08.txt."""
    from vectorsearchutil_spark.operators.analytics import yoy_growth

    return _hashecho_df(
        spark,
        yoy_growth(load_table(spark, sf_dir, "orders")),
        float_cols=("yoy_growth",),
    )


@pending_query(
    "hashecho_rfm_scores",
    _echo_oracle(
        _RFM_ORACLE,
        (
            ("o_custkey", "s"), ("recency_days", "s"), ("frequency", "s"),
            ("monetary_cents", "s"), ("r_quintile", "s"),
            ("f_quintile", "s"), ("m_quintile", "s"), ("rfm_segment", "s"),
        ),
    ),
)
def hashecho_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-internal digest of customer_rfm_scores — section header
    above; expected row count committed in PROBES_r08.txt."""
    from vectorsearchutil_spark.operators.analytics import rfm_scores

    return _hashecho_df(
        spark, rfm_scores(load_table(spark, sf_dir, "orders"))
    )


@pending_query(
    "hashecho_kaplan_meier",
    _echo_oracle(
        _KM_ORACLE,
        (
            ("delay_days", "s"), ("n_at_risk", "s"),
            ("n_events", "s"), ("survival", "f"),
        ),
    ),
)
def hashecho_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-internal digest of events_kaplan_meier — section header
    above; expected row count committed in PROBES_r08.txt."""
    from vectorsearchutil_spark.operators.analytics import kaplan_meier

    return _hashecho_df(
        spark,
        kaplan_meier(load_table(spark, sf_dir, "events")),
        float_cols=("survival",),
    )


#: derived from the SAME shared pieces as _YOY_ORACLE (no drift
#: possible): identical month CTE, identical raw growth fixpoint —
#: only the final cast differs (BIGINT ppm instead of /1e6)
_YOY_PPM_ORACLE = (
    "WITH "
    + _YOY_MONTH_CTE
    + _YOY_SELECT.format(
        growth="CAST("
        + _YOY_GROWTH_RAW
        + " AS BIGINT) AS yoy_growth_ppm"
    )
)
assert "yoy_growth_ppm" in _YOY_PPM_ORACLE, "yoy ppm oracle derive missed"


@pending_query("orders_yoy_growth_ppm", _YOY_PPM_ORACLE)
def orders_yoy_growth_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer twin of orders_yoy_growth (section header above): the
    identical plan with the growth column's final /1e6 dropped —
    ``yoy_growth_ppm`` BIGINT, zero float cells in the output."""
    from vectorsearchutil_spark.operators.analytics import yoy_growth

    o = load_table(spark, sf_dir, "orders")
    return yoy_growth(o, fixed_point=True)


_KM_PPM_ORACLE = _KM_ORACLE.replace(
    """SELECT delay_days, n_at_risk, n_events,
  floor(CASE WHEN dead = 1 THEN 0.0
             ELSE exp(CAST(lnsum AS DOUBLE) / 1000000000.0) END
        * 1000000.0 + 0.5) / 1000000.0 AS survival
FROM cum WHERE n_events > 0""",
    """SELECT delay_days, n_at_risk, n_events,
  CAST(floor(CASE WHEN dead = 1 THEN 0.0
                  ELSE exp(CAST(lnsum AS DOUBLE) / 1000000000.0) END
             * 1000000.0 + 0.5) AS BIGINT) AS survival_ppm
FROM cum WHERE n_events > 0""",
)
assert "survival_ppm" in _KM_PPM_ORACLE, "KM ppm oracle rewrite missed"


@pending_query("events_kaplan_meier_ppm", _KM_PPM_ORACLE)
def events_kaplan_meier_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer twin of events_kaplan_meier (section header above):
    the identical plan with the survival column's final /1e6 dropped
    — ``survival_ppm`` BIGINT, zero float cells in the output."""
    from vectorsearchutil_spark.operators.analytics import kaplan_meier

    e = load_table(spark, sf_dir, "events")
    return kaplan_meier(e, fixed_point=True)


#: the month grid CTE verbatim from _YOY_ORACLE's shared source +
#: the shared label expression — the probe cannot drift from the
#: original's base aggregation
_YOY_MONTHLY_ORACLE = (
    "WITH "
    + _YOY_MONTH_CTE
    + "SELECT "
    + _YOY_MONTH_LABEL.format(a="")
    + """,
       n_orders, revenue_cents
FROM m
"""
)


@pending_query("orders_yoy_monthly", _YOY_MONTHLY_ORACLE)
def orders_yoy_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decomposition probe (section header above): orders_yoy_growth's
    month grid WITHOUT the self-join and growth division — pure
    VARCHAR/BIGINT output exercising exactly the year/month
    extraction, cents fixpoint, and month-label string machinery."""
    from vectorsearchutil_spark.operators.analytics import (
        _month_label,
        monthly_revenue,
    )

    m = monthly_revenue(load_table(spark, sf_dir, "orders"))
    return m.select(
        _month_label(F.col("_mi")).alias("month"),
        "n_orders",
        "revenue_cents",
    )


#: the pc CTE verbatim from _RFM_ORACLE's shared source — the probe
#: cannot drift from the original's base aggregation
_RFM_PERCUST_ORACLE = (
    "WITH "
    + _RFM_PC_CTE
    + "SELECT o_custkey, recency_days, frequency, monetary_cents FROM pc"
)


@pending_query("customer_rfm_percust", _RFM_PERCUST_ORACLE)
def customer_rfm_percust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decomposition probe (section header above): customer_rfm_scores'
    per-customer (recency, frequency, monetary) base aggregate
    WITHOUT any quintile — one groupBy pass, pure INT/BIGINT output
    (operators/analytics.py:rfm_per_customer)."""
    from vectorsearchutil_spark.operators.analytics import rfm_per_customer

    return rfm_per_customer(load_table(spark, sf_dir, "orders"))


#: literal exact_ntile fixture: heavy value ties (5 distinct values
#: over 42 rows), tie keys crossing power-of-2 octave boundaries of
#: the order-preserving bucket math (511/512/513, 1023/1024/1025,
#: 65535/65536, 2^20, 2^31, ~2^40, ~2^50 — the log2/pow path), and a
#: NULLS LAST pair — parquet-free, aggregation-free, so a driver red
#: here indicts exact_ntile's window/bucket arithmetic itself.
_NTILE_FIXTURE_ROWS: tuple = tuple(
    [(i, (i * 7) % 5) for i in range(1, 29)]
    + [
        (511, 2), (512, 2), (513, 2),
        (1023, 0), (1024, 0), (1025, 0),
        (65535, 3), (65536, 3),
        (1048576, 1), (2147483648, 1),
        (1099511627783, 4), (1125899906842747, 4),
    ]
    + [(39, None), (40, None)]
)

_NTILE_FIXTURE_ORACLE = (
    """
SELECT id, value,
       CAST(NTILE(5) OVER (
         ORDER BY value ASC NULLS LAST, id ASC) AS INT) AS bucket_asc,
       CAST(NTILE(5) OVER (
         ORDER BY value DESC NULLS LAST, id ASC) AS INT) AS bucket_desc
FROM (VALUES """
    + ", ".join(
        f"({i}, {'NULL' if v is None else v})"
        for i, v in _NTILE_FIXTURE_ROWS
    )
    + ") AS f(id, value)"
)


@pending_query("rfm_ntile_fixture", _NTILE_FIXTURE_ORACLE)
def rfm_ntile_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decomposition probe (section header above): ``exact_ntile`` —
    the half of customer_rfm_scores the per-customer probe does NOT
    cover — run in both directions over a 42-row LITERAL fixture
    (``sf_dir`` unused by design: no parquet read, no aggregation, no
    load_table, so the result depends on nothing but the window /
    bucket arithmetic the driver's Spark executes)."""
    from vectorsearchutil_spark.operators.analytics import exact_ntile

    rows = [(int(i), v) for i, v in _NTILE_FIXTURE_ROWS]
    df = local_frame(spark, rows, "id long, value int")
    asc = exact_ntile(
        df, "value", 5, ascending=True, tie_col="id", out_col="bucket_asc"
    ).select("id", "value", "bucket_asc")
    desc = exact_ntile(
        df, "value", 5, ascending=False, tie_col="id", out_col="bucket_desc"
    ).select("id", "bucket_desc")
    return asc.join(desc, "id").select(
        "id", "value", "bucket_asc", "bucket_desc"
    )


#: (round-7+ staging waves) stay PENDING — validated by the
#: CHECK_ORACLES_PENDING / PLAN_LINT_PENDING / degenerate-sweep lanes
#: but NOT served to the driver until their own promotion round, per
#: the window-capacity rule (never let never-driver-checked entries
#: outgrow the ~50-row window).
ROUND6_PROMOTED = (
    "docs_benchmark_contamination", "dedup_keep_best",
    "docs_truncation_stats", "events_value_tdigest",
    "knn_crossencoder_rerank", "events_skew_report",
    "docs_containment_pairs", "embeddings_hubness",
    "tpch_fk_integrity", "embeddings_retrieval_metrics",
    "events_percentile_rank", "docs_badword_filter",
    "docs_normalized_dedup", "docs_zipf_fit",
    "docs_source_divergence", "docs_top_terms",
    "docs_langid_confusion", "events_rolling_zscore",
    "events_interarrival", "orders_yoy_growth",
    "customer_rfm_scores", "events_ab_test",
    "events_cusum_changepoint", "orders_benford", "orders_gini",
    "events_kaplan_meier", "docs_token_chi2", "events_mannwhitney",
    "events_ks_drift", "orders_daily_acf", "embeddings_matryoshka",
    "embeddings_knn_label_eval", "embeddings_top_pc",
    # round-7 promotion: the 11-entry staging wave (self-green at 3
    # scales + unicode + degenerate sweeps; judge sampled 7/7 green;
    # events_retention_triangle additionally green under the new
    # TZ-parity gate both read configs — VERDICT r6 #4/#5)
    "docs_hapax_ratio", "events_daily_peaks", "orders_theilsen_trend",
    "events_bootstrap_ci", "embeddings_pca_top2",
    "docs_curriculum_sharded", "events_retention_triangle",
    "dedup_cluster_profile", "docs_readability",
    "events_seasonal_decompose", "embeddings_silhouette",
    # round-8 promotion (VERDICT r7 "Next round" #2): the 32-entry
    # round-8 staging wave — every entry oracle-green at 3 scales +
    # unicode fixture + vanilla session + degenerate sweeps across
    # rounds 7a-7c (CORRECTNESS_SELF_r07.json) — plus the 8 round-8
    # diagnostics (hash echoes / integer twins / decomposition
    # probes, VERDICT r7 #1/#3). The 8 round-9 wave entries (wave 7 +
    # addenda) stay staged for the round-9 window per the two-window
    # ROADMAP plan.
    "events_spearman_corr", "events_kendall_tau",
    "events_transition_entropy", "events_fano_daily",
    "docs_boilerplate_prefix", "docs_ngram_novelty",
    "docs_chunk_overlap", "embeddings_pq_distortion",
    "events_hill_tail_index", "embeddings_norm_anova",
    "orders_ship_delay_quantiles", "orders_interpurchase_median",
    "docs_pair_similarity_histogram", "docs_source_overlap",
    "docs_token_quantiles", "events_lorenz_curve",
    "events_max_drawdown", "events_rolling_corr",
    "lineitem_corr_matrix", "customers_scd2_history",
    "docs_tokenizer_fertility", "multimodal_storage_budget",
    "orders_basket_size_histogram", "lineitem_discount_band_profit",
    "text_unicode_health", "docs_diversity_indices",
    "dedup_cluster_lang_purity", "events_seasonal_anomalies",
    "events_completeness_gaps", "orders_seasonal_naive_wape",
    "docs_dedup_impact", "embeddings_exact_dup_vectors",
    # round-10 retirement (VERDICT r9 "Next round" #2): the round-8
    # probe layer (hashecho_yoy_growth / hashecho_rfm_scores /
    # hashecho_kaplan_meier / orders_yoy_growth_ppm /
    # events_kaplan_meier_ppm / orders_yoy_monthly /
    # customer_rfm_percust / rfm_ntile_fixture) did its job — the
    # HUGEINT fix it isolated is driver-confirmed green (r9 window
    # 50/50) — so those 8 diagnostic rows return to the pending lane
    # here (still defined above, still covered by the
    # CHECK_ORACLES_PENDING lane and CORRECTNESS_SELF full-tree runs,
    # just no longer served to the driver or re-run per driver pass).
    # The 3 cheap env canaries stay live in queries.py per the judge.
    # round-9 promotion (VERDICT r8 "Next round" #3): the 8-entry
    # round-9 staging wave — oracle-green at sf0.001/0.01/0.1 +
    # unicode fixture + vanilla session + degenerate sweeps during
    # round 8 (CORRECTNESS_SELF_r08.json covers all 283 incl. these).
    # With this promotion the pending lane is EMPTY; the next staging
    # wave opens only after the round-10 window plan is written
    # (ROADMAP lane-discipline rule, VERDICT r8 #7).
    "graph_triangle_count", "events_funnel_conversion",
    "docs_split_leakage", "embeddings_triplet_mining",
    "events_audience_overlap", "ann_recall_curve",
    "orders_conformal_coverage", "embeddings_mutual_knn",
    # round-10 promotion (VERDICT r9 "Next round" #1): the 11-entry
    # round-10 staging wave — oracle-green at sf0.001/0.01/0.1 +
    # unicode fixture + vanilla session + degenerate sweeps + 25x
    # probes + 12 property tests during round 9
    # (CORRECTNESS_SELF_r09.json covers all 294 incl. these; the
    # judge re-ran the property tests live). With this promotion the
    # pending STAGING lane is again empty; the round-11 staging wave
    # opens only after the round-11 window plan is written (ROADMAP
    # lane-discipline rule, VERDICT r9 #7).
    "events_nelson_aalen", "events_mann_kendall", "events_fdr_bh",
    "events_ewma_forecast", "events_dau_mau_stickiness",
    "events_diff_in_diff", "docs_trigram_backoff",
    "docs_template_clusters", "docs_loo_source_influence",
    "docs_quality_ece", "lineitem_price_elasticity",
)

# Complete the round-6 promotion when THIS module is the last of the
# mutually-importing pair (queries.py <-> queries_pending.py) to
# finish initializing — see queries._promote_pending's docstring.
from vectorsearchutil_spark.queries import _promote_pending  # noqa: E402

_promote_pending()


# ==========================================================================
# ROUND-10 STAGING WAVE (pending — NOT in ROUND6_PROMOTED; promoted in the
# round-10 window per the ROADMAP plan written before this wave opened).
# Kinship per entry is declared in the operator docstrings
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


@pending_query("events_nelson_aalen", _NA_ORACLE)
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


@pending_query("events_mann_kendall", _MK_ORACLE)
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


@pending_query("events_fdr_bh", _FDR_ORACLE)
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


@pending_query("events_ewma_forecast", _EWMA_FC_ORACLE)
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


@pending_query("events_dau_mau_stickiness", _DAU_MAU_ORACLE)
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


@pending_query("events_diff_in_diff", _DID_ORACLE)
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


@pending_query("docs_trigram_backoff", _SBO_ORACLE)
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


@pending_query("docs_template_clusters", _TEMPLATE_ORACLE)
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


@pending_query("docs_loo_source_influence", _LOO_ORACLE)
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


@pending_query("docs_quality_ece", _ECE_ORACLE)
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


@pending_query("lineitem_price_elasticity", _ELASTICITY_ORACLE)
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
# ROUND-11 STAGING WAVE (pending — NOT in ROUND6_PROMOTED; promoted in the
# round-11 window per the ROADMAP plan written BEFORE this wave opened).
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


@pending_query("events_logrank_test", _LOGRANK_ORACLE)
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


@pending_query("events_poisson_rate_test", _POISSON_RATE_ORACLE)
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


@pending_query("events_holt_forecast", _HOLT_ORACLE)
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


@pending_query("events_hurst_exponent", _HURST_ORACLE)
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
    from vectorsearchutil_spark.queries import _CC_EDGES_CTE

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


@pending_query("graph_degree_assortativity", _assortativity_oracle())
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


@pending_query("graph_common_neighbors", _linkpred_oracle())
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
        neardup_pairs(emb, threshold=0.35, strategy="auto"), k=20
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


@pending_query("docs_term_burstiness", _BURSTINESS_ORACLE)
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


@pending_query("docs_rater_agreement", _KAPPA_ORACLE)
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


@pending_query("docs_ocr_garbage_score", _OCR_ORACLE)
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


@pending_query("embeddings_intrinsic_dim", _TWONN_ORACLE)
def embeddings_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TwoNN intrinsic-dimension MLE from each point's two nearest
    cosine neighbours (kin: embeddings_hubness — same self-kNN
    machinery incl. the round-10 blocked no-collect path; 1e6
    micro-distance quantization before the ratio, 1e9-fixpoint ln
    sum)."""
    from vectorsearchutil_spark.operators.knn import intrinsic_dim_twonn

    emb = load_table(spark, sf_dir, "embeddings")
    return intrinsic_dim_twonn(
        emb, vector_col="embedding", id_col="vec_id",
        n_rows=emb.count(),
    )


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


@pending_query("embeddings_cka_similarity", _CKA_ORACLE)
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

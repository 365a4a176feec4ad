"""Deduplication operators for LLM-training-data pipelines.

Five strategies, from exact to approximate, all as declarative
DataFrame plans (north-star scope; the reference itself only
implements exact first-wins dedup on ``target``,
``vsu/base/VectorSearchBase.py:79-87,124`` — reproduced in
``VectorStore.set_data``):

* **exact** — hash-groupBy on content. One shuffle on a 32-byte key.
* **n-gram Jaccard** — inverted shingle index self-join. Exact
  near-dup but the join fans out on frequent shingles; at 100 TB use
  ``max_df`` to drop stop-shingles (standard practice) or MinHash.
* **MinHash + LSH** — constant-size signatures, banded bucketing;
  only bucket-mates are compared. The scale path: shuffle volume is
  O(docs × bands), independent of document length.
* **SimHash** — TF-weighted 32-bit fingerprints, banded grouping with
  *complete* recall for hamming ≤ 2 (pigeonhole over 3 wide bands).
* **embedding cosine** — semantic near-dup over a vector column;
  brute-force pair join at test SF, LSH-bucketed variant for scale
  (operators/similarity.py).

Plus the endgame: ``connected_components`` turns any pair list into
clusters so the pipeline can keep one canonical survivor per cluster.

Hashes derive from md5 only, so every strategy is reproducible in the
DuckDB oracles bit-for-bit.
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vectorsearchutil_spark.functions.text import (
    minhash_base_hashes,
    shingles_of_tokens,
    tokens,
)
from vectorsearchutil_spark.functions.vector import cosine_similarity
from vectorsearchutil_spark.session import collect_if_small, local_frame


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups by content hash: (text_hash, n_docs,
    keep_id=min id). Keep-first mirrors the reference's first-wins rule."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
    )


def _shingle_table(
    df: DataFrame, text_col: str, id_col: str, n: int, max_df: int | None
) -> DataFrame:
    # two-step projection: materialize the token array per row FIRST,
    # then shingle it — see shingles_of_tokens perf note. SQL-string
    # forms: the Column/lambda builders cost ~1 s of Py4J round-trips
    # per query (PERF.md round-2b).
    from vectorsearchutil_spark.functions.text import (
        shingles_sql,
        tokens_sql,
    )

    from vectorsearchutil_spark.functions.parallel import fanout_repartition

    # the ~tokens-per-doc shingle explode + per-shingle hashing below
    # must not inherit a single-task layout from a small docs scan
    # (guide §2 scale-adaptive partitioning; no-op on at-scale scans)
    sh = fanout_repartition(df).selectExpr(
        id_col, f"{tokens_sql(text_col)} AS _toks"
    ).selectExpr(
        id_col, f"explode({shingles_sql('_toks', n)}) AS shingle"
    )
    if max_df is not None:
        # drop stop-shingles: frequent shingles blow up the self-join
        # quadratically at scale and carry no dedup signal.
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        sh = sh.join(freq.filter(F.col("df") <= max_df), "shingle").select(
            id_col, "shingle"
        )
    return sh


def _doc_shingle_lists(
    df: DataFrame, text_col: str, id_col: str, n: int, max_df: int | None
) -> DataFrame:
    """Per-doc rare-first shingle list: ``(id_col, n_sh, lst)`` where
    ``lst`` holds the doc's DISTINCT shingles as (_df, shingle) structs
    sorted by global document frequency (rare first; shingle text
    breaks ties, so the order is total and identical for every doc)
    and ``n_sh`` is the cardinality after the optional ``max_df``
    stop-shingle cut. One aggregate + one join + one per-doc sort,
    shared by every prefix-filter pair operator (r11 optimization
    round): prefixes slice ``lst`` from the front, and the exact
    verify runs per candidate pair as ``array_intersect`` over the
    same lists — no expand-probe join of candidates × shingles/doc,
    no per-pair groupBy (guide §2.3/§2.4: fewer shuffles, fewer
    bytes through the ones that remain)."""
    sh = _shingle_table(df, text_col, id_col, n, None)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    if max_df is not None:
        # dropping whole shingle groups leaves surviving _df values
        # unchanged, so filtering the frequency table here is exactly
        # the old filter-the-rows-then-recount plan, one pass cheaper
        freq = freq.filter(F.col("_df") <= max_df)
    return (
        sh.join(freq, "shingle")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_df"), F.col("shingle")))
            ).alias("lst")
        )
        .select(F.col(id_col), F.size("lst").alias("n_sh"), "lst")
    )


def _prefix_len(threshold: float):
    """Prefix-filter slice length ``|x| − ⌈t·|x|⌉ + 1`` over ``lst``."""
    return (
        F.size("lst") - F.ceil(F.size("lst") * F.lit(float(threshold))) + 1
    ).cast("int")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram-shingle Jaccard near-dup pairs (id_a < id_b,
    jaccard ≥ threshold).

    PPJoin-grade candidate generation (exact — no false negatives):
    under one global shingle order, two sets with J ≥ t must share a
    shingle within their first ``|x| − ⌈t·|x|⌉ + 1`` elements, so only
    those prefixes enter the inverted-index self-join. Ordering
    rare-first (by document frequency) makes prefix collisions scarce.
    On top of the prefix + length filters, the POSITIONAL filter
    (r11): a matched prefix shingle at (1-based) ranks (i, j) bounds
    the overlap of the pair by ``1 + min(|x|−i, |y|−j)`` when it is
    the pair's first common shingle, and J ≥ t needs overlap
    ``α = ⌈t/(1+t)·(|x|+|y|)⌉`` — every true pair's first common
    shingle lies in both prefixes and maximizes the bound among its
    matches, so keeping a pair iff ANY match passes is exact while
    pruning same-rare-shingle coincidences before the distinct.
    The verify is a per-candidate ``array_intersect`` over the
    per-doc lists — the old expand-to-shingles probe join and its
    per-pair groupBy are gone (2 shuffles + candidates×shingles rows).
    This is the footprint that matters at 100 TB: the full inverted
    index never self-joins, and candidates approach the true pair
    count even at permissive thresholds (t=0.5 diagnostics)."""
    t = float(threshold)
    # not cached: the per-doc aggregate's exchange is planned once and
    # reused (ReusedExchange) by every consumer below
    per_doc = _doc_shingle_lists(df, text_col, id_col, n, max_df)
    pref = per_doc.select(
        F.col(id_col),
        "n_sh",
        F.posexplode(
            F.slice(F.col("lst"), 1, _prefix_len(t))["shingle"]
        ).alias("_pos", "shingle"),
    )
    a = pref.select(
        F.col(id_col).alias("id_a"),
        F.col("n_sh").alias("n_a"),
        F.col("_pos").alias("_pa"),
        "shingle",
    )
    b = pref.select(
        F.col(id_col).alias("id_b"),
        F.col("n_sh").alias("n_b"),
        F.col("_pos").alias("_pb"),
        "shingle",
    )
    # required overlap α = ⌈t/(1+t)·(n_a+n_b)⌉; the 1e-9 slack keeps
    # the double ceil from overshooting the exact integer α (which
    # would drop true pairs) — it can only loosen the cut, never
    # tighten it, and the verify decides membership anyway.
    alpha = F.ceil(
        F.lit(t / (1.0 + t)) * (F.col("n_a") + F.col("n_b")) - F.lit(1e-9)
    )
    ubound = F.lit(1) + F.least(
        F.col("n_a") - (F.col("_pa") + F.lit(1)),
        F.col("n_b") - (F.col("_pb") + F.lit(1)),
    )
    cand = (
        a.join(b, "shingle")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.least("n_a", "n_b")
                >= F.greatest("n_a", "n_b") * F.lit(t)
            )
            & (ubound >= alpha)
        )
        .select("id_a", "id_b", "n_a", "n_b")
        .distinct()
    )
    # exact verify on candidates only: per-pair distinct-set
    # intersection over the per-doc lists (arrays are distinct by
    # construction, so size(array_intersect) IS the overlap count)
    va = per_doc.select(
        F.col(id_col).alias("id_a"), F.col("lst")["shingle"].alias("_sa")
    )
    vb = per_doc.select(
        F.col(id_col).alias("id_b"), F.col("lst")["shingle"].alias("_sb")
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("inter", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def bucket_pairs(
    buckets: DataFrame,
    id_col: str,
    bucket_col: str = "bucket",
    max_bucket: int | None = None,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing a bucket.

    Grouped in-bucket expansion instead of a bucket self-join: the
    upstream signature pipeline is computed ONCE (a self-join would
    recompute it for both sides — Catalyst does not reuse the
    exchange across the alias boundary).

    ``max_bucket`` is the skew guard for scale: a bucket of b members
    emits b² candidate structs, so one degenerate bucket (empty docs,
    boilerplate) can dominate the stage. Capped buckets are DROPPED —
    the standard LSH trade (a bucket that large carries no
    discriminative signal; its members still pair up in their other,
    sparser bands/tables). Default None = exact completeness,
    matching the oracles."""
    grouped = (
        buckets.groupBy(bucket_col)
        .agg(F.collect_list(F.col(id_col)).alias("m"))
        .filter(F.size("m") > 1)
    )
    if max_bucket is not None:
        grouped = grouped.filter(F.size("m") <= max_bucket)
    return (
        grouped.select(
            F.explode(
                F.expr(
                    "filter(flatten(transform(m, x -> transform(m, y -> "
                    "struct(x AS id_a, y AS id_b)))), p -> p.id_a < p.id_b)"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    band_size: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified with exact Jaccard.

    shingle → minhash (num_hashes md5 families) → band (groups of
    band_size signature values hashed together) → bucket join →
    exact-Jaccard verify on the candidates only.

    At scale this is THE dedup plan: signatures are constant-size per
    doc, the bucket join only compares plausible pairs, and the
    expensive exact verify runs on a tiny candidate set. Recall for
    s≥0.9 pairs with 16/4 defaults: 1-(1-s⁴)⁴ ≈ 0.99.
    """
    assert num_hashes % band_size == 0
    n_bands = num_hashes // band_size
    # per-doc distinct shingle ARRAY first (a per-row projection — no
    # shuffle), exploded once for the signature aggregate; the exact
    # verify then runs per candidate pair as array_intersect over the
    # same arrays instead of the old expand-to-shingles probe join +
    # per-pair groupBy + separate sizes aggregate (r11 optimization
    # round: 4 shuffles and candidates×shingles/doc rows removed;
    # guide §2.3/§2.4).
    from vectorsearchutil_spark.functions.parallel import (
        fanout_repartition,
    )
    from vectorsearchutil_spark.functions.text import (
        shingles_sql,
        tokens_sql,
    )

    base = (
        fanout_repartition(df)
        .selectExpr(id_col, f"{tokens_sql(text_col)} AS _toks")
        .selectExpr(id_col, f"{shingles_sql('_toks', n)} AS _arr")
        .select(id_col, "_arr", F.size("_arr").alias("n_sh"))
        .cache()
    )
    # signature: one md5 per shingle, num_hashes derived members via
    # double hashing, one array_min per member — ALL per-row HOF
    # expressions over the per-doc array (r11): the old
    # explode + groupBy(id) shuffled shingles/doc rows back together
    # just to re-form per-doc state the array already held; at any
    # scale the signature is now a narrow projection (guide §2.4 —
    # remove the shuffle outright). Values identical: min over the
    # same distinct-shingle multiset, same bigint arithmetic. Docs
    # with no shingles had no rows to group — the n_sh filter keeps
    # them out of the (otherwise all-null) banding identically.
    hs = base.filter(F.col("n_sh") > 0).selectExpr(
        id_col,
        "transform(_arr, s -> struct("
        "CAST(conv(substring(md5(s), 1, 12), 16, 10) AS BIGINT) AS h1, "
        "CAST(conv(substring(md5(s), 17, 12), 16, 10) AS BIGINT) AS h2"
        ")) AS _hs",
    )
    sig = hs.selectExpr(
        id_col,
        *[
            f"array_min(transform(_hs, h -> h.h1 + {i} * h.h2)) AS h{i}"
            for i in range(num_hashes)
        ],
    )
    # bands: hash band_size consecutive signature values together.
    band_sql = [
        "md5(concat_ws('|', "
        + ", ".join(f"h{b * band_size + j}" for j in range(band_size))
        + f")) AS band{b}"
        for b in range(n_bands)
    ]
    banded = sig.selectExpr(id_col, *band_sql)
    # candidates: docs sharing any band bucket.
    stacked = banded.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.concat_ws(":", F.lit(str(b)), F.col(f"band{b}"))
                    for b in range(n_bands)
                ]
            )
        ).alias("bucket"),
    )
    cand = bucket_pairs(stacked, id_col)
    # exact verify on candidates ONLY: per-pair distinct-set
    # intersection over the per-doc arrays (distinct by construction,
    # so size(array_intersect) IS the overlap count) — cost is
    # O(|candidates| × shingles/doc) compute with |candidates| rows
    # through the joins, never the full inverted-index pair fan-out
    # (that's what LSH bought us).
    va = base.select(
        F.col(id_col).alias("id_a"),
        F.col("_arr").alias("_sa"),
        F.col("n_sh").alias("n_a"),
    )
    vb = base.select(
        F.col(id_col).alias("id_b"),
        F.col("_arr").alias("_sb"),
        F.col("n_sh").alias("n_b"),
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("inter", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


SIMHASH_BITS = 32
#: (bit_offset, width) per band. 3 bands → complete recall for
#: hamming ≤ 2 (pigeonhole), and ~2^11-way buckets keep the candidate
#: join sparse — narrow 4-bit bands would collapse into ~hundred
#: buckets and regrow the O(n²) pair set LSH exists to avoid.
_SIMHASH_BAND_LAYOUT = [(0, 11), (11, 11), (22, 10)]


def _tf_packed_votes(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_bits: int,
    word_exprs: list[Column],
) -> DataFrame:
    """Per-document packed SimHash vote sums, vocabulary-hashed.

    TF-weighted SimHash only ever needs each token hashed ONCE: the
    per-bit vote sum is Σ_tok tf(doc,tok)·bit_j(tok). So:

    1. pre-aggregate (doc, tok) → tf  (one partial-agg shuffle of
       narrow rows);
    2. hash the DISTINCT vocabulary and pack its bits 4-per-long into
       16-bit lanes (md5 + bit extraction runs |vocab| times, not
       once per occurrence — corpora are Zipf-distributed, so
       |vocab| ≪ occurrences; measured 31 tokens vs 270k occurrences
       at sf0.1);
    3. join tf with the (broadcast) vocab table and sum tf-weighted
       packed lanes per doc. Lane capacity: Σtf ≤ doc length ≤ 65535.

    ``word_exprs`` produce the per-token hash words from ``F.md5(tok)``
    (as column exprs over ``_h``). Unpack: s_j = 2·lane_j − n.
    """
    # cached: the vocab broadcast below executes this subtree as its
    # own job, and the main vote aggregate reads it again — without
    # the cache the tokenize+groupBy pass runs twice
    from vectorsearchutil_spark.functions.text import tokens_sql

    from vectorsearchutil_spark.functions.parallel import fanout_repartition

    cnt = (
        fanout_repartition(df)
        .selectExpr(id_col, f"explode({tokens_sql(text_col)}) AS tok")
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .cache()
    )
    vocab = cnt.select("tok").distinct().withColumn("_h", F.md5(F.col("tok")))
    for i, we in enumerate(word_exprs):
        vocab = vocab.withColumn(f"hv{i}", we)

    # one SQL string per packed column, parsed in ONE call each:
    # building this tree out of pyspark Column operators costs a Py4J
    # round-trip per node (~hundreds of ms of pure driver overhead for
    # 64 bits) while the parser takes the whole expression at once
    packed_sql = []
    for g in range(n_bits // 4):
        terms = [
            f"(shiftright(hv{(g * 4 + lane) // 32}, {(g * 4 + lane) % 32}) & 1)"
            f" * CAST({2 ** (16 * lane)} AS BIGINT)"
            for lane in range(4)
        ]
        packed_sql.append(" + ".join(terms) + f" AS p{g}")
    vocab = vocab.selectExpr("tok", *packed_sql)
    return (
        cnt.join(F.broadcast(vocab), "tok")
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("_n"),
            *[
                F.expr(f"sum(p{g} * tf)").alias(f"ps{g}")
                for g in range(n_bits // 4)
            ],
        )
    )


def simhash_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """TF-weighted 32-bit SimHash per document.

    Signature plan: vocabulary-hashed packed votes (see
    ``_tf_packed_votes`` — md5 runs once per distinct token, lanes
    pack 4 bit-sums per long so the aggregate carries 8 longs + a
    count). Bit j of a token = ``(hv >> j) & 1`` where hv parses the
    first 8 md5 hex chars, replicated in DuckDB as
    ``(('0x' || substr(md5(tok),1,8))::BIGINT >> j) & 1``.
    """
    packed = _tf_packed_votes(
        df,
        text_col,
        id_col,
        SIMHASH_BITS,
        [F.conv(F.substring(F.col("_h"), 1, 8), 16, 10).cast("long")],
    )

    # single parsed SQL expression (one Py4J call — see
    # _tf_packed_votes note): bit j set iff vote sum s_j = 2·lane − n
    # is positive, i.e. 2·lane > n
    hash_sql = " + ".join(
        f"(CASE WHEN (shiftright(ps{j // 4}, {16 * (j % 4)}) & 65535) * 2"
        f" > _n THEN CAST({2**j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(SIMHASH_BITS)
    )
    return packed.select(F.col(id_col), F.expr(hash_sql).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 2,
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance ≤ max_hamming.

    Band join with complete recall: 3 wide bands — ≤2 differing bits
    leave ≥1 band identical (pigeonhole), so joining on
    (band_idx, band_bits) finds every qualifying pair without the
    O(n²) compare. Verification computes true hamming on candidates.
    """
    assert max_hamming < len(_SIMHASH_BAND_LAYOUT)
    sh = simhash_table(df, text_col, id_col)
    # numeric bucket key: band_idx * 2^32 + band_bits — cheaper to
    # shuffle and compare than a concat_ws string
    bands = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    (
                        F.lit(b * 2**32).cast("long")
                        + F.shiftright(F.col("simhash"), off).bitwiseAND(
                            F.lit(2**width - 1)
                        )
                    )
                    for b, (off, width) in enumerate(_SIMHASH_BAND_LAYOUT)
                ]
            )
        ).alias("bucket"),
    )
    # grouped in-bucket pair expansion instead of a bucket self-join:
    # the signature pipeline (tokenize → hash → vote aggregate) runs
    # ONCE — a self-join would recompute it for both sides (no
    # ReusedExchange across the alias boundary; measured ~1.4×).
    grouped = (
        bands.groupBy("bucket")
        .agg(
            F.collect_list(
                F.struct(
                    F.col(id_col).alias("id"), F.col("simhash").alias("sh")
                )
            ).alias("m")
        )
        .filter(F.size("m") > 1)
    )
    # hamming filter inside the expansion: only qualifying pairs are
    # ever materialized, so the final distinct shuffle carries the few
    # true near-dups, not every bucket collision
    pair_expr = F.expr(
        f"""
        filter(
          flatten(transform(m, x -> transform(m, y ->
            struct(x.id AS id_a, y.id AS id_b,
                   CAST(bit_count(x.sh ^ y.sh) AS INT) AS hamming)))),
          p -> p.id_a < p.id_b AND p.hamming <= {int(max_hamming)})
        """
    )
    return (
        grouped.select(F.explode(pair_expr).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming")
        .distinct()
    )


SIMHASH64_BITS = 64


def simhash64_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """TF-weighted 64-bit SimHash per document, as two 32-bit words
    ``(sim_lo, sim_hi)``.

    Same vote-packing plan as the 32-bit ``simhash_table`` (16-bit
    lanes, 4 per long, one partial-agg groupBy) but with 64 bit
    positions drawn from the FIRST 16 md5 hex chars: word0 = chars
    1-8 (bits 0..31), word1 = chars 9-16 (bits 32..63). Keeping two
    32-bit words avoids signed-64 overflow on both engines and lets
    bands slice words without crossing a boundary. DuckDB derivation:
    ``('0x' || substr(md5(tok), 1, 8))::BIGINT`` / ``substr(..., 9, 8)``.

    vs 32-bit: doubling the fingerprint halves the random-collision
    rate per band bit, and the 4×16-bit band layout (65536-way
    buckets) cuts random bucket collisions ~32× vs the 3×11-bit
    layout while extending complete recall to hamming ≤ 3.

    Signature plan: vocabulary-hashed packed votes (see
    ``_tf_packed_votes``).
    """
    packed = _tf_packed_votes(
        df,
        text_col,
        id_col,
        SIMHASH64_BITS,
        [
            F.conv(F.substring(F.col("_h"), 1, 8), 16, 10).cast("long"),
            F.conv(F.substring(F.col("_h"), 9, 8), 16, 10).cast("long"),
        ],
    )

    # single parsed SQL expression per word (one Py4J call each — see
    # _tf_packed_votes note)
    def word_sql(bits: range) -> str:
        return " + ".join(
            f"(CASE WHEN (shiftright(ps{j // 4}, {16 * (j % 4)}) & 65535) * 2"
            f" > _n THEN CAST({2 ** (j % 32)} AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END)"
            for j in bits
        )

    return packed.select(
        F.col(id_col),
        F.expr(word_sql(range(0, 32))).alias("sim_lo"),
        F.expr(word_sql(range(32, 64))).alias("sim_hi"),
    )


def simhash64_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with 64-bit SimHash hamming ≤ max_hamming.

    4 bands of 16 bits (two per word): ≤3 differing bits leave ≥1
    band identical (pigeonhole), so the (band_idx, band_bits) group
    finds every qualifying pair; 65536-way buckets keep candidate
    sets sparse at scale. Same grouped in-bucket expansion as the
    32-bit variant; hamming = popcount over both words.
    """
    assert max_hamming < 4
    sh = simhash64_table(df, text_col, id_col)
    band_exprs = []
    for b in range(4):
        w = F.col("sim_lo") if b < 2 else F.col("sim_hi")
        bits = F.shiftright(w, 16 * (b % 2)).bitwiseAND(F.lit(0xFFFF))
        band_exprs.append(F.lit(b * 2**20).cast("long") + bits)
    bands = sh.select(
        id_col, "sim_lo", "sim_hi",
        F.explode(F.array(*band_exprs)).alias("bucket"),
    )
    grouped = (
        bands.groupBy("bucket")
        .agg(
            F.collect_list(
                F.struct(
                    F.col(id_col).alias("id"),
                    F.col("sim_lo").alias("lo"),
                    F.col("sim_hi").alias("hi"),
                )
            ).alias("m")
        )
        .filter(F.size("m") > 1)
    )
    pair_expr = F.expr(
        f"""
        filter(
          flatten(transform(m, x -> transform(m, y ->
            struct(x.id AS id_a, y.id AS id_b,
                   CAST(bit_count(x.lo ^ y.lo) + bit_count(x.hi ^ y.hi)
                        AS INT) AS hamming)))),
          p -> p.id_a < p.id_b AND p.hamming <= {int(max_hamming)})
        """
    )
    return (
        grouped.select(F.explode(pair_expr).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming")
        .distinct()
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
) -> DataFrame:
    """Semantic near-dup pairs: cosine ≥ threshold, brute-force pair
    join. Correct baseline at any SF; the LSH-bucketed variant in
    operators/similarity.py is the 100 TB path (this one is O(n²))."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vector_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vector_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_similarity(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))
    )


def _cc_driver(spark, edges) -> DataFrame:
    """Union-find on the driver over the pulled (a, b) ``edges`` table
    — the exact min-label fixpoint in one pass, for edge sets below the
    driver gate."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(
        edges.column("a").to_pylist(), edges.column("b").to_pylist()
    ):
        for n in (a, b):
            if n not in parent:
                parent[n] = n
        ra, rb = find(a), find(b)
        if ra != rb:
            # min id becomes the root → root IS the component label
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    out = [(n, find(n)) for n in sorted(parent)]
    return local_frame(spark, out, "node long, component long")


def _cc_alternating(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """Alternating large-star/small-star connected components
    (Kiveris et al., "Connected Components in MapReduce and Beyond"):
    converges in O(log² n) rounds vs O(diameter) for min-label
    propagation — the path for deep near-dup chains at extreme scale.

    ``edges`` comes in symmetric (both directions); the loop
    maintains a canonical parent set (node > parent) and alternates:

    * large-star: every node links its LARGER neighbors to the
      minimum of its neighborhood (incl. itself);
    * small-star: every node links its smaller-or-equal neighbors
      (and itself) to their minimum.

    Fixpoint = a star forest: each node points at its component
    minimum directly.
    """
    # canonical parent pairs (a > b)
    e = (
        edges.filter(F.col("a") > F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    for _ in range(max_iter):
        # --- large-star over the symmetric view
        sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        m = (
            sym.groupBy("a")
            .agg(F.min("b").alias("_mb"))
            .select("a", F.least("a", "_mb").alias("m"))
        )
        large = (
            sym.filter(F.col("b") > F.col("a"))
            .join(m, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # --- small-star over the oriented (a > b) view
        m2 = large.groupBy("a").agg(F.min("b").alias("m"))
        joined = large.join(m2, "a")
        small = (
            joined.select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(joined.select("a", F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint()
        )
        # fixpoint: the canonical parent set stopped changing
        changed = (
            small.exceptAll(e).limit(1).count()
            + e.exceptAll(small).limit(1).count()
        )
        e = small
        if changed == 0:
            break
    # star forest: node → component for every non-root; roots label
    # themselves
    roots = e.select(F.col("b").alias("node")).distinct().join(
        e.select(F.col("a").alias("node")).distinct(), "node", "left_anti"
    )
    return e.select(F.col("a").alias("node"), F.col("b").alias("component")).union(
        roots.select("node", F.col("node").alias("component"))
    )


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    strategy: str = "auto",
    driver_max_edges: int = 2_000_000,
) -> DataFrame:
    """Connected components over a near-dup pair list: (node,
    component) where component = the minimum node id reachable from
    ``node``. The final stage of a dedup pipeline — pairs become
    clusters, clusters elect one canonical survivor.

    Min-label propagation: every node starts labelled min(self,
    min neighbor); each round pushes labels across edges and takes
    the min; converges in O(component diameter) rounds (near-dup
    clusters are shallow — a handful of rounds in practice). Edges
    and labels are localCheckpoint-ed each round so iteration N is
    one join, not a replay of rounds 1..N-1. At extreme scale the
    alternating large-star/small-star variant (Kiveris et al.,
    "Connected Components in MapReduce") cuts rounds to
    O(log² n); min-propagation keeps the oracle-checkable exact
    fixpoint with the same output.

    ``strategy`` is size-gated physical strategy selection: an edge
    set of at most ``driver_max_edges`` (default 2M ≈ 32 MB) runs
    union-find on the driver — the same fixpoint in one pass, none of
    the per-round join/checkpoint jobs. Larger edge sets (deep 100 TB
    near-dup graphs) take the distributed propagation. ``strategy=``
    forces a path: 'driver' / 'distributed' (min-label propagation,
    O(diameter) rounds) / 'alternating' (large-star/small-star,
    O(log² n) rounds — prefer for deep-chain graphs).

    Under 'auto' the gate is one Arrow job (``collect_if_small``) that
    runs when this function is called; below the gate union-find runs
    over the rows that job pulled.
    """
    # checkpoint the oriented pair list FIRST: the symmetric view
    # references it twice, and without the barrier the (expensive)
    # upstream pair plan — LSH, shingle join, … — would execute once
    # per branch (no ReusedExchange across a union). Lazy: the gate's
    # pull (or the first distributed job) materializes it.
    half = pairs.select(
        F.col(src).cast("long").alias("a"),
        F.col(dst).cast("long").alias("b"),
    ).localCheckpoint(eager=False)
    spark = pairs.sparkSession
    if strategy == "auto":
        # gate on the HALF pair count (same 2M-symmetric-edge
        # boundary): the driver path needs neither the symmetric
        # union nor distinct — union-find's min-label fixpoint is
        # invariant under duplicate and one-directional edges — so
        # below the gate we skip building the symmetric edge set
        # entirely (one union+distinct shuffle, one localCheckpoint
        # materialization and a 2× larger driver pull, all removed;
        # r10 optimization round).
        # ASSUMPTION (ADVICE r10): ``pairs`` is canonical — one row
        # per unordered pair (every in-repo producer emits a
        # distinct id_a < id_b list). A producer that emitted
        # duplicates/both orientations would only inflate this count
        # and push the graph onto the distributed path early —
        # correctness is unaffected either way (union-find and
        # min-label are duplicate-invariant).
        small = collect_if_small(half, driver_max_edges // 2)
        if small is not None:
            return _cc_driver(spark, small)
        strategy = "distributed"
    if strategy == "driver":
        return _cc_driver(spark, half.toArrow())
    edges = (
        half.union(half.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint()  # materialized once, reused every round
    )
    if strategy == "alternating":
        return _cc_alternating(edges, max_iter=max_iter)
    labels = edges.groupBy("a").agg(F.min("b").alias("nbr")).select(
        F.col("a").alias("node"), F.least("a", "nbr").alias("comp")
    )
    for _ in range(max_iter):
        prop = edges.join(labels, edges.a == labels.node).select(
            F.col("b").alias("node"), F.col("comp")
        )
        new = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint()
        )
        changed = (
            new.join(
                labels.select("node", F.col("comp").alias("_old")), "node"
            )
            .filter(F.col("comp") < F.col("_old"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    return labels.select("node", F.col("comp").alias("component"))


def chunk_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 10,
) -> DataFrame:
    """Corpus-wide chunk-level dedup (the C4 "deduplicate at the
    line level" step, adapted to token chunks since the corpus has
    no newlines): split every document into consecutive
    ``chunk_tokens``-token chunks, keep only the FIRST occurrence of
    each distinct chunk corpus-wide (first = lowest (doc_id,
    chunk_idx)), and report per document how much survived.

    Returns (doc_id, n_chunks, n_kept, kept_hash) where kept_hash is
    md5 of the surviving chunks re-joined in order (the deduplicated
    document body, hashed to keep result rows narrow).

    Plan: chunking is a narrow projection; first-occurrence election
    is ONE window shuffle keyed on md5(chunk) — 16-byte keys, never
    the chunk text; the rebuild is one groupBy on the doc id. At
    100 TB this is the shape you want: text moves at most once, and
    the heavy shuffle carries fixed-width hashes.
    """
    from vectorsearchutil_spark.functions.text import tokens_sql

    toks = df.selectExpr(id_col, f"{tokens_sql(text_col)} AS _t")
    n_chunks = F.ceil(F.size("_t") / F.lit(chunk_tokens)).cast("int")
    # guard: sequence(0, -1) DESCENDS, so empty docs must map to an
    # explicitly empty chunk list (they then drop out, like the oracle)
    idx = F.when(
        F.size("_t") > 0, F.sequence(F.lit(0), n_chunks - 1)
    ).otherwise(F.array().cast("array<int>"))
    chunks = toks.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                idx,
                lambda i: F.array_join(
                    F.slice(
                        F.col("_t"),
                        (i * chunk_tokens + 1).cast("int"),
                        chunk_tokens,
                    ),
                    " ",
                ),
            )
        ).alias("chunk_idx", "chunk"),
    )
    from pyspark.sql import Window

    win = Window.partitionBy(F.md5("chunk")).orderBy(id_col, "chunk_idx")
    kept = chunks.withColumn("_rn", F.row_number().over(win))
    return (
        kept.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_chunks"),
            F.sum(F.when(F.col("_rn") == 1, 1).otherwise(0))
            .cast("int")
            .alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("_rn") == 1,
                                    F.struct("chunk_idx", "chunk"),
                                )
                            )
                        ),
                        lambda x: x["chunk"],
                    ),
                    " ",
                )
            ).alias("kept_hash"),
        )
    )


def build_ingest_dedup_state(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    band_size: int = 4,
) -> dict[str, DataFrame]:
    """Precompute the dedup signatures a store persists alongside its
    data (VERDICT r2 #5): per doc the text hash + shingle count
    (``meta``), the distinct shingle table (``shingles``), and the
    MinHash-LSH band buckets (``buckets``). State is append-only —
    new batches' state rows union in; nothing is ever recomputed for
    rows already in the store. ``VectorStore`` maintains this
    incrementally across appends (store.py) so an ingest gate costs
    one signature pass over the BATCH only.
    """
    assert num_hashes % band_size == 0
    from vectorsearchutil_spark.functions.text import shingles_sql, tokens_sql

    sh = df.selectExpr(id_col, f"{tokens_sql(text_col)} AS _t").selectExpr(
        id_col, f"explode({shingles_sql('_t', n)}) AS shingle"
    )
    h1, h2 = minhash_base_hashes(F.col("shingle"))
    sig = (
        sh.withColumn("_h1", h1)
        .withColumn("_h2", h2)
        .groupBy(id_col)
        .agg(
            *[
                F.expr(f"min(_h1 + {i} * _h2)").alias(f"h{i}")
                for i in range(num_hashes)
            ]
        )
    )
    n_bands = num_hashes // band_size
    band_sql = [
        "md5(concat_ws('|', "
        + ", ".join(f"h{b * band_size + j}" for j in range(band_size))
        + f")) AS band{b}"
        for b in range(n_bands)
    ]
    buckets = sig.selectExpr(id_col, *band_sql).select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.concat_ws(":", F.lit(str(b)), F.col(f"band{b}"))
                    for b in range(n_bands)
                ]
            )
        ).alias("bucket"),
    )
    meta = df.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("text_md5")
    ).join(
        sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh")),
        id_col,
        "left",
    ).fillna(0, subset=["n_sh"])
    return {"meta": meta, "shingles": sh, "buckets": buckets}


def incremental_ingest_dedup_with_state(
    state: dict[str, DataFrame],
    incoming: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    band_size: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """Gate an incoming batch against PERSISTED store state: per
    incoming doc, verdict 'exact_dup' (byte-identical text exists),
    'near_dup' (MinHash-LSH candidate verified at Jaccard ≥
    threshold), or 'new', plus the lowest matching existing id.

    The store side contributes only its precomputed state tables — no
    store-side signature recomputation, ever. The incoming batch is
    small (the store pulls it into a local relation), and every join
    against the store is batch-side-driven — the store's bucket scan
    joins a BROADCAST of the batch buckets, candidates are
    (incoming × bucket mates), never store × store. Mirrors the
    reference's insert-if-absent append guard
    (vsu/base/VectorSearchBase.py:79-87) extended to near-dup.
    """
    inc_state = build_ingest_dedup_state(
        incoming, text_col, id_col, n, num_hashes, band_size
    )
    inc_sh = inc_state["shingles"].select(
        F.col(id_col).alias("id_in"), "shingle"
    )
    inc_b = inc_state["buckets"].select(
        F.col(id_col).alias("id_in"), "bucket"
    )
    ex_b = state["buckets"].select(F.col(id_col).alias("id_ex"), "bucket")
    cand = (
        ex_b.join(F.broadcast(inc_b), "bucket")
        .select("id_in", "id_ex")
        .distinct()
    )
    sh_ex = state["shingles"].select(F.col(id_col).alias("id_ex"), "shingle")
    inter = (
        cand.join(inc_sh, "id_in")
        .join(sh_ex, ["id_ex", "shingle"])
        .groupBy("id_in", "id_ex")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    inc_sizes = inc_sh.groupBy("id_in").agg(F.count(F.lit(1)).alias("n_a"))
    near = (
        inter.join(inc_sizes, "id_in")
        .join(
            state["meta"].select(
                F.col(id_col).alias("id_ex"), F.col("n_sh").alias("n_b")
            ),
            "id_ex",
        )
        .filter(
            F.col("inter")
            / (F.col("n_a") + F.col("n_b") - F.col("inter"))
            >= threshold
        )
        .groupBy("id_in")
        .agg(F.min("id_ex").alias("near_id"))
    )
    exact = (
        incoming.select(
            F.col(id_col).alias("id_in"), F.md5(F.col(text_col)).alias("_h")
        )
        .join(
            state["meta"].select(
                F.col(id_col).alias("id_ex"), F.col("text_md5").alias("_h")
            ),
            "_h",
        )
        .groupBy("id_in")
        .agg(F.min("id_ex").alias("exact_id"))
    )
    return (
        incoming.select(F.col(id_col).alias("id_in"))
        .join(F.broadcast(exact), "id_in", "left")
        .join(F.broadcast(near), "id_in", "left")
        .select(
            F.col("id_in").alias(id_col),
            F.when(F.col("exact_id").isNotNull(), F.lit("exact_dup"))
            .when(F.col("near_id").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
            F.coalesce("exact_id", "near_id").alias("matched_id"),
        )
    )


def incremental_ingest_dedup(
    existing: DataFrame,
    incoming: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    band_size: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """State-less convenience form: derive the store state in-job,
    then gate. Production appends use the persisted-state form
    (``VectorStore.ingest_dedup_check``) so the store side is read,
    not recomputed — results are identical either way (test-asserted).
    """
    state = build_ingest_dedup_state(
        existing, text_col, id_col, n, num_hashes, band_size
    )
    # the in-job state derives buckets/meta/intersections from the same
    # shingle table — cache it so the existing side is shingled once
    # (a persisted store reads its state instead; this is the
    # stateless path's analog)
    state["shingles"] = state["shingles"].cache()
    return incremental_ingest_dedup_with_state(
        state, incoming, text_col, id_col, n, num_hashes, band_size, threshold
    )


def segment_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_tokens: int = 8,
) -> DataFrame:
    """C4-style sub-document dedup: split each document into
    fixed-width token segments, drop every LATER occurrence of a
    segment that appears anywhere else in the corpus (first
    occurrence = lowest (doc_id, segment index)), and reassemble what
    survives. This removes repeated boilerplate (headers, footers,
    licence blocks) that whole-document dedup cannot see.

    Output per document: segment counts before/after and the
    reassembled kept text.

    Scale shape: the only shuffle carries (segment-hash, doc, idx)
    rows — segments shuffle by VALUE once to pick winners (one
    md5-keyed shuffle, the exact-dedup plan shape) and by doc once to
    reassemble; full text never crosses a shuffle unsegmented, and
    the reassembly agg is partial-aggregated. First-wins is decided
    by min_by over the (doc_id, idx) struct — deterministic under any
    partitioning.
    """
    from pyspark.sql import Window

    from vectorsearchutil_spark.functions.text import tokens_sql

    # tokens materialize as their own projection FIRST — an
    # expression referenced inside a lambda body re-evaluates per
    # element (PERF.md round-2b), which would re-tokenize the doc
    # once per segment
    toked = docs.selectExpr(id_col, f"{tokens_sql(text_col)} AS _toks")
    segs = toked.selectExpr(
        id_col,
        f"posexplode(CASE WHEN size(_toks) = 0"
        f" THEN CAST(array() AS array<string>)"
        f" ELSE transform(sequence(0,"
        f" cast(ceil(size(_toks) / {seg_tokens}) as int) - 1),"
        f" i -> concat_ws(' ', slice(_toks,"
        f" i * {seg_tokens} + 1, {seg_tokens}))) END) AS (idx, seg)",
    )
    win = Window.partitionBy("seg").orderBy(
        F.col(id_col).asc(), F.col("idx").asc()
    )
    kept = (
        segs.withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return (
        segs.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_segments"))
        .join(
            kept.groupBy(id_col).agg(
                F.count(F.lit(1)).alias("n_kept"),
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("idx", "seg"))
                        ),
                        lambda x: x["seg"],
                    ),
                    " ",
                ).alias("kept_text"),
            ),
            id_col,
            "left",
        )
        .fillna(0, subset=["n_kept"])
        .fillna("", subset=["kept_text"])
    )


def duplicate_spans(
    docs: DataFrame,
    width: int = 8,
    min_span: int = 12,
    max_df: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Longest shared token span per near-duplicate document pair —
    the span-granular form of exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"):
    MinHash tells you TWO DOCS overlap; this tells you WHICH RUN of
    tokens they share and how long it is, the unit you actually cut
    when scrubbing boilerplate or cross-split contamination.

    Plan — anchors, not suffix arrays (which don't distribute):

    1. one md5 per ``width``-gram with its token position — positions
       make runs recoverable, unlike set-of-shingles signatures;
    2. stop-grams (> ``max_df`` occurrences) dropped BEFORE the
       self-join — the Σ df² pair blow-up cap, same discipline as
       ngram_jaccard / aHash banding;
    3. equi-join on gram hash (id_a < id_b): a shared span of L
       tokens appears as L−width+1 matches whose positions advance
       in lockstep, i.e. constant delta = pos_a − pos_b;
    4. gaps-and-islands per (a, b, delta) — window over match rows
       only, keyed by pair: consecutive positions collapse to runs,
       longest run + width − 1 = span length in tokens.

    Within-pair position pairs are unique per delta (pos_a fixes
    pos_b), so row_number islands are well-defined. A doc repeating
    one rare gram k times contributes k² matches for a pair — bounded
    by ``max_df``² per gram, the declared cap.

    Output: (id_a, id_b, longest_span, n_spans) for spans ≥
    ``min_span`` tokens.
    """
    from pyspark.sql import Window

    from vectorsearchutil_spark.functions.parallel import fanout_repartition
    from vectorsearchutil_spark.functions.text import tokens_sql

    # parallelism floor before the per-position gram explode + md5
    # (guide §2): a small docs scan serializes the anchor stage
    grams = (
        fanout_repartition(docs)
        .selectExpr(id_col, f"{tokens_sql(text_col)} AS _toks")
        .filter(F.expr(f"size(_toks) >= {int(width)}"))
        .selectExpr(
            id_col,
            # 60-bit md5-prefix anchors (the sketches.py _hash60
            # spelling): 8-byte longs instead of 32-char hex keys cut
            # every downstream shuffle/join 4x; the same hash is
            # declared in the oracle, so collisions (~df^2/2^61 false
            # anchors) change nothing cross-engine
            f"""posexplode(transform(
                  sequence(0, size(_toks) - {int(width)}),
                  p -> cast(conv(substring(md5(
                    concat_ws(' ', slice(_toks, p + 1, {int(width)}))),
                    1, 15), 16, 10) AS BIGINT)
                )) AS (p, h)""",
        )
    )
    # stop-gram cap as a count-over-window rather than groupBy+join:
    # the window partitions by h, leaving the data hash-distributed on
    # exactly the self-join key, so Catalyst reuses one Exchange for
    # the filter AND both join sides (measured 17.9 -> 9.5 s at the
    # 125k-doc probe)
    grams = (
        grams.withColumn(
            "_df", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
        .filter(F.col("_df") <= int(max_df))
        .select(id_col, "p", "h")
    )
    a = grams.select(
        F.col(id_col).alias("id_a"),
        F.col("p").alias("pa"),
        "h",
    )
    b = grams.select(
        F.col(id_col).alias("id_b"),
        F.col("p").alias("pb"),
        "h",
    )
    matches = a.join(b, "h").filter(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", "pa", (F.col("pa") - F.col("pb")).alias("delta")
    )
    win = Window.partitionBy("id_a", "id_b", "delta").orderBy("pa")
    runs = (
        matches.withColumn(
            "_island", F.col("pa") - F.row_number().over(win)
        )
        .groupBy("id_a", "id_b", "delta", "_island")
        .agg((F.count(F.lit(1)) + F.lit(int(width) - 1)).alias("_span"))
    )
    return (
        runs.filter(F.col("_span") >= int(min_span))
        .groupBy("id_a", "id_b")
        .agg(
            F.max("_span").cast("int").alias("longest_span"),
            F.count(F.lit(1)).cast("int").alias("n_spans"),
        )
    )


def scrub_duplicate_spans(
    docs: DataFrame,
    spans: DataFrame | None = None,
    width: int = 8,
    min_span: int = 12,
    max_df: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cut the shared spans :func:`duplicate_spans` found — the scrub
    step of exact-substring dedup (Lee et al. 2022): for every
    detected pair the LOWER id keeps its text, the higher id loses
    the duplicated token run (first-wins, the store's dedup
    convention). A doc in many pairs loses the UNION of its spans —
    the same interval-union window as the detector, keyed by the doc
    (parallel by construction) — and its text rebuilds from the
    surviving token positions. Token counts shuffle; text itself
    moves only once, in the final rebuild join.

    Pass a precomputed ``spans`` frame (id_a, id_b, …) to decouple
    detect from scrub; otherwise the detector runs with the given
    parameters. Spans must be recovered with positions here, so the
    scrub re-derives per-pair runs restricted to docs that lost a
    pair, under the SAME full-corpus ``max_df`` stop-gram filter the
    detector applies (pass the detector's ``width``/``max_df`` when
    supplying a precomputed ``spans``, or the recovered runs diverge
    from the detected ones). Returns (id, text, n_removed_tokens) for EVERY input doc:
    losers get token-rebuilt scrubbed text, untouched docs keep
    their ORIGINAL text verbatim with zero removed.
    """
    from pyspark.sql import Window

    from vectorsearchutil_spark.functions.text import tokens_sql

    if spans is None:
        spans = duplicate_spans(
            docs,
            width=width,
            min_span=min_span,
            max_df=max_df,
            text_col=text_col,
            id_col=id_col,
        )
    # pair list is consumed by the match join AND both side sets —
    # cache the (small) pair table so the detector lineage runs once
    # (the ahash/plan-inlining lesson: multiple consumers recompute
    # everything below them)
    spans = spans.cache()

    toks = docs.selectExpr(
        id_col, f"{tokens_sql(text_col)} AS _toks"
    )
    # positioned anchors, only for docs on either side of a pair
    # (the verify set): losers need their run positions, winners
    # anchor them
    sides = (
        spans.select(F.col("id_a").alias(id_col))
        .unionByName(spans.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    grams_all = (
        toks.filter(F.expr(f"size(_toks) >= {int(width)}"))
        .selectExpr(
            id_col,
            f"""posexplode(transform(
                  sequence(0, size(_toks) - {int(width)}),
                  p -> cast(conv(substring(md5(
                    concat_ws(' ', slice(_toks, p + 1, {int(width)}))),
                    1, 15), 16, 10) AS BIGINT)
                )) AS (p, h)""",
        )
    )
    # the SAME df <= max_df stop-gram filter the detector applies,
    # computed over the FULL corpus (not just pair-side docs) so the
    # scrub cuts exactly the runs the detector reported: without it,
    # a detected pair that ALSO shares a >= min_span run of frequent
    # grams (boilerplate — the operator's stated target) would lose
    # tokens the detector/oracle exclude, and the unfiltered
    # self-join reopens the sum(df^2) blow-up the cap exists to
    # prevent (ADVICE r4 high). Window-over-h keeps the grams
    # hash-distributed on the join key, as in the detector.
    grams = (
        grams_all.withColumn(
            "_df", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
        .filter(F.col("_df") <= int(max_df))
        .join(sides, id_col, "left_semi")
        .select(id_col, "p", "h")
    )
    a = grams.selectExpr(f"{id_col} AS id_a", "p AS pa", "h")
    b = grams.selectExpr(f"{id_col} AS id_b", "p AS pb", "h")
    matches = (
        a.join(b, "h")
        .join(
            F.broadcast(spans.select("id_a", "id_b")), ["id_a", "id_b"]
        )
        .select(
            "id_a", "id_b", "pb", (F.col("pa") - F.col("pb")).alias("delta")
        )
    )
    run_w = Window.partitionBy("id_a", "id_b", "delta").orderBy("pb")
    runs = (
        matches.withColumn(
            "_island", F.col("pb") - F.row_number().over(run_w)
        )
        .groupBy("id_a", "id_b", "delta", "_island")
        .agg(
            F.min("pb").alias("_s"),
            (F.max("pb") + F.lit(int(width) - 1)).alias("_e"),
        )
        .filter(F.col("_e") - F.col("_s") + 1 >= int(min_span))
        .select(F.col("id_b").alias(id_col), "_s", "_e")
    )
    # union of removal intervals per losing doc (gaps-and-islands)
    cov_w = Window.partitionBy(id_col).orderBy("_s")
    prev_end = F.max("_e").over(
        cov_w.rowsBetween(Window.unboundedPreceding, -1)
    )
    removed = (
        runs.withColumn(
            "_cut_from",
            F.greatest(F.col("_s"), F.coalesce(prev_end + 1, F.col("_s"))),
        )
        .filter(F.col("_e") >= F.col("_cut_from"))
        .select(
            id_col,
            F.sequence(F.col("_cut_from"), F.col("_e")).alias("_gone"),
        )
        .groupBy(id_col)
        .agg(F.array_sort(F.flatten(F.collect_list("_gone"))).alias("_gone"))
    ).cache()  # four consumers: gone_pos, the semi-join, rebuilt, clean
    # rebuild via explode + anti-join on (id, position) — narrow int
    # rows through one keyed shuffle. The per-token
    # array_contains(_gone) HOF form was O(tokens × removed) per doc
    # interpreted: 46 s at the 125k probe vs ~14 s for this plan.
    # Docs that lost nothing pass through with their ORIGINAL text.
    gone_pos = removed.select(
        id_col, F.explode("_gone").alias("_pos")
    )
    loser_toks = toks.join(removed.select(id_col), id_col, "left_semi")
    regrouped = (
        loser_toks.select(
            id_col, F.posexplode("_toks").alias("_pos", "_tok")
        )
        .join(gone_pos, [id_col, "_pos"], "left_anti")
        .groupBy(id_col)
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_pos", "_tok"))
                    ),
                    lambda e: e["_tok"],
                ),
            ).alias(text_col)
        )
    )
    # drive from `removed` so a FULLY scrubbed doc (no surviving
    # tokens → no group above) still emits its empty-text row
    rebuilt = (
        removed.select(
            id_col, F.size("_gone").alias("n_removed_tokens")
        )
        .join(regrouped, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
            "n_removed_tokens",
        )
    )
    clean = (
        docs.select(id_col, text_col)
        .join(removed.select(id_col), id_col, "left_anti")
        .withColumn("n_removed_tokens", F.lit(0))
    )
    return clean.unionByName(rebuilt)


def keep_best_representative(
    docs: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Quality-aware duplicate survivor election: group near-dup
    pairs into clusters (:func:`connected_components`) and keep, per
    cluster, the member with the HIGHEST ``score_col`` (ties break by
    ``id_col`` ascending) — plus every un-paired document untouched.
    The production variant of ``dedup_canonical_docs``' min-id rule:
    real pipelines keep the longest / highest-quality duplicate, not
    the first-seen one (keep-longest is the common heuristic; pass
    a model quality score for the learned variant).

    Output: the surviving rows of ``docs`` (all original columns).

    Scale shape: clusters are a vanishing fraction of a deduped
    corpus, so the (node → component) map and the per-cluster argmax
    run on the small cluster-member table; the survivors-to-drop set
    broadcasts into one anti-join and the corpus itself never
    shuffles. The per-cluster argmax is max_by (one aggregate), not
    a raw-row window.
    """
    cc = connected_components(pairs, src=src, dst=dst)
    members = cc.join(
        docs.select(
            F.col(id_col).cast("long").alias("node"),
            # NULL score ranks lowest (it cannot win the argmax);
            # -inf keeps the struct comparison total under ANSI
            F.coalesce(
                F.col(score_col).cast("double"), F.lit(float("-inf"))
            ).alias("_score"),
        ),
        "node",
    )
    # argmax by (score desc, id asc) as ONE aggregate: max_by over
    # struct(score, -node) — struct ordering compares score first,
    # then -node, so the max is highest-score / lowest-id
    best = members.groupBy("component").agg(
        F.max_by(
            F.col("node"),
            F.struct(
                F.col("_score").alias("_s"),
                (-F.col("node")).alias("_nid"),
            ),
        ).alias("keep_id")
    )
    losers = members.join(
        best, "component"
    ).filter(F.col("node") != F.col("keep_id")).select(
        F.col("node").alias(id_col)
    ).distinct()
    # distinct() before the anti-join: node→component is 1:1 so the
    # set is already unique, but the explicit aggregate (a) makes the
    # anti-join's build side provably minimal whatever upstream pairs
    # look like and (b) hands AQE an exact post-shuffle size for the
    # loser set, so its runtime broadcast demotion triggers reliably.
    # Plain left_anti (like dedup_canonical_docs above): at LLM-corpus
    # dup rates (30-50%+) `losers` is an unbounded fraction of the
    # corpus — a forced broadcast hint would override AQE's size logic
    # and OOM executors at scale. AQE demotes to broadcast on its own
    # whenever the loser set actually is small.
    return docs.join(losers, docs[id_col] == losers[id_col], "left_anti")


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.9,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs: (id_a < id_b, containment)
    where containment = |A∩B| / min(|A|,|B|) ≥ threshold — the
    asymmetric near-dup relation Jaccard misses: a short document
    quoted/embedded inside a long one scores ~1.0 here but near 0 on
    Jaccard. The standard screen for boilerplate inclusion, quoting
    and template wrapping.

    Exact prefix filtering adapted to containment (no length filter
    is sound here — lengths may differ arbitrarily): for any pair,
    let S be the smaller set; inter ≥ ⌈t·|S|⌉ forces a shared
    shingle within S's first ``|S| − ⌈t·|S|⌉ + 1`` rare-first
    elements (pigeonhole over the global frequency order), so only
    the SMALLER side's prefix probes the inverted index, while the
    larger side indexes in full. ``max_df`` caps postings-list
    blow-up from stop-shingles (they carry no containment signal).
    The exact intersection count then runs on candidates only.
    """
    t = float(threshold)
    per_doc = _doc_shingle_lists(df, text_col, id_col, n, max_df).cache()
    probe = per_doc.select(
        F.col(id_col).alias("_pid"),
        F.col("n_sh").alias("n_p"),
        F.posexplode(
            F.slice(F.col("lst"), 1, _prefix_len(t))["shingle"]
        ).alias("_pp", "shingle"),
    )
    # the larger side indexes IN FULL — positions come straight off
    # the per-doc list, so the old sh⋈per_doc size join is gone
    index = per_doc.select(
        F.col(id_col).alias("_iid"),
        F.col("n_sh").alias("n_i"),
        F.posexplode(F.col("lst")["shingle"]).alias("_pi", "shingle"),
    )
    # probe must be the smaller set (ties: lower id probes) so each
    # unordered pair is generated exactly once. Positional filter
    # (r11, exact): a true pair's FIRST common shingle sits in the
    # probe prefix at 1-based ranks (i, j) with overlap
    # ≤ 1 + min(n_p−i, n_i−j), and containment ≥ t needs overlap
    # ≥ ⌈t·n_p⌉ — the first-common match maximizes the bound, so
    # keeping pairs where ANY match passes is exact.
    alpha = F.ceil(F.lit(t) * F.col("n_p") - F.lit(1e-9))
    ubound = F.lit(1) + F.least(
        F.col("n_p") - (F.col("_pp") + F.lit(1)),
        F.col("n_i") - (F.col("_pi") + F.lit(1)),
    )
    cand = (
        probe.join(index, "shingle")
        .filter(
            (
                (F.col("n_p") < F.col("n_i"))
                | (
                    (F.col("n_p") == F.col("n_i"))
                    & (F.col("_pid") < F.col("_iid"))
                )
            )
            & (ubound >= alpha)
        )
        .select("_pid", "_iid", "n_p")
        .distinct()
    )
    # exact verify per candidate pair over the per-doc lists
    vp = per_doc.select(
        F.col(id_col).alias("_pid"), F.col("lst")["shingle"].alias("_sp")
    )
    vi = per_doc.select(
        F.col(id_col).alias("_iid"), F.col("lst")["shingle"].alias("_si")
    )
    inter = (
        cand.join(vp, "_pid")
        .join(vi, "_iid")
        .withColumn("inter", F.size(F.array_intersect("_sp", "_si")))
        .select("_pid", "_iid", "n_p", "inter")
    )
    from vectorsearchutil_spark.functions.vector import round_half_up

    return (
        inter.filter(
            F.col("inter") >= F.ceil(F.col("n_p") * F.lit(float(threshold)))
        )
        .select(
            F.least("_pid", "_iid").alias("id_a"),
            F.greatest("_pid", "_iid").alias("id_b"),
            round_half_up(
                F.col("inter").cast("double") / F.col("n_p").cast("double"),
                6,
            ).alias("containment"),
        )
    )


#: ASCII-only casefold alphabet for :func:`normalized_exact_dedup` —
#: a byte-wise translate both engines implement identically, unlike
#: locale-aware lower() whose Unicode special cases (dotted-I, ß…)
#: can differ across engines/ICU versions.
_ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"


def normalized_exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = ("lang", "source", "n_chars"),
) -> DataFrame:
    """Exact dedup AFTER aggressive normalization — the cheap pass
    run before any fuzzy method: ASCII casefold (deterministic
    translate, see `_ASCII_UPPER` note), ASCII punctuation → space
    (explicit `\\x21-\\x7e` punctuation ranges, NOT `[^a-z0-9 ]` —
    a negated class would also match and destroy every non-ASCII
    code point, so multilingual text stays intact), whitespace
    collapse + trim. Survivor = min id per normalized key, annotated
    with the cluster size.

    Plan: identical to :func:`exact_dedup_groups` — one md5 of the
    normalized text (computed in the scan projection, never
    shuffled), one groupBy on the 32-byte key. The min-id survivor
    and the count come from the same aggregate; the winning row's
    payload re-attaches by id equi-join.
    """
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.translate(F.col(text_col), _ASCII_UPPER, _ASCII_LOWER),
                "[\\x21-\\x2f\\x3a-\\x40\\x5b-\\x60\\x7b-\\x7e]",
                " ",
            ),
            " +",
            " ",
        )
    )
    keyed = df.select(
        F.col(id_col), F.md5(norm).alias("norm_key")
    )
    groups = keyed.groupBy("norm_key").agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("n_members"),
    )
    return (
        df.select(id_col, *keep_cols)
        .join(groups, id_col)
        .select(
            id_col,
            *keep_cols,
            "norm_key",
            F.col("n_members").cast("bigint").alias("n_members"),
        )
    )

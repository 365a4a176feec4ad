"""Product quantization: encode/search semantics, recall ordering,
and the codes-only scan posture."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vectorsearchutil_spark.operators.knn import knn
from vectorsearchutil_spark.operators.pq import (
    adc_table,
    pq_adc_topk,
    pq_encode,
    pq_search_rerank,
    pq_train,
)
from vectorsearchutil_spark.sources.readers import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def books(emb):
    return pq_train(emb, m=8, k=16, iterations=2)


def test_train_shapes_and_determinism(emb, books):
    assert len(books) == 8
    assert all(len(b) == 16 for b in books)
    assert all(len(cv) == 8 for b in books for cv in b)
    # retrain on a repartitioned input → identical codebooks (the
    # sample is id-ordered, not partition-ordered)
    again = pq_train(emb.repartition(7), m=8, k=16, iterations=2)
    assert books == again


def test_train_bound_samples_by_hash(spark, emb):
    """VERDICT r2 #3: the default train_limit bounds driver memory.
    Above the bound, training uses the train_limit lowest
    (md5-uniform, id) rows — replayed here independently — and the
    result is partitioning-independent. At/below the bound, the whole
    input trains (bit-identical to unbounded)."""
    import hashlib

    n = emb.count()
    limit = 64  # force the sampling path: corpus (500) > limit

    def u(vid: int) -> int:
        return int(
            hashlib.md5(f"pqtrain:{vid}".encode()).hexdigest()[:8], 16
        )

    ids = [r[0] for r in emb.select("vec_id").collect()]
    expect_sample = set(sorted(ids, key=lambda i: (u(i), i))[:limit])
    sampled_df = emb.filter(F.col("vec_id").isin(*expect_sample))

    bounded = pq_train(emb, m=8, k=16, iterations=2, train_limit=limit)
    replay = pq_train(sampled_df, m=8, k=16, iterations=2, train_limit=None)
    assert bounded == replay
    # partitioning-independent
    again = pq_train(
        emb.repartition(7), m=8, k=16, iterations=2, train_limit=limit
    )
    assert bounded == again
    # at/below the bound: identical to unbounded training
    assert pq_train(emb, m=8, k=16, iterations=2, train_limit=n) == pq_train(
        emb, m=8, k=16, iterations=2, train_limit=None
    )


def test_encode_codes_in_range_and_qerr_nonneg(emb, books):
    enc = pq_encode(emb, books).cache()
    assert enc.count() == emb.count()
    bad = enc.filter(
        (F.size("codes") != 8)
        | F.exists("codes", lambda c: (c < 0) | (c > 15))
        | (F.col("qerr") < 0)
    ).count()
    assert bad == 0
    enc.unpersist()


def test_finer_codebook_reduces_qerr(emb):
    coarse = pq_train(emb, m=8, k=2, iterations=2)
    fine = pq_train(emb, m=8, k=16, iterations=2)
    qe = lambda b: (  # noqa: E731
        pq_encode(emb, b).agg(F.avg("qerr")).first()[0]
    )
    assert qe(fine) < qe(coarse)


def test_rerank_recall_beats_adc(emb, books):
    """Exact re-rank of a 50-deep ADC shortlist must recall at least
    as much of the true top-10 as the raw ADC top-10 — and both
    should overlap the exact answer substantially."""
    qv = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    truth = {
        r["vec_id"]
        for r in knn(emb, qv, k=10, vector_col="embedding", id_col="vec_id")
        .select("vec_id")
        .collect()
    }
    codes = pq_encode(emb, books).cache()
    adc_ids = {
        r["vec_id"] for r in pq_adc_topk(codes, books, qv, k=10).collect()
    }
    rr_ids = {
        r["vec_id"]
        for r in pq_search_rerank(emb, codes, books, qv, k=10, shortlist=50)
        .select("vec_id")
        .collect()
    }
    assert len(rr_ids & truth) >= len(adc_ids & truth)
    assert len(rr_ids & truth) >= 5  # shortlist=10% of corpus recalls most
    codes.unpersist()


def test_adc_table_matches_encode_qerr(emb, books):
    """dtab lookups must reproduce the encode-side squared distances:
    a vector's ADC distance to ITSELF as query equals its qerr."""
    qv = list(emb.filter(F.col("vec_id") == 3).first()["embedding"])
    enc = pq_encode(emb, books)
    qerr = enc.filter(F.col("vec_id") == 3).first()["qerr"]
    dtab = adc_table(books, qv)
    codes = enc.filter(F.col("vec_id") == 3).first()["codes"]
    adc_self = round(sum(dtab[j][codes[j]] for j in range(8)), 4)
    assert abs(adc_self - qerr) < 1e-3


def test_adc_scan_reads_codes_only(spark, emb, books, tmp_path):
    """The production shape: ADC search over a persisted codes table
    must not touch the raw vector column at all."""
    from vectorsearchutil_spark.plans.explain import formatted_plan

    path = str(tmp_path / "codes.parquet")
    pq_encode(emb, books).write.mode("overwrite").parquet(path)
    codes = spark.read.parquet(path)
    qv = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    plan = formatted_plan(pq_adc_topk(codes, books, qv, k=10))
    assert "embedding" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_ivfpq_encode_matches_separate_paths(spark, emb, books, sf_dir):
    """One-pass IVF-PQ encode ≡ build_ivf_index ∘ pq_encode: same
    coarse assignment (lowest-id ties) and identical codes/qerr."""
    from vectorsearchutil_spark.operators.pq import ivfpq_encode
    from vectorsearchutil_spark.operators.similarity import build_ivf_index

    cents = (
        emb.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "pos", "v"
            ),
        )
        .groupBy("label", "pos")
        .agg(F.round(F.avg("v"), 6).alias("v"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("s"))
        .select(
            F.col("label").cast("long").alias("centroid_id"),
            F.transform("s", lambda x: x["v"]).alias("centroid_vec"),
        )
        .cache()
    )
    fused = ivfpq_encode(emb, cents, books)
    split_assign = build_ivf_index(
        emb, cents, vector_col="embedding"
    ).select("vec_id", F.col("centroid_id").cast("long").alias("centroid_id"))
    split = split_assign.join(pq_encode(emb, books), "vec_id").select(
        "vec_id", "centroid_id", "codes", "qerr"
    )
    assert fused.exceptAll(split).count() == 0
    assert split.exceptAll(fused).count() == 0
    cents.unpersist()


def test_ivfpq_search_prunes_and_ranks(spark, emb, books, tmp_path):
    """Probe-pruned ADC over a centroid-partitioned index: the scan
    reads only probed partitions (partition pruning visible in the
    plan) and only the codes column; results are a subset-consistent
    ADC ordering."""
    from vectorsearchutil_spark.operators.pq import (
        ivfpq_encode,
        ivfpq_probe_ids,
        ivfpq_search,
        pq_adc_topk,
    )
    from vectorsearchutil_spark.plans.explain import formatted_plan

    cents = (
        emb.groupBy(F.col("label").cast("long").alias("centroid_id"))
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("vec_id", "embedding"))
                ),
                lambda s: s["embedding"],
            )[0].cast("array<double>").alias("centroid_vec")
        )
        .cache()
    )
    path = str(tmp_path / "ivfpq")
    ivfpq_encode(emb, cents, books).write.mode("overwrite").partitionBy(
        "centroid_id"
    ).parquet(path)
    enc = spark.read.parquet(path)
    qv = [float(v) for v in emb.filter(F.col("vec_id") == 3).first()["embedding"]]
    probe = ivfpq_probe_ids(cents, qv, n_probe=2)
    out = ivfpq_search(enc, cents, books, qv, k=5, n_probe=2)
    rows = out.collect()
    assert len(rows) == 5
    adcs = [r["adc"] for r in rows]
    assert adcs == sorted(adcs)
    # every hit comes from a probed list
    hit_lists = {
        r["centroid_id"]
        for r in enc.join(
            out.select("vec_id"), "vec_id"
        ).select("centroid_id").collect()
    }
    assert hit_lists <= set(probe)
    # pruned ADC ≡ ADC over the manually pruned set
    manual = pq_adc_topk(
        enc.filter(F.col("centroid_id").isin(*probe)), books, qv, k=5
    )
    assert [tuple(r) for r in manual.collect()] == [tuple(r) for r in rows]
    # plan posture: raw vectors never read, top-k without a shuffle
    plan = formatted_plan(ivfpq_search(enc, cents, books, qv, k=5, n_probe=2))
    assert "embedding" not in plan
    assert "TakeOrderedAndProject" in plan
    cents.unpersist()


def test_distortion_strategy_equality(spark, emb, books):
    """The (j, d2) kernel (numpy ``mapInArrow``) ≡ its JVM reference
    (HOF fold), cell by cell — including the degenerate classes the
    kernel replicates: NULL vector, NaN/Inf components,
    short/over-length vectors, NULL elements (r11 optimization
    round)."""
    import math

    from vectorsearchutil_spark.operators.pq import (
        _pq_distortion_pairs_expr,
        _pq_distortion_pairs_matrix,
    )

    def canon(pairs):
        rows = [
            (r.j, "nan" if r.d2 is not None and math.isnan(r.d2) else r.d2)
            for r in pairs.collect()
        ]
        return sorted(rows, key=repr)

    def agree(df):
        assert canon(_pq_distortion_pairs_expr(df, books, "embedding")) == (
            canon(_pq_distortion_pairs_matrix(df, books, "embedding"))
        )

    agree(emb)
    nan, inf = float("nan"), float("inf")
    degen = spark.createDataFrame(
        [
            (1, [float(i % 5) for i in range(64)]),
            (2, None),
            (3, [nan] + [1.0] * 63),
            (4, [inf] + [2.0] * 63),
            (5, [1.0] * 32),  # prefix subspaces participate
            (6, [0.5] * 64),
            (7, [nan] * 8 + [inf] * 8 + [3.0] * 48),
            (8, [1.0] * 70),  # trailing dims ignored
            (9, [None] + [1.0] * 63),  # NULL element nulls subspace 0
            (10, [2.0] * 12),  # partial subspace -> null
            (11, []),
        ],
        "vec_id long, embedding array<float>",
    )
    agree(degen)

import pyspark.sql.functions as F
import pytest

from vectorsearchutil_spark.operators import dedup as dd
from vectorsearchutil_spark.sources.readers import load_table


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
        (3, "completely different words entirely unrelated text here"),
        (4, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
        (5, "one two"),                                        # too short for shingles
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_groups(docs):
    groups = dd.exact_dedup_groups(docs).collect()
    dup = [g for g in groups if g["n_docs"] > 1]
    assert len(dup) == 1
    assert dup[0]["n_docs"] == 2
    assert dup[0]["keep_id"] == 1  # first wins


def test_ngram_jaccard_finds_near_and_exact(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in dd.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(1, 4)] == 1.0
    assert (1, 2) in pairs and 0.5 <= pairs[(1, 2)] < 1.0
    assert not any(3 in p or 5 in p for p in pairs)


def test_minhash_is_subset_of_exact_with_planted_dups(docs):
    exact = {(r["id_a"], r["id_b"])
             for r in dd.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    approx = {(r["id_a"], r["id_b"])
              for r in dd.minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert approx <= exact
    assert (1, 4) in approx  # exact dups always collide in every band


def test_simhash_exact_dup_hamming_zero(docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in dd.simhash_pairs(docs, max_hamming=2).collect()}
    assert pairs[(1, 4)] == 0


def test_embedding_neardup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.04, 0.0]),   # nearly parallel to 1
        (3, [0.0, 1.0, 0.0]),      # orthogonal
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = dd.embedding_neardup_pairs(df, threshold=0.95).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]


def test_ngram_max_df_drops_stop_shingles(spark):
    # a shingle shared by everything carries no signal; max_df must cut it
    rows = [(i, f"common shingle here unique{i} tail{i} words{i}") for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    all_pairs = dd.ngram_jaccard_pairs(df, threshold=0.01).count()
    capped = dd.ngram_jaccard_pairs(df, threshold=0.01, max_df=3).count()
    assert capped < all_pairs


def test_simhash64_complete_recall_vs_bruteforce(docs):
    # the 4x16-bit band join must find EVERY pair with hamming <= 3
    # (pigeonhole) — verify against an exhaustive python comparison
    from vectorsearchutil_spark.operators.dedup import (
        simhash64_pairs,
        simhash64_table,
    )

    sigs = {
        r["doc_id"]: (r["sim_lo"], r["sim_hi"])
        for r in simhash64_table(docs).collect()
    }
    ids = sorted(sigs)
    expected = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(sigs[a][0] ^ sigs[b][0]).count("1") + bin(
                sigs[a][1] ^ sigs[b][1]
            ).count("1")
            if h <= 3:
                expected.add((a, b, h))
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash64_pairs(docs, max_hamming=3).collect()
    }
    assert got == expected
    assert expected  # planted dups guarantee at least one pair


def test_connected_components_chain_and_islands(spark):
    from vectorsearchutil_spark.operators.dedup import connected_components

    # chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds),
    # pair {10,11}, and a disjoint pair {20,21}
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (21, 20)], ["id_a", "id_b"]
    )
    got = {
        (r["node"], r["component"])
        for r in connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20),
    }


def test_connected_components_empty(spark):
    from vectorsearchutil_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pairs).count() == 0


def test_bucket_pairs_max_bucket_cap(spark):
    from vectorsearchutil_spark.operators.dedup import bucket_pairs

    rows = [(i, "mega") for i in range(10)] + [(100, "tiny"), (101, "tiny")]
    buckets = spark.createDataFrame(rows, ["doc_id", "bucket"])
    full = bucket_pairs(buckets, "doc_id")
    capped = bucket_pairs(buckets, "doc_id", max_bucket=5)
    assert full.count() == 45 + 1  # C(10,2) + the tiny pair
    got = {tuple(r) for r in capped.collect()}
    assert got == {(100, 101)}  # mega-bucket dropped, tiny kept


def test_chunk_dedup_first_occurrence(spark):
    from vectorsearchutil_spark.operators.dedup import chunk_dedup

    # doc 2 repeats doc 1's first chunk (tokens a..e with chunk size
    # 5); doc 3 is wholly novel; doc 4 is empty (drops out)
    rows = [
        (1, "a b c d e f g h i j"),
        (2, "a b c d e x y z w v"),
        (3, "p q r s t"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in chunk_dedup(df, chunk_tokens=5).collect()}
    assert out[1]["n_chunks"] == 2 and out[1]["n_kept"] == 2
    assert out[2]["n_chunks"] == 2 and out[2]["n_kept"] == 1
    assert out[3]["n_kept"] == 1
    assert 4 not in out


def test_incremental_ingest_dedup(spark):
    from vectorsearchutil_spark.operators.dedup import (
        incremental_ingest_dedup,
    )

    existing = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different content about spark joins here"),
        ],
        ["doc_id", "text"],
    )
    incoming = spark.createDataFrame(
        [
            # exact copy of doc 1
            (10, "the quick brown fox jumps over the lazy dog today"),
            # near-dup of doc 1 (one trailing token changed)
            (11, "the quick brown fox jumps over the lazy dog tonight"),
            # novel
            (12, "nothing like anything stored so far at all honestly"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in incremental_ingest_dedup(
            existing, incoming, threshold=0.6
        ).collect()
    }
    assert out[10]["verdict"] == "exact_dup" and out[10]["matched_id"] == 1
    assert out[11]["verdict"] == "near_dup" and out[11]["matched_id"] == 1
    assert out[12]["verdict"] == "new" and out[12]["matched_id"] is None


# ------------------------------------------------- duplicate spans


def _spans(df, **kw):
    from vectorsearchutil_spark.operators.dedup import duplicate_spans

    return {
        (r["id_a"], r["id_b"]): (r["longest_span"], r["n_spans"])
        for r in duplicate_spans(df, **kw).collect()
    }


def test_duplicate_spans_finds_exact_run(spark):
    """A 12-token run shared mid-document is recovered exactly;
    unrelated docs produce no pair."""
    shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 s11 s12"
    df = spark.createDataFrame(
        [
            (1, f"a1 a2 a3 {shared} a4 a5"),
            (2, f"b1 {shared} b2 b3 b4 b5 b6"),
            (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12 c13"),
        ],
        "doc_id long, text string",
    )
    assert _spans(df, width=4, min_span=12) == {(1, 2): (12, 1)}


def test_duplicate_spans_two_separate_runs(spark):
    """Two disjoint shared runs at different offsets count as two
    spans; longest_span is the max."""
    r1 = "p1 p2 p3 p4 p5 p6"
    r2 = "q1 q2 q3 q4 q5 q6 q7 q8"
    df = spark.createDataFrame(
        [
            (1, f"{r1} x1 x2 x3 {r2}"),
            (2, f"{r2} y1 y2 y3 y4 y5 {r1}"),
        ],
        "doc_id long, text string",
    )
    assert _spans(df, width=3, min_span=6) == {(1, 2): (8, 2)}


def test_duplicate_spans_partitioning_invariant_and_short_docs(spark):
    shared = " ".join(f"t{i}" for i in range(20))
    rows = [(i, f"u{i} {shared} v{i}") for i in range(10)] + [
        (100, "tiny"),
        (101, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = _spans(df, width=8, min_span=12, max_df=100)
    b = _spans(df.repartition(7), width=8, min_span=12, max_df=100)
    assert a == b
    # all 45 pairs of the 10 carriers share the 20-token run
    assert len(a) == 45
    assert all(v == (20, 1) for v in a.values())


def test_scrub_duplicate_spans_first_wins(spark):
    """The lower id keeps its text; the higher id loses the UNION of
    its shared runs; clean docs pass through (token-normalized)."""
    from vectorsearchutil_spark.operators.dedup import (
        scrub_duplicate_spans,
    )

    block1 = " ".join(f"s{i}" for i in range(12))
    block2 = " ".join(f"t{i}" for i in range(12))
    df = spark.createDataFrame(
        [
            (1, f"a1 a2 {block1} a3"),
            (2, f"b1 {block1} b2 {block2} b3"),   # loses block1 to 1
            (3, f"{block2} c1 c2 c3 c4 c5 c6"),   # loses block2 to 2
            (4, "clean doc with nothing shared at all whatsoever here"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["text"], r["n_removed_tokens"])
        for r in scrub_duplicate_spans(
            df, width=4, min_span=12, max_df=50
        ).collect()
    }
    assert got[1] == (f"a1 a2 {block1} a3", 0)
    assert got[2] == ("b1 b2 " + block2 + " b3", 12)
    assert got[3] == ("c1 c2 c3 c4 c5 c6", 12)
    assert got[4][1] == 0 and got[4][0].startswith("clean doc")


def test_scrub_union_of_overlapping_spans(spark):
    """A doc sharing overlapping runs with TWO partners loses the
    union once, not double."""
    from vectorsearchutil_spark.operators.dedup import (
        scrub_duplicate_spans,
    )

    run = " ".join(f"u{i}" for i in range(16))
    part1 = " ".join(f"u{i}" for i in range(12))         # prefix
    part2 = " ".join(f"u{i}" for i in range(4, 16))      # suffix
    df = spark.createDataFrame(
        [
            (1, f"x1 {part1} x2 x3 x4 x5 x6 x7 x8 x9"),
            (2, f"y1 {part2} y2 y3 y4 y5 y6 y7 y8 y9"),
            (5, f"z1 z2 {run} z3"),  # loses [0,15] once (union)
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["text"], r["n_removed_tokens"])
        for r in scrub_duplicate_spans(
            df, width=4, min_span=12, max_df=50
        ).collect()
    }
    assert got[5] == ("z1 z2 z3", 16)

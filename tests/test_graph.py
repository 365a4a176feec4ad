import pytest

from vectorsearchutil_spark.operators.graph import (
    pagerank,
    pagerank_over_pairs,
)


@pytest.fixture(scope="module")
def pair_df(spark):
    # triangle 1-2-3 plus pendant 4 attached to 1
    return spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (1, 4)], ["id_a", "id_b"]
    )


def _reference(pairs, damping=0.85, iters=3):
    """Plain-float PageRank for tolerance checks."""
    edges = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    nodes = sorted({d for _, d in edges})
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    n = len(nodes)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        acc = {v: 0.0 for v in nodes}
        for s, d in edges:
            acc[d] += r[s] / deg[s]
        r = {v: (1 - damping) / n + damping * acc[v] for v in nodes}
    return r, deg


def test_pagerank_matches_float_reference(spark, pair_df):
    got = {
        r["node"]: r for r in pagerank_over_pairs(pair_df).collect()
    }
    ref, deg = _reference([(1, 2), (2, 3), (1, 3), (1, 4)])
    assert set(got) == set(ref)
    for v in ref:
        assert got[v]["degree"] == deg[v]
        # fixed-point quantization loses <= iters * 2^-40 per in-edge
        assert abs(got[v]["pagerank"] - ref[v]) < 1e-6
    # hub 1 outranks pendant 4
    assert got[1]["pagerank"] > got[4]["pagerank"]


def test_pagerank_mass_conserved(spark, pair_df):
    total = sum(r["pagerank"] for r in pagerank_over_pairs(pair_df).collect())
    assert abs(total - 1.0) < 1e-5


def test_pagerank_partition_invariant_bitexact(spark):
    import random

    rng = random.Random(3)
    pairs = list({(rng.randint(0, 30), rng.randint(31, 60)) for _ in range(120)})
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    a = sorted(tuple(r) for r in pagerank_over_pairs(df).collect())
    b = sorted(
        tuple(r) for r in pagerank_over_pairs(df.repartition(16)).collect()
    )
    # the fixed-point design promise: EXACT equality, not tolerance
    assert a == b


def test_pagerank_directed_star(spark):
    # 2->1, 3->1, 1->2: node 1 receives from both spokes
    e = spark.createDataFrame(
        [(2, 1), (3, 1), (1, 2), (1, 3)], ["src", "dst"]
    )
    got = {r["node"]: r["pagerank"] for r in pagerank(e, iters=5).collect()}
    assert got[1] > got[2] >= got[3] * 0.999

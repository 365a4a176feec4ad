"""The fused size gate (``session.collect_if_small``): one Arrow job
decides a driver/distributed choice and, when small, holds the rows the
driver path uses. Pins the helper's contract and job count, equality of
every table-fed driver path with its forced ``strategy=`` path on both
sides of the gate, and the store's small-batch pull."""

import random

import numpy as np
import pytest

from vectorsearchutil_spark import store as store_mod
from vectorsearchutil_spark.operators.clustering import kmeans
from vectorsearchutil_spark.operators.dedup import connected_components
from vectorsearchutil_spark.operators.graph import pagerank, triangle_count
from vectorsearchutil_spark.operators.pq import pq_train
from vectorsearchutil_spark.session import collect_if_small
from vectorsearchutil_spark.sources.readers import load_table
from vectorsearchutil_spark.store import VectorStore


def _job_ids(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


# -- collect_if_small -----------------------------------------------------


def test_collect_if_small_at_and_above_n(spark):
    df = spark.range(0, 40, 1, 8).selectExpr("id", "id * 2 AS b")
    tbl = collect_if_small(df, 40)
    assert tbl is not None and tbl.num_rows == 40
    assert sorted(tbl.column("b").to_pylist()) == list(range(0, 80, 2))
    assert collect_if_small(df, 39) is None


def test_collect_if_small_empty_keeps_schema(spark):
    df = spark.range(0, 10, 1, 4).selectExpr(
        "id", "CAST(id AS string) AS s"
    ).filter("id < 0")
    tbl = collect_if_small(df, 5)
    assert tbl is not None and tbl.num_rows == 0
    assert tbl.column_names == ["id", "s"]
    assert str(tbl.schema.field("s").type) == "string"


def test_collect_if_small_python_rdd_input(spark):
    rows = [(i, f"t{i}") for i in range(25)]
    df = spark.createDataFrame(rows, "id long, s string")
    tbl = collect_if_small(df, 25)
    assert sorted(zip(*(tbl.column(c).to_pylist() for c in ("id", "s")))) == rows
    assert collect_if_small(df, 24) is None


@pytest.mark.parametrize("n", [5, 100])
def test_collect_if_small_runs_one_job(spark, n):
    df = spark.range(0, 60, 1, 8).selectExpr("id", "id % 7 AS k")
    jobs = _job_ids(spark, f"gate-one-job-{n}", lambda: collect_if_small(df, n))
    assert len(jobs) == 1, jobs


# -- table-fed driver paths vs forced strategies ---------------------------


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _kmeans_rows(res):
    a, c = res
    return (
        sorted(tuple(r) for r in a.collect()),
        sorted((r["cid"], tuple(r["cv"])) for r in c.collect()),
    )


def test_kmeans_gate_paths_agree(emb):
    forced = _kmeans_rows(kmeans(emb, k=5, iterations=2, strategy="distributed"))
    below = _kmeans_rows(kmeans(emb, k=5, iterations=2))
    # a 1-cell gate sends the auto path above it, to the distributed plan
    above = _kmeans_rows(kmeans(emb, k=5, iterations=2, driver_max_cells=1))
    driver = _kmeans_rows(kmeans(emb, k=5, iterations=2, strategy="driver"))
    assert below == forced == above == driver


def test_pq_train_gate_paths_agree(emb):
    n = emb.filter("embedding IS NOT NULL").count()
    gated = pq_train(emb, m=8, k=4, iterations=2)
    counted = pq_train(emb, m=8, k=4, iterations=2, n_rows=n)
    unbounded = pq_train(emb, m=8, k=4, iterations=2, train_limit=None)
    assert gated == counted == unbounded
    # above the bound: the gate job falls through to the hash sample
    limit = n // 2
    sampled = pq_train(emb, m=8, k=4, iterations=2, train_limit=limit)
    sampled_counted = pq_train(
        emb, m=8, k=4, iterations=2, train_limit=limit, n_rows=n
    )
    assert sampled == sampled_counted
    assert sampled != gated


@pytest.fixture(scope="module")
def pairs(spark):
    rng = random.Random(5)
    edges = sorted(
        {tuple(sorted(rng.sample(range(50), 2))) for _ in range(120)}
    )
    return spark.createDataFrame(edges, ["id_a", "id_b"])


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_connected_components_gate_paths_agree(pairs):
    forced = _rows(connected_components(pairs, strategy="distributed"))
    assert _rows(connected_components(pairs)) == forced
    assert _rows(connected_components(pairs, driver_max_edges=2)) == forced
    assert _rows(connected_components(pairs, strategy="driver")) == forced


def test_pagerank_gate_paths_agree(pairs):
    edges = pairs.selectExpr("id_a AS src", "id_b AS dst").unionByName(
        pairs.selectExpr("id_b AS src", "id_a AS dst")
    )
    forced = _rows(pagerank(edges, strategy="distributed"))
    assert _rows(pagerank(edges)) == forced
    assert _rows(pagerank(edges, driver_max_edges=3)) == forced
    assert _rows(pagerank(edges, strategy="driver")) == forced


def test_triangle_count_gate_paths_agree(pairs):
    forced = _rows(triangle_count(pairs, strategy="distributed"))
    assert _rows(triangle_count(pairs)) == forced
    assert _rows(triangle_count(pairs, driver_max_edges=3)) == forced
    assert forced[0][2] > 0


def test_gated_operators_on_empty_input(spark):
    empty = spark.createDataFrame([], "id_a long, id_b long")
    edges = empty.selectExpr("id_a AS src", "id_b AS dst")
    for strategy in ("auto", "driver", "distributed"):
        assert connected_components(empty, strategy=strategy).collect() == []
        assert pagerank(edges, strategy=strategy).collect() == []
        assert _rows(triangle_count(empty, strategy=strategy)) == [
            (0, 0, 0, 0, 0.0)
        ]


# -- store client batches ---------------------------------------------------

_BULK = [
    ("alpha", "o1", None),
    ("beta", None, "p"),
    ("alpha", "second alpha loses", None),
    ("gamma", None, None),
    (None, "null target", None),
    ("delta", "d", "q"),
    ("beta", "second beta loses", "x"),
    ("epsilon", None, None),
]
_APPEND = [
    ("zeta", "new", None),
    ("alpha", "exists already", None),
    ("eta", None, None),
    ("zeta", "second zeta loses", None),
    ("theta", None, "t"),
]


def _store_state(spark, tmp_path, name):
    vs = VectorStore(spark, path=str(tmp_path / name), maintain_dedup_state=True)
    schema = "target string, option1 string, option2 string"
    vs.set_data(spark.createDataFrame(_BULK, schema))
    vs.set_data(spark.createDataFrame(_APPEND, schema), append=True)
    with_vec = spark.createDataFrame(
        [("iota", [0.5] * 64), ("alpha", [1.0] * 64)],
        "target string, vector array<float>",
    )
    vs.set_data(with_vec, append=True)
    incoming = spark.createDataFrame(
        [(100, "alpha"), (101, "brand new text"), (102, "zeta"), (103, "theta")],
        "id long, target string",
    )
    verdicts = sorted(tuple(r) for r in vs.ingest_dedup_check(incoming).collect())
    data = vs.data
    return data.schema, sorted(data.collect(), key=lambda r: r["id"]), verdicts


def test_store_small_batch_path_equals_above_gate(spark, tmp_path, monkeypatch):
    small = _store_state(spark, tmp_path, "small")
    monkeypatch.setattr(store_mod, "_LOCAL_BATCH_MAX_ROWS", 0)
    big = _store_state(spark, tmp_path, "big")
    assert small[0] == big[0]
    assert [r["id"] for r in small[1]] == [r["id"] for r in big[1]]
    for a, b in zip(small[1], big[1]):
        assert a.asDict() == b.asDict()
        assert (
            np.asarray(a["vector"], np.float32).tobytes()
            == np.asarray(b["vector"], np.float32).tobytes()
        )
    # first wins, in ingest order, across partitions
    targets = [r["target"] for r in small[1]]
    assert targets[:6] == ["alpha", "beta", "gamma", None, "delta", "epsilon"]
    assert small[1][0]["option1"] == "o1"
    assert small[2] == big[2]
    assert [v[1] for v in small[2]] == ["exact_dup", "new", "exact_dup", "exact_dup"]


def test_ingest_dedup_check_scans_client_batch_once(spark, tmp_path):
    """A client's ``createDataFrame(<list>)`` batch is scanned by one
    job (the gate's pull); every later read of it hits the local
    relation, so no other job starts a Python worker for it."""
    vs = VectorStore(spark, path=str(tmp_path / "s"), maintain_dedup_state=True)
    vs.set_data(
        spark.createDataFrame([(f"doc {i} text",) for i in range(30)], ["target"])
    )
    batch = spark.createDataFrame(
        [(i, f"doc {i} text" if i % 2 else f"fresh {i}") for i in range(20)],
        "id long, target string",
    )
    rdd_id = batch._jdf.queryExecution().analyzed().rdd().id()
    vs.ingest_dedup_check(batch).collect()  # warm the code paths once
    jobs = _job_ids(
        spark, "dedup-check-scan",
        lambda: vs.ingest_dedup_check(batch).collect(),
    )
    sc = spark.sparkContext
    status = sc._jsc.sc().statusStore()
    scanning = []
    for j in jobs:
        for sid in sc.statusTracker().getJobInfo(j).stageIds:
            st = status.lastStageAttempt(sid)
            if st.status().toString() == "COMPLETE" and st.rddIds().contains(rdd_id):
                scanning.append(j)
                break
    assert len(scanning) == 1, (scanning, jobs)

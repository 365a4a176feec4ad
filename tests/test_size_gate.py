"""The size gates. The fused pull gate (``session.collect_if_small``):
one Arrow job decides a driver/distributed choice and, when small,
holds the rows the driver path uses. Pins the helper's contract and job
count, one equality test per gate between the path below it and the
path above it, the one-job build of the self-kNN and near-dup gates,
and the store's small-batch pull. A test forces a side by setting the
gate's module constant: ``-1`` sends even an empty input to the
distributed side (``collect_if_small(df, -1)`` is always None). The
measured Arrow gate (``session.arrow_wins``): at a zero wall every
operator behind it takes its Arrow twin and returns the expression
path's rows."""

import importlib
import random

import numpy as np
import pyspark.sql.functions as F
import pytest

from vectorsearchutil_spark import session
from vectorsearchutil_spark import store as store_mod
from vectorsearchutil_spark.operators import clustering, graph
from vectorsearchutil_spark.operators import similarity as Sim
from vectorsearchutil_spark.operators.clustering import kmeans, silhouette_ab
from vectorsearchutil_spark.operators.dedup import connected_components
from vectorsearchutil_spark.operators.evaluation import knn_label_vote_eval
from vectorsearchutil_spark.operators.graph import (
    pagerank,
    pagerank_over_pairs,
    triangle_count,
)
from vectorsearchutil_spark.operators.knn import (
    intrinsic_dim_twonn,
    knn_hubness,
    knn_mutual_pairs,
)
from vectorsearchutil_spark.operators.pq import pq_train
from vectorsearchutil_spark.operators.similarity import (
    build_ivf_index,
    cosine_lsh_pairs,
    neardup_pairs,
    triplet_mining,
)
from vectorsearchutil_spark.operators.zeroshot import zeroshot
from vectorsearchutil_spark.plans.explain import formatted_plan
from vectorsearchutil_spark.queries import recall_curve
from vectorsearchutil_spark.session import collect_if_small
from vectorsearchutil_spark.sources.readers import load_table
from vectorsearchutil_spark.store import VectorStore

# the module, not the ``operators.knn`` function the package re-exports
knn_mod = importlib.import_module("vectorsearchutil_spark.operators.knn")


# -- collect_if_small -----------------------------------------------------


def test_collect_if_small_at_and_above_n(spark):
    df = spark.range(0, 40, 1, 8).selectExpr("id", "id * 2 AS b")
    tbl = collect_if_small(df, 40)
    assert tbl is not None and tbl.num_rows == 40
    assert sorted(tbl.column("b").to_pylist()) == list(range(0, 80, 2))
    assert collect_if_small(df, 39) is None
    # past limit()'s 32-bit argument the gate pulls everything
    assert collect_if_small(df, 10**12).num_rows == 40


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
def test_collect_if_small_runs_one_job(spark, run_jobs, n):
    df = spark.range(0, 60, 1, 8).selectExpr("id", "id % 7 AS k")
    _, jobs = run_jobs(lambda: collect_if_small(df, n))
    assert len(jobs) == 1, jobs


# -- table-fed driver paths vs the distributed plans ------------------------


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _kmeans_rows(res):
    a, c = res
    return (
        sorted(tuple(r) for r in a.collect()),
        sorted((r["cid"], tuple(r["cv"])) for r in c.collect()),
    )


def test_kmeans_gate_paths_agree(emb, monkeypatch):
    """Driver and distributed Lloyd's produce identical assignments
    and centroids (same float64 math + HALF_UP rounding)."""
    below = _kmeans_rows(kmeans(emb, k=5, iterations=2))
    monkeypatch.setattr(clustering, "_DRIVER_MAX_CELLS", -1)
    above = _kmeans_rows(kmeans(emb, k=5, iterations=2))
    assert below == above


def test_pq_train_gate_paths_agree(emb):
    n = emb.filter("embedding IS NOT NULL").count()
    gated = pq_train(emb, m=8, k=4, iterations=2)
    at_gate = pq_train(emb, m=8, k=4, iterations=2, train_limit=n)
    unbounded = pq_train(emb, m=8, k=4, iterations=2, train_limit=None)
    assert gated == at_gate == unbounded
    # above the bound: the gate job falls through to the hash sample
    sampled = pq_train(emb, m=8, k=4, iterations=2, train_limit=n // 2)
    assert sampled != gated


# -- self-kNN and near-dup gates ------------------------------------------


def _census(emb):
    kw = dict(vector_col="embedding", id_col="vec_id")
    return (
        _rows(knn_hubness(emb, k=5, **kw)),
        _rows(knn_mutual_pairs(emb, k=5, **kw)),
    )


@pytest.mark.parametrize("blas_cells", [session.ARROW_MIN_CELLS, 0])
def test_self_knn_auto_builds_with_one_job(
    emb, monkeypatch, run_jobs, blas_cells
):
    """The gate job is the only build job on both sides of the BLAS
    gate (expr at the default, arrow at 0): no count, no vector-size
    probe, no second collect. (``knn_mutual_pairs`` builds through the
    same dispatch; its lazy checkpoints add AQE stage jobs of their
    own.)"""
    monkeypatch.setattr(session, "ARROW_MIN_CELLS", blas_cells)
    kw = dict(vector_col="embedding", id_col="vec_id")
    for op in (knn_hubness, intrinsic_dim_twonn):
        _, jobs = run_jobs(lambda: op(emb, **kw))
        assert len(jobs) == 1, (op.__name__, jobs)


def test_neardup_auto_builds_with_one_job(emb, run_jobs):
    for name, op in (
        ("neardup", lambda: neardup_pairs(emb, threshold=0.4)),
        ("lsh", lambda: cosine_lsh_pairs(emb)),
    ):
        _, jobs = run_jobs(op)
        assert len(jobs) == 1, (name, jobs)


def test_self_knn_auto_above_gate_is_blocked(emb, monkeypatch):
    below = _census(emb)
    monkeypatch.setattr(knn_mod, "_SELF_KNN_COLLECT_MAX", 3)
    hub = knn_hubness(emb, k=5, vector_col="embedding", id_col="vec_id")
    assert "FlatMapGroupsInPandas" in formatted_plan(hub)
    assert _census(emb) == below


def _degenerate_frames(spark):
    schema = "vec_id long, embedding array<double>"
    invalid = [
        (1, None),
        (2, [0.0, 0.0]),
        (3, [float("nan"), 1.0]),
        (4, [float("inf"), 0.0]),
    ]
    return {
        "empty": spark.createDataFrame([], schema),
        "all_invalid": spark.createDataFrame(invalid, schema),
    }


#: each gate of the self-kNN / near-dup family, set so that even an
#: empty input takes the side above it
_ABOVE_GATES = [
    (knn_mod, "_SELF_KNN_COLLECT_MAX"),
    (Sim, "_NEARDUP_MATRIX_MAX_CELLS"),
    (Sim, "_LSH_VERIFY_MAX_BYTES"),
]


def test_gated_self_knn_and_neardup_on_degenerate_input(spark, monkeypatch):
    """Empty and all-invalid inputs, below every gate of the family,
    then above it."""
    frames = _degenerate_frames(spark)
    _check_degenerate(frames)
    for module, name in _ABOVE_GATES:
        monkeypatch.setattr(module, name, -1)
    _check_degenerate(frames)


def _check_degenerate(frames):
    for name, df in frames.items():
        hub, mut = _census(df)
        assert hub == sorted((i, 0) for i, _ in df.collect()), name
        assert mut == [(0, 0, 0, 0, None)], name
        twonn = intrinsic_dim_twonn(
            df, vector_col="embedding", id_col="vec_id"
        )
        assert twonn.collect() == [], name
        pairs = neardup_pairs(df, threshold=0.4)
        assert pairs.collect() == [], name
        lsh = cosine_lsh_pairs(df, threshold=0.3, dim=2)
        assert lsh.collect() == [], name


def test_zero_norm_vectors_have_no_cosine_on_either_side(spark, monkeypatch):
    """A zero vector has no cosine (``cosine_similarity`` is NULL for
    it), so no pair with one passes even a threshold of -1: below and
    above the near-dup gate and the LSH verify gate, only the pair of
    the two non-zero vectors is left."""
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.0, 0.0]), (3, [1.0, 0.5]), (4, [-1.0, 0.2])],
        "vec_id long, embedding array<double>",
    )
    for above in (False, True):
        with monkeypatch.context() as m:
            if above:
                m.setattr(Sim, "_NEARDUP_MATRIX_MAX_CELLS", -1)
                m.setattr(Sim, "_LSH_VERIFY_MAX_BYTES", -1)
            pairs = neardup_pairs(df, threshold=-1.0, dim=2)
            # one plane in each of four tables: all six pairs collide
            lsh = cosine_lsh_pairs(
                df, n_planes=1, n_tables=4, threshold=-1.0, dim=2
            )
            assert _rows(pairs) == [(3, 4, -0.7894)], above
            assert _rows(lsh) == [(3, 4, -0.7894)], above


def _random_pairs(spark, seed, nodes, draws):
    rng = random.Random(seed)
    edges = sorted(
        {tuple(sorted(rng.sample(range(nodes), 2))) for _ in range(draws)}
    )
    return spark.createDataFrame(edges, ["id_a", "id_b"])


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _below_and_above(op, monkeypatch):
    """``op()``'s rows below the driver edge gate, then above it."""
    below = _rows(op())
    with monkeypatch.context() as m:
        m.setattr(graph, "_DRIVER_MAX_EDGES", -1)
        return below, _rows(op())


#: a chain 1-2-3-4-9-8 (deep: several propagation rounds), islands,
#: and a reversed pair
_CC_CHAIN = [(2, 1), (2, 3), (3, 4), (4, 9), (9, 8), (10, 11), (21, 20), (7, 3)]


def test_connected_components_gate_paths_agree(spark, monkeypatch):
    """Union-find on the driver ≡ min-label propagation: the
    identical fixpoint, on a random graph and on a deep chain."""
    cases = {
        "random": _random_pairs(spark, 5, 50, 120),
        "chain": spark.createDataFrame(_CC_CHAIN, ["id_a", "id_b"]),
    }
    for case, pairs in cases.items():
        below, above = _below_and_above(
            lambda: connected_components(pairs), monkeypatch
        )
        assert below == above, case
    assert {(1, 1), (9, 1), (7, 1)} <= set(below)  # the chain collapses


def test_pagerank_gate_paths_agree(spark, monkeypatch):
    """Driver fixed-point path ≡ iterative-join path, EXACT tuple
    equality: a symmetrized graph, an undirected pair list through
    ``pagerank_over_pairs``, and a directed edge list."""
    pairs = _random_pairs(spark, 5, 50, 120)
    rng = random.Random(7)
    bipartite = spark.createDataFrame(
        list({(rng.randint(0, 40), rng.randint(41, 90)) for _ in range(200)}),
        ["id_a", "id_b"],
    )
    # node 100 is only a src (no rank row): it contributes nothing and
    # is absent from the output — the inner-join semantics the driver
    # path replicates
    directed = spark.createDataFrame(
        [(100, 1), (1, 2), (2, 1), (1, 3), (3, 1)], ["src", "dst"]
    )
    cases = {
        "symmetric": lambda: pagerank(
            pairs.selectExpr("id_a AS src", "id_b AS dst").unionByName(
                pairs.selectExpr("id_b AS src", "id_a AS dst")
            )
        ),
        "over_pairs": lambda: pagerank_over_pairs(bipartite),
        "directed": lambda: pagerank(directed),
    }
    for case, op in cases.items():
        below, above = _below_and_above(op, monkeypatch)
        assert below == above, case
    assert 100 not in {t[0] for t in below}


def test_triangle_count_gate_paths_agree(spark, monkeypatch):
    """Driver census ≡ oriented-join census, exact tuple equality."""
    for seed, nodes, draws in ((5, 50, 120), (11, 60, 300)):
        pairs = _random_pairs(spark, seed, nodes, draws)
        below, above = _below_and_above(
            lambda: triangle_count(pairs), monkeypatch
        )
        assert below == above, seed
        assert below[0][2] > 0, seed  # the random graph has triangles


def test_gated_operators_on_empty_input(spark, monkeypatch):
    empty = spark.createDataFrame([], "id_a long, id_b long")
    edges = empty.selectExpr("id_a AS src", "id_b AS dst")
    for gate in (graph._DRIVER_MAX_EDGES, -1):
        monkeypatch.setattr(graph, "_DRIVER_MAX_EDGES", gate)
        assert connected_components(empty).collect() == []
        assert pagerank(edges).collect() == []
        assert _rows(triangle_count(empty)) == [(0, 0, 0, 0, 0.0)]


# -- the measured Arrow gate -----------------------------------------------


@pytest.fixture(scope="module")
def ivf_cents(emb):
    # bigint ids, so the IVF schema check sees a type the assignment's
    # own int cid is not
    _, cents = kmeans(emb, k=4, iterations=1)
    return cents.selectExpr(
        "CAST(cid AS bigint) AS centroid_id", "cv AS centroid_vec"
    )


def _as_labels(cents):
    return cents.selectExpr(
        "centroid_id AS label_idx",
        "CAST(centroid_id AS string) AS label",
        "centroid_vec AS label_vec",
    )


def _cent_list(cents):
    return [(r[0], list(r[1])) for r in cents.collect()]


def _wide_ids(cents):
    # bigint ids beyond 32 bits, in the same order
    return cents.selectExpr(
        "centroid_id * 4294967296 + 1 AS centroid_id", "centroid_vec"
    )


def _with_null_vectors(emb):
    # a NULL-vector query (ids below recall_curve's query_below are
    # queries) and a NULL-vector corpus row
    df = emb.select("vec_id", "embedding")
    extra = df.sparkSession.createDataFrame([(-1, None), (10**6, None)], df.schema)
    return df.unionByName(extra)


#: every operator behind ``session.arrow_wins``, on the sf embeddings
_MEASURED_TWINS = {
    "zeroshot": lambda emb, c: zeroshot(
        emb, _as_labels(c), vector_col="embedding", id_col="vec_id"
    ),
    "build_ivf_index": lambda emb, c: build_ivf_index(emb, c),
    "build_ivf_index_wide_ids": lambda emb, c: build_ivf_index(
        emb, _wide_ids(c)
    ),
    "kmeans_distributed": lambda emb, c: kmeans(emb, k=4, iterations=2)[0],
    "silhouette_ab": lambda emb, c: silhouette_ab(emb, _cent_list(c)),
    "triplet_mining": lambda emb, c: triplet_mining(emb),
    "recall_curve": lambda emb, c: recall_curve(_with_null_vectors(emb), c),
    "knn_label_vote_eval": lambda emb, c: knn_label_vote_eval(
        emb, F.col("vec_id") % 10 == 0, k=5
    ),
}


@pytest.mark.parametrize("name", sorted(_MEASURED_TWINS))
def test_measured_gate_auto_picks_arrow_at_zero_wall(
    emb, ivf_cents, monkeypatch, name
):
    """At the default wall the sf inputs stay on the expression path;
    with ``ARROW_MIN_CELLS`` at 0, ``auto`` takes the Arrow twin (a
    MapInPandas in the plan, or a ``knn_batch_matrix`` call where a
    lazy checkpoint hides the plan) and returns the same rows under
    the same schema."""
    matrix_calls = []
    real_matrix = Sim.knn_batch_matrix

    def spy(*args, **kwargs):
        matrix_calls.append(1)
        return real_matrix(*args, **kwargs)

    monkeypatch.setattr(Sim, "knn_batch_matrix", spy)

    def arrow_path(df):
        plan = df._jdf.queryExecution().toString()
        return "MapInPandas" in plan or bool(matrix_calls)

    # k-means' driver gate off, so its distributed assignment is the
    # one measured
    monkeypatch.setattr(clustering, "_DRIVER_MAX_CELLS", -1)
    op = _MEASURED_TWINS[name]
    expr = op(emb, ivf_cents)
    assert not arrow_path(expr)
    monkeypatch.setattr(session, "ARROW_MIN_CELLS", 0)
    arrow = op(emb, ivf_cents)
    assert arrow_path(arrow)
    assert arrow.schema == expr.schema
    assert _rows(arrow) == _rows(expr)


def test_build_ivf_index_keeps_centroid_id_type_and_values(emb, ivf_cents):
    """The assignment runs on centroid positions; the position maps
    back to the centroid table's own id, whatever its type or width."""

    def lists(cents):
        out = build_ivf_index(emb, cents)
        return out.schema["centroid_id"].dataType.simpleString(), {
            r[0]: r[1] for r in out.select("vec_id", "centroid_id").collect()
        }

    kind, ref = lists(ivf_cents)
    assert kind == "bigint" and set(ref.values()) <= {0, 1, 2, 3}
    assert lists(_wide_ids(ivf_cents)) == (
        "bigint",
        {v: c * 2**32 + 1 for v, c in ref.items()},
    )
    text = ivf_cents.selectExpr(
        "CAST(centroid_id AS string) AS centroid_id", "centroid_vec"
    )
    assert lists(text) == ("string", {v: str(c) for v, c in ref.items()})


def test_build_ann_index_sizes_kmeans_gate_by_store_width(
    spark, tmp_path, monkeypatch
):
    """The k-means pull gate is ``_DRIVER_MAX_CELLS // dim`` rows, so
    the store passes its own vector width rather than the 64-d
    default (a 384-d store would pull 6× the cell budget)."""
    seen = []

    def spy(*args, **kwargs):
        seen.append(kwargs.get("dim"))
        return kmeans(*args, **kwargs)

    monkeypatch.setattr(clustering, "kmeans", spy)
    vs = VectorStore(spark, acid_path=str(tmp_path / "s"))
    vs.set_data(
        spark.createDataFrame([(f"doc {i}",) for i in range(20)], ["target"])
    )
    vs.build_ann_index(n_lists=2)
    assert seen == [vs.vec_size]


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
    vs = VectorStore(
        spark, acid_path=str(tmp_path / name), maintain_dedup_state=True
    )
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


def test_ingest_dedup_check_scans_client_batch_once(
    spark, tmp_path, run_jobs
):
    """A client's ``createDataFrame(<list>)`` batch is scanned by one
    job (the gate's pull); every later read of it hits the local
    relation, so no other job starts a Python worker for it."""
    vs = VectorStore(
        spark, acid_path=str(tmp_path / "s"), maintain_dedup_state=True
    )
    vs.set_data(
        spark.createDataFrame([(f"doc {i} text",) for i in range(30)], ["target"])
    )
    batch = spark.createDataFrame(
        [(i, f"doc {i} text" if i % 2 else f"fresh {i}") for i in range(20)],
        "id long, target string",
    )
    rdd_id = batch._jdf.queryExecution().analyzed().rdd().id()
    vs.ingest_dedup_check(batch).collect()  # warm the code paths once
    _, jobs = run_jobs(lambda: vs.ingest_dedup_check(batch).collect())
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    status = sc._jsc.sc().statusStore()
    scanning = []
    for j in jobs:
        for sid in sc.statusTracker().getJobInfo(j).stageIds:
            try:
                st = status.lastStageAttempt(sid)
            except Py4JJavaError:
                # once the store holds spark.ui.retainedStages stages it
                # evicts skipped stages first (no completion time), so a
                # missing stage never ran
                continue
            if st.status().toString() == "COMPLETE" and st.rddIds().contains(rdd_id):
                scanning.append(j)
                break
    assert len(scanning) == 1, (scanning, jobs)

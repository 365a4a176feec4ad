"""The store's driver path for small batches and the state it holds.

A batch that ``collect_if_small`` pulled goes through ``set_data``
and ``add_to_ann_index`` in Arrow and numpy, with the store's max id
and its IVF index (centroids, lists schema, max indexed id) held on
the store object. Pins that path's equality with the distributed one
(``_LOCAL_BATCH_MAX_ROWS = 0``) in every store mode, the held state
across reopen, replace and schema-less manifests, the healing of an
interrupted ``optimize_ann_index`` swap, and the job budget of one
small store round."""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from vectorsearchutil_spark import store as store_mod
from vectorsearchutil_spark.store import VectorStore

_SCHEMA = "target string, option1 string"
_BULK = [
    ("alpha beta gamma delta", "a"),
    ("beta gamma delta epsilon", "b"),
    ("alpha beta gamma delta", "dup in batch loses"),
    (None, "null target"),
] + [(f"bulk doc {i} words here", f"o{i}") for i in range(20)]
_APPEND_1 = [
    ("zeta eta theta iota", "new"),
    ("alpha beta gamma delta", "re-sent loses"),
    ("kappa lambda mu nu", "new"),
    ("zeta eta theta iota", "dup in batch loses"),
    (None, "second null target"),
    ("bulk doc 3 words here", "re-sent loses"),
]
_APPEND_2 = [
    ("xi omicron pi rho", "with vector"),
    ("kappa lambda mu nu", "re-sent loses"),
    ("sigma tau upsilon phi", "with vector"),
]


def _store_kw(mode, tmp_path, name):
    if mode == "acid":
        return {"acid_path": str(tmp_path / name)}
    if mode == "table":
        return {"table": f"vs_held_{name}"}
    return {}


def _round_trip(spark, tmp_path, mode, name):
    """Bulk load, build the index, two appends with index adds; every
    artifact the two paths must agree on."""
    kw = _store_kw(mode, tmp_path, name)
    VectorStore(spark, **kw).reset_db()
    vs = VectorStore(spark, maintain_dedup_state=True, **kw)
    index_path = str(tmp_path / f"{name}_ivf")
    try:
        vs.set_data(spark.createDataFrame(_BULK, _SCHEMA))
        vs.build_ann_index(n_lists=3, index_path=index_path)
        vs.set_data(spark.createDataFrame(_APPEND_1, _SCHEMA), append=True)
        first_add = vs.add_to_ann_index()
        rng = np.random.RandomState(5)
        with_vec = spark.createDataFrame(
            [(t, o, [float(x) for x in rng.randn(vs.vec_size)])
             for t, o in _APPEND_2],
            _SCHEMA + ", vector array<float>",
        )
        vs.set_data(with_vec, append=True)
        second_add = vs.add_to_ann_index()
        # every target is held already: an empty commit, nothing to add
        vs.set_data(spark.createDataFrame(_APPEND_2, _SCHEMA), append=True)
        third_add = vs.add_to_ann_index()
        data = [
            (r["id"], r["target"], r["option1"],
             np.asarray(r["vector"], np.float32).tobytes())
            for r in vs.data.orderBy("id").collect()
        ]
        state = {
            part: sorted(map(tuple, df.collect()), key=repr)
            for part, df in vs._dedup_state.items()
        }
        lists = sorted(
            (r["id"], r["centroid_id"])
            for r in spark.read.parquet(os.path.join(index_path, "lists"))
            .select("id", "centroid_id").collect()
        )
        tx_schemas = []
        if vs.acid is not None:
            for d in vs.acid.dirs():
                files = sorted(
                    glob.glob(os.path.join(vs.acid.data_dir, d, "*.parquet"))
                )
                tx_schemas.append(
                    (len(files), pq.read_schema(files[0]).remove_metadata())
                )
        return data, state, lists, tx_schemas, (first_add, second_add, third_add)
    finally:
        VectorStore(spark, **kw).reset_db()


@pytest.mark.parametrize("mode", ["memory", "table", "acid"])
def test_driver_path_equals_distributed_path(spark, tmp_path, mode, monkeypatch):
    local = _round_trip(spark, tmp_path, mode, f"local_{mode}")
    monkeypatch.setattr(store_mod, "_LOCAL_BATCH_MAX_ROWS", 0)
    dist = _round_trip(spark, tmp_path, mode, f"dist_{mode}")
    data, state, lists, tx_schemas, adds = local
    assert data == dist[0]
    assert state == dist[1]
    assert lists == dist[2]
    assert adds == dist[4] == (3, 2, 0)
    # one file per append, the same parquet schema in every directory
    assert tx_schemas == dist[3]
    if mode == "acid":
        assert [n for n, _ in tx_schemas] == [1, 1, 1, 1]
    # first wins in the batch and against the store; NULL targets are
    # never deduplicated against the store
    assert [t for _, t, _, _ in data].count(None) == 2
    opts = {t: o for _, t, o, _ in data if t is not None}
    assert opts["alpha beta gamma delta"] == "a"
    assert opts["zeta eta theta iota"] == "new"
    assert opts["kappa lambda mu nu"] == "new"
    assert [i for i, *_ in data] == list(range(1, len(data) + 1))
    assert [i for i, _ in lists] == [i for i, *_ in data]


def test_reopened_store_appends_then_extends_index(spark, tmp_path):
    path = str(tmp_path / "st")
    index_path = str(tmp_path / "ivf")
    vs = VectorStore(spark, acid_path=path)
    vs.set_data(spark.createDataFrame(_BULK, _SCHEMA))
    vs.build_ann_index(n_lists=3, index_path=index_path)
    n_bulk = vs.count()

    fresh = VectorStore(spark, acid_path=path)
    # the manifest records the max id; the index is not held
    assert fresh._max_id == n_bulk and fresh._ivf is None
    fresh.set_data(spark.createDataFrame(_APPEND_1, _SCHEMA), append=True)
    fresh.set_data(spark.createDataFrame(_APPEND_2, _SCHEMA), append=True)
    ids = sorted(r["id"] for r in fresh.data.collect())
    assert ids == list(range(1, n_bulk + 6))
    assert fresh.add_to_ann_index(index_path=index_path) == 5
    listed = [
        r["id"]
        for r in spark.read.parquet(os.path.join(index_path, "lists"))
        .select("id").collect()
    ]
    assert sorted(listed) == ids
    # the add left the index held: the next add is the held path
    assert fresh._ivf is not None and fresh._ivf.max_id == ids[-1]
    assert fresh.add_to_ann_index() == 0

    fresh.set_data(spark.createDataFrame(_APPEND_2, _SCHEMA))
    assert fresh._ivf is None
    assert fresh._max_id == len(_APPEND_2)


def test_manifest_without_schema_reads_the_same_rows(spark, tmp_path):
    path = str(tmp_path / "st")
    vs = VectorStore(spark, acid_path=path)
    vs.set_data(spark.createDataFrame(_BULK, _SCHEMA))
    vs.set_data(spark.createDataFrame(_APPEND_1, _SCHEMA), append=True)
    want = sorted(map(tuple, vs.data.collect()), key=repr)
    latest = os.path.join(path, "_log", f"v{vs.acid.latest_version()}.json")
    with open(latest) as fh:
        manifest = json.load(fh)
    assert "schema" in manifest
    del manifest["schema"]
    with open(latest, "w") as fh:
        json.dump(manifest, fh)
    reopened = VectorStore(spark, acid_path=path)
    assert sorted(map(tuple, reopened.data.collect()), key=repr) == want
    # an append onto a parent without a schema records none either
    reopened.set_data(spark.createDataFrame(_APPEND_2, _SCHEMA), append=True)
    assert "schema" not in reopened.acid._manifest(reopened.acid.latest_version())
    assert reopened.count() == len(want) + 2  # one target is re-sent


def test_optimize_interrupted_between_renames_heals(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "st")
    vs = VectorStore(spark, acid_path=path)
    vs.set_data(spark.createDataFrame(_BULK, _SCHEMA))
    vs.build_ann_index(n_lists=3)
    vs.set_data(spark.createDataFrame(_APPEND_1, _SCHEMA), append=True)
    vs.add_to_ann_index()
    q = "alpha beta gamma delta"
    want = [r["id"] for r in vs.query_ann(q, k=5, n_probe=3).collect()]

    real_rename = os.rename
    calls = []

    def crash_on_second(src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise OSError("crash between the renames")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_second)
    with pytest.raises(OSError):
        vs.optimize_ann_index()
    monkeypatch.setattr(os, "rename", real_rename)
    lists = os.path.join(path + "__ivf", "lists")
    assert not os.path.exists(lists)

    reopened = VectorStore(spark, acid_path=path)
    got = reopened.query_ann(q, k=5, n_probe=3, index_path=path + "__ivf")
    assert [r["id"] for r in got.collect()] == want
    assert reopened.optimize_ann_index(index_path=path + "__ivf") <= 3
    got = reopened.query_ann(q, k=5, n_probe=3, index_path=path + "__ivf")
    assert [r["id"] for r in got.collect()] == want


def _job_count(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_store_round_job_budget(spark, tmp_path):
    """One small round of a file-backed store with dedup state, as a
    client feeds it: the dedup check of the batch runs at most 3 Spark
    jobs (the pull and two state probes), the append at most 6, the
    index add at most 2, and building the exact and ANN reads runs
    none (the jobs are in their result's collect)."""
    rng = np.random.RandomState(2)
    words = [f"w{i}" for i in range(60)]

    def docs(n, first):
        return [
            (f"doc{first + i} " + " ".join(rng.choice(words, 8)), "x")
            for i in range(n)
        ]

    bulk = docs(200, 0)
    vs = VectorStore(spark, acid_path=str(tmp_path / "st"),
                     maintain_dedup_state=True)
    vs.set_data(spark.createDataFrame(bulk, _SCHEMA))
    vs.build_ann_index(n_lists=4)
    jobs = {}
    for r in range(2):  # the first round warms the code paths
        batch = docs(45, 1000 + 100 * r) + bulk[r * 5:r * 5 + 5]
        verdicts, jobs["check"] = _job_count(
            spark, f"budget-check-{r}",
            lambda: vs.ingest_dedup_check(spark.createDataFrame(
                [(i, t) for i, (t, _) in enumerate(batch)],
                "id long, target string")).collect(),
        )
        resent = {v["id"]: v["matched_id"] for v in verdicts
                  if v["verdict"] == "exact_dup"}
        assert resent == {45 + j: r * 5 + j + 1 for j in range(5)}
        _, jobs["append"] = _job_count(
            spark, f"budget-append-{r}",
            lambda: vs.set_data(
                spark.createDataFrame(batch, _SCHEMA), append=True),
        )
        added, jobs["add"] = _job_count(
            spark, f"budget-add-{r}", vs.add_to_ann_index)
        assert added == 45
        exact, jobs["query"] = _job_count(
            spark, f"budget-query-{r}", lambda: vs.query("doc1 w1 w2", k=5))
        approx, jobs["query_ann"] = _job_count(
            spark, f"budget-ann-{r}", lambda: vs.query_ann("doc1 w1 w2", k=5))
        assert len(exact.collect()) == len(approx.collect()) == 5
    assert jobs["check"] <= 3, jobs
    assert jobs["append"] <= 6, jobs
    assert jobs["add"] <= 2, jobs
    assert jobs["query"] == 0 and jobs["query_ann"] == 0, jobs
    assert vs.count() == 290

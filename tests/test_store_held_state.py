"""The store's driver path for small batches and the state it holds.

A batch that ``collect_if_small`` pulled goes through ``set_data``
and ``add_to_ann_index`` in Arrow and numpy, and a manifest store
writes its parts from the driver, with the store's max id and its IVF
index (the index manifest and centroids) held on the store object.
Pins that path's equality with the distributed one
(``_LOCAL_BATCH_MAX_ROWS = 0``) in every store mode, one recorded
schema per part of a store and index that both paths wrote, the held
state across reopen, replace and schema-less manifests, an index write
cut short at each of its writes and its commit, and the job budget of
one small store round."""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from vectorsearchutil_spark import store as store_mod
from vectorsearchutil_spark.sources.manifest import DATA, ManifestLog
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


def _index_lists(index_path):
    """(id, centroid_id) of every row the index's latest version lists,
    read through its manifest."""
    log = ManifestLog(index_path)
    return sorted(
        (i, int(d.rsplit("=", 1)[1]))
        for d in log.dirs()
        for i in pq.read_table(os.path.join(log.data_dir, d), columns=["id"])
        .column("id").to_pylist()
    )


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
        lists = _index_lists(index_path)
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


def test_parts_of_either_path_record_one_schema(
    spark, tmp_path, monkeypatch, run_jobs
):
    """A manifest store fed by both paths: one append above the gate
    (``_LOCAL_BATCH_MAX_ROWS = 0``) and one below it, in both orders,
    each followed by an index add on its side. Every part of the store
    and of its index keeps its recorded schema (a commit drops one that
    differs from its parent's, and every later read of the part would
    infer it with a job), so a reopen and a ``query_ann`` build run no
    job. The directories either path wrote read back with one Arrow
    schema and int32 ids, and both orders store the same rows, state
    and lists."""
    gate = store_mod._LOCAL_BATCH_MAX_ROWS
    results = []
    for order in ((0, gate), (gate, 0)):
        path = str(tmp_path / f"st_{order[0]}")
        vs = VectorStore(spark, acid_path=path, maintain_dedup_state=True)
        vs.set_data(spark.createDataFrame(_BULK, _SCHEMA))
        vs.build_ann_index(n_lists=3)
        for bound, batch in zip(order, (_APPEND_1, _APPEND_2)):
            with monkeypatch.context() as m:
                m.setattr(store_mod, "_LOCAL_BATCH_MAX_ROWS", bound)
                vs.set_data(spark.createDataFrame(batch, _SCHEMA), append=True)
                assert vs.add_to_ann_index() > 0
        for log in (vs.acid, ManifestLog(path + "__ivf")):
            listed = log._parts(log.manifest(log.latest_version()))
            for part, record in listed.items():
                assert record.get("schema") is not None, (order, part)
                read = {
                    spark.read.parquet(os.path.join(log.base, part, d))
                    .toArrow().schema
                    for d in record["dirs"]
                }
                assert len(read) == 1, (order, part, read)
                if part != "centroids":
                    assert read.pop().field("id").type == pa.int32(), part
        reopened, jobs = run_jobs(lambda: VectorStore(
            spark, acid_path=path, maintain_dedup_state=True))
        assert jobs == [], order
        _, jobs = run_jobs(lambda: vs.query_ann("zeta eta theta iota", k=3))
        assert jobs == [], order
        results.append((
            sorted(map(tuple, reopened.data.collect()), key=repr),
            {part: sorted(map(tuple, df.collect()), key=repr)
             for part, df in reopened._dedup_state.items()},
            _index_lists(path + "__ivf"),
        ))
    assert results[0] == results[1]


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
    assert [i for i, _ in _index_lists(index_path)] == ids
    # the add left the index held: the next add is the held path
    assert fresh._ivf is not None and fresh._ivf.max_id == ids[-1]
    assert fresh.add_to_ann_index() == 0

    # a replace drops the index it no longer matches
    fresh.set_data(spark.createDataFrame(_APPEND_2, _SCHEMA))
    assert fresh._ivf is None and not os.path.exists(index_path)
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
    assert "schema" not in reopened.acid.manifest(reopened.acid.latest_version())
    assert reopened.count() == len(want) + 2  # one target is re-sent


def test_replace_and_reset_drop_the_index(spark, tmp_path):
    """A replace leaves no index that lists the rows it removed, and a
    reset leaves none for the next store at the same path."""
    path = str(tmp_path / "st")
    vs = VectorStore(spark, acid_path=path)
    vs.set_data(spark.createDataFrame(
        [(f"old doc {i}",) for i in range(30)], "target string"))
    vs.build_ann_index(n_lists=3)
    vs.set_data(spark.createDataFrame(
        [(f"new doc {i}",) for i in range(10)], "target string"))
    assert vs.add_to_ann_index() == 0
    assert vs.query_ann("new doc 3") is None
    vs.build_ann_index(n_lists=3)
    got = vs.query_ann("new doc 3", k=3, n_probe=3).collect()
    assert got[0]["target"] == "new doc 3"
    assert all(r["target"].startswith("new doc") for r in got)
    vs.reset_db()
    assert not os.path.exists(path + "__ivf")
    again = VectorStore(spark, acid_path=path)
    again.set_data(spark.createDataFrame(
        [(f"newer doc {i}",) for i in range(5)], "target string"))
    assert again.query_ann("old doc 3") is None


def _cut_short(monkeypatch, where):
    """Make the index writer raise at ``where``: right after writing a
    directory of that part, before the commit's link (``"commit"``) or
    right after it (``"committed"``)."""
    commit = ManifestLog.commit

    def cut(write):
        def cut_write(self, part, *args, **kwargs):
            record = write(self, part, *args, **kwargs)
            if part == where:
                raise OSError(f"cut short after writing {part}")
            return record
        return cut_write

    def cut_commit(self, changes, max_id):
        if where == "commit":
            raise OSError("cut short before the commit")
        version = commit(self, changes, max_id)
        if where == "committed":
            raise OSError("cut short after the commit")
        return version

    for name in ("write", "write_partitioned"):
        monkeypatch.setattr(ManifestLog, name, cut(getattr(ManifestLog, name)))
    monkeypatch.setattr(ManifestLog, "commit", cut_commit)


@pytest.mark.parametrize(
    "op", ["build", "add", "add_distributed", "optimize"])
def test_index_write_cut_short_reopens_before_or_after(
    spark, tmp_path, monkeypatch, op
):
    """An index build, add or optimize that fails at any of its writes
    or before its commit leaves the index as it was; one that fails
    after the commit leaves it as the call would. A reopened store's
    ``query_ann`` over every list says which, and the lists hold every
    indexed row once."""
    path = str(tmp_path / "st")
    vs = VectorStore(spark, acid_path=path)
    vs.set_data(spark.createDataFrame(_BULK, _SCHEMA))
    vs.build_ann_index(n_lists=3)
    vs.set_data(spark.createDataFrame(_APPEND_1, _SCHEMA), append=True)
    if op == "optimize":
        vs.add_to_ann_index()
    if op == "add_distributed":
        monkeypatch.setattr(store_mod, "_LOCAL_BATCH_MAX_ROWS", 0)
    q = "zeta eta theta iota"  # appended: indexed only after an add

    def result():
        got = VectorStore(spark, acid_path=path).query_ann(q, k=5, n_probe=3)
        return [r["id"] for r in got.collect()]

    before = result()
    after = [r["id"] for r in vs.query(q, k=5).collect()]
    assert (before == after) == (op == "optimize")
    if op == "build":
        call, parts = (lambda s: s.build_ann_index(n_lists=3)), [
            DATA, "centroids"]
    elif op == "optimize":
        call, parts = (lambda s: s.optimize_ann_index()), [DATA]
    else:
        call, parts = (lambda s: s.add_to_ann_index()), [DATA]
    for where in [*parts, "commit", "committed"]:
        with monkeypatch.context() as m:
            _cut_short(m, where)
            with pytest.raises(OSError):
                call(VectorStore(spark, acid_path=path))
        assert result() == (after if where == "committed" else before), where
    reopened = VectorStore(spark, acid_path=path)
    assert reopened.add_to_ann_index() == 0
    ids = [i for i, _ in _index_lists(path + "__ivf")]
    assert ids == sorted(r["id"] for r in reopened.data.collect())


def test_store_round_job_budget(spark, tmp_path, run_jobs):
    """One small round of a file-backed store with dedup state, as a
    client feeds it: the dedup check of the batch runs at most 3 Spark
    jobs (the pull and two state probes), the append at most 2 (the
    pull and the probe of the targets the store holds: the rows and
    their state are written from the driver), the index add at most 1
    (the pull of the unindexed rows), and building the exact and ANN
    reads runs none (the jobs are in their result's collect)."""
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
        verdicts, jobs["check"] = run_jobs(
            lambda: vs.ingest_dedup_check(spark.createDataFrame(
                [(i, t) for i, (t, _) in enumerate(batch)],
                "id long, target string")).collect(),
        )
        resent = {v["id"]: v["matched_id"] for v in verdicts
                  if v["verdict"] == "exact_dup"}
        assert resent == {45 + j: r * 5 + j + 1 for j in range(5)}
        _, jobs["append"] = run_jobs(
            lambda: vs.set_data(
                spark.createDataFrame(batch, _SCHEMA), append=True),
        )
        added, jobs["add"] = run_jobs(vs.add_to_ann_index)
        assert added == 45
        exact, jobs["query"] = run_jobs(lambda: vs.query("doc1 w1 w2", k=5))
        approx, jobs["query_ann"] = run_jobs(
            lambda: vs.query_ann("doc1 w1 w2", k=5))
        assert len(exact.collect()) == len(approx.collect()) == 5
    n = {step: len(ids) for step, ids in jobs.items()}
    assert n["check"] <= 3, jobs
    assert n["append"] <= 2, jobs
    assert n["add"] <= 1, jobs
    assert n["query"] == 0 and n["query_ann"] == 0, jobs
    assert vs.count() == 290

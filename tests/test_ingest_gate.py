"""The ingest dedup gate's driver path for small batches.

``incremental_ingest_dedup_with_state`` gates a batch of at most
``INGEST_GATE_MAX_ROWS`` rows on the driver: it signs the batch
in-process and reads only the state rows the batch touches. Pins that
path's equality with the distributed plan (the gate constant patched
to 0) over NULLs, duplicate ids, short and oddly spaced texts and
unicode, in every store mode and in the stateless form; the driver
signer's equality with ``build_ingest_dedup_state``, rows and types;
the quiet open of a new store and the re-signing of one whose manifest
lists no dedup state; and the in-memory store's cache, which holds one
copy of the store and its state across appends."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from vectorsearchutil_spark.operators import dedup as dd
from vectorsearchutil_spark.session import in_list
from vectorsearchutil_spark.sources.manifest import nullable_schema
from vectorsearchutil_spark.store import VectorStore

_STORE = [
    "the quick brown fox jumps over the lazy dog",
    "pack my box with five dozen liquor jugs",
    "how vexingly quick daft zebras jump today",
    "a b",
    "pack  my box  with five dozen liquor jugs",
    "tab\tseparated words stay inside tokens here",
    "ünïcode wörds här and thère ok",
    "x y z w",
    None,
]
_INCOMING = [
    (100, "pack my box with five dozen liquor jugs"),
    (101, "the quick brown fox jumps over the lazy cat"),
    (102, "the quick brown fox jumps over the lazy dog today"),
    (103, "completely different sentence about spark plans"),
    (None, "how vexingly quick daft zebras jump today"),
    (None, "ünïcode wörds här and thère"),
    (104, None),
    (105, "a b"),
    (106, "a  b"),
    (107, " pack my box with five dozen liquor jugs "),
    (108, "tab\tseparated words stay inside tokens here"),
    (108, "tab separated words stay inside tokens here"),
    (109, "ünïcode wörds här and thère ok!"),
    (110, "ünïcode wörds här and thère"),
    (111, "x y z w"),
    (111, "x y z w"),
    (112, "the quick brown fox jumps over the lazy cat"),
    (112, "the quick brown fox jumps over the lazy cat"),
    (113, "how vexingly quick daft zebras jump tomorrow"),
    (113, "how vexingly quick daft zebras jump today"),
]
_THRESHOLDS = (0.5, 0.8, 1.0)


def _incoming(spark, rows=_INCOMING):
    return spark.createDataFrame(rows, "id long, target string")


def _both_paths(monkeypatch, gate):
    """``gate()`` on the driver path and on the distributed plan:
    (sorted rows, schema) of each."""
    out = []
    for bound in (dd.INGEST_GATE_MAX_ROWS, 0):
        monkeypatch.setattr(dd, "INGEST_GATE_MAX_ROWS", bound)
        df = gate()
        out.append((sorted(map(tuple, df.collect()), key=repr), df.schema))
    return out


def _store_kw(mode, tmp_path, name):
    if mode == "acid":
        return {"acid_path": str(tmp_path / name)}
    if mode == "table":
        return {"table": f"vs_gate_{name}"}
    return {}


@pytest.mark.parametrize(
    "mode,state",
    [("memory", True), ("table", True), ("acid", True), ("memory", False)],
)
def test_store_gate_driver_path_equals_plan(
    spark, tmp_path, monkeypatch, mode, state
):
    kw = _store_kw(mode, tmp_path, f"{mode}_{state}")
    VectorStore(spark, **kw).reset_db()
    vs = VectorStore(spark, maintain_dedup_state=state, **kw)
    try:
        vs.set_data(
            spark.createDataFrame([(t,) for t in _STORE[:5]], "target string")
        )
        vs.set_data(
            spark.createDataFrame([(t,) for t in _STORE[5:]], "target string"),
            append=True,
        )
        assert (vs._dedup_state is not None) == state
        inc = _incoming(spark)
        verdicts = {}
        for th in _THRESHOLDS:
            local, dist = _both_paths(
                monkeypatch, lambda: vs.ingest_dedup_check(inc, threshold=th)
            )
            assert local == dist, th
            verdicts[th] = local[0]
        got = {r[0]: r[1:] for r in verdicts[0.8] if r[0] is not None}
        assert got[100] == ("exact_dup", 2)
        assert got[101] == ("new", None)
        assert got[102] == ("near_dup", 1)
        assert got[105] == ("exact_dup", 4)
        assert got[106] == ("new", None)
        assert got[107] == ("near_dup", 2)
        assert got[108] == ("exact_dup", 6)
        assert got[111] == ("exact_dup", 8)
        assert got[113] == ("exact_dup", 3)
        assert [r for r in verdicts[0.8] if r[0] is None] == [
            (None, "new", None)
        ] * 2
        assert ("near_dup", 1) in {r[1:] for r in verdicts[0.5]}
        # the re-spaced copy of store row 2 is a near dup at 1.0
        assert {r[0]: r[1:] for r in verdicts[1.0]}[107] == ("near_dup", 2)
    finally:
        VectorStore(spark, **kw).reset_db()


def test_stateless_gate_driver_path_equals_plan(spark, monkeypatch):
    existing = spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(_STORE)]
        + [(None, _STORE[0]), (3, "a second row of id three here")],
        "doc_id long, text string",
    )
    inc = _incoming(spark).toDF("doc_id", "text")
    for th in _THRESHOLDS:
        local, dist = _both_paths(
            monkeypatch,
            lambda: dd.incremental_ingest_dedup(existing, inc, threshold=th),
        )
        assert local == dist, th


def test_gate_empty_state_and_empty_batch(spark, tmp_path, monkeypatch):
    empty_existing = spark.createDataFrame([], "doc_id long, text string")
    inc = _incoming(spark).toDF("doc_id", "text")
    local, dist = _both_paths(
        monkeypatch,
        lambda: dd.incremental_ingest_dedup(empty_existing, inc),
    )
    assert local == dist
    assert {r[1] for r in local[0]} == {"new"}
    existing = spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(_STORE)], "doc_id long, text string"
    )
    no_rows = spark.createDataFrame([], "doc_id long, text string")
    local, dist = _both_paths(
        monkeypatch, lambda: dd.incremental_ingest_dedup(existing, no_rows)
    )
    assert local == dist and local[0] == []
    # an empty store: no data, no state
    vs = VectorStore(spark, acid_path=str(tmp_path / "empty"),
                     maintain_dedup_state=True)
    local, dist = _both_paths(
        monkeypatch, lambda: vs.ingest_dedup_check(_incoming(spark))
    )
    assert local == dist
    assert {r[1] for r in local[0]} == {"new"}


def test_driver_signer_equals_state_plan(spark):
    """Row for row and type for type, for a long and an int id: each
    part's Arrow columns have the names and types the plan's
    ``toArrow`` gives (nullability aside, which no write records), so
    a part written from either records one schema."""
    rows = [(i + 1, t) for i, t in enumerate(_STORE)] + list(_INCOMING)
    for id_type in ("long", "int"):
        df = spark.createDataFrame(rows, f"doc_id {id_type}, text string")
        want = dd.build_ingest_dedup_state(df)
        got = dd._sign_rows(df.toArrow(), "text", "doc_id", 3, 16, 4)
        for part in ("meta", "shingles", "buckets"):
            plan = want[part].toArrow()
            assert [(f.name, f.type) for f in got[part].schema] == [
                (f.name, f.type) for f in plan.schema
            ], (id_type, part)
            assert nullable_schema(from_arrow_schema(got[part].schema)) == (
                nullable_schema(want[part].schema)
            ), (id_type, part)
            assert sorted(_tuples(got[part]), key=repr) == sorted(
                _tuples(plan), key=repr
            ), (id_type, part)


def _tuples(table):
    return [tuple(r.values()) for r in table.to_pylist()]


def test_in_list_quotes_strings_and_ints(spark):
    texts = ["it's", 'say "hi"', "back\\slash", "ünï", "tab\there", "x`y"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts + ["other"])], "n long, t string"
    )
    assert sorted(
        r[0] for r in df.filter(in_list("t", texts)).collect()
    ) == list(range(len(texts)))
    assert [r[0] for r in df.filter(in_list("n", [2, 6, 99])).collect()] == [
        2, 6,
    ]
    assert df.filter(in_list("t", [])).count() == 0


def test_new_store_opens_quietly_and_stateless_manifest_resigns(
    spark, tmp_path, run_jobs
):
    path = str(tmp_path / "st")
    vs, jobs = run_jobs(
        lambda: VectorStore(spark, acid_path=path, maintain_dedup_state=True)
    )
    assert vs._dedup_state is None and jobs == []
    rows = [(t,) for t in _STORE[:4]]
    vs.set_data(spark.createDataFrame(rows, "target string"))
    reopened = VectorStore(spark, acid_path=path, maintain_dedup_state=True)
    assert reopened._dedup_state is not None
    assert reopened._dedup_state["meta"].count() == 4
    # a writer without state commits no state parts, so the manifest
    # that lists its rows lists no state that misses them
    VectorStore(spark, acid_path=path).set_data(
        spark.createDataFrame([(_STORE[4],)], "target string"), append=True
    )
    stateless = VectorStore(spark, acid_path=path, maintain_dedup_state=True)
    assert stateless._dedup_state is None
    assert "parts" not in stateless.acid.manifest(
        stateless.acid.latest_version()
    )
    # its first append signs every row, in the commit of its rows
    stateless.set_data(
        spark.createDataFrame([(_STORE[5],)], "target string"), append=True
    )
    assert stateless._dedup_state["meta"].count() == 6
    resigned = VectorStore(spark, acid_path=path, maintain_dedup_state=True)
    assert resigned._dedup_state["meta"].count() == 6
    got = {
        r["id"]: r["verdict"]
        for r in resigned.ingest_dedup_check(
            _incoming(spark, [(1, _STORE[1]), (2, "fresh words only here"),
                              (3, _STORE[4])])
        ).collect()
    }
    assert got == {1: "exact_dup", 2: "new", 3: "exact_dup"}


def test_memory_store_cache_stays_flat_across_appends(spark):
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.cachedData().size()
    vs = VectorStore(spark, maintain_dedup_state=True)
    vs.set_data(spark.createDataFrame(
        [(f"doc {i} some words here",) for i in range(50)], "target string"))
    sizes = []
    for r in range(5):
        vs.set_data(
            spark.createDataFrame(
                [(f"append {r} row {i} more words",) for i in range(5)],
                "target string",
            ),
            append=True,
        )
        sizes.append(cache.cachedData().size() - before)
    assert sizes == [4] * 5
    assert vs.count() == 75
    assert vs._dedup_state["meta"].count() == 75
    assert vs.ingest_dedup_check(
        _incoming(spark, [(1, "append 4 row 2 more words")])
    ).first()["verdict"] == "exact_dup"
    vs.set_data(spark.createDataFrame([("replaced",)], "target string"))
    assert cache.cachedData().size() - before == 4
    vs.reset_db()
    assert cache.cachedData().size() == before
    assert vs.data.filter(F.col("id") > 0).count() == 0

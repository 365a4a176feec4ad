"""Manifest-log ACID store (sources/manifest.py), the file-backed
VectorStore mode: the store semantics test_store.py does not already
run on it, plus the log's own atomicity/visibility/concurrency
guarantees."""

from __future__ import annotations

import json
import os

import pytest

from vectorsearchutil_spark.sources.manifest import ManifestLog
from vectorsearchutil_spark.store import VectorStore


@pytest.fixture()
def acid_store(spark, tmp_path):
    return VectorStore(spark, acid_path=str(tmp_path / "acid"))


def _df(spark, rows):
    return spark.createDataFrame(rows, ["target", "option1"])


# -- store semantics specific to the acid backend ---------------------


def test_acid_replace_wipes(spark, acid_store):
    acid_store.set_data(_df(spark, [("a", "1"), ("b", "2")]))
    acid_store.set_data(_df(spark, [("z", "9")]))
    assert [r["target"] for r in acid_store.data.collect()] == ["z"]


def test_acid_query_and_reset(spark, acid_store):
    acid_store.set_data(_df(spark, [("aaa", "1"), ("bbb", "2"), ("ccc", "3")]))
    res = acid_store.query("aaa", k=2)
    assert res is not None and len(res.collect()) == 2
    acid_store.reset_db()
    assert acid_store.count() == 0
    assert acid_store.query("aaa") is None


def test_acid_append_commits_only_fresh_rows(spark, acid_store):
    """The ACID point at scale: an append's transaction directory
    holds ONLY the appended rows; the store is never rewritten."""
    acid_store.set_data(_df(spark, [(f"t{i}", "x") for i in range(50)]))
    acid_store.set_data(_df(spark, [("extra", "y")]), append=True)
    log = acid_store.acid
    assert log.latest_version() == 1
    dirs = log.dirs()
    assert len(dirs) == 2
    appended_dir = [d for d in dirs if d not in log.dirs(0)][0]
    appended = spark.read.parquet(
        os.path.join(log.data_dir, appended_dir)
    )
    assert appended.count() == 1
    assert appended.first()["target"] == "extra"


# -- manifest-log guarantees ------------------------------------------


def test_uncommitted_transaction_invisible(spark, tmp_path, acid_store):
    """Crash before commit = a data directory with no manifest entry.
    Readers (including a fresh open) must not see it."""
    acid_store.set_data(_df(spark, [("a", "1")]))
    # simulate a writer that died after writing data, before commit
    orphan = os.path.join(acid_store.acid.data_dir, "tx-orphan")
    _df(spark, [("ghost", "boo")]).write.parquet(orphan)
    reopened = VectorStore(spark, acid_path=acid_store.acid.base)
    assert {r["target"] for r in reopened.data.collect()} == {"a"}
    # vacuum removes the orphan
    removed = acid_store.acid.vacuum()
    assert "tx-orphan" in removed
    assert not os.path.exists(orphan)


def test_time_travel_reads_old_versions(spark, acid_store):
    acid_store.set_data(_df(spark, [("a", "1")]))
    acid_store.set_data(_df(spark, [("b", "2")]), append=True)
    log = acid_store.acid
    v0 = log.read(spark, version=0)
    assert [r["target"] for r in v0.collect()] == ["a"]
    v1 = log.read(spark, version=1)
    assert {r["target"] for r in v1.collect()} == {"a", "b"}


def test_commit_race_retries_on_next_version(spark, tmp_path):
    """Two writers racing a version: the loser must retry and land on
    the next version with BOTH transactions visible (append mode)."""
    log = ManifestLog(str(tmp_path / "race"))
    df = spark.createDataFrame([(1,)], ["x"])
    v0 = log.write_and_commit(df, mode="append")
    assert v0 == 0
    # occupy v1 by hand (the "other writer")
    other_dir = os.path.join(log.data_dir, "tx-other")
    spark.createDataFrame([(2,)], ["x"]).write.parquet(other_dir)
    with open(os.path.join(log.log_dir, "v1.json"), "w") as fh:
        json.dump(
            {"version": 1, "parent": 0, "mode": "append",
             "dirs": [*log.dirs(0), "tx-other"]},
            fh,
        )
    v = log.write_and_commit(spark.createDataFrame([(3,)], ["x"]))
    assert v == 2  # lost v1, retried, won v2
    vals = sorted(r["x"] for r in log.read(spark).collect())
    assert vals == [1, 2, 3]  # nothing lost


def test_empty_manifest_is_uncommitted(spark, tmp_path):
    """ADVICE r3 (high): an empty/unparsable v<N>.json (a writer that
    died mid-put under a pre-atomic-commit layout) must read as
    uncommitted — readers see the previous version, and a new commit
    skips over the occupied version number instead of crashing or
    spinning on it."""
    log = ManifestLog(str(tmp_path / "empty"))
    log.write_and_commit(spark.createDataFrame([(1,)], ["x"]))
    # legacy-crash debris: the name exists, the payload never arrived
    open(os.path.join(log.log_dir, "v1.json"), "w").close()
    assert log.latest_version() == 0
    assert sorted(r["x"] for r in log.read(spark).collect()) == [1]
    v = log.write_and_commit(spark.createDataFrame([(2,)], ["x"]))
    assert v == 2  # v1 is permanently occupied by garbage; skipped
    assert sorted(r["x"] for r in log.read(spark).collect()) == [1, 2]


def test_commit_leaves_no_temp_or_partial_manifest(spark, tmp_path):
    """Every published v<N>.json must be complete (json-parsable) and
    no .tmp- staging file may survive a successful commit."""
    log = ManifestLog(str(tmp_path / "atomic"))
    for i in range(3):
        log.write_and_commit(spark.createDataFrame([(i,)], ["x"]))
    names = sorted(os.listdir(log.log_dir))
    assert names == ["v0.json", "v1.json", "v2.json"]
    for n in names:
        with open(os.path.join(log.log_dir, n)) as fh:
            m = json.load(fh)
        assert m["dirs"]


def test_vacuum_removes_stale_commit_temps(spark, tmp_path):
    log = ManifestLog(str(tmp_path / "staletmp"))
    log.write_and_commit(spark.createDataFrame([(1,)], ["x"]))
    stale = os.path.join(log.log_dir, ".tmp-deadbeef.json")
    open(stale, "w").close()
    os.utime(stale, (0, 0))  # ancient mtime -> eligible
    fresh = os.path.join(log.log_dir, ".tmp-cafe.json")
    open(fresh, "w").close()  # in-flight writer -> must survive
    log.vacuum()
    assert not os.path.exists(stale)
    assert os.path.exists(fresh)

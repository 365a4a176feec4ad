"""One manifest version per write of an ``acid_path=`` store.

``set_data`` writes the data directory and the three dedup-state parts
as uncommitted directories, then links one manifest that lists them
with the store's max id. Pins that a write failing at any of those
points leaves the store as it was before the write or as it is after
it (rows, state row counts and gate verdicts), on the driver path and
on the distributed one; that ``compact()`` and ``vacuum()`` carry the
state; that a reopen runs no job and its first small append reads no
max id; that an append continues from another writer's latest
version; and that ``acid_format`` is checked before any Delta
import."""

from __future__ import annotations

import os
import shutil
import sys

import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrame
from pyspark.sql.readwriter import DataFrameWriter

from vectorsearchutil_spark import store as store_mod
from vectorsearchutil_spark.sources.manifest import ManifestLog
from vectorsearchutil_spark.store import VectorStore

_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor "
    "whiskey xray yankee zulu amber birch cedar dune"
).split()


def _doc(seed: int, n: int = 30) -> str:
    return " ".join(_WORDS[(seed * 7 + 3 * i) % len(_WORDS)] + str(i % 5)
                    for i in range(n))


_BASE = [_doc(s) for s in range(6)]
_BATCH = [_doc(s) for s in range(10, 14)]
#: the written batch's first document, re-sent and with its last word
#: changed: 'new' before the write, 'exact_dup' / 'near_dup' after it
_PROBE = [(1, _BATCH[0]), (2, _BATCH[0].rsplit(" ", 1)[0] + " changed")]
_POINTS = ("data", "meta", "shingles", "buckets", "link")


class _Crash(Exception):
    pass


def _frame(spark, texts) -> DataFrame:
    return spark.createDataFrame([(t,) for t in texts], "target string")


def _observe(spark, path, probe=_PROBE):
    """A reopened store's (id, target) rows, state part row counts
    and gate verdicts on ``probe``."""
    vs = VectorStore(spark, acid_path=path, maintain_dedup_state=True)
    rows = sorted((r["id"], r["target"]) for r in vs.data.collect())
    state = None
    if vs._dedup_state is not None:
        state = {p: df.count() for p, df in vs._dedup_state.items()}
    verdicts = sorted(
        tuple(r) for r in vs.ingest_dedup_check(
            spark.createDataFrame(probe, "id long, target string")
        ).collect()
    )
    return rows, state, verdicts


def _crash_at(monkeypatch, point):
    """Fail the next write of ``point``: a part's directory is written,
    by a Spark job or from the driver, and then the writer dies; the
    manifest link dies before it lands."""
    if point == "link":
        def link(src, dst):
            raise _Crash(point)

        monkeypatch.setattr(os, "link", link)
        return
    real = DataFrameWriter.parquet
    real_file = pq.write_table

    def parquet(self, path, *args, **kwargs):
        real(self, path, *args, **kwargs)
        if point in path.split(os.sep)[-2:]:
            raise _Crash(point)

    def write_table(table, where, *args, **kwargs):
        # a driver write is one file <part>/tx-<uuid>/<file>
        real_file(table, where, *args, **kwargs)
        if point in where.split(os.sep)[-3:-1]:
            raise _Crash(point)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    monkeypatch.setattr(pq, "write_table", write_table)


@pytest.mark.parametrize("append", [False, True], ids=["replace", "append"])
@pytest.mark.parametrize("gate", ["driver", "distributed"])
def test_write_failing_at_any_point_leaves_before_or_after(
    spark, tmp_path, monkeypatch, append, gate
):
    if gate == "distributed":
        monkeypatch.setattr(store_mod, "_LOCAL_BATCH_MAX_ROWS", 0)
    template = str(tmp_path / "template")
    VectorStore(spark, acid_path=template, maintain_dedup_state=True).set_data(
        _frame(spark, _BASE)
    )

    def write(path):
        VectorStore(spark, acid_path=path, maintain_dedup_state=True).set_data(
            _frame(spark, _BATCH), append=append
        )

    before = _observe(spark, template)
    shutil.copytree(template, str(tmp_path / "after"))
    write(str(tmp_path / "after"))
    after = _observe(spark, str(tmp_path / "after"))
    assert [v[1] for v in before[2]] == ["new", "new"]
    assert [v[1] for v in after[2]] == ["exact_dup", "near_dup"]
    assert after[1] is not None
    assert after[1]["meta"] == len(after[0]) == len(_BATCH) + append * len(_BASE)

    for point in _POINTS:
        path = str(tmp_path / f"crash_{point}")
        shutil.copytree(template, path)
        with monkeypatch.context() as m:
            _crash_at(m, point)
            with pytest.raises(_Crash):
                write(path)
        assert _observe(spark, path) in (before, after), point


def test_crash_at_a_later_appends_first_state_write(spark, tmp_path, monkeypatch):
    """A state-keeping store takes an append; its second append dies at
    its first state write. The reopened store holds the rows of the
    first append and gates every stored row, and a near copy of one,
    against them."""
    path = str(tmp_path / "st")
    vs = VectorStore(spark, acid_path=path, maintain_dedup_state=True)
    vs.set_data(_frame(spark, _BASE))
    vs.set_data(_frame(spark, _BATCH[:2]), append=True)
    with monkeypatch.context() as m:
        _crash_at(m, "meta")
        with pytest.raises(_Crash):
            vs.set_data(_frame(spark, _BATCH[2:]), append=True)
    reopened = VectorStore(spark, acid_path=path, maintain_dedup_state=True)
    stored = {r["target"]: r["id"] for r in reopened.data.collect()}
    assert set(stored) == set(_BASE + _BATCH[:2])
    assert reopened._dedup_state["meta"].count() == len(stored)
    near = _BATCH[1].rsplit(" ", 1)[0] + " changed"
    probe = [(i, t) for i, t in enumerate(stored)] + [(99, near)]
    got = {
        r["id"]: (r["verdict"], r["matched_id"])
        for r in reopened.ingest_dedup_check(
            spark.createDataFrame(probe, "id long, target string")
        ).collect()
    }
    assert got.pop(99) == ("near_dup", stored[_BATCH[1]])
    assert got == {i: ("exact_dup", stored[t]) for i, t in probe[:-1]}


def test_compact_and_vacuum_carry_the_state(spark, tmp_path):
    path = str(tmp_path / "st")
    vs = VectorStore(spark, acid_path=path, maintain_dedup_state=True)
    vs.set_data(_frame(spark, _BASE[:3]))
    vs.set_data(_frame(spark, _BASE[3:]), append=True)
    vs.set_data(_frame(spark, _BATCH), append=True)
    probe = _PROBE + [(3, _BASE[4]), (4, "words the store never held at all")]
    want = _observe(spark, path, probe)
    assert len(vs.acid.dirs()) == 3
    vs.compact()
    vs.acid.vacuum()
    manifest = vs.acid.manifest(vs.acid.latest_version())
    assert manifest["max_id"] == len(_BASE) + len(_BATCH)
    listed = vs.acid._parts(manifest)
    assert sorted(listed) == ["buckets", "data", "meta", "shingles"]
    for part, record in listed.items():
        assert len(record["dirs"]) == 1
        assert os.listdir(os.path.join(path, part)) == record["dirs"]
    assert _observe(spark, path, probe) == want
    assert [v[1] for v in want[2]] == ["exact_dup", "near_dup", "exact_dup", "new"]


def test_empty_batch_commits_an_unchanged_store(spark, tmp_path):
    """A batch with no rows (say, a micro-batch the ingest gate emptied)
    commits a version with the same rows, state and max id."""
    path = str(tmp_path / "st")
    vs = VectorStore(spark, acid_path=path, maintain_dedup_state=True)
    vs.set_data(_frame(spark, _BASE))
    want = _observe(spark, path)
    vs.set_data(_frame(spark, []), append=True)
    assert vs.acid.latest_version() == 1
    assert vs._max_id == len(_BASE)
    assert _observe(spark, path) == want


def test_append_racing_a_stateless_writer_drops_the_state(
    spark, tmp_path, monkeypatch
):
    """A writer without state commits between a state-keeping append's
    writes and its commit. The append's commit lists no state that
    misses that writer's rows: it drops the state, and the gate
    derives it in-job until the next append re-signs."""
    path = str(tmp_path / "st")
    vs = VectorStore(spark, acid_path=path, maintain_dedup_state=True)
    vs.set_data(_frame(spark, _BASE))
    real = ManifestLog.commit

    def racing(self, changes, max_id):
        monkeypatch.setattr(ManifestLog, "commit", real)
        VectorStore(spark, acid_path=path).set_data(
            _frame(spark, _BATCH[:1]), append=True
        )
        return real(self, changes, max_id)

    monkeypatch.setattr(ManifestLog, "commit", racing)
    vs.set_data(_frame(spark, _BATCH[1:2]), append=True)
    assert vs._dedup_state is None
    rows, state, verdicts = _observe(
        spark, path, [(1, _BATCH[0]), (2, _BATCH[1])]
    )
    assert {t for _, t in rows} == set(_BASE + _BATCH[:2])
    assert state is None
    assert [v[1] for v in verdicts] == ["exact_dup", "exact_dup"]


def test_two_store_objects_continue_each_others_writes(spark, tmp_path):
    """Two store objects over one path append in turn: each continues
    from the other's latest version, so ids do not repeat, a target the
    other stored is not stored again, and the state covers every row."""
    path = str(tmp_path / "st")
    a = VectorStore(spark, acid_path=path, maintain_dedup_state=True)
    a.set_data(_frame(spark, _BASE[:2]))
    b = VectorStore(spark, acid_path=path, maintain_dedup_state=True)
    a.set_data(_frame(spark, _BASE[2:3]), append=True)
    b.set_data(_frame(spark, _BASE[3:4] + _BASE[2:3]), append=True)
    a.set_data(_frame(spark, _BASE[4:5]), append=True)
    rows, state, verdicts = _observe(spark, path, [(1, _BASE[3])])
    assert rows == [(i + 1, t) for i, t in enumerate(_BASE[:5])]
    assert state["meta"] == 5
    assert verdicts == [(1, "exact_dup", 4)]


def test_reopen_runs_no_job_and_first_append_reads_no_max_id(
    spark, tmp_path, monkeypatch, run_jobs
):
    path = str(tmp_path / "st")
    vs = VectorStore(spark, acid_path=path, maintain_dedup_state=True)
    vs.set_data(_frame(spark, _BASE))
    vs.set_data(_frame(spark, _BATCH[:2]), append=True)
    reopened, jobs = run_jobs(
        lambda: VectorStore(spark, acid_path=path, maintain_dedup_state=True)
    )
    assert jobs == []
    assert reopened._max_id == len(_BASE) + 2
    assert reopened._dedup_state is not None
    aggs = []
    real_agg = DataFrame.agg

    def agg(self, *exprs):
        aggs.append(exprs)
        return real_agg(self, *exprs)

    monkeypatch.setattr(DataFrame, "agg", agg)
    _, jobs = run_jobs(
        lambda: reopened.set_data(_frame(spark, _BATCH[2:]), append=True)
    )
    assert aggs == [] and len(jobs) <= 6, (aggs, jobs)
    assert sorted(r["id"] for r in reopened.data.collect()) == list(
        range(1, len(_BASE) + len(_BATCH) + 1)
    )


def test_acid_format_is_checked_before_delta_is_imported(
    spark, tmp_path, monkeypatch
):
    # any import of the delta backend now fails
    monkeypatch.setitem(
        sys.modules, "vectorsearchutil_spark.sources.deltalog", None
    )
    with pytest.raises(ValueError, match="acid_format"):
        VectorStore(spark, acid_path=str(tmp_path / "a"), acid_format="parquet")
    with pytest.raises(ValueError, match="manifest"):
        VectorStore(
            spark, acid_path=str(tmp_path / "b"), acid_format="delta",
            maintain_dedup_state=True,
        )
    with pytest.raises(ImportError):
        VectorStore(spark, acid_path=str(tmp_path / "c"), acid_format="delta")

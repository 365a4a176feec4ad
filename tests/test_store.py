import pyspark.sql.functions as F
import pytest

from vectorsearchutil_spark.store import SAVE_COLUMNS, VectorStore


@pytest.fixture()
def store(spark):
    return VectorStore(spark)


def _df(spark, rows):
    return spark.createDataFrame(rows, ["target", "option1"])


def test_empty_store_query_returns_none(store):
    # reference guard: VectorSearchBase.py:209-210
    assert store.query("anything") is None


def test_set_data_requires_target(store, spark):
    df = spark.createDataFrame([("x",)], ["not_target"])
    store.set_data(df)  # silent no-op per VectorSearchBase.py:104-105
    assert store._df is None


def test_first_wins_dedup(store, spark):
    store.set_data(_df(spark, [("a", "first"), ("b", "y"), ("a", "second")]))
    rows = {r["target"]: r["option1"] for r in store.data.collect()}
    assert rows == {"a": "first", "b": "y"}


def test_append_never_overwrites(store, spark):
    # reference insert-if-absent: VectorSearchBase.py:79-87;
    # demonstrated in sample1_2_add (vsu/sample/main.py:31-54)
    store.set_data(_df(spark, [("a", "orig"), ("b", "y")]))
    store.set_data(_df(spark, [("a", "NEW"), ("c", "z")]), append=True)
    rows = {r["target"]: r["option1"] for r in store.data.collect()}
    assert rows == {"a": "orig", "b": "y", "c": "z"}


def test_ids_monotonic_and_continue_on_append(store, spark):
    store.set_data(_df(spark, [("a", "1"), ("b", "2")]))
    store.set_data(_df(spark, [("c", "3")]), append=True)
    ids = {r["target"]: r["id"] for r in store.data.collect()}
    assert sorted(ids.values()) == [1, 2, 3]
    assert ids["c"] == 3


def test_replace_wipes(store, spark):
    store.set_data(_df(spark, [("a", "1"), ("b", "2")]))
    store.set_data(_df(spark, [("c", "3")]))
    assert [r["target"] for r in store.data.collect()] == ["c"]


def test_query_returns_k_with_distance(store, spark):
    store.set_data(_df(spark, [("aa", "1"), ("bb", "2"), ("cc", "3")]))
    res = store.query("aa", k=2)
    rows = res.collect()
    assert len(rows) == 2
    assert rows[0]["target"] == "aa"  # self-match first
    assert rows[0]["distance"] == pytest.approx(0.0, abs=1e-5)
    assert list(res.columns) == ["id"] + SAVE_COLUMNS + ["distance"]


def test_query_with_info_drops_all_null_columns(store, spark):
    # reference A7: VectorSearchBase.py:215-217
    store.set_data(_df(spark, [("aa", "1"), ("bb", None)]))
    res = store.query_with_info("aa", k=2)
    assert "option2" not in res.columns
    assert "option1" in res.columns


def test_reset(store, spark):
    store.set_data(_df(spark, [("a", "1")]))
    store.reset_db()
    assert store.query("a") is None


def test_zeroshot_pred(store, spark):
    store.set_data(_df(spark, [("alpha", "1"), ("beta", "2"), ("alpha two", "3")]))
    store.set_zeroshot_labels(["alpha", "beta"])
    out = store.do_zeroshot()
    preds = {r["target"]: r["zeroshot_pred"] for r in out.collect()}
    assert preds["alpha"] == "alpha"  # self-embedding most similar
    assert preds["beta"] == "beta"
    assert set(out.columns) >= set(["id", "target", "zeroshot_pred", "score"])


def test_zeroshot_softmax_probs(store, spark):
    store.set_data(_df(spark, [("alpha", "1"), ("beta", "2")]))
    store.set_zeroshot_labels(["alpha", "beta"])
    out = store.do_zeroshot(variant="clip")
    for r in out.collect():
        assert 0.0 <= r["prob"] <= 1.0


def test_parquet_persistence_roundtrip(spark, tmp_path):
    path = str(tmp_path / "store.parquet")
    vs = VectorStore(spark, path=path)
    vs.set_data(_df(spark, [("a", "1"), ("b", "2")]))
    # a fresh store object on the same path sees the data
    vs2 = VectorStore(spark, path=path)
    assert vs2.count() == 2
    res = vs2.query("a", k=1)
    assert res.first()["target"] == "a"
    # append persists too
    vs2.set_data(_df(spark, [("c", "3")]), append=True)
    assert VectorStore(spark, path=path).count() == 3


def test_crash_mid_swap_recovers(spark, tmp_path):
    # ADVICE r1: append must never leave the store unrecoverable.
    # Simulate every crash point of _persist's staged swap and check
    # a fresh open heals to a complete version.
    import os
    import shutil

    path = str(tmp_path / "store.parquet")
    vs = VectorStore(spark, path=path)
    vs.set_data(_df(spark, [("a", "1"), ("b", "2")]))

    # crash point 1: staging fully written, live dir renamed away
    # (the gap between the two renames)
    shutil.copytree(path, path + "__staging")
    os.rename(path, path + "__old")
    vs2 = VectorStore(spark, path=path)
    assert vs2.count() == 2
    assert not os.path.exists(path + "__staging")
    assert not os.path.exists(path + "__old")

    # crash point 2: staging incomplete (no _SUCCESS), live renamed —
    # must roll back to __old, not adopt the torn staging copy
    shutil.copytree(path, path + "__staging")
    os.remove(os.path.join(path + "__staging", "_SUCCESS"))
    os.rename(path, path + "__old")
    vs3 = VectorStore(spark, path=path)
    assert vs3.count() == 2
    assert not os.path.exists(path + "__staging")


def test_no_label_tower_disables_zeroshot(spark):
    # A10 (vsu/image/_classes.py:69-70): embedders without a text
    # tower return None from do_zeroshot
    from vectorsearchutil_spark.embedders import register_embedder
    import pandas as pd

    if "notower" not in __import__(
        "vectorsearchutil_spark.embedders", fromlist=["embedder_names"]
    ).embedder_names():
        @register_embedder("notower", 4, supports_zeroshot=False)
        def _factory():
            def encode(s: pd.Series) -> pd.Series:
                return s.map(lambda t: [1.0, 0.0, 0.0, 0.0])
            return encode

    vs = VectorStore(spark, embedder="notower")
    vs.set_data(_df(spark, [("a", "1")]))
    vs.set_zeroshot_labels(["x", "y"])
    assert vs.do_zeroshot() is None


# -- bucketed-table mode: the 100 TB ingest posture -------------------


@pytest.fixture()
def bucketed_store(spark):
    spark.sql("DROP TABLE IF EXISTS vs_bucketed")
    vs = VectorStore(spark, table="vs_bucketed", num_buckets=4)
    yield vs
    spark.sql("DROP TABLE IF EXISTS vs_bucketed")


def test_bucketed_append_semantics(bucketed_store, spark):
    vs = bucketed_store
    vs.set_data(_df(spark, [("a", "orig"), ("b", "y")]))
    vs.set_data(_df(spark, [("a", "NEW"), ("c", "z")]), append=True)
    rows = {r["target"]: r["option1"] for r in vs.data.collect()}
    assert rows == {"a": "orig", "b": "y", "c": "z"}
    ids = {r["target"]: r["id"] for r in vs.data.collect()}
    assert sorted(ids.values()) == [1, 2, 3]
    # survives a fresh handle (persisted, not cached)
    vs2 = VectorStore(spark, table="vs_bucketed")
    assert vs2.count() == 3


def test_bucketed_append_no_exchange_on_store_side(bucketed_store, spark):
    from vectorsearchutil_spark.plans.explain import formatted_plan

    vs = bucketed_store
    vs.set_data(_df(spark, [(f"t{i}", "x") for i in range(50)]))
    incoming = _df(spark, [("t1", "x"), ("new1", "x")])
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        anti = incoming.join(vs.data.select("target"), "target", "left_anti")
        plan = formatted_plan(anti)
        # bucketed scan is pre-partitioned by target: exactly one
        # Exchange total, on the incoming side — the store never
        # reshuffles
        import re

        assert "Bucketed: true" in plan
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_bucketed_reset_drops_table(bucketed_store, spark):
    vs = bucketed_store
    vs.set_data(_df(spark, [("a", "1")]))
    vs.reset_db()
    assert not spark.catalog.tableExists("vs_bucketed")
    assert vs.query("a") is None


def test_compact_reduces_files_preserves_rows(spark, tmp_path):
    import glob

    path = str(tmp_path / "store.parquet")
    vs = VectorStore(spark, path=path)
    # many tiny appends fragment the store
    for i in range(4):
        vs.set_data(
            _df(spark, [(f"t{i}a", "x"), (f"t{i}b", "y")]), append=(i > 0)
        )
    before = vs.data.collect()
    vs.compact(target_files=1)
    files = glob.glob(f"{path}/part-*.parquet")
    assert len(files) == 1
    after = VectorStore(spark, path=path).data.collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))


# -- persisted ingest-dedup state (VERDICT r2 #5) ---------------------


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, ["target", "option1"])


def test_dedup_state_incremental_appends(spark, tmp_path, monkeypatch):
    """Appending twice must compute signatures for the APPENDED batch
    only — never re-shingle the store. Spy on build_ingest_dedup_state
    and record the row count of every input it is asked to sign."""
    from vectorsearchutil_spark.operators import dedup as dd
    from vectorsearchutil_spark import store as store_mod

    signed_counts = []
    real_build = dd.build_ingest_dedup_state

    def spy(df, *a, **kw):
        signed_counts.append(df.count())
        return real_build(df, *a, **kw)

    monkeypatch.setattr(dd, "build_ingest_dedup_state", spy)

    path = str(tmp_path / "st.parquet")
    vs = store_mod.VectorStore(spark, path=path, maintain_dedup_state=True)
    base = [(f"alpha beta gamma delta {i}", "a") for i in range(20)]
    vs.set_data(_docs_df(spark, base))
    assert signed_counts == [20]

    vs.set_data(_docs_df(spark, [("epsilon zeta eta theta x", "b")]), append=True)
    assert signed_counts == [20, 1]  # O(batch), not O(store)

    vs.set_data(_docs_df(spark, [("iota kappa lambda mu y", "c")]), append=True)
    assert signed_counts == [20, 1, 1]
    # state covers every stored row
    assert vs._dedup_state["meta"].count() == 22


def test_dedup_state_gate_matches_stateless(spark, tmp_path):
    """The persisted-state gate returns exactly the stateless
    (oracle-checked) form's verdicts."""
    from vectorsearchutil_spark.operators.dedup import (
        incremental_ingest_dedup,
    )
    from vectorsearchutil_spark.store import VectorStore

    existing_rows = [
        ("the quick brown fox jumps over the lazy dog", "s"),
        ("pack my box with five dozen liquor jugs", "s"),
        ("how vexingly quick daft zebras jump today", "s"),
    ]
    incoming_rows = [
        # exact dup of row 1
        ("pack my box with five dozen liquor jugs", "n"),
        # near dup of row 0 (one trailing token changed)
        ("the quick brown fox jumps over the lazy cat", "n"),
        ("completely different sentence about spark plans", "n"),
    ]
    path = str(tmp_path / "st2.parquet")
    vs = VectorStore(spark, path=path, maintain_dedup_state=True)
    vs.set_data(_docs_df(spark, existing_rows))

    incoming = spark.createDataFrame(
        [(100 + i, t) for i, (t, _) in enumerate(incoming_rows)],
        ["id", "target"],
    )
    got = {
        r["id"]: (r["verdict"], r["matched_id"])
        for r in vs.ingest_dedup_check(incoming, threshold=0.5).collect()
    }
    want = {
        r["id"]: (r["verdict"], r["matched_id"])
        for r in incremental_ingest_dedup(
            vs.data.select("id", F.col("target")),
            incoming,
            text_col="target",
            id_col="id",
            threshold=0.5,
        ).collect()
    }
    assert got == want
    assert got[100][0] == "exact_dup"
    assert got[101][0] == "near_dup"
    assert got[102][0] == "new"

    # state survives reopen (persisted, not in-memory)
    vs2 = VectorStore(spark, path=path, maintain_dedup_state=True)
    assert vs2._dedup_state is not None
    got2 = {
        r["id"]: (r["verdict"], r["matched_id"])
        for r in vs2.ingest_dedup_check(incoming, threshold=0.5).collect()
    }
    assert got2 == got


# -- materialized IVF index (the reference's vss/faiss analog) --------


def test_ann_index_query_and_pruning(spark, tmp_path):
    """build_ann_index + query_ann: self-match always found, results
    a subset contract of exact query (same ordering rules), probing
    ALL lists == exact, and the probe scan is partition-pruned."""
    import numpy as np

    from vectorsearchutil_spark.plans.explain import formatted_plan

    rng = np.random.RandomState(3)
    rows = [
        (f"doc {i}", [float(x) for x in rng.randn(16)]) for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["target", "vector"])
    path = str(tmp_path / "annstore.parquet")
    vs = VectorStore(spark, path=path)
    vs.set_data(df)
    vs.build_ann_index(n_lists=4)

    qvec = rows[7][1]
    exact = [r["id"] for r in vs.query(qvec, k=5).collect()]
    approx_all = [
        r["id"] for r in vs.query_ann(qvec, k=5, n_probe=4).collect()
    ]
    assert approx_all == exact  # probing every list == exact

    approx = vs.query_ann(qvec, k=5, n_probe=1)
    got = [r["id"] for r in approx.collect()]
    assert exact[0] in got  # the self-match's list is always probed

    # partition pruning is visible in the scan
    import os

    lists = spark.read.parquet(
        os.path.join(vs._ivf_path, "lists")
    ).filter(F.col("centroid_id").isin([0, 1]))
    plan = formatted_plan(lists)
    assert "PartitionFilters" in plan and "centroid_id" in plan

    # index is addressable after reopen via explicit path
    vs2 = VectorStore(spark, path=path)
    again = vs2.query_ann(qvec, k=5, n_probe=4, index_path=vs._ivf_path)
    assert [r["id"] for r in again.collect()] == exact


def test_ann_index_incremental_add(spark, tmp_path):
    """add_to_ann_index after an append: only new rows are assigned
    (existing centroids, no retrain), all-probes search equals exact
    over the UNION, and a second call is a no-op."""
    import numpy as np

    rng = np.random.RandomState(7)
    rows = [
        (f"doc {i}", [float(x) for x in rng.randn(16)]) for i in range(300)
    ]
    df1 = spark.createDataFrame(rows[:200], ["target", "vector"])
    df2 = spark.createDataFrame(rows[200:], ["target", "vector"])
    path = str(tmp_path / "annstore.parquet")
    vs = VectorStore(spark, path=path)
    vs.set_data(df1)
    vs.build_ann_index(n_lists=4)

    vs.set_data(df2, append=True)
    added = vs.add_to_ann_index()
    assert added == 100
    assert vs.add_to_ann_index() == 0  # idempotent

    qvec = rows[250][1]
    exact = [r["id"] for r in vs.query(qvec, k=5).collect()]
    approx_all = [
        r["id"] for r in vs.query_ann(qvec, k=5, n_probe=4).collect()
    ]
    assert approx_all == exact
    # the appended rows are reachable through the pruned probe path
    assert exact[0] in approx_all


def test_ann_index_add_unpersists_when_write_fails(spark, tmp_path, monkeypatch):
    """add_to_ann_index persists the fresh rows it assigns; a failing
    write must still release them (cache lifetime is explicit)."""
    from pyspark.sql.readwriter import DataFrameWriter

    vs = VectorStore(spark, path=str(tmp_path / "s"))
    vs.set_data(
        spark.createDataFrame([(f"doc {i}",) for i in range(40)], ["target"])
    )
    vs.build_ann_index(n_lists=4)
    vs.set_data(
        spark.createDataFrame([(f"new {i}",) for i in range(5)], ["target"]),
        append=True,
    )
    sc = spark.sparkContext
    spark.catalog.clearCache()
    before = set(sc._jsc.getPersistentRDDs().keySet())

    def failing_write(self, path, *a, **kw):
        raise OSError("disk full")

    monkeypatch.setattr(DataFrameWriter, "parquet", failing_write)
    with pytest.raises(OSError):
        vs.add_to_ann_index()
    # other tests' local checkpoints stay registered until collected,
    # so compare with the state before the call
    assert set(sc._jsc.getPersistentRDDs().keySet()) <= before


def test_ann_index_compaction(spark, tmp_path):
    """Incremental appends accumulate one file per touched partition
    per call; optimize_ann_index coalesces to one file per list via
    staged swap and results are unchanged."""
    import glob
    import os

    import numpy as np

    rng = np.random.RandomState(11)
    rows = [
        (f"doc {i}", [float(x) for x in rng.randn(8)]) for i in range(300)
    ]
    path = str(tmp_path / "annstore.parquet")
    vs = VectorStore(spark, path=path)
    vs.set_data(spark.createDataFrame(rows[:150], ["target", "vector"]))
    vs.build_ann_index(n_lists=4)
    for lo, hi in ((150, 200), (200, 250), (250, 300)):
        vs.set_data(
            spark.createDataFrame(rows[lo:hi], ["target", "vector"]),
            append=True,
        )
        vs.add_to_ann_index()

    lists = os.path.join(vs._ivf_path, "lists")
    files = lambda: len(  # noqa: E731
        glob.glob(os.path.join(lists, "**", "*.parquet"), recursive=True)
    )
    before = files()
    qvec = rows[275][1]
    exact = [r["id"] for r in vs.query(qvec, k=5).collect()]
    n_after = vs.optimize_ann_index()
    assert n_after == files() <= 4  # one file per list
    assert before > n_after
    got = [r["id"] for r in vs.query_ann(qvec, k=5, n_probe=4).collect()]
    assert got == exact

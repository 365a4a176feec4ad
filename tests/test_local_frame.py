"""Driver-built frames are JVM local relations (``session.local_frame``)
and query text is encoded on the driver (``embedders.embed_local``):
equivalence with the Python paths they replace, the store's job budget,
and a lint that keeps ``createDataFrame(<list>)`` out of the engine."""

import ast
import datetime as dt
import os
import time

import numpy as np
import pyspark.sql.functions as F
import pytest

from vectorsearchutil_spark.embedders import embed_local, embed_udf
from vectorsearchutil_spark.plans.explain import formatted_plan
from vectorsearchutil_spark.session import local_frame
from vectorsearchutil_spark.store import VectorStore

PKG = os.path.join(os.path.dirname(__file__), "..", "vectorsearchutil_spark")

#: (rows, schema) shapes the engine passes to ``local_frame``
SHAPES = {
    "centroid_row": (
        [([(0, [1.0, -2.5]), (1, [0.0, 3.25])],)],
        "cents array<struct<cid:int,cv:array<double>>>",
    ),
    "codebooks": (
        [([[(0, [1.0]), (1, [2.0])], [(0, [-1.5])]],)],
        "cbs array<array<struct<cid:int,cv:array<double>>>>",
    ),
    "nulls": (
        [(1, None, "a", [1.0, None]), (None, 2.5, None, None)],
        "i int, d double, s string, v array<double>",
    ),
    "empty": ([], "node long, component long"),
    "empty_nested": ([], "cents array<struct<cid:int,cv:array<double>>>"),
    "scalars": (
        [(2**40, 7, 1.5, 0.1, "ü日本", True, dt.date(2024, 2, 29))],
        "a bigint, b int, c double, f float, s string, t boolean, d date",
    ),
}


def _same(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    return got


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_local_frame_equals_create_dataframe(spark, shape):
    rows, schema = SHAPES[shape]
    got = _same(spark, rows, schema)
    plan = formatted_plan(got)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan


def test_local_frame_schema_from_another_frame(spark):
    """Collected Rows (nested structs included) rebuilt against the
    source frame's StructType — the streaming key-grid pattern."""
    src = spark.createDataFrame(
        [("a", (1, [0.5])), ("b", None)],
        "k string, p struct<n:int,xs:array<double>>",
    )
    _same(spark, src.collect(), src.schema)
    _same(spark, [], src.schema)


def test_local_frame_timestamps_under_local_zone(spark):
    """Python reads a naive datetime in the process's zone and Arrow
    reads it as UTC, so rows with a TimestampType value keep the Python
    path; the two agree when the process zone is not UTC."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        rows = [(dt.datetime(2024, 3, 10, 1, 30), "x"), (None, "y")]
        _same(spark, rows, "ts timestamp, k string")
        _same(spark, [((dt.datetime(2024, 1, 1, 12),),)],
              "w struct<start:timestamp>")
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        time.tzset()


@pytest.mark.parametrize(
    "text", ["", "naïve café — 東京 🚀", "x" * 250 + "ß" * 250]
)
def test_embed_local_bit_equal_to_udf(spark, text):
    want = (
        spark.createDataFrame([(text,)], "t string")
        .select(embed_udf("hash64")(F.col("t")))
        .first()[0]
    )
    got = embed_local("hash64", [text])[0]
    assert got == want
    assert (
        np.asarray(got, np.float32).tobytes()
        == np.asarray(want, np.float32).tobytes()
    )


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_store_query_job_budget(spark, tmp_path):
    """A text read on a tiny store: ``query`` runs the empty check and
    the result collect (2 jobs), ``query_ann`` the centroid read, the
    lists schema and the collect (4). Encoding the query adds none."""
    vs = VectorStore(spark, path=str(tmp_path / "s"))
    vs.set_data(
        spark.createDataFrame([(f"doc {i}",) for i in range(40)], ["target"])
    )
    vs.build_ann_index(n_lists=4)
    vs.query("doc 3", k=3).collect()  # warm the code paths once
    n_query = _jobs(
        spark, "budget-query", lambda: vs.query("doc 3", k=3).collect()
    )
    n_ann = _jobs(
        spark, "budget-ann", lambda: vs.query_ann("doc 3", k=3).collect()
    )
    assert n_query <= 2, n_query
    assert n_ann <= 4, n_ann


#: ``createDataFrame`` calls the engine may keep: pandas inputs, which
#: already take the Arrow path, and the helper itself
_ALLOWED = {
    ("operators/graph.py", "pdf"),
    ("session.py", "rows"),
    ("session.py", "table"),
}


def test_engine_builds_local_frames_only_through_helper():
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                ):
                    continue
                first = node.args[0] if node.args else None
                name = first.id if isinstance(first, ast.Name) else None
                if (rel, name) not in _ALLOWED:
                    offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, (
        "driver-built frames go through session.local_frame "
        f"(a Python-RDD scan otherwise): {offenders}"
    )

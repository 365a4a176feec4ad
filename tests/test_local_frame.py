"""Driver-built frames are JVM local relations (``session.local_frame``)
and query text is encoded on the driver (``embedders.embed_local``):
equivalence with the Python paths they replace, the store's job budget,
a lint that keeps ``createDataFrame(<list>)`` out of the engine, one
that every name an ``except`` clause catches is bound, one that no
public function takes a sizing option, and a bound on the count of
public options."""

import ast
import datetime as dt
import os
import re
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


def test_store_query_job_budget(spark, tmp_path, run_jobs):
    """A text read on a tiny store that holds its max id and its IVF
    index: ``query`` and ``query_ann`` each run only the result collect
    (1 job). A reopened store builds its first ``query_ann`` with at
    most the centroid pull (1 job): the lists are read under the schema
    the index manifest records. Encoding the query adds none."""
    vs = VectorStore(spark, acid_path=str(tmp_path / "s"))
    vs.set_data(
        spark.createDataFrame([(f"doc {i}",) for i in range(40)], ["target"])
    )
    vs.build_ann_index(n_lists=4)
    vs.query("doc 3", k=3).collect()  # warm the code paths once
    _, query = run_jobs(lambda: vs.query("doc 3", k=3).collect())
    _, ann = run_jobs(lambda: vs.query_ann("doc 3", k=3).collect())
    reopened = VectorStore(spark, acid_path=str(tmp_path / "s"))
    _, reopen = run_jobs(lambda: reopened.query_ann("doc 3", k=3))
    assert len(query) <= 1, query
    assert len(ann) <= 1, ann
    assert len(reopen) <= 1, reopen


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


def _module_bindings(tree: ast.Module) -> set[str]:
    """Every name the module binds, at any depth: imports, defs,
    classes and assignment targets."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update(
                (a.asname or a.name).split(".")[0] for a in node.names
            )
        elif isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            names.add(node.name)
        elif isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
            names.add(node.id)
    return names


def test_except_clauses_name_bound_exceptions():
    """An unbound name in an ``except`` clause only raises NameError
    once the guarded code fails, so the handler never handles."""
    import builtins

    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            bound = _module_bindings(tree) | set(dir(builtins))
            for node in ast.walk(tree):
                if not isinstance(node, ast.ExceptHandler) or not node.type:
                    continue
                offenders += [
                    f"{os.path.relpath(path, PKG)}:{node.lineno} {n.id}"
                    for n in ast.walk(node.type)
                    if isinstance(n, ast.Name) and n.id not in bound
                ]
    assert not offenders, offenders


#: sizing options: the size gates measure their input or read a module
#: constant, so no caller passes a row count or a gate threshold
_SIZING_PARAM = re.compile(r"n_rows|n_queries|n_corpus|\w*_max_cells|driver_max_edges")


def _public_functions():
    """(path relative to the package, node) for every function and
    method whose name does not start with ``_``, nested ones included,
    and every ``__init__`` (a constructor takes its class's options)."""
    for root, _dirs, files in os.walk(PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef)
                ) and (
                    not node.name.startswith("_") or node.name == "__init__"
                ):
                    yield os.path.relpath(path, PKG), node


def _public_params(pattern):
    """``file:line function(param)`` for every public parameter whose
    name ``pattern`` matches in full."""
    return [
        f"{rel}:{node.lineno} {node.name}({p.arg})"
        for rel, node in _public_functions()
        for p in node.args.posonlyargs + node.args.args + node.args.kwonlyargs
        if pattern.fullmatch(p.arg)
    ]


def test_public_functions_take_no_sizing_options():
    offenders = _public_params(_SIZING_PARAM)
    assert not offenders, offenders


#: path-choice options: the size gates alone pick each operator's
#: physical path (driver/distributed, expr/Arrow, matrix/blocked), so
#: no caller can force one, misspell one, or pull an unbounded input
#: to the driver with one
_PATH_PARAM = re.compile(r"strategy|verify")


def test_public_functions_take_no_path_options():
    offenders = _public_params(_PATH_PARAM)
    assert not offenders, offenders


#: upper bound on the public options: defaulted parameters of public
#: functions, methods and constructors. Lower it when an option goes;
#: raise it only with a reason in CHANGES.md
_MAX_PUBLIC_OPTIONS = 732


def test_public_option_count_does_not_grow():
    n = sum(
        len(a.defaults) + sum(d is not None for d in a.kw_defaults)
        for a in (node.args for _rel, node in _public_functions())
    )
    assert n <= _MAX_PUBLIC_OPTIONS, n

"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]``; the configs below are chosen so the
same logical plans would behave on a 1000-executor cluster reading
100 TB: AQE on (runtime coalescing + skew-join handling), broadcast
threshold generous enough that dimension tables (region/nation/
customer at test SF, label tables always) broadcast instead of
shuffling, and Arrow enabled for the pandas-UDF embedder path.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructType,
    TimestampType,
)

#: Defaults applied to every session this engine creates. Each one is
#: plan-shaping, not machine-tuning, so they transfer to a real cluster.
ENGINE_CONF: dict[str, str] = {
    # Let the optimizer re-plan at runtime: coalesce tiny shuffle
    # partitions, split skewed ones, demote to broadcast when a side
    # turns out small. Essential at 100 TB where static planning lies.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dimension tables and label/query tables are broadcast-joined;
    # 64 MB covers every dim side we produce while keeping fact-fact
    # joins as shuffle joins.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow transfer for every pandas_udf / mapInPandas operator
    # (embedders, multimodal decode). Batch size plays the role of the
    # reference's `sp` chunking knob (VectorSearchBase.py:157-161).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    # Target ~128 MB input splits; at 100 TB this yields ~800k tasks,
    # the sane granularity for a 1000-executor cluster.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"
    ),
    "spark.sql.session.timeZone": "UTC",
    # Parquet TIMESTAMP(NANOS) columns (the driver's events.ts) are
    # unreadable without this legacy flag, and Spark offers no per-read
    # option for it — so it is a DECLARED engine default, not a hidden
    # read side effect. Effect is limited to nanos columns, which would
    # otherwise throw "Illegal Parquet type".
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # PySpark 4 wraps EVERY DataFrame API call in call-site capture:
    # a Python stack inspection plus one extra JVM RPC
    # (PySparkCurrentOrigin) per call, ~0.5-1 s of driver time per
    # wide query build (measured: 25% of dedup_simhash plan-build).
    # It only enriches error messages with user line numbers — off in
    # an engine whose hot path is programmatic plan construction.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Long multi-query sessions accumulate broadcast/localCheckpoint
    # blocks until a DRIVER GC lets ContextCleaner release them; with
    # an 8g+ heap a full GC may simply never happen, and PERF.md
    # (round 8) traced long-session drift to exactly this (default
    # periodic GC: 30 min). 5 min bounds the garbage a query-churning
    # session (bench, registry sweeps, any real long-lived engine
    # session) can pile up, at the cost of one System.gc() per
    # interval — scale-independent hygiene, not a local tune.
    "spark.cleaner.periodicGC.interval": "5min",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}


def get_spark(app_name: str = "vectorsearchutil-spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    real deployment the caller's cluster manager wins (we only set the
    master when none is configured).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    for key, value in ENGINE_CONF.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession,
    rows: Iterable | pa.Table,
    schema: str | StructType | None = None,
) -> DataFrame:
    """A frame of driver-side ``rows`` as a JVM local relation.

    Rule: every frame the engine builds from driver data (centroid
    rows, component labels, block-pair task lists, empty results)
    comes through here. ``spark.createDataFrame(<list>, schema)``
    parallelizes a Python RDD (``Scan ExistingRDD``), and every scan
    of it starts one Python-worker task per slice, 0.25-0.5 s each on
    a 4-core host. An Arrow table instead becomes a ``LocalTableScan``
    that the JVM serves without a Python worker (~0.05 s for one row).

    ``rows`` are tuples (or Rows) in field order; ``schema`` is a DDL
    string or a StructType. Rows under a schema holding a TimestampType
    (the streaming key grid's caller-typed keys can) keep the Python
    path: it reads a naive ``datetime`` in the process's local zone,
    while Arrow would read it as UTC.

    ``rows`` may also be a ``pyarrow.Table`` (what
    :func:`collect_if_small` pulls); its own schema is used unless
    ``schema`` is given.
    """
    if isinstance(rows, pa.Table):
        if not rows.num_rows:
            # an empty filter or take leaves columns with no chunks,
            # which createDataFrame cannot type
            rows = pa.Table.from_arrays(
                [c.combine_chunks() for c in rows.columns], schema=rows.schema
            )
        return spark.createDataFrame(rows, schema)
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    rows = list(rows)
    if rows and _has_timestamp(schema):
        return spark.createDataFrame(rows, schema)
    arrow_schema = to_arrow_schema(schema)
    columns = zip(*rows) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def collect_if_small(df: DataFrame, n: int) -> pa.Table | None:
    """``df``'s rows as a ``pyarrow.Table`` if it has at most ``n``
    rows, else None.

    The one size gate of the engine's driver/distributed strategy
    choices: a single ``limit(n + 1)`` Arrow job both decides and, when
    the input is small, already holds the rows the driver path needs,
    where a ``count()`` followed by a pull runs the input twice. Above
    the gate the wasted work is up to partitions × (n + 1) rows: the
    limit runs in every input partition before its single-partition
    exchange (measured: 400k 64-d rows in 200 partitions under
    ``n = 1000`` ran 200 tasks and shuffled 200,200 records, 2.47 MB,
    to one reducer in 1.0-2.4 s, where a ``count()`` shuffles 200
    records). A lazy
    ``localCheckpoint`` under ``df`` is materialized in full by this
    job (the limit's single-partition exchange computes every input
    partition), so a distributed path that follows reads it instead of
    re-running the upstream plan. ``limit`` takes a 32-bit int, so a
    gate beyond that pulls ``df`` whole.
    """
    table = (df.limit(n + 1) if n < 2**31 - 1 else df).toArrow()
    return table if table.num_rows <= n else None


def in_list(col: str, values: Sequence) -> Column:
    """``col IN (values)`` for driver-held ``values``, as one parsed
    expression (the optimizer makes it a hash set, and a Parquet scan
    takes its min and max to skip row groups). A Column literal per
    value (``isin``) costs a Py4J round trip each (6.5 s for 10k
    strings on a 4-core host). Strings are written as hex literals
    cast back to string, so no quoting or parser setting applies;
    ints as decimal literals; other types go through ``isin``. An
    empty list matches nothing. Planning grows with the list: 0.6 s
    for 10k hex string literals, 3.5-5 s for 40k."""
    if not values:
        return F.lit(False)
    if all(isinstance(v, str) for v in values):
        items = [f"CAST(X'{v.encode().hex()}' AS STRING)" for v in values]
    elif all(type(v) is int for v in values):
        items = [str(v) for v in values]
    else:
        return F.col(col).isin(list(values))
    name = col.replace("`", "``")
    return F.expr(f"`{name}` IN ({', '.join(items)})")


#: The expression/Arrow wall: rows × k × dim "cells" of per-pair
#: distance or score work beyond which Spark's higher-order-function
#: lambdas (interpreted, outside whole-stage codegen) lose to an Arrow
#: batch scored with numpy. Measured at 125k×64 with 2 k-means
#: iterations, k=32 12.7 → 7.0 s and k=128 28.1 → 5.1 s (the
#: expression path grows linearly in k, the Arrow path stays flat),
#: and at 2M×100×64 zero-shot scoring 302 s → seconds. Below it the
#: expression path avoids Python-worker startup.
ARROW_MIN_CELLS = 50_000_000


def arrow_wins(df: DataFrame, small: Sequence) -> bool:
    """Whether scoring every row of ``df`` against the vectors of the
    ``small`` side (the centroids, labels, anchors or queries the
    operator already holds) is more than :data:`ARROW_MIN_CELLS`
    rows × k × dim cells of work, so the Arrow path wins.

    The one measured Arrow-vs-expression gate: k is ``len(small)``,
    dim its longest vector, and the row count one ``df.count()`` job
    (skipped when there is no work at all). It is a measurement only,
    so it pulls nothing: above a ``collect_if_small`` bound the pull
    would write partitions × (n + 1) rows where a count writes one
    row per partition."""
    cells = len(small) * max(
        (len(v) for v in small if v is not None), default=0
    )
    return cells > 0 and df.count() * cells > ARROW_MIN_CELLS


def batch_matrix(vectors, dim: int) -> np.ndarray:
    """float64 (rows, ``dim``) matrix of an Arrow batch's vector column
    (a pandas Series of arrays); a NULL vector becomes a row of NaN,
    which scores NaN and so leaves the batch as NULL, as the
    expression paths' NULL distances and scores do."""
    valid = vectors.notna().to_numpy()
    X = np.full((len(vectors), dim), np.nan)
    if valid.any():
        X[valid] = np.array(list(vectors[valid]), dtype=np.float64)
    return X


def centroid_sq_distances(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(rows, k) squared L2 distances from the rows of ``X`` to the
    rows of the centroid matrix ``C``, accumulated one centroid at a
    time (memory rows×dim, never rows×k×dim). A NaN row (a NULL
    vector, see :func:`batch_matrix`) scores NaN everywhere, so
    ``argmin`` over the row gives column 0, the lowest centroid when
    ``C`` is in centroid-id order."""
    d2 = np.empty((len(X), len(C)), dtype=np.float64)
    for j in range(len(C)):
        diff = X - C[j]
        d2[:, j] = np.einsum("ij,ij->i", diff, diff)
    return d2


def table_matrix(
    table: pa.Table, id_col: str, vector_col: str
) -> tuple[np.ndarray, np.ndarray]:
    """(int64 ids, float64 row matrix) of a pulled (id, vector) table,
    in ascending id order. Rows with a NULL vector are dropped; zero
    rows give a (0, 0) matrix, so ``axis=1`` reductions stay defined."""
    table = table.filter(pc.is_valid(table[vector_col])).sort_by(id_col)
    ids = table.column(id_col).to_numpy().astype(np.int64)
    vecs = table.column(vector_col).combine_chunks()
    lens = pc.list_value_length(vecs).to_numpy()
    if len(lens) and (lens != lens[0]).any():
        raise ValueError(f"{vector_col}: vectors of unequal length")
    dim = int(lens[0]) if len(lens) else 0
    flat = vecs.flatten().to_numpy(zero_copy_only=False)
    return ids, flat.astype(np.float64).reshape(len(ids), dim)


def _has_timestamp(dt: DataType) -> bool:
    if isinstance(dt, TimestampType):
        return True
    if isinstance(dt, StructType):
        return any(_has_timestamp(f.dataType) for f in dt.fields)
    if isinstance(dt, ArrayType):
        return _has_timestamp(dt.elementType)
    if isinstance(dt, MapType):
        return _has_timestamp(dt.keyType) or _has_timestamp(dt.valueType)
    return False


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    Functions defined in this package (embedder factories, model
    classes) are pickled BY REFERENCE to the module name, so workers
    must be able to import ``vectorsearchutil_spark`` — which fails
    when the driver process imported us via a sys.path tweak from a
    different cwd (executor workers inherit neither). Zipping the
    package once per SparkContext and registering it with
    ``addPyFile`` makes every task self-contained, exactly as it
    would be on a real cluster deploy.
    """
    sc = spark.sparkContext
    marker = "_vectorsearchutil_spark_shipped"
    if getattr(sc, marker, False):
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        tempfile.mkdtemp(prefix="vsu_spark_pkg_"), "vectorsearchutil_spark.zip"
    )
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fname in files:
                if not fname.endswith(".py"):
                    continue
                full = os.path.join(root, fname)
                rel = os.path.join(
                    "vectorsearchutil_spark", os.path.relpath(full, pkg_dir)
                )
                zf.write(full, rel)
    sc.addPyFile(zip_path)
    setattr(sc, marker, True)

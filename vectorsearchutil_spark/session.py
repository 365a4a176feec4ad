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
from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
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
    the gate the wasted work is bounded at ``n + 1`` rows. A lazy
    ``localCheckpoint`` under ``df`` is materialized in full by this
    job (the limit's single-partition exchange computes every input
    partition), so a distributed path that follows reads it instead of
    re-running the upstream plan.
    """
    table = df.limit(n + 1).toArrow()
    return table if table.num_rows <= n else None


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

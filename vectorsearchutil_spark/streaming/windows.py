"""Structured Streaming operators over the events stream.

The reference is batch-only (SURVEY.md §2 Table B: streaming absent);
this module supplies the [ext] streaming surface: watermarked
tumbling/sliding windows, session windows, and streaming dedup —
the standard late-data-tolerant shapes.

Each operator is a pure function ``streaming DataFrame → streaming
DataFrame`` so the same transformation text also type-checks against
a batch DataFrame (Spark's unified API); tests run them with
``availableNow`` triggers against the parquet events table and
compare to the batch twin in queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from vectorsearchutil_spark.session import local_frame

#: events schema when stored as TIMESTAMP(NANOS) parquet → read as
#: long nanos, converted after read; see sources/readers.py. Newer
#: testdata generations write TIMESTAMP(MICROS), which Spark reads
#: natively — read_events_stream sniffs the file schema and picks.
EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the events table (file source; in production this would
    be Kafka/Kinesis with the same downstream plan).

    The stored ``ts`` unit varies by testdata generation: sniff the
    batch-read schema once on the driver and declare the stream
    schema to match (readStream requires an explicit schema).
    """
    # ensure the declared engine defaults (session.ENGINE_CONF) on
    # sessions built elsewhere — the UTC pin makes the NTZ→LTZ cast
    # below (and the watermark/window arithmetic) value-identical to
    # the naive stored micros on any host (see sources/readers.py)
    from vectorsearchutil_spark.sources.readers import _pin_session_confs

    _pin_session_confs(spark)
    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the file stream source requires a directory: stream the SF dir
    # with a glob narrowing it to the events table.
    nanos = dict((f.name, f.dataType.simpleString()) for f in batch_schema).get(
        "ts"
    ) == "bigint"
    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA if nanos else batch_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if nanos:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dict(raw.dtypes).get("ts") == "timestamp_ntz":
        # NTZ is rejected by withWatermark; session tz is pinned UTC
        # above so the cast is value-identity.
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def streaming_tumbling_counts(
    events: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked tumbling-window counts per event type. Late rows
    beyond the watermark are dropped; state is bounded by
    watermark/window ratio — the 100 TB/day-safe aggregation shape."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact-cents sum (decimal), matching the batch twin
            # events_tumbling_window — order-independent across
            # micro-batches as well as partitions
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 3)
            .cast("double").alias("sum_value"),
        )
        .select(
            # NTZ output = the batch twin's dtype (load_table reads
            # NTZ); value-identity under the UTC session pin
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_session_window(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "60 minutes",
) -> DataFrame:
    """Session windows per user: sessions close after `gap` idle.
    The native streaming form of the batch lag-based sessionization
    (queries.events_sessionize)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("user_id"),
            F.col("s.start").cast("timestamp_ntz").alias("session_start"),
            F.col("s.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
    )


def streaming_dedup(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming dedup within the watermark horizon — state stays
    bounded (vs unbounded dropDuplicates). The streaming analog of
    the reference's insert-if-absent guard
    (vsu/base/VectorSearchBase.py:79-87)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def streaming_segment_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_tokens: int = 8,
) -> DataFrame:
    """Streaming form of sub-document segment dedup
    (``operators.dedup.segment_dedup``): incoming documents explode
    into fixed-width token segments and every segment VALUE passes at
    most once — later arrivals (any document, any micro-batch within
    the horizon) are dropped.

    Segments key the dedup by their md5 (16 bytes of state per
    distinct segment instead of the text itself), so the state store
    holds hashes, not corpus text — the same
    never-shuffle-raw-text posture as the batch operator. Without an
    event-time column on documents, state is the unbounded
    ``dropDuplicates`` form; give docs a timestamp + watermark to
    bound it (``dropDuplicatesWithinWatermark``) in production.
    Output: (doc_id, idx, seg_hash) for surviving segments.
    """
    toked = docs.selectExpr(
        id_col,
        "filter(split(" + text_col + ", ' '), x -> x != '') AS _toks",
    )
    segs = toked.selectExpr(
        id_col,
        f"posexplode(CASE WHEN size(_toks) = 0"
        f" THEN CAST(array() AS array<string>)"
        f" ELSE transform(sequence(0,"
        f" cast(ceil(size(_toks) / {seg_tokens}) as int) - 1),"
        f" i -> concat_ws(' ', slice(_toks,"
        f" i * {seg_tokens} + 1, {seg_tokens}))) END) AS (idx, seg)",
    ).select(
        F.col(id_col), F.col("idx"), F.md5(F.col("seg")).alias("seg_hash")
    )
    return segs.dropDuplicates(["seg_hash"])


def streaming_value_histogram(events, width: float = 25.0, bins: int = 20):
    """Streaming twin of the batch ``events_value_histogram``: the
    per-(type, bucket) counts are pure additive state — ``bins``
    longs per type regardless of stream length — so a plain streaming
    aggregate in update/complete mode IS the mergeable histogram
    sketch; each micro-batch folds in with + (test: exact replay ≡
    batch). The live distribution monitor a drift alarm (PSI vs a
    broadcast baseline) reads from."""
    from pyspark.sql import functions as F

    bucket = F.least(
        F.floor(F.col("value") / F.lit(float(width))),
        F.lit(int(bins) - 1),
    ).cast("int")
    return events.groupBy(
        F.col("event_type"), bucket.alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))


def histogram_psi(
    current,
    baseline,
    keys=("event_type",),
    bins: int = 20,
    alert_threshold: float = 0.2,
):
    """Population-stability index of a live histogram against a
    broadcast baseline — the drift alarm wired onto
    ``streaming_value_histogram``: call from foreachBatch (or on the
    complete-mode sink table) with the frozen baseline counts; PSI >
    0.2 is the conventional retrain/alert line. Laplace-smoothed
    (+0.5 per bin) so empty bins stay finite; per-bin summands round
    to 9dp before a bin-ordered fold (the dim_drift_psi determinism
    seam). Inputs: (keys..., bucket, n) frames."""
    from pyspark.sql import functions as F

    keys = list(keys)

    def tot(df, name):
        return df.groupBy(*keys).agg(
            F.sum("n").cast("double").alias(name)
        )

    kb = [*keys, "bucket"]
    # the dense grid derives from the SAME plan as `current` (a
    # memory-sink table in streaming use), and joining a frame onto
    # its own lineage trips conflicting-attribute analysis — and key
    # cardinality is small by definition (histogram group keys), so
    # materialize the key set and rebuild it lineage-free
    spark = current.sparkSession
    key_rows = current.select(*keys).distinct().collect()
    keys_df = local_frame(
        spark, key_rows, current.select(*keys).schema
    )
    grid = keys_df.crossJoin(
        spark.range(int(bins)).select(
            F.col("id").cast("int").alias("bucket")
        )
    )
    j = (
        grid.join(current.withColumnRenamed("n", "_nc"), kb, "left")
        .join(baseline.withColumnRenamed("n", "_nb"), kb, "left")
        .join(F.broadcast(tot(current, "_tc")), keys)
        # LEFT: a key absent from the baseline (brand-new event type)
        # is the loudest drift signal — an inner join would silently
        # drop it from the report. Zero baseline mass smooths to the
        # Laplace floor and produces a large finite PSI.
        .join(F.broadcast(tot(baseline, "_tb")), keys, "left")
        .select(
            *kb,
            (
                (F.coalesce(F.col("_nc"), F.lit(0)) + 0.5)
                / (F.col("_tc") + 0.5 * bins)
            ).alias("pc"),
            (
                (F.coalesce(F.col("_nb"), F.lit(0)) + 0.5)
                / (F.coalesce(F.col("_tb"), F.lit(0.0)) + 0.5 * bins)
            ).alias("pb"),
        )
    )
    summand = F.round(
        (F.col("pc") - F.col("pb")) * F.log(F.col("pc") / F.col("pb")), 9
    )
    return (
        j.groupBy(*keys)
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("bucket", summand.alias("s")))
                    ),
                    lambda e: e["s"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("_psi")
        )
        .select(
            *keys,
            F.round(F.col("_psi"), 6).alias("psi"),
            (F.col("_psi") > alert_threshold).alias("drift_alert"),
        )
    )


def tdigest_stream_sink(
    path: str,
    value_col: str = "value",
    id_col: str = "event_id",
    n_buckets: int = 32,
    n_centroids: int = 64,
):
    """``foreachBatch`` sink folding a stream into the t-digest-lite
    sketch: each micro-batch collapses to its own
    ``tdigest_centroids`` table (n_buckets × n_centroids rows of
    fixed-point mergeable state — operators/sketches.py) appended
    under ``{path}/batch_id=<id>/`` with partition-overwrite
    semantics, so re-delivered batches overwrite themselves
    (exactly-once, same contract as ``idempotent_parquet_sink``).
    The sketch's union-merge property is exactly what makes it
    streamable: the sink table IS the running sketch — no
    unbounded state in the query, no rescan of past data — and
    ``tdigest_stream_quantiles`` answers any quantile from it.
    """
    from pyspark.sql import functions as F

    from vectorsearchutil_spark.operators.sketches import tdigest_centroids

    def write_batch(batch_df, batch_id: int) -> None:
        cents = tdigest_centroids(
            batch_df,
            value_col,
            id_col,
            n_buckets=n_buckets,
            n_centroids=n_centroids,
        )
        (
            cents.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(path)
        )

    return write_batch


def tdigest_stream_quantiles(spark, path: str, qs):
    """Quantile estimates from a ``tdigest_stream_sink`` table: union
    all appended micro-batch sketches (the merge IS concatenation)
    and run the standard estimator."""
    from vectorsearchutil_spark.operators.sketches import tdigest_quantiles

    cents = spark.read.parquet(path).drop("batch_id")
    return tdigest_quantiles(cents, qs)

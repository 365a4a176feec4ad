"""Streaming operators: run each with availableNow over the parquet
events table into a memory sink and compare against the batch twin."""

import pyspark.sql.functions as F
import pytest

from vectorsearchutil_spark.sources.readers import load_table
from vectorsearchutil_spark.streaming.windows import (
    read_events_stream,
    streaming_dedup,
    streaming_session_window,
    streaming_tumbling_counts,
)


def _run_stream(spark, sdf, name, mode="append"):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_tumbling_counts_match_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    got = _run_stream(
        spark, streaming_tumbling_counts(stream), "t_tumble", mode="append"
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    # availableNow + watermark: all windows older than max(ts)-30min close;
    # compare the closed ones
    got_map = {(r["window_start"], r["event_type"]): r["n_events"]
               for r in got.collect()}
    batch_map = {(r["w"]["start"], r["event_type"]): r["n_events"]
                 for r in batch.collect()}
    assert len(got_map) > 0
    for k, v in got_map.items():
        assert batch_map[k] == v


def test_session_window_counts(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    got = _run_stream(
        spark, streaming_session_window(stream), "t_sess", mode="append"
    )
    rows = got.collect()
    assert len(rows) > 0
    total = sum(r["n_events"] for r in rows)
    # emitted (closed) sessions are a subset of all events
    assert 0 < total <= load_table(spark, sf_dir, "events").count()


def test_streaming_dedup(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    got = _run_stream(spark, streaming_dedup(stream), "t_dedup", mode="append")
    n_events = load_table(spark, sf_dir, "events").count()
    assert got.count() == n_events  # event_id already unique → no drops
    assert got.select("event_id").distinct().count() == n_events


def test_watermark_drops_late_data(spark, tmp_path):
    """Late rows beyond the watermark must not reopen closed windows:
    feed a batch, advance the watermark, then feed a very late row —
    the late row's window must not appear in append-mode output."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "src")
    base = spark.createDataFrame(
        [(1, "2024-01-01 10:00:30", 1.0), (2, "2024-01-01 10:11:00", 2.0),
         (3, "2024-01-01 12:00:00", 3.0)],  # advances watermark far ahead
        ["event_id", "ts", "value"],
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    base.write.mode("append").parquet(src)

    stream = spark.readStream.schema(base.schema).parquet(src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (agg.writeStream.format("memory").queryName("t_late")
         .outputMode("append").trigger(processingTime="1 second").start())
    try:
        q.processAllAvailable()
        # very late row for the (closed) 10:00 window
        late = spark.createDataFrame(
            [(9, "2024-01-01 10:00:45", 99.0)], ["event_id", "ts", "value"]
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        late.write.mode("append").parquet(src)
        q.processAllAvailable()
        # force one more batch so closed windows flush
        tick = spark.createDataFrame(
            [(10, "2024-01-01 13:00:00", 0.0)], ["event_id", "ts", "value"]
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        tick.write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {str(r["ws"]): r["n"] for r in spark.table("t_late").collect()}
    # the 10:00 window closed with exactly 1 row; the late row (id=9)
    # must NOT have been counted
    ten = [v for k, v in rows.items() if "10:00:00" in k]
    assert ten == [1]


def test_stateful_profiles_accumulate_across_restarts(spark, tmp_path):
    """applyInPandasWithState: state persists across micro-batches AND
    query restarts (checkpointed) — a user's profile after batch 2
    includes batch 1's events."""
    import pyspark.sql.functions as F

    from vectorsearchutil_spark.streaming.stateful import (
        streaming_user_profiles,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    schema_df = spark.createDataFrame(
        [(1, 10, "2024-01-01 10:00:00", 1.0)],
        ["event_id", "user_id", "ts", "value"],
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    schema_df.write.mode("append").parquet(src)

    out = str(tmp_path / "out")

    def run_once(qname):
        # memory sink can't recover from checkpoints; foreachBatch +
        # parquet is the durable-sink shape for update-mode state.
        stream = spark.readStream.schema(schema_df.schema).parquet(src)

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            streaming_user_profiles(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        latest = {}
        for r in spark.read.parquet(out).collect():
            cur = latest.get(r["user_id"])
            if cur is None or r["n_events"] > cur["n_events"]:
                latest[r["user_id"]] = r
        return latest

    first = run_once("t_profiles_1")
    assert first[10]["n_events"] == 1

    batch2 = spark.createDataFrame(
        [(2, 10, "2024-01-01 10:05:00", 4.0),
         (3, 20, "2024-01-01 10:06:00", 9.0)],
        ["event_id", "user_id", "ts", "value"],
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    batch2.write.mode("append").parquet(src)

    second = run_once("t_profiles_2")
    assert second[10]["n_events"] == 2        # state carried across restart
    assert second[10]["sum_value"] == 5.0     # 1.0 + 4.0
    assert second[20]["n_events"] == 1


def test_stream_stream_interval_join_matches_batch(spark, sf_dir):
    """Stream-stream interval join (watermarked both sides) produces
    the same pairs as the equivalent batch join."""
    import pyspark.sql.functions as F

    from vectorsearchutil_spark.streaming.joins import (
        stream_stream_interval_join,
    )

    stream = read_events_stream(spark, sf_dir)
    p_s = stream.filter(F.col("event_type") == "purchase")
    v_s = stream.filter(F.col("event_type") == "view")
    got = _run_stream(
        spark,
        stream_stream_interval_join(p_s, v_s),
        "t_ssjoin",
        mode="append",
    )

    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("p_ts"),
    )
    v = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user_id"), F.col("ts").alias("v_ts"),
    )
    batch = p.join(
        v,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
    )
    got_pairs = {(r["purchase_id"], r["view_id"]) for r in got.collect()}
    batch_pairs = {(r["purchase_id"], r["view_id"]) for r in batch.collect()}
    assert len(batch_pairs) > 0
    # availableNow processes everything in-watermark; the streaming
    # result must be exactly the batch result here (no late data)
    assert got_pairs == batch_pairs


def test_stream_static_enrich_matches_batch(spark, sf_dir):
    """Stream-static dimension join (stateless, dim broadcast per
    micro-batch) enriches exactly like the batch join."""
    import pyspark.sql.functions as F

    from vectorsearchutil_spark.streaming.joins import stream_static_enrich

    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    stream = read_events_stream(spark, sf_dir)
    got = _run_stream(
        spark,
        stream_static_enrich(stream, dim).select(
            "event_id", "user_id", "c_mktsegment"
        ),
        "t_senrich",
        mode="append",
    )

    e = load_table(spark, sf_dir, "events")
    batch = e.join(dim, e.user_id == dim.c_custkey).select(
        "event_id", "user_id", "c_mktsegment"
    )
    got_rows = {tuple(r) for r in got.collect()}
    batch_rows = {tuple(r) for r in batch.collect()}
    assert len(batch_rows) > 0
    assert got_rows == batch_rows


def test_idempotent_sink_exactly_once_on_replay(spark, sf_dir, tmp_path):
    """Re-delivering a batch to the idempotent sink must not
    duplicate rows — the replay overwrites its own batch partition."""
    import pyspark.sql.functions as F

    from vectorsearchutil_spark.streaming.sinks import idempotent_parquet_sink

    out = str(tmp_path / "landing")
    sink = idempotent_parquet_sink(out)
    batch = (
        load_table(spark, sf_dir, "events")
        .limit(100)
        .select("event_id", "user_id", "value")
    )
    sink(batch, 7)
    first = spark.read.parquet(out).count()
    sink(batch, 7)  # crash-restart replay of the same batch id
    replay = spark.read.parquet(out).count()
    assert first == 100
    assert replay == 100  # idempotent: no duplication
    sink(batch, 8)  # a NEW batch appends its own partition
    assert spark.read.parquet(out).count() == 200
    # ADVICE r1: the sink must not leak dynamic mode into the session
    # (it uses the per-write datasource option instead)
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
        .upper() == "STATIC"
    )


def test_idempotent_sink_streaming_end_to_end(spark, sf_dir, tmp_path):
    """availableNow stream through the idempotent sink lands exactly
    the source rows."""
    from vectorsearchutil_spark.streaming.sinks import idempotent_parquet_sink

    out = str(tmp_path / "landing2")
    stream = read_events_stream(spark, sf_dir).select(
        "event_id", "user_id", "value"
    )
    q = (
        stream.writeStream.foreachBatch(idempotent_parquet_sink(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n_src = load_table(spark, sf_dir, "events").count()
    got = spark.read.parquet(out)
    assert got.count() == n_src
    assert got.select("event_id").distinct().count() == n_src


def test_stream_ingest_to_store_matches_batch(spark, sf_dir, tmp_path):
    """Streaming documents into the VectorStore (foreachBatch over
    set_data(append=True)) lands exactly the batch-ingest result:
    same targets, first-wins dedup intact, replays absorbed."""
    from vectorsearchutil_spark.store import VectorStore
    from vectorsearchutil_spark.streaming.ingest import (
        read_documents_stream,
        stream_ingest,
    )

    store = VectorStore(spark, acid_path=str(tmp_path / "store"))
    stream = read_documents_stream(spark, sf_dir)
    q = stream_ingest(stream, store, str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    docs = load_table(spark, sf_dir, "documents")
    n_distinct = docs.select("text").distinct().count()
    assert store.count() == n_distinct
    # store is queryable right after streaming ingest
    some_text = docs.first()["text"]
    res = store.query(some_text, k=1)
    assert res.first()["target"] == some_text
    # re-running the same stream (fresh checkpoint = full replay) adds
    # nothing: insert-if-absent absorbs re-delivery
    q2 = stream_ingest(
        read_documents_stream(spark, sf_dir), store, str(tmp_path / "ckpt2")
    )
    q2.awaitTermination(180)
    assert store.count() == n_distinct


def test_stream_ingest_deduped_rejects_near_dups(spark, tmp_path):
    """The near-dup-gated streaming ingest: batch 1 lands, a second
    stream of perturbed copies (one token changed) is rejected by the
    MinHash gate even though the exact-hash guard would admit it."""
    import pyspark.sql.functions as F

    from vectorsearchutil_spark.store import VectorStore
    from vectorsearchutil_spark.streaming.ingest import (
        DOCUMENTS_SCHEMA,
        stream_ingest_deduped,
    )

    base = [
        (1, "the quick brown fox jumps over the lazy dog today", "en", "s1", 49),
        (2, "completely different content about spark joins here", "en", "s1", 51),
    ]
    perturbed = [
        (11, "the quick brown fox jumps over the lazy dog tonight", "en", "s2", 50),
        (12, "fresh novel text with nothing in common at all", "en", "s2", 46),
    ]
    d1, d2 = tmp_path / "in1", tmp_path / "in2"
    spark.createDataFrame(base, DOCUMENTS_SCHEMA).coalesce(1).write.parquet(
        str(d1)
    )
    spark.createDataFrame(
        perturbed, DOCUMENTS_SCHEMA
    ).coalesce(1).write.parquet(str(d2))

    store = VectorStore(spark, acid_path=str(tmp_path / "store"))

    def stream_of(path):
        return spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(str(path))

    q = stream_ingest_deduped(
        stream_of(d1), store, str(tmp_path / "c1"), threshold=0.6
    )
    q.awaitTermination(180)
    assert store.count() == 2

    q2 = stream_ingest_deduped(
        stream_of(d2), store, str(tmp_path / "c2"), threshold=0.6
    )
    q2.awaitTermination(180)
    targets = {r["target"] for r in store.data.collect()}
    # near-dup of doc 1 rejected; novel doc admitted
    assert store.count() == 3
    assert "fresh novel text with nothing in common at all" in targets
    assert not any("tonight" in t for t in targets)


def test_stream_ingest_deduped_keeps_the_cache_flat(spark, tmp_path):
    """20 micro-batches through the near-dup-gated ingest into a store
    without dedup state: each batch is gated through
    ``store.ingest_dedup_check``, which derives the store's state
    in-job and caches nothing, so the session's cache holds as many
    entries after the stream as before it. Every batch re-sends a
    near copy of the previous batch's first document, which the gate
    rejects."""
    import glob
    import shutil

    from vectorsearchutil_spark.store import VectorStore
    from vectorsearchutil_spark.streaming.ingest import (
        DOCUMENTS_SCHEMA,
        stream_ingest_deduped,
    )

    import random

    words = [f"w{i}" for i in range(2000)]

    def text(b, i):
        return " ".join(random.Random(b * 10 + i).choices(words, k=60))

    src = tmp_path / "in"
    src.mkdir()
    for b in range(20):
        rows = [(b * 10 + i, text(b, i), "en", "s", 0) for i in range(2)]
        if b:
            near = text(b - 1, 0).rsplit(" ", 1)[0] + " changed"
            rows.append((b * 10 + 9, near, "en", "s", 0))
        out = str(tmp_path / f"w{b}")
        spark.createDataFrame(rows, DOCUMENTS_SCHEMA).coalesce(1).write.parquet(out)
        (part,) = glob.glob(out + "/part-*.parquet")
        shutil.move(part, str(src / f"batch-{b:02d}.parquet"))

    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.cachedData().size()
    store = VectorStore(spark, acid_path=str(tmp_path / "store"))
    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_ingest_deduped(stream, store, str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    assert q.lastProgress["batchId"] == 19
    assert cache.cachedData().size() == before
    targets = {r["target"] for r in store.data.collect()}
    assert targets == {text(b, i) for b in range(20) for i in range(2)}


def test_streaming_segment_dedup_each_segment_once(spark, sf_dir):
    """Streaming sub-document dedup: across all micro-batches, every
    distinct segment value survives exactly once, and the survivor
    count matches the batch operator's total."""
    from vectorsearchutil_spark.operators.dedup import segment_dedup
    from vectorsearchutil_spark.streaming.ingest import (
        read_documents_stream,
    )
    from vectorsearchutil_spark.streaming.windows import (
        streaming_segment_dedup,
    )

    stream = read_documents_stream(spark, sf_dir)
    got = _run_stream(
        spark,
        streaming_segment_dedup(stream),
        "t_seg_dedup",
        mode="append",
    ).collect()
    hashes = [r["seg_hash"] for r in got]
    assert len(hashes) == len(set(hashes))  # at most once each
    batch_total = (
        segment_dedup(load_table(spark, sf_dir, "documents"))
        .agg(F.sum("n_kept").alias("s"))
        .first()["s"]
    )
    assert len(hashes) == batch_total


def test_streaming_token_budget_matches_batch_twin(spark, sf_dir, tmp_path):
    """Feeding the batch operator's deterministic hash order through
    the streaming admission op (split across two micro-batches, so
    state must carry the cumulative count) reproduces
    token_budget_sample exactly."""
    import pyspark.sql.functions as F

    from vectorsearchutil_spark.functions.text import tokens_sql
    from vectorsearchutil_spark.operators.sampling import (
        hash_uniform,
        token_budget_sample,
    )
    from vectorsearchutil_spark.streaming.stateful import (
        streaming_token_budget,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    budgets = {"src0": 4000, "src1": 2500}

    batch = token_budget_sample(docs, budgets, seed="tbudget")
    expected = sorted(tuple(r) for r in batch.collect())
    assert expected, "budget too small — test would be vacuous"

    # the batch op's internal ordering: hash draw rounded to 12dp,
    # then doc_id — replay it as the stream's global arrival order
    sized = docs.selectExpr(
        "doc_id", "source", f"size({tokens_sql('text')}) AS n_tokens"
    ).withColumn(
        "_u", F.round(hash_uniform(F.col("doc_id").cast("string"), "tbudget"), 12)
    )
    ordered = sized.withColumn(
        "_ord",
        F.row_number().over(
            __import__("pyspark").sql.Window.partitionBy("source")
            .orderBy(F.col("_u").asc(), F.col("doc_id").asc())
        ),
    ).select("doc_id", "source", "n_tokens", "_ord")

    src = str(tmp_path / "src")
    # two micro-batches: first half of every source's order, then the rest
    half = ordered.filter(F.col("_ord") <= 125)
    rest = ordered.filter(F.col("_ord") > 125)
    half.coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = spark.readStream.schema(ordered.schema).parquet(src)

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            streaming_token_budget(stream, budgets, order_col="_ord")
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    rest.coalesce(1).write.mode("append").parquet(src)
    run_once()

    got = sorted(
        tuple(r)
        for r in spark.read.parquet(out)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
        .collect()
    )
    assert got == expected


def test_streaming_token_budget_unknown_source_rejected(spark, tmp_path):
    from vectorsearchutil_spark.streaming.stateful import (
        streaming_token_budget,
    )

    src = str(tmp_path / "src")
    df = spark.createDataFrame(
        [(1, "known", 5, 1), (2, "unknown", 1, 1)],
        "doc_id long, source string, n_tokens long, _ord int",
    )
    df.write.mode("append").parquet(src)
    out = str(tmp_path / "out")
    stream = spark.readStream.schema(df.schema).parquet(src)

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    q = (
        streaming_token_budget(stream, {"known": 10}, order_col="_ord")
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    assert [(r["doc_id"], r["cum_tokens"]) for r in rows] == [(1, 5)]


def test_streaming_cdc_upsert_versions_and_time_travel(spark, tmp_path):
    """Two changelog micro-batches merge into a ManifestLog table:
    the final snapshot equals a one-shot batch cdc_apply over the
    concatenated log, and the PREVIOUS version (time travel) shows
    the state after batch 1 only."""
    from vectorsearchutil_spark.operators.cdc import cdc_apply
    from vectorsearchutil_spark.sources.manifest import ManifestLog
    from vectorsearchutil_spark.streaming.sinks import cdc_upsert_sink

    schema = "id long, seq long, op string, name string, bal double"
    b1 = spark.createDataFrame(
        [(1, 1, "upsert", "a", 1.0), (2, 2, "upsert", "b", 2.0)], schema
    )
    b2 = spark.createDataFrame(
        [(1, 3, "delete", None, None), (3, 4, "upsert", "c", 3.0)], schema
    )

    src = str(tmp_path / "src")
    b1.coalesce(1).write.mode("append").parquet(src)

    log = ManifestLog(str(tmp_path / "table"))
    sink = cdc_upsert_sink(log, id_col="id")

    def run_once():
        stream = spark.readStream.schema(b1.schema).parquet(src)
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    v1 = log.latest_version()
    after1 = sorted(map(tuple, log.read(spark).collect()))
    assert after1 == [(1, "a", 1.0), (2, "b", 2.0)]

    b2.coalesce(1).write.mode("append").parquet(src)
    run_once()

    final = sorted(map(tuple, log.read(spark).collect()))
    empty = spark.createDataFrame([], "id long, name string, bal double")
    expected = sorted(
        map(
            tuple,
            cdc_apply(empty, b1.unionByName(b2), "id").collect(),
        )
    )
    assert final == expected == [(2, "b", 2.0), (3, "c", 3.0)]
    # time travel: the pre-batch-2 version is still readable
    assert sorted(map(tuple, log.read(spark, version=v1).collect())) == after1


def test_streaming_attribution_matches_batch_twin(spark, sf_dir, tmp_path):
    """Replaying the events table in (ts, event_id) order through
    three micro-batches reproduces the batch events_attribution
    window query row-for-row — per-user last-touch state must carry
    across batches."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from vectorsearchutil_spark import queries as Q
    from vectorsearchutil_spark.streaming.stateful import (
        streaming_attribution,
    )

    expected = sorted(
        (
            r["user_id"],
            r["purchase_event_id"],
            r["revenue"],
            r["last_touch_ts"],
            r["attribution"],
        )
        for r in Q.QUERIES["events_attribution"](spark, sf_dir).collect()
    )
    assert expected, "no purchases at this sf — vacuous test"

    from vectorsearchutil_spark.sources.readers import load_table

    events = (
        load_table(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("event_id", "ts", "user_id", "event_type", "value")
        .withColumn(
            "_ord",
            F.row_number().over(
                Window.orderBy("ts", "event_id")
            ),
        )
    )
    n = events.count()
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = (
            spark.readStream.schema(events.drop("_ord").schema)
            .parquet(src)
        )

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            streaming_attribution(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    for lo, hi in ((0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)):
        events.filter(
            (F.col("_ord") > lo) & (F.col("_ord") <= hi)
        ).drop("_ord").coalesce(1).write.mode("append").parquet(src)
        run_once()

    got = sorted(
        (
            r["user_id"],
            r["purchase_event_id"],
            r["revenue"],
            r["last_touch_ts"],
            r["attribution"],
        )
        for r in spark.read.parquet(out)
        .select(
            "user_id",
            "purchase_event_id",
            "revenue",
            F.timestamp_micros("last_touch_us").alias("last_touch_ts"),
            "attribution",
        )
        .collect()
    )
    assert got == expected


def test_streaming_value_histogram_matches_batch(spark, sf_dir, tmp_path):
    """Per-(type, bucket) counts are additive state: replaying the
    events table through three micro-batches in complete mode equals
    the one-shot batch histogram exactly."""
    import pyspark.sql.functions as F

    from vectorsearchutil_spark.sources.readers import load_table
    from vectorsearchutil_spark.streaming.windows import (
        streaming_value_histogram,
    )

    events = (
        load_table(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    expected = sorted(
        tuple(r)
        for r in streaming_value_histogram(events).collect()
    )

    src = str(tmp_path / "src")
    n = events.count()
    for k in range(3):
        events.filter(F.col("event_id") % 3 == k).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        streaming_value_histogram(stream)
        .writeStream.format("memory")
        .queryName("hist_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        tuple(r) for r in spark.sql("SELECT * FROM hist_counts").collect()
    )
    assert got == expected


def test_streaming_drift_monitor_flags_shift(spark, sf_dir, tmp_path):
    """Baseline = real events; live stream = values shifted +200 for
    one type. The PSI monitor over the streaming histogram flags
    exactly that type; identical streams flag nothing."""
    import pyspark.sql.functions as F

    from vectorsearchutil_spark.sources.readers import load_table
    from vectorsearchutil_spark.streaming.windows import (
        histogram_psi,
        streaming_value_histogram,
    )

    events = (
        load_table(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    baseline = streaming_value_histogram(events)

    shifted = events.withColumn(
        "value",
        F.when(
            F.col("event_type") == "click", F.col("value") + 200.0
        ).otherwise(F.col("value")),
    )
    src = str(tmp_path / "src")
    shifted.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(shifted.schema).parquet(src)
    q = (
        streaming_value_histogram(stream)
        .writeStream.format("memory")
        .queryName("drift_hist")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    live = spark.sql("SELECT * FROM drift_hist")
    verdicts = {
        r["event_type"]: (r["psi"], r["drift_alert"])
        for r in histogram_psi(live, baseline).collect()
    }
    assert verdicts["click"][1] is True
    for t, (psi, alert) in verdicts.items():
        if t != "click":
            assert alert is False and abs(psi) < 0.05, (t, psi)


def test_streaming_tdigest_replay_matches_chunked_batch(
    spark, sf_dir, tmp_path
):
    """The t-digest sink folds an availableNow events stream into the
    mergeable centroid sketch; quantiles over the sink table equal
    the BATCH union of per-chunk sketches over the same data split —
    and a full replay (fresh checkpoint, same sink) changes nothing
    (partition-overwrite idempotence)."""
    from vectorsearchutil_spark.operators.sketches import (
        tdigest_centroids,
        tdigest_quantiles,
    )
    from vectorsearchutil_spark.streaming.windows import (
        read_events_stream,
        tdigest_stream_quantiles,
        tdigest_stream_sink,
    )

    out = str(tmp_path / "tdsink")
    stream = read_events_stream(spark, sf_dir)
    q = (
        stream.writeStream.foreachBatch(tdigest_stream_sink(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["q"]: r["est"]
        for r in tdigest_stream_quantiles(
            spark, out, [0.5, 0.9]
        ).collect()
    }

    # batch twin: one sketch per micro-batch-equivalent chunk, merged
    # by union. availableNow over one parquet dir = one batch per
    # file-group; reproduce by sketching the same full table (single
    # chunk) per recorded batch partition.
    import glob
    import os

    batch_dirs = sorted(glob.glob(os.path.join(out, "batch_id=*")))
    # one parquet dir + availableNow = one micro-batch today; assert
    # it LOUDLY so a source-splitting change fails visibly instead of
    # silently skipping the equality check below
    assert len(batch_dirs) == 1, (
        f"expected a single micro-batch, got {len(batch_dirs)} — "
        "rewrite the twin comparison for multi-batch folds"
    )
    events = load_table(spark, sf_dir, "events")
    twin = tdigest_centroids(events, "value", "event_id")
    want = {
        r["q"]: r["est"]
        for r in tdigest_quantiles(twin, [0.5, 0.9]).collect()
    }
    assert got == want
    # exact-once on replay: fresh checkpoint, same sink path
    q2 = (
        read_events_stream(spark, sf_dir)
        .writeStream.foreachBatch(tdigest_stream_sink(out))
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    again = {
        r["q"]: r["est"]
        for r in tdigest_stream_quantiles(
            spark, out, [0.5, 0.9]
        ).collect()
    }
    assert again == got


def test_streaming_funnel_matches_batch_twin(spark, sf_dir, tmp_path):
    """Replaying the events table in (ts, event_id) order through
    three micro-batches reproduces the batch funnel: per-step user
    counts equal events_funnel_conversion's users column, and the
    per-user step times equal the batch stage aggregates
    row-for-row — per-user 3-long state must carry across batches."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from vectorsearchutil_spark.queries import funnel_conversion
    from vectorsearchutil_spark.sources.readers import load_table
    from vectorsearchutil_spark.streaming.stateful import streaming_funnel

    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("event_id", "ts", "user_id", "event_type")
    )

    # expected per-user stage times: the batch definition, stage by
    # stage (earliest view; earliest click strictly after; earliest
    # purchase strictly after)
    t1 = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t")
    )
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(t1.select("user_id", F.col("t").alias("_p")), "user_id")
        .filter(F.col("ts") > F.col("_p"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2.select("user_id", F.col("t").alias("_p")), "user_id")
        .filter(F.col("ts") > F.col("_p"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
    )
    expected = sorted(
        (r["user_id"], step, r["t"])
        for step, df in ((1, t1), (2, t2), (3, t3))
        for r in df.collect()
    )
    assert expected, "no funnel completions at this sf — vacuous test"
    batch_counts = {
        r["step"]: r["users"]
        for r in funnel_conversion(
            ev, ("view", "click", "purchase")
        ).collect()
    }

    events = ev.withColumn(
        "_ord", F.row_number().over(Window.orderBy("ts", "event_id"))
    )
    n = events.count()
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = (
            spark.readStream.schema(events.drop("_ord").schema)
            .parquet(src)
        )

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            streaming_funnel(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    for lo, hi in ((0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)):
        events.filter(
            (F.col("_ord") > lo) & (F.col("_ord") <= hi)
        ).drop("_ord").coalesce(1).write.mode("append").parquet(src)
        run_once()

    got_rows = (
        spark.read.parquet(out)
        .select(
            "user_id",
            "step",
            F.timestamp_micros("step_us").alias("t"),
        )
        .collect()
    )
    got = sorted((r["user_id"], r["step"], r["t"]) for r in got_rows)
    assert got == expected
    got_counts = {}
    for _, step, _t in got:
        got_counts[step] = got_counts.get(step, 0) + 1
    for step in (1, 2, 3):
        assert got_counts.get(step, 0) == batch_counts[step]

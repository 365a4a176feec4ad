"""Streaming ingest into the VectorStore.

The reference's ingest is a batch pandas call (``set_data``,
``vsu/base/VectorSearchBase.py:101-133``). At 100 TB/day the store is
fed by a STREAM: documents arrive continuously, get embedded, and
must land exactly once with the store's first-wins dedup intact.

``foreachBatch`` is the bridge: each micro-batch is a normal
DataFrame, so the SAME ``VectorStore.set_data(append=True)`` path
runs unchanged — embed-if-missing, within-batch first-wins dedup,
anti-join against existing targets, id continuation. Re-delivered
batches are absorbed by the append path's insert-if-absent semantics
(a replayed target already exists → anti-join drops it), giving
effective exactly-once without a transactional sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from vectorsearchutil_spark.store import VectorStore

DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the documents table (file source; Kafka in production)."""
    return (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def stream_ingest(
    docs_stream: DataFrame,
    store: VectorStore,
    checkpoint: str,
):
    """Start an availableNow ingest of a documents stream into
    ``store``: text → ``target``, lang/source → option slots, embed +
    dedup + append per micro-batch. Returns the streaming query."""

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        renamed = batch_df.select(
            F.col("text").alias("target"),
            F.col("lang").alias("option1"),
            F.col("source").alias("option2"),
        )
        store.set_data(renamed, append=True)

    return (
        docs_stream.writeStream.foreachBatch(ingest_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_ingest_deduped(
    docs_stream: DataFrame,
    store: VectorStore,
    checkpoint: str,
    threshold: float = 0.8,
):
    """Streaming ingest with the NEAR-dup gate: each micro-batch is
    first screened by ``store.ingest_dedup_check`` against the store's
    current contents — exact dups AND near-dups (MinHash-LSH verified
    at Jaccard ≥ threshold) are rejected, only 'new' docs append.

    This upgrades the store's exact first-wins guard (reference
    insert-if-absent, vsu/base/VectorSearchBase.py:79-87) to the
    near-dup policy a training corpus actually wants: a trivially
    perturbed re-submission no longer slips past the exact hash. The
    gate reads the store's dedup state, or derives it in-job when the
    store keeps none, and caches nothing. Replay safety is unchanged
    (a re-delivered batch re-gates to the same verdicts).
    """

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        verdicts = store.ingest_dedup_check(
            batch_df, threshold, text_col="text", id_col="doc_id"
        )
        keep = verdicts.filter(F.col("verdict") == "new").select(
            F.col("id").alias("doc_id")
        )
        gated = batch_df.join(keep, "doc_id", "left_semi")
        renamed = gated.select(
            F.col("text").alias("target"),
            F.col("lang").alias("option1"),
            F.col("source").alias("option2"),
        )
        store.set_data(renamed, append=True)

    return (
        docs_stream.writeStream.foreachBatch(ingest_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )

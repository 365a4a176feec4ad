"""Exactly-once streaming sinks via idempotent ``foreachBatch``.

Structured Streaming guarantees ``foreachBatch`` is invoked with a
monotonically tracked ``batch_id``, but a batch CAN be re-delivered
after a crash-restart (at-least-once at the sink boundary). The
standard exactly-once recipe for file sinks is an idempotent write:
partition the output directory by ``batch_id`` and make re-processing
a batch overwrite exactly its own partition — replays rewrite the
same bytes instead of duplicating them. With dynamic partition
overwrite the write is atomic per partition, so the sink converges to
exactly-once output regardless of how many times a batch is retried.

At 100 TB/day this is the pattern for parquet/object-store landing
zones; transactional tables (Delta/Iceberg) replace it with a real
``txn`` dedup on (appId, batchId) but the idempotency idea is the
same.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from vectorsearchutil_spark.session import local_frame


def idempotent_parquet_sink(path: str):
    """Build a ``foreachBatch`` function writing each micro-batch to
    ``{path}/batch_id=<id>/`` with partition-overwrite semantics.

    Re-delivered batches overwrite their own partition — the write is
    idempotent, so end-to-end output is exactly-once even though the
    sink boundary is at-least-once.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        # per-write datasource option (takes precedence over the
        # session config) — the session is never mutated, so no
        # restore bookkeeping and no leaked dynamic mode (ADVICE r1)
        (
            batch_df.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(path)
        )

    return write_batch


def cdc_upsert_sink(log, id_col: str, seq_col: str = "seq",
                    op_col: str = "op"):
    """foreachBatch sink: MERGE each changelog micro-batch into a
    ManifestLog-versioned table (streaming CDC apply — the live path
    of ``operators.cdc.cdc_apply``).

    Every micro-batch commits one new table version (atomic via the
    log's put-if-absent protocol), so the store keeps a queryable
    version-per-batch history and time travel across the stream's
    life. Replaying a batch after a crash re-merges identical
    changes — content-idempotent (latest-change-wins is stable under
    re-application), at worst writing a duplicate version with the
    same rows.

    Scale: the snapshot never shuffles (anti-join passthrough); only
    the micro-batch windows. The per-batch `replace` commit rewrites
    the snapshot files — the manifest-log analog of copy-on-write
    MERGE; at very high churn an append-only + read-time-merge layout
    would amortize this (not implemented).
    """
    from vectorsearchutil_spark.operators.cdc import cdc_apply

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        payload_cols = [
            c for c in batch_df.columns if c not in (seq_col, op_col)
        ]
        snapshot = log.read(spark)
        if snapshot is None:
            snapshot = local_frame(
                spark, [], batch_df.select(*payload_cols).schema
            )
        merged = cdc_apply(
            snapshot, batch_df, id_col, seq_col=seq_col, op_col=op_col
        )
        log.write_and_commit(merged, mode="replace")

    return write_batch

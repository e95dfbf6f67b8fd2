"""Structured Streaming wrapper around the batch ingest chain (SURVEY.md §2.8).

The reference's micro-batcher (``src/batchProcessor.js:108-119``: flush at
MAX_BATCH_SIZE or MAX_BATCH_WAIT_MS) *is* Structured Streaming's execution
model — triggers control latency/size (ST1), checkpoints give at-least-once
replay of failed micro-batches (ST4), ``query.stop()`` replaces the SIGTERM
flush (ST2). Per-request promises vanish; per-row outcomes are columns.

Exactly-once (ST3, the BigQuery insertId semantics of ``src/bq.js:49``):
in-batch first-write-wins dedup (the batch chain's window) plus a
cross-batch anti-join against warehouse keys already written for the
incoming batch's *event-time range* (± ``dedup_horizon_days`` slack). A
redelivered message carries its original ``occurred_at``, so only warehouse
day-partitions overlapping the batch's event dates can contain its key —
the anti-join build side is partition-pruned to those days (watermark-style
bounded state; at 100 TB the read never touches cold partitions).

DLQ branch (ST5): terminal rows append to a side parquet sink in the same
``foreachBatch`` transaction scope. Replay (ST6/ST7) is the batch job in
``operators.dlq`` pointed at the DLQ directory.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from drive_health_etl_spark.operators.ingest import ingest
from drive_health_etl_spark.schemas import RAW_MESSAGE_SCHEMA


@dataclass
class StreamIngestConfig:
    input_path: str
    warehouse_path: str
    dlq_path: str
    checkpoint_path: str
    audit_rate: float = 1.0
    normalize_phones: bool = True
    dedup_horizon_days: int = 7
    max_files_per_trigger: int | None = None  # backpressure (ST1 size trigger)
    # "parquet": input_path holds RAW_MESSAGE_SCHEMA parquet (batch-shaped
    # replay input). "envelope": input_path is an HTTP-push spool directory
    # read through the custom Python DataSource (S1 as a first-class source;
    # sources/envelope_source.py) — same rows, same downstream chain.
    source_format: str = "parquet"


# Above this many incoming rows the per-batch dedup falls back to the
# shuffle anti-join: broadcasting the batch's keys (~60 B/key) past this
# stops being free. A micro-batch this large is an availableNow backlog
# drain, where the shuffle is amortized anyway.
BROADCAST_DEDUP_MAX_KEYS = 500_000


def dedup_against_warehouse(
    spark: SparkSession,
    warehouse_path: str,
    rows: DataFrame,
    horizon_days: int = 7,
    broadcast_max_keys: int = BROADCAST_DEDUP_MAX_KEYS,
) -> DataFrame:
    """Cross-run exactly-once guard (BigQuery insertId semantics,
    ``src/bq.js:49``): drop incoming rows whose idempotency_key already
    exists in the warehouse's overlapping event-date partitions. Shared by
    the streaming sink and the DLQ replay job.

    Strategy by batch size (round-8: st_ingest_stream paid ~35x per-row vs
    batch at sf1, dominated by per-batch shuffles of warehouse keys):

    - **small batch** (the steady-state micro-batch): broadcast the batch's
      keys, left_semi against the pruned warehouse key scan (the scan is
      column- and partition-pruned and never shuffles), then broadcast the
      resulting duplicate set — at most batch-sized — back for the
      left_anti. Warehouse bytes touched: one key-column scan; warehouse
      bytes SHUFFLED: zero.
    - **large batch** (availableNow backlog drain): plain shuffle anti-join;
      at that size the shuffle is amortized over the rows.
    """
    try:
        # declared schema: no schema-inference jobs, and a corrupt warehouse
        # fails the batch instead of silently disabling this guard
        wh = spark.read.schema("idempotency_key string, event_date date").parquet(warehouse_path)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return rows  # first batch: warehouse doesn't exist yet
    stats = rows.agg(
        F.min("event_date").alias("lo"),
        F.max("event_date").alias("hi"),
        F.count("*").alias("n"),
    ).collect()[0]
    if stats["lo"] is None:
        return rows  # empty batch
    wh_keys = wh.filter(
        (F.col("event_date") >= F.date_sub(F.lit(stats["lo"]), horizon_days))
        & (F.col("event_date") <= F.date_add(F.lit(stats["hi"]), horizon_days))
    ).select("idempotency_key")
    if stats["n"] <= broadcast_max_keys:
        dup = wh_keys.join(
            F.broadcast(rows.select("idempotency_key")), "idempotency_key", "left_semi"
        )
        return rows.join(F.broadcast(dup), "idempotency_key", "left_anti")
    return rows.join(wh_keys, "idempotency_key", "left_anti")


def _process_batch(cfg: StreamIngestConfig):
    def inner(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        # Multi-sink foreachBatch: ingest() stores its decoded parent on the
        # first action, so the dedup, warehouse and DLQ jobs decode once.
        res = ingest(batch, audit_rate=cfg.audit_rate, normalize_phones=cfg.normalize_phones)
        rows_base = res.warehouse.withColumn("event_date", F.to_date("occurred_at"))
        rows_base.persist()
        try:
            rows = dedup_against_warehouse(
                spark, cfg.warehouse_path, rows_base, horizon_days=cfg.dedup_horizon_days
            )
            (
                rows.repartition("event_date")
                .sortWithinPartitions("tenant_id", "event_type")
                .write.mode("append")
                .partitionBy("event_date")
                .parquet(cfg.warehouse_path)
            )
            if res.dlq.limit(1).count() > 0:
                res.dlq.withColumn("epoch_id", F.lit(epoch_id)).write.mode("append").parquet(
                    cfg.dlq_path
                )
        finally:
            rows_base.unpersist()  # the persisted frame, not the post-dedup plan

    return inner


def start_stream_ingest(spark: SparkSession, cfg: StreamIngestConfig, available_now: bool = True) -> StreamingQuery:
    """Start the streaming ingest. ``available_now=True`` processes the
    backlog then stops (batch-replay mode — also what tests use); otherwise
    the query follows new files indefinitely."""
    if cfg.source_format == "envelope":
        from drive_health_etl_spark.sources.envelope_source import register_envelope_source

        register_envelope_source(spark)
        raw = (
            spark.readStream.format("envelope").option("path", cfg.input_path).load()
        )
    else:
        reader = (
            spark.readStream.schema(RAW_MESSAGE_SCHEMA)
            .format("parquet")
        )
        if cfg.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", cfg.max_files_per_trigger)
        raw = reader.load(cfg.input_path)

    writer = (
        raw.writeStream.foreachBatch(_process_batch(cfg))
        .option("checkpointLocation", cfg.checkpoint_path)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_stream_ingest_blocking(spark: SparkSession, cfg: StreamIngestConfig) -> None:
    """Process everything currently in input_path and return (ST2's graceful
    drain: availableNow + awaitTermination)."""
    q = start_stream_ingest(spark, cfg, available_now=True)
    q.awaitTermination()


def streaming_windowed_counts(
    spark: SparkSession,
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """ST8 [ext]: watermarked tumbling-window aggregation over an event-time
    stream — late rows beyond the watermark are dropped, state is bounded.
    Pass a streaming DataFrame with (ts, event_type, value)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def streaming_session_counts(
    spark: SparkSession,
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """ST8 [ext]: watermarked session windows per user."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )

"""Structured Streaming tests: checkpointed micro-batch ingest with
cross-batch idempotency, DLQ side sink, watermarked windowed aggs.

File-source + availableNow triggers make the stream fully deterministic and
synchronous — the local stand-in for the reference's Pub/Sub push loop.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from drive_health_etl_spark.sources import envelopes
from drive_health_etl_spark.sources.tables import load_table
from drive_health_etl_spark.streaming.ingest_stream import (
    StreamIngestConfig,
    run_stream_ingest_blocking,
    streaming_session_counts,
    streaming_windowed_counts,
)


@pytest.fixture()
def paths(tmp_path):
    return StreamIngestConfig(
        input_path=str(tmp_path / "input"),
        warehouse_path=str(tmp_path / "warehouse"),
        dlq_path=str(tmp_path / "dlq"),
        checkpoint_path=str(tmp_path / "checkpoint"),
        normalize_phones=False,
    )


def _write_input(spark, cfg, msgs, name):
    envelopes.fixture_df(spark, msgs).coalesce(1).write.mode("append").parquet(cfg.input_path)


def test_stream_ingest_end_to_end(spark, paths):
    cfg = paths
    _write_input(spark, cfg, envelopes.fixture_messages(), "b1")
    run_stream_ingest_blocking(spark, cfg)

    wh = spark.read.parquet(cfg.warehouse_path)
    keys = [r["idempotency_key"] for r in wh.select("idempotency_key").collect()]
    assert len(keys) == len(set(keys)) == 6  # 3 smoke + 3 dedup groups
    dlq = spark.read.parquet(cfg.dlq_path)
    assert dlq.count() == 5  # the malformed corpus

    # Batch 2: replay the SAME messages (redelivery) + one genuinely new one.
    new = envelopes.duplicate_messages(copies=2) + [
        envelopes._msg(envelopes._envelope(payload={"call_id": "fresh-1"}), "m-fresh")
    ]
    _write_input(spark, cfg, new, "b2")
    run_stream_ingest_blocking(spark, cfg)

    wh2 = spark.read.parquet(cfg.warehouse_path)
    keys2 = sorted(r["idempotency_key"] for r in wh2.select("idempotency_key").collect())
    # cross-batch dedup: replayed keys did NOT duplicate; fresh-1 appended
    assert keys2 == sorted(keys + ["fresh-1"])


def test_stream_ingest_checkpoint_no_reprocess(spark, paths):
    cfg = paths
    _write_input(spark, cfg, envelopes.smoke_messages(), "b1")
    run_stream_ingest_blocking(spark, cfg)
    n1 = spark.read.parquet(cfg.warehouse_path).count()
    # Re-running with the same checkpoint and no new files is a no-op.
    run_stream_ingest_blocking(spark, cfg)
    assert spark.read.parquet(cfg.warehouse_path).count() == n1 == 3


def _stream_events(spark, sf_dir, tmp_path):
    # Re-write the (nanos-converted) events table so the streaming source
    # reads clean micro-timestamps.
    src = str(tmp_path / "events_stream_src")
    events = load_table(spark, sf_dir, "events")
    events.coalesce(2).write.mode("overwrite").parquet(src)
    return spark.readStream.schema(events.schema).format("parquet").load(src), events


def test_streaming_windowed_counts_match_batch(spark, sf_dir, tmp_path):
    stream, batch = _stream_events(spark, sf_dir, tmp_path)
    agg = streaming_windowed_counts(spark, stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("win_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    expected = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
        .collect()
    }
    assert got == expected


def test_rate_limited_multi_trigger(spark, sf_dir, tmp_path):
    """ST1 size-based trigger: maxFilesPerTrigger=1 over 3 input files must
    process as 3 micro-batches (the reference's MAX_BATCH_SIZE knob)."""
    src = str(tmp_path / "rl_src")
    events = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    for i in range(3):
        events.filter(F.col("user_id") % 3 == i).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
    )
    q = (
        stream.groupBy("user_id")
        .count()
        .writeStream.format("memory")
        .queryName("rl_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    batches = {p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0}
    assert len(batches) == 3
    total = spark.sql("SELECT SUM(count) AS s FROM rl_out").collect()[0]["s"]
    assert total == events.count()


def test_streaming_session_counts(spark, sf_dir, tmp_path):
    stream, batch = _stream_events(spark, sf_dir, tmp_path)
    agg = streaming_session_counts(spark, stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_stream = spark.sql("SELECT SUM(n_events) AS s FROM sess_out").collect()[0]["s"]
    assert n_stream == batch.count()  # every event lands in exactly one session


def test_stream_static_enrichment_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static broadcast enrichment: per-batch dim lookup must produce
    exactly the batch left-join result, with stream rows preserved when the
    dim has no row for the key (stateless — no watermark required)."""
    from drive_health_etl_spark.streaming.joins import enrich_with_dim

    stream, batch = _stream_events(spark, sf_dir, tmp_path)
    # static user-profile dim covering only even user ids (forces unmatched rows)
    dim = (
        batch.select("user_id").distinct().filter(F.col("user_id") % 2 == 0)
        .withColumn("tier", F.when(F.col("user_id") % 4 == 0, "gold").otherwise("basic"))
    )
    q = (
        enrich_with_dim(stream, dim)
        .writeStream.format("memory")
        .queryName("enriched_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["event_id"], r["tier"])
        for r in spark.sql("SELECT event_id, tier FROM enriched_out").collect()
    }
    expected = {
        (r["event_id"], r["tier"])
        for r in batch.join(F.broadcast(dim), "user_id", "left").select("event_id", "tier").collect()
    }
    assert got == expected
    assert any(t is None for _e, t in got)  # unmatched keys preserved by the left join


def test_dedup_against_warehouse_strategies(spark, tmp_path):
    """Round-8 per-batch dedup (VERDICT r7 item 5): a steady-state
    micro-batch must dedup against the warehouse WITHOUT shuffling
    warehouse keys (double-broadcast plan), the backlog path falls back to
    the shuffle anti-join, and both drop exactly the already-written keys."""
    from drive_health_etl_spark.streaming.ingest_stream import dedup_against_warehouse

    wh = str(tmp_path / "wh")
    spark.createDataFrame(
        [(f"k{i}", "2026-01-0%d" % (1 + i % 3)) for i in range(50)],
        "idempotency_key string, event_date string",
    ).withColumn("event_date", F.to_date("event_date")).write.partitionBy(
        "event_date"
    ).parquet(wh)

    batch = spark.createDataFrame(
        [("k1", "2026-01-01"), ("k2", "2026-01-02"), ("new1", "2026-01-01"), ("new2", "2026-01-03")],
        "idempotency_key string, event_date string",
    ).withColumn("event_date", F.to_date("event_date"))

    # small-batch path: both joins broadcast, warehouse keys NEVER hash-
    # shuffled (zero hash exchanges anywhere in the plan)
    small = dedup_against_warehouse(spark, wh, batch)
    plan = small._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 2
    assert "Exchange hashpartitioning" not in plan
    kept = {r["idempotency_key"] for r in small.collect()}
    assert kept == {"new1", "new2"}

    # large-batch fallback: single anti-join, planner free to pick the
    # strategy (it auto-broadcasts the tiny build side at test scale) —
    # the contract here is values, and that the double-broadcast plan is gone
    big = dedup_against_warehouse(spark, wh, batch, broadcast_max_keys=2)
    plan_big = big._jdf.queryExecution().executedPlan().toString()
    assert plan_big.count("BroadcastHashJoin") <= 1
    assert {r["idempotency_key"] for r in big.collect()} == {"new1", "new2"}

    # first batch: warehouse absent -> passthrough
    assert dedup_against_warehouse(spark, str(tmp_path / "missing"), batch).count() == 4


def test_dedup_against_warehouse_fails_loudly_on_corrupt_warehouse(spark, tmp_path):
    """Only a missing warehouse skips the cross-batch guard; a warehouse
    that exists but cannot be read fails the batch instead of silently
    letting already-written keys through again."""
    from py4j.protocol import Py4JJavaError

    from drive_health_etl_spark.streaming.ingest_stream import dedup_against_warehouse

    part = tmp_path / "wh" / "event_date=2026-01-01"
    part.mkdir(parents=True)
    (part / "part-00000.parquet").write_bytes(b"this is not a parquet file")
    batch = spark.createDataFrame(
        [("k1", "2026-01-01")], "idempotency_key string, event_date string"
    ).withColumn("event_date", F.to_date("event_date"))
    with pytest.raises(Py4JJavaError, match="FAILED_READ_FILE"):
        dedup_against_warehouse(spark, str(tmp_path / "wh"), batch).collect()

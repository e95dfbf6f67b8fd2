"""Pipeline E2E tests on the fixture corpus (FIXTURES.md §A3) — the local
replacement for the reference's live-GCP scripts 01/02/03."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from drive_health_etl_spark import schemas
from drive_health_etl_spark.operators.dlq import route_dlq
from drive_health_etl_spark.operators.ingest import ingest
from drive_health_etl_spark.sources import envelopes


@pytest.fixture(scope="module")
def result(spark):
    raw = envelopes.fixture_df(spark)
    res = ingest(raw, audit_rate=1.0)
    return {
        "warehouse": res.warehouse.cache().collect(),
        "dlq": res.dlq.cache().collect(),
        "sampled_out": res.sampled_out.collect(),
    }


def test_smoke_rows_present_with_normalized_phones(result):
    # scripts/01_smoke_publish.js: 3 smoke rows, phone golden pairs applied
    by_key = {r["idempotency_key"]: r for r in result["warehouse"]}
    p1 = json.loads(by_key["call-smoke-1"]["payload"])
    assert p1["caller"] == "+14155550001" and p1["callee"] == "+14155550002"
    p2 = json.loads(by_key["call-smoke-2"]["payload"])
    assert p2["caller"] == "+442071234567" and p2["callee"] == "+15551234567"
    p3 = json.loads(by_key["msg-smoke-1"]["payload"])
    assert p3["from_phone"] == "+15559876543" and p3["to_phone"] is None


def test_idempotent_dedup_one_row_per_key(result):
    # scripts/02_idempotency_test.js: 5 copies x 3 key kinds -> exactly 1 row each
    keys = [r["idempotency_key"] for r in result["warehouse"]]
    assert len(keys) == len(set(keys))
    for k in ("dup-call-1", "dup-msg-1", "dup-trace-1"):
        assert keys.count(k) == 1


def test_warehouse_schema_and_defaults(result):
    row = next(r for r in result["warehouse"] if r["idempotency_key"] == "call-smoke-1")
    assert row["tenant_id"] == "org-demo"
    assert row["schema_version"] == 1 and row["envelope_version"] == 1
    assert row["source"] == "smoke-test"
    assert row["sampled"] is True
    assert row["occurred_at"] is not None and row["received_at"] is not None
    # trace_id default null (src/bq.js:26)
    assert row["trace_id"] is None


def test_terminal_errors_routed_to_dlq(result):
    # scripts/03: malformed messages land in DLQ, not the warehouse
    dlq_ids = {r["message_id"]: r["status"] for r in result["dlq"]}
    assert dlq_ids["m-bad-tenant"] == schemas.STATUS_VALIDATION_ERROR
    assert dlq_ids["m-bad-ts"] == schemas.STATUS_VALIDATION_ERROR
    assert dlq_ids["m-bad-nokey"] == schemas.STATUS_VALIDATION_ERROR
    assert dlq_ids["m-bad-json"] == schemas.STATUS_FORMAT_ERROR
    assert dlq_ids["m-bad-empty"] == schemas.STATUS_VALIDATION_ERROR
    assert len(result["dlq"]) == 5
    wh_msgs = {r["idempotency_key"] for r in result["warehouse"]}
    assert "bad-1" not in wh_msgs and "bad-2" not in wh_msgs


def test_sampling_drops_rows_deterministically(spark):
    raw = envelopes.fixture_df(spark, envelopes.duplicate_messages(copies=1))
    res_half = ingest(raw, audit_rate=0.5, normalize_phones=False)
    res_zero = ingest(raw, audit_rate=0.0, normalize_phones=False)
    assert res_zero.warehouse.count() == 0
    assert res_zero.sampled_out.count() == 3
    kept_twice = [res_half.warehouse.select("idempotency_key").collect() for _ in range(2)]
    assert kept_twice[0] == kept_twice[1]


def test_ordering_key_preserved_through_replay(spark):
    # ST7 (src/replay-dlq-job.js:49-51): orderingKey survives DLQ -> replay
    rows = [("d", {"x-replay-attempts": "1"}, "m-1", "tenant-42-stream", "VALIDATION_ERROR", 1)]
    dlq = spark.createDataFrame(
        rows,
        "data string, attributes map<string,string>, message_id string, ordering_key string, status string, attempts int",
    )
    routed = route_dlq(dlq)
    assert routed.replay.first()["ordering_key"] == "tenant-42-stream"


def test_dlq_replay_routing(spark):
    # FIXTURES A3.5: attempts 0,1,2 -> replay with +1; 3 -> parking lot
    rows = [
        ("d", {"x-replay-attempts": str(a), "googclient_delivery": "x"}, f"m-{a}", None, "VALIDATION_ERROR", a)
        for a in (0, 1, 2, 3)
    ]
    dlq = spark.createDataFrame(
        rows, "data string, attributes map<string,string>, message_id string, ordering_key string, status string, attempts int"
    )
    routed = route_dlq(dlq)
    replayed = {r["message_id"]: r for r in routed.replay.collect()}
    parked = {r["message_id"]: r for r in routed.parked.collect()}
    assert set(replayed) == {"m-0", "m-1", "m-2"} and set(parked) == {"m-3"}
    assert replayed["m-1"]["attempts"] == 2
    assert replayed["m-1"]["attributes"]["x-replay-attempts"] == "2"
    assert "googclient_delivery" not in replayed["m-1"]["attributes"]
    assert parked["m-3"]["attributes"]["x-parked-reason"] == "max-replay-attempts-exceeded"
    assert parked["m-3"]["attributes"]["x-original-attempts"] == "3"


def test_ingest_from_events_scales(spark, sf_dir):
    raw = envelopes.messages_from_events(spark, sf_dir)
    res = ingest(raw, audit_rate=1.0, normalize_phones=False)
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert res.warehouse.count() == n_events  # unique keys, all valid
    assert res.dlq.count() == 0


def test_phone_udf_runs_after_dedup(spark):
    # the pandas UDF rewrites only `payload`; dedup keys/ordering columns are
    # untouched, so normalization moved below the window (duplicates never pay
    # the Python boundary). Pin that order: in the executed plan the
    # ArrowEvalPython node sits ABOVE the window's exchange, and the
    # warehouse output still carries normalized phones for surviving rows.
    raw = envelopes.fixture_df(spark)
    res = ingest(raw, audit_rate=1.0)
    plan = res.warehouse._jdf.queryExecution().executedPlan().toString()
    arrow_at = plan.find("ArrowEvalPython")
    window_at = plan.find("Window")
    assert arrow_at != -1 and window_at != -1
    # executedPlan prints top-down: an earlier offset = later in execution
    assert arrow_at < window_at, "phone UDF must evaluate after the dedup window"


def test_decode_messages_parses_envelope_exactly_once(spark):
    # ADVICE r11: the single-parse guarantee rests on the nondeterministic
    # guard in decode_messages; pin it so an optimizer change that
    # re-splits from_json per field reference fails loudly.
    from drive_health_etl_spark.operators.ingest import decode_messages, validate_envelopes

    raw = envelopes.fixture_df(spark)
    validated = validate_envelopes(decode_messages(raw))
    plan = validated._jdf.queryExecution().executedPlan().toString()
    assert plan.count("from_json") == 1, f"expected exactly 1 from_json, got {plan.count('from_json')}"


def test_malformed_base64_routes_to_dlq(spark):
    # bodies that are not valid base64 (the benchmark's decode probe): each
    # must land in the DLQ as FORMAT_ERROR, and none may abort the job
    bodies = ("YWJj=", "!!notbase64", "abc", "%%%%", "not base64 at all")
    raw = spark.createDataFrame(
        [(b, {"origin": "probe"}, f"probe-{i}", None) for i, b in enumerate(bodies)], schemas.RAW_MESSAGE_SCHEMA
    )
    res = ingest(raw, audit_rate=1.0)
    assert res.warehouse.count() == 0
    dlq = res.dlq.collect()
    assert sorted(r["message_id"] for r in dlq) == [f"probe-{i}" for i in range(len(bodies))]
    assert {r["status"] for r in dlq} == {schemas.STATUS_FORMAT_ERROR}
    assert sorted(r["data"] for r in dlq) == sorted(bodies)  # raw body kept for replay


def test_ingest_decodes_each_message_once(spark, tmp_path):
    # a warehouse write then a DLQ write (two actions, two jobs) must scan
    # and decode the input once: the second action reads ingest()'s stored
    # parent. Spark counts reads of stored blocks as stage input records
    # too, so only scan stages (an RDD graph holding a FileScanRDD) are
    # summed: their input records are the messages read from the files.
    from drive_health_etl_spark.operators.ingest import write_warehouse

    envelopes.fixture_df(spark).write.parquet(str(tmp_path / "in"))
    raw = spark.read.schema(schemas.RAW_MESSAGE_SCHEMA).parquet(str(tmp_path / "in"))
    n_msgs = raw.count()
    sc = spark.sparkContext
    group = f"decode-once-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        res = ingest(raw, audit_rate=1.0)
        write_warehouse(res.warehouse, str(tmp_path / "wh"))
        res.dlq.write.parquet(str(tmp_path / "dlq"))
    finally:
        sc._jsc.clearJobGroup()
    assert spark.read.parquet(str(tmp_path / "dlq")).count() == 5  # malformed rows present

    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    graph_dot = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile
    stage_ids = {s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds}
    scanned = 0
    for sid in stage_ids:
        stage = store.lastStageAttempt(sid)
        if stage.status().toString() != "SKIPPED" and "FileScanRDD" in graph_dot(store.operationGraphForStage(sid)):
            scanned += stage.inputRecords()
    assert scanned == n_msgs

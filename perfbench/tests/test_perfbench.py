"""Tests of the benchmark's own logic: generator, ledger, percentiles and
stream-progress parsing. Run from the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # perfbench modules
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))  # the program and bench.py

import gen  # noqa: E402
from measure import _batch_of, min_samples_for, parse_offset, percentile, tail  # noqa: E402

from bench import SF_DIR  # noqa: E402

SMALL_SF = os.path.join(os.path.dirname(SF_DIR), "sf0.001")


@pytest.fixture(scope="module")
def events():
    return gen.load_events(SMALL_SF)


def test_stream_is_deterministic_per_seed(events):
    a, b = gen.make_stream(events, 7), gen.make_stream(events, 7)
    assert [(m.data, m.message_id, m.key, m.phones) for m in a] == [
        (m.data, m.message_id, m.key, m.phones) for m in b
    ]
    assert [m.data for m in gen.make_stream(events, 8)] != [m.data for m in a]


def test_window_is_deterministic_per_seed():
    assert gen.load_events(SMALL_SF, 100, 3) == gen.load_events(SMALL_SF, 100, 3)
    assert gen.load_events(SMALL_SF, 100, 3) != gen.load_events(SMALL_SF, 100, 4)


def test_stream_shape(events):
    msgs = gen.make_stream(events, 1)
    originals = [m for m in msgs if m.message_id.startswith("m-")]
    retries = [m for m in msgs if m.message_id.startswith("r-")]
    assert len(originals) == len(events)
    # every retry repeats an earlier original's payload under a new id
    first = {m.message_id.split("-", 1)[1]: i for i, m in enumerate(msgs) if m.message_id.startswith("m-")}
    for i, r in enumerate(msgs):
        if r.message_id.startswith("r-"):
            j = first[r.message_id.split("-", 1)[1]]
            assert j < i and msgs[j].data == r.data
    assert 0.05 < len(retries) / len(originals) < 0.15
    assert 0.2 < sum(m.phones is not None for m in originals) / len(originals) < 0.4
    assert 0 < sum(m.key is None for m in msgs) / len(msgs) < 0.05


def test_ledger_conserves_messages(events):
    led = gen.expected_ledger(gen.make_stream(events, 2))
    assert led.warehouse + led.sampled_out + led.duplicate + led.dlq == led.n_in
    assert led.duplicate > 0 and led.dlq > 0 and led.phones


def test_sample_ratio_matches_reference_rule():
    # sha256("abc") starts ba7816bf
    assert gen.sample_ratio("abc") == 0xBA7816BF / 0xFFFFFFFF


def test_percentile_and_sample_count_rule():
    assert min_samples_for(50) == 20
    assert min_samples_for(90) == 100
    assert min_samples_for(99) == 1000
    values = list(range(1, 101))
    assert percentile(values, 50) == 50
    assert percentile(values, 90) == 90
    assert tail([float(v) for v in values]) == 90
    # fewer than 100 samples: no p90, the slowest sample stands in
    assert tail([3.0, 1.0, 2.0]) == 3.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_progress_offset_parsing():
    assert parse_offset('{"n_files": 28}') == 28
    assert parse_offset("{'n_files': 28}") == 28
    assert parse_offset(None) is None
    assert parse_offset("null") is None


def test_batch_id_from_description():
    assert _batch_of("\nid = x\nrunId = y\nbatch = 4") == 4
    assert _batch_of("some other job") is None
    assert _batch_of(None) is None


def test_ledger_matches_real_ingest(tmp_path):
    """The generator's ledger against the program's ingest chain on a small
    stream from sf0.001."""
    from pyspark.sql import functions as F

    from drive_health_etl_spark.operators.ingest import ingest, write_warehouse
    from drive_health_etl_spark.schemas import RAW_MESSAGE_SCHEMA
    from drive_health_etl_spark.session import get_spark
    from workloads import check_ingest_outputs

    msgs = gen.make_stream(gen.load_events(SMALL_SF), 5)
    led = gen.expected_ledger(msgs)
    gen.write_parquet(msgs, str(tmp_path / "in"), n_files=2)
    spark = get_spark("perfbench-test", cpus=2)
    res = ingest(spark.read.schema(RAW_MESSAGE_SCHEMA).parquet(str(tmp_path / "in")), audit_rate=gen.AUDIT_RATE)
    write_warehouse(res.warehouse, str(tmp_path / "wh"))
    res.dlq.write.parquet(str(tmp_path / "dlq"))
    assert res.sampled_out.count() == led.sampled_out
    assert res.validated.filter(F.col("status").isNull()).count() == led.n_in - led.dlq
    problems, phone_rows = check_ingest_outputs(spark, str(tmp_path / "wh"), str(tmp_path / "dlq"), led)
    assert problems == []
    assert phone_rows == len(led.phones)

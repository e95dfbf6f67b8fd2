"""Deterministic message stream for the ingest workloads.

The stream is derived from the ``events`` table (read with pyarrow, never
with the program under test) and a seed:

- every event becomes one Pub/Sub-push-shaped message, in event-time order;
- about 30% of valid payloads carry ``caller``/``callee`` phone fields, in the
  reference's golden forms and in random NANP forms;
- about 10% of valid messages are retried: the same payload under a new
  ``message_id``, a few hundred messages later;
- about 2% are malformed, one of the five kinds the ingest chain routes to the
  DLQ (non-JSON body, missing tenant, bad timestamp, no key, empty field).

:func:`expected_ledger` computes where each message must land with the
reference's sampling rule (sha256 of the key, first 8 hex digits over
0xffffffff), independently of the Spark code.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

RETRY_SHARE = 0.10
PHONE_SHARE = 0.30
MALFORMED_SHARE = 0.02
RETRY_DELAY_MAX = 400  # messages between an original and its retry
AUDIT_RATE = 0.75

# (input form, E.164 value) from the reference's golden corpus; None = unparseable.
GOLDEN_PHONES = (
    ("(415) 555-0001", "+14155550001"),
    ("415-555-0002", "+14155550002"),
    ("+44 20 7123 4567", "+442071234567"),
    ("555.123.4567", "+15551234567"),
    ("+1-555-987-6543", "+15559876543"),
    ("not-a-phone", None),
)
NANP_FORMS = ("({a}) {b}-{c}", "{a}-{b}-{c}", "{a}.{b}.{c}", "+1 {a} {b} {c}", "1{a}{b}{c}")
MALFORMED_KINDS = ("non_json", "missing_tenant", "bad_timestamp", "no_key", "empty_field")

RAW_SCHEMA = pa.schema(
    [
        ("data", pa.string()),
        ("attributes", pa.map_(pa.string(), pa.string())),
        ("message_id", pa.string()),
        ("ordering_key", pa.string()),
    ]
)


@dataclass
class Message:
    data: str
    message_id: str
    key: str | None  # idempotency key; None for malformed messages
    phones: tuple | None = None  # expected (caller, callee) E.164 values


@dataclass
class Ledger:
    """Expected destination counts for one message stream."""

    n_in: int = 0
    warehouse: int = 0
    sampled_out: int = 0
    duplicate: int = 0
    dlq: int = 0
    # idempotency key -> expected (caller, callee) for phone-bearing warehouse rows
    phones: dict = field(default_factory=dict)


def _b64(text: str) -> str:
    return base64.b64encode(text.encode()).decode()


def sample_ratio(key: str) -> float:
    """The reference's sampling ratio: first 8 hex digits of sha256 over 2^32 - 1."""
    return int(hashlib.sha256(key.encode()).hexdigest()[:8], 16) / 0xFFFFFFFF


def _phone(rng: random.Random) -> tuple[str, str | None]:
    if rng.random() < 0.5:
        return rng.choice(GOLDEN_PHONES)
    a, b, c = rng.randint(200, 999), rng.randint(100, 999), rng.randint(0, 9999)
    form = rng.choice(NANP_FORMS).format(a=a, b=b, c=f"{c:04d}")
    return form, f"+1{a}{b}{c:04d}"


def _envelope(row: dict, seed: int) -> dict:
    eid = row["event_id"]
    return {
        "envelope_version": "1",
        "event_type": row["event_type"],
        "schema_version": "1",
        "tenant_id": f"org-{row['user_id'] % 5}",
        "occurred_at": row["ts"].strftime("%Y-%m-%dT%H:%M:%S.") + f"{row['ts'].microsecond // 1000:03d}Z",
        "trace_id": f"trace-{seed}-{eid}",
        "source": "perfbench",
        "payload": {"call_id": f"call-{seed}-{eid}", "duration": row["value"], "props_json": row["props"]},
    }


def _malformed(env: dict, kind: str) -> str:
    if kind == "non_json":
        return f"not json {env['trace_id']}"
    if kind == "missing_tenant":
        del env["tenant_id"]
    elif kind == "bad_timestamp":
        env["occurred_at"] = "not-a-date"
    elif kind == "no_key":
        del env["trace_id"]
        del env["payload"]["call_id"]
    else:  # empty_field
        env["event_type"] = ""
    return json.dumps(env)


def load_events(sf_dir: str, n: int | None = None, seed: int | None = None) -> list[dict]:
    """The events table in event-time order, as plain rows: all of it, or
    ``n`` consecutive events from a seed-chosen start."""
    table = pq.read_table(os.path.join(sf_dir, "events.parquet")).sort_by([("ts", "ascending"), ("event_id", "ascending")])
    if n is not None:
        table = table.slice(random.Random(seed).randrange(0, table.num_rows - n + 1), n)
    return table.to_pylist()


def make_stream(events: list[dict], seed: int) -> list[Message]:
    """The seed's message stream over ``events``: originals in event-time
    order, each retry a short, seeded distance after its original."""
    rng = random.Random(seed)
    slots: list[tuple[float, Message]] = []
    for i, row in enumerate(events):
        env = _envelope(row, seed)
        mid = f"m-{seed}-{row['event_id']}"
        if rng.random() < MALFORMED_SHARE:
            slots.append((i, Message(_b64(_malformed(env, rng.choice(MALFORMED_KINDS))), mid, None)))
            continue
        phones = None
        if rng.random() < PHONE_SHARE:
            (caller, want_caller), (callee, want_callee) = _phone(rng), _phone(rng)
            env["payload"]["caller"], env["payload"]["callee"] = caller, callee
            phones = (want_caller, want_callee)
        msg = Message(_b64(json.dumps(env)), mid, env["payload"]["call_id"], phones)
        slots.append((i, msg))
        if rng.random() < RETRY_SHARE:
            retry = Message(msg.data, f"r-{seed}-{row['event_id']}", msg.key, phones)
            slots.append((i + rng.randint(1, RETRY_DELAY_MAX) + 0.5, retry))
    slots.sort(key=lambda s: s[0])
    return [m for _, m in slots]


def expected_ledger(msgs: list[Message], audit_rate: float = AUDIT_RATE) -> Ledger:
    """Where each message must land: DLQ, sampled out, duplicate or warehouse
    (first write wins per key)."""
    led = Ledger(n_in=len(msgs))
    seen: set[str] = set()
    for m in msgs:
        if m.key is None:
            led.dlq += 1
        elif sample_ratio(m.key) >= audit_rate:
            led.sampled_out += 1
        elif m.key in seen:
            led.duplicate += 1
        else:
            seen.add(m.key)
            led.warehouse += 1
            if m.phones is not None:
                led.phones[m.key] = m.phones
    return led


def write_parquet(msgs: list[Message], out_dir: str, n_files: int = 8) -> list[str]:
    """Write the stream as ``n_files`` parquet files of raw messages, in order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    per = -(-len(msgs) // n_files)
    for f in range(n_files):
        chunk = msgs[f * per : (f + 1) * per]
        table = pa.table(
            {
                "data": [m.data for m in chunk],
                "attributes": [[("origin", "perfbench")]] * len(chunk),
                "message_id": [m.message_id for m in chunk],
                "ordering_key": [None] * len(chunk),
            },
            schema=RAW_SCHEMA,
        )
        path = os.path.join(out_dir, f"part-{f:05d}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    return paths


def write_spool_file(spool_dir: str, msgs: list[Message], name: str) -> str:
    """One push file of Pub/Sub-shaped JSON lines, written to a dot-temp name
    and renamed so a reader never sees it half written."""
    tmp = os.path.join(spool_dir, f".{name}.tmp")
    final = os.path.join(spool_dir, name)
    with open(tmp, "w", encoding="utf-8") as fh:
        for m in msgs:
            body = {"message": {"data": m.data, "attributes": {"origin": "perfbench"}, "messageId": m.message_id}}
            fh.write(json.dumps(body) + "\n")
    os.replace(tmp, final)
    return final

"""The two workloads. Each calls the program's public functions, checks the
outputs untimed, and returns an :class:`Outcome`.

- ``ingest``: a stream phase (open loop: push files land in the envelope
  spool on a fixed schedule while ``start_stream_ingest`` follows it), then
  a batch phase (closed loop, 1 client: the whole ingest chain into a fresh
  directory per op).
- ``query_mix`` (closed loop, 1 client): one cold pass, then warm passes,
  over registry queries, each checked against its DuckDB oracle twin.
"""

from __future__ import annotations

import os
import random
import shutil
import threading
import time
from dataclasses import dataclass, field
from statistics import median

import gen
from measure import group_counters, parse_offset, parse_ts, stream_batch_counters, tail

# batch phase input: a seed-chosen window of this many events (~22k messages);
# ops per run, whatever the run's seconds (the first still warms the
# batch-only write paths, so throughput takes their median).
BATCH_EVENTS = 20_000
BATCH_OPS = 3

# stream phase schedule: one push file every FILE_INTERVAL_S seconds of
# FILE_MSGS messages (400 msgs/s). A warm micro-batch takes 2-3 s on 4 cores
# whatever its size, so this keeps the stream busy all the time; a half-busy
# rate (one file every ~6 s) would give 1-2 files in a 10-s window, too few
# for a p90 over files. README.md gives the measured figures.
FILE_INTERVAL_S = 0.05
FILE_MSGS = 20
WARM_FILES = 10
STREAM_DRAIN_TIMEOUT_S = 60.0

# query_mix at sf0.01: execution-bound relational queries, the reference's
# verification SQL, a driver-paced loop, fit-cache-bound operators and a
# Python UDF (README.md lists the queries left out and why).
QUERIES = (
    "q1_pricing_summary",
    "j6_star_join",
    "a1_group_count",
    "f7_json_extract",
    "dedup_suffix_lcs",
    "dedup_minhash_pairs",
    "multimodal_jpeg_stats",
)
# warm passes per run, whatever the run's seconds: the pass median needs
# more than one sample.
MIN_WARM_PASSES = 3

# Base64 bodies the chain should route to the DLQ as FORMAT_ERROR. The first
# two abort the whole job at the seed (ANSI unbase64 throws).
PROBE_BODIES = ("YWJj=", "!!notbase64", "abc", "%%%%", "not base64 at all")


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    seconds: float
    trace: bool
    sf_dir: str
    query_sf_dir: str
    work: str


@dataclass
class Outcome:
    setup_s: float  # input generation and warm-up (session start is added by run.py)
    attempted: int
    failed: int
    metrics: dict  # end-to-end values by name
    layer: dict = field(default_factory=dict)  # per-layer values by name
    probes: int = 0
    probes_failed: int = 0
    record: dict = field(default_factory=dict)  # extra detail for the run record


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _dir_files(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


# --- output checks (untimed) -------------------------------------------------


def check_ingest_outputs(spark, wh_dir: str, dlq_dir: str, ledger: gen.Ledger) -> tuple[list[str], int]:
    """Compare the warehouse and DLQ against the generator's ledger. Returns
    (problems, phone-bearing warehouse rows)."""
    from pyspark.sql import functions as F

    problems = []
    phone = F.struct(
        "idempotency_key",
        F.get_json_object("payload", "$.caller").alias("caller"),
        F.get_json_object("payload", "$.callee").alias("callee"),
    )
    n, n_keys, rows = (
        spark.read.parquet(wh_dir)
        .agg(
            F.count("*"),
            F.countDistinct("idempotency_key"),
            F.collect_list(F.when(F.col("payload").contains('"caller"'), phone)),
        )
        .first()
    )
    if n != ledger.warehouse:
        problems.append(f"warehouse rows {n} != expected {ledger.warehouse}")
    if n_keys != n:
        problems.append(f"warehouse keys not unique: {n_keys} keys for {n} rows")
    n_dlq = spark.read.parquet(dlq_dir).count() if os.path.isdir(dlq_dir) else 0
    if n_dlq != ledger.dlq:
        problems.append(f"dlq rows {n_dlq} != expected {ledger.dlq}")
    got = {r["idempotency_key"]: (r["caller"], r["callee"]) for r in rows}
    if got != ledger.phones:
        wrong = sorted(k for k in set(got) | set(ledger.phones) if got.get(k) != ledger.phones.get(k))
        k = wrong[0]
        problems.append(f"{len(wrong)} phone rows differ, e.g. {k}: got {got.get(k)} want {ledger.phones.get(k)}")
    return problems, len(rows)


# --- ingest: batch phase -----------------------------------------------------


def _ingest_op(ctx: Ctx, in_dir: str, out_dir: str, op: str) -> dict:
    """One op: read the input, ingest with audit sampling, write the
    warehouse and the DLQ. Returns phase walls."""
    from drive_health_etl_spark.operators.ingest import ingest, write_warehouse
    from drive_health_etl_spark.schemas import RAW_MESSAGE_SCHEMA

    tr, spark = ctx.tracer, ctx.spark
    t0 = time.perf_counter()
    with tr.job_group(op), tr.span("ingest.batch_op", op):
        with tr.span("sources.read_raw", op):
            raw = spark.read.schema(RAW_MESSAGE_SCHEMA).parquet(in_dir)
        with tr.span("operators.ingest.ingest", op):
            res = ingest(raw, audit_rate=gen.AUDIT_RATE)
        t1 = time.perf_counter()
        with tr.span("operators.ingest.write_warehouse", op):
            write_warehouse(res.warehouse, os.path.join(out_dir, "warehouse"))
        t2 = time.perf_counter()
        with tr.span("dlq.write", op):
            res.dlq.write.parquet(os.path.join(out_dir, "dlq"))
    t3 = time.perf_counter()
    return {"wall": t3 - t0, "write": t2 - t1, "dlq": t3 - t2}


def _decode_probe(ctx: Ctx) -> str | None:
    """Ingest the probe bodies; every one must land in the DLQ as
    FORMAT_ERROR. Returns the problem, or None."""
    from drive_health_etl_spark.operators.ingest import ingest, write_warehouse
    from drive_health_etl_spark.schemas import RAW_MESSAGE_SCHEMA, STATUS_FORMAT_ERROR

    spark = ctx.spark
    out = _fresh(os.path.join(ctx.work, "probe"))
    raw = spark.createDataFrame(
        [(b, {"origin": "probe"}, f"probe-{i}", None) for i, b in enumerate(PROBE_BODIES)], RAW_MESSAGE_SCHEMA
    )
    try:
        res = ingest(raw, audit_rate=gen.AUDIT_RATE)
        write_warehouse(res.warehouse, os.path.join(out, "warehouse"))
        res.dlq.write.parquet(os.path.join(out, "dlq"))
    except Exception as e:  # the known defect aborts the job; record it as the probe's failure
        causes = [ln.strip() for ln in str(e).splitlines() if "Exception: " in ln]
        return f"probe job failed: {(causes or [str(e)])[-1][:300]}"
    statuses = sorted(r["status"] for r in spark.read.parquet(os.path.join(out, "dlq")).collect())
    if statuses != [STATUS_FORMAT_ERROR] * len(PROBE_BODIES):
        return f"probe statuses {statuses}"
    if _dir_files(os.path.join(out, "warehouse"))[0]:
        n = spark.read.parquet(os.path.join(out, "warehouse")).count()
        if n:
            return f"probe wrote {n} warehouse rows"
    return None


def _ingest_layers(ctx: Ctx, in_dir: str, ops: list[dict], n_msgs: int, phone_rows: int, wh_rows: int) -> dict:
    """Per-layer figures for the batch phase: prefix self times (successive
    prefixes forced with a noop write, differences of medians), counters of
    a full op, output size and a single-core baseline."""
    from drive_health_etl_spark.operators.ingest import decode_messages, ingest, validate_envelopes
    from drive_health_etl_spark.schemas import RAW_MESSAGE_SCHEMA

    spark, tr = ctx.spark, ctx.tracer

    def raw():
        return spark.read.schema(RAW_MESSAGE_SCHEMA).parquet(in_dir)

    prefixes = {
        "scan": lambda: raw(),
        "decode": lambda: decode_messages(raw()),
        "validate": lambda: validate_envelopes(decode_messages(raw())),
        "sample_dedup": lambda: ingest(raw(), audit_rate=gen.AUDIT_RATE, normalize_phones=False).warehouse,
        "phones": lambda: ingest(raw(), audit_rate=gen.AUDIT_RATE, normalize_phones=True).warehouse,
    }
    walls: dict[str, list[float]] = {k: [] for k in prefixes}
    for rep in range(2):
        for name, build in prefixes.items():
            with tr.span(f"ingest.prefix.{name}", f"prefix-{name}-{rep}"):
                t = time.perf_counter()
                _noop(build())
                walls[name].append(time.perf_counter() - t)
    w = {k: median(v) for k, v in walls.items()}
    last = ops[-1]
    counters = group_counters(spark, last["op"])
    layer = {
        "ingest.scan.self_s": w["scan"],
        "ingest.decode.self_s": w["decode"] - w["scan"],
        "ingest.validate.self_s": w["validate"] - w["decode"],
        "ingest.sample_dedup.self_s": w["sample_dedup"] - w["validate"],
        "ingest.phone_udf.self_s": w["phones"] - w["sample_dedup"],
        "ingest.write.self_s": median([o["write"] for o in ops]) - w["phones"],
        "ingest.dlq_write_s": median([o["dlq"] for o in ops]),
        "ingest.phone_udf.useful_ratio": phone_rows / wh_rows,
        "ingest.decode_passes": counters["input_records"] / n_msgs,
        "ingest.jobs": counters["jobs"],
        "ingest.stages": counters["stages"],
        "ingest.tasks": counters["tasks"],
        "ingest.executor_run_s": counters["executor_run_s"],
        "ingest.shuffle_write_bytes": counters["shuffle_write_bytes"],
        "ingest.spill_bytes": counters["spill_bytes"],
    }
    layer["ingest.write.files"], layer["ingest.write.bytes"] = last["files"]
    return layer


def _single_core_rate(ctx: Ctx, in_dir: str, n_msgs: int) -> float:
    """Messages/s of one op on a single-core session (restarts the session)."""
    from drive_health_etl_spark.session import get_spark

    ctx.spark.stop()
    ctx.spark = ctx.tracer.spark = get_spark("perfbench-1core", cpus=1)
    ctx.spark.sparkContext.setLogLevel("ERROR")
    op = _ingest_op(ctx, in_dir, _fresh(os.path.join(ctx.work, "one-core")), "one-core")
    return n_msgs / op["wall"]


class BatchPhase:
    """Closed loop, 1 client: the whole chain over ~22k messages, a fresh
    output directory per op, BATCH_OPS ops."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        t = time.perf_counter()
        self.msgs = gen.make_stream(gen.load_events(ctx.sf_dir, BATCH_EVENTS, ctx.seed), ctx.seed)
        self.ledger = gen.expected_ledger(self.msgs)
        self.in_dir = os.path.join(ctx.work, "input")
        gen.write_parquet(self.msgs, self.in_dir)
        self.gen_s = time.perf_counter() - t
        self.ops: list[dict] = []
        self.problems: list[str] = []
        self.phone_rows = 0

    def _run_op(self) -> None:
        ctx, name = self.ctx, f"op{len(self.ops)}"
        out = _fresh(os.path.join(ctx.work, name))
        op = _ingest_op(ctx, self.in_dir, out, name)
        op["op"] = name
        op["files"] = _dir_files(os.path.join(out, "warehouse"))
        found, self.phone_rows = check_ingest_outputs(
            ctx.spark, os.path.join(out, "warehouse"), os.path.join(out, "dlq"), self.ledger
        )
        op["ok"] = not found
        self.problems.extend(f"{name}: {p}" for p in found)
        shutil.rmtree(out, ignore_errors=True)
        self.ops.append(op)

    def measure(self) -> Outcome:
        """BATCH_OPS ops, then the decode probe."""
        ctx = self.ctx
        for _ in range(BATCH_OPS):
            self._run_op()
        walls = [o["wall"] for o in self.ops]
        probe = _decode_probe(ctx)
        failed = sum(not o["ok"] for o in self.ops)
        layer = {}
        if ctx.trace:
            layer = _ingest_layers(
                ctx, self.in_dir, self.ops, len(self.msgs), self.phone_rows, self.ledger.warehouse
            )
        return Outcome(
            setup_s=self.gen_s,
            attempted=len(self.ops),
            failed=failed,
            # the probe counts as one more op of this phase
            metrics={
                "throughput_per_s": len(self.msgs) / median(walls),
                "ok_share": 1.0 - (failed + (probe is not None)) / (len(self.ops) + 1),
            },
            layer=layer,
            probes=1,
            probes_failed=int(probe is not None),
            record={
                "messages": len(self.msgs),
                "ledger": {k: v for k, v in vars(self.ledger).items() if k != "phones"},
                "gen_s": self.gen_s,
                "op_walls": walls,
                "op_p50_s": median(walls),
                "problems": self.problems,
                "probe": probe,
            },
        )


# --- ingest: stream phase ----------------------------------------------------


def _stream_messages(sf_dir: str, seed: int, n_files: int) -> list[gen.Message]:
    """Enough of the seed's stream for ``n_files`` push files."""
    need = n_files * FILE_MSGS
    return gen.make_stream(gen.load_events(sf_dir, need, seed), seed)[:need]


def _stream_phase(ctx: Ctx, window_s: float) -> Outcome:
    """Open loop: a generator thread writes one push file to the envelope
    spool every FILE_INTERVAL_S seconds, each stamped with its due time,
    while start_stream_ingest follows the spool."""
    from drive_health_etl_spark.operators.metrics import attach_progress_listener
    from drive_health_etl_spark.streaming.ingest_stream import StreamIngestConfig, start_stream_ingest

    spark, tr = ctx.spark, ctx.tracer
    t = time.perf_counter()
    n_measured = int(window_s / FILE_INTERVAL_S)
    msgs = _stream_messages(ctx.sf_dir, ctx.seed, WARM_FILES + n_measured)
    files = [msgs[i * FILE_MSGS : (i + 1) * FILE_MSGS] for i in range(WARM_FILES + n_measured)]
    ledger = gen.expected_ledger(msgs)
    dirs = {k: os.path.join(ctx.work, k) for k in ("spool", "warehouse", "dlq", "checkpoint")}
    os.makedirs(dirs["spool"])
    gen_s = time.perf_counter() - t

    # Batch progress through the program's listener; the wrapper also keeps
    # the fields the listener's summary drops (timestamp, offsets, phases).
    listener = attach_progress_listener(spark)
    progress: list[dict] = []
    summarize = listener._record

    def record(p) -> None:
        if p is not None:
            src = p.sources[0]
            progress.append(
                {
                    "batch": p.batchId,
                    "start": parse_ts(p.timestamp),
                    "ms": dict(p.durationMs or {}),
                    "from": parse_offset(src.startOffset) or 0,
                    "to": parse_offset(src.endOffset),
                    "rows": p.numInputRows,
                }
            )
        summarize(p)

    listener._record = record
    due: list[float] = []
    written: list[float] = []

    def write_files(first: int, last: int, t0: float) -> None:
        for i in range(first, last):
            when = t0 + (i - first) * FILE_INTERVAL_S
            time.sleep(max(0.0, when - time.time()))
            due.append(when)
            gen.write_spool_file(dirs["spool"], files[i], f"push-{i:06d}.jsonl")
            written.append(time.time())

    def committed(n_files: int) -> bool:
        return any(b["to"] is not None and b["to"] >= n_files for b in list(progress))

    def wait_committed(n_files: int) -> bool:
        deadline = time.perf_counter() + STREAM_DRAIN_TIMEOUT_S
        while not committed(n_files):
            if query.exception() is not None or time.perf_counter() > deadline:
                return False
            time.sleep(0.02)
        return True

    cfg = StreamIngestConfig(
        input_path=dirs["spool"],
        warehouse_path=dirs["warehouse"],
        dlq_path=dirs["dlq"],
        checkpoint_path=dirs["checkpoint"],
        audit_rate=gen.AUDIT_RATE,
        normalize_phones=True,
        source_format="envelope",
    )
    problems: list[str] = []
    query = None
    try:
        # The warm-up files wait in the spool, so the first (cold) micro-batch
        # takes all of them and no second warm-up batch follows.
        t_warm = time.time()
        write_files(0, WARM_FILES, t_warm)
        t_start = time.time()
        with tr.span("streaming.start_stream_ingest", "stream"):
            query = start_stream_ingest(spark, cfg, available_now=False)
        with tr.span("stream.warm_up", "stream"):
            warmed = wait_committed(WARM_FILES)
        setup_s = gen_s + time.time() - t_warm
        if not warmed:
            raise RuntimeError(f"warm-up files not committed: {query.exception()}")
        with tr.span("stream.generator", "stream"):
            gen_thread = threading.Thread(
                target=write_files, args=(WARM_FILES, len(files), time.time()), name="push-generator"
            )
            gen_thread.start()
            gen_thread.join()
        with tr.span("stream.drain", "stream"):
            drained = wait_committed(len(files))
        if not drained:
            problems.append(f"not all files committed: {query.exception()}")
    finally:
        if query is not None:
            query.stop()
        spark.streams.removeListener(listener.listener)

    batches = sorted(progress, key=lambda b: b["batch"])
    commit = {b["batch"]: b["start"] + b["ms"]["triggerExecution"] / 1000.0 for b in batches}

    def batch_of(i: int) -> dict | None:
        return next((b for b in batches if b["from"] <= i < (b["to"] or 0)), None)

    lat, wait, lost = [], [], 0
    for i in range(WARM_FILES, len(files)):
        b = batch_of(i)
        if b is None:
            lost += 1
            continue
        lat.append(commit[b["batch"]] - due[i])
        wait.append(b["start"] - due[i])
    found, _ = check_ingest_outputs(spark, dirs["warehouse"], dirs["dlq"], ledger)
    problems.extend(found)
    measured = [b for b in batches if b["to"] is not None and b["to"] > WARM_FILES]
    span = max(commit.values()) - due[WARM_FILES]
    busy_share = sum(b["ms"]["triggerExecution"] / 1000 for b in measured) / span
    late = [w - d for w, d in zip(written, due)]

    layer = {}
    if ctx.trace:
        per = stream_batch_counters(spark, str(query.runId))
        mb = [per.get(b["batch"], {}) for b in measured]
        layer = {
            "stream.batch.trigger_s_p50": median([b["ms"]["triggerExecution"] / 1000 for b in measured]),
            "stream.batch.add_batch_s_p50": median([b["ms"].get("addBatch", 0) / 1000 for b in measured]),
            "stream.batch.latest_offset_s_p50": median([b["ms"].get("latestOffset", 0) / 1000 for b in measured]),
            "stream.batch.wal_commit_s_p50": median([b["ms"].get("walCommit", 0) / 1000 for b in measured]),
            "stream.queue_wait_s_p50": median(wait),
            "stream.batch.jobs_p50": median([m.get("jobs", 0) for m in mb]),
            "stream.batch.tasks_p50": median([m.get("tasks", 0) for m in mb]),
            "stream.dedup.wh_files_read_p50": median([m.get("files_read", 0) for m in mb]),
            "stream.write.files_per_batch_p50": median([m.get("files_written", 0) for m in mb]),
            "stream.files_per_batch_p50": median([b["to"] - b["from"] for b in measured]),
            "stream.generator_late_s_max": max(late),
            "stream.busy_share": busy_share,
            "stream.batches": len(measured),
        }
    n_files = len(files) - WARM_FILES
    n_failed = n_files if problems else lost
    return Outcome(
        setup_s=setup_s,
        attempted=n_files,
        failed=n_failed,
        metrics={
            "ok_share": 1.0 - n_failed / n_files,
            "latency_p50_s": median(lat),
            "latency_p90_s": tail(lat),
            "cold_s": commit[batches[0]["batch"]] - t_start,
        },
        layer=layer,
        record={
            "committed_msgs_per_s": n_files * FILE_MSGS / span,
            "messages": len(msgs),
            "ledger": {k: v for k, v in vars(ledger).items() if k != "phones"},
            "gen_s": gen_s,
            "files": n_files,
            "batches": len(measured),
            "busy_share": busy_share,
            "latency_samples": len(lat),
            "generator_late_s_max": max(late),
            "problems": problems,
        },
    )


def ingest(ctx: Ctx) -> Outcome:
    """The pipeline workload, in one session: the stream phase, for the run's
    seconds, then the batch phase. Latency and the cold start (the first
    micro-batch of a fresh session) come from the stream phase, throughput
    from the batch phase. ``ok_share`` is the worse of the two phases', so
    that neither phase's failures hide behind the other's op count."""
    stream = _stream_phase(ctx, ctx.seconds)
    batch = BatchPhase(ctx)
    measured = batch.measure()
    layer = {**measured.layer, **stream.layer}
    if ctx.trace:
        layer["ingest.msgs_per_s_1core"] = _single_core_rate(ctx, batch.in_dir, len(batch.msgs))
    return Outcome(
        setup_s=measured.setup_s + stream.setup_s,
        attempted=measured.attempted + stream.attempted,
        failed=measured.failed + stream.failed,
        metrics={
            **measured.metrics,
            **stream.metrics,
            "ok_share": min(measured.metrics["ok_share"], stream.metrics["ok_share"]),
        },
        layer=layer,
        probes=measured.probes,
        probes_failed=measured.probes_failed,
        record={
            "batch": {**measured.record, "ok_share": measured.metrics["ok_share"]},
            "stream": {**stream.record, "ok_share": stream.metrics["ok_share"]},
        },
    )


# --- query_mix ---------------------------------------------------------------


def _oracle_check_module():
    """``tests/oracle_check.py`` of the checkout: the repository's own
    comparison of a query against its DuckDB ``oracle_sql()`` twin."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location("oracle_check", os.path.join(root, "tests", "oracle_check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_queries(spark, sf_dir: str, frames: dict) -> dict[str, str]:
    """Problems per query whose result differs from its oracle (untimed: each
    frame of the cold pass is executed again and collected, not rebuilt)."""
    import duckdb

    from drive_health_etl_spark.plans.registry import REGISTRY
    from drive_health_etl_spark.sources.tables import TABLES

    oc = _oracle_check_module()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        results = {
            q: oc.compare_query(spark, con, q, lambda _spark, _sf, df=df: df, REGISTRY[q][1], sf_dir)
            for q, df in frames.items()
        }
    finally:
        con.close()
    return {q: r["why"] for q, r in results.items() if not r["ok"]}


def _query_pass(ctx: Ctx, order: list[str], tag: str, keep: bool = False) -> list[dict]:
    from drive_health_etl_spark.plans.registry import REGISTRY

    tr, spark = ctx.tracer, ctx.spark
    out = []
    for q in order:
        op = f"{tag}:{q}"
        with tr.job_group(op), tr.span(f"query.{q}", op):
            t0 = time.perf_counter()
            with tr.span("plans.build", op):
                df = REGISTRY[q][0](spark, ctx.query_sf_dir)
            t1 = time.perf_counter()
            with tr.span("noop.write", op):
                _noop(df)
            t2 = time.perf_counter()
        rec = {"q": q, "op": op, "build_s": t1 - t0, "exec_s": t2 - t1, "df": df if keep else None}
        if ctx.trace:
            rec["counters"] = group_counters(spark, op)
        out.append(rec)
    return out


def query_mix(ctx: Ctx) -> Outcome:
    rng = random.Random(ctx.seed)

    def order() -> list[str]:
        names = list(QUERIES)
        rng.shuffle(names)
        return names

    cold = _query_pass(ctx, order(), "cold", keep=True)
    problems = check_queries(ctx.spark, ctx.query_sf_dir, {r["q"]: r.pop("df") for r in cold})

    warm: list[list[dict]] = []
    start = time.perf_counter()
    passes: list[float] = []
    while len(passes) < MIN_WARM_PASSES or time.perf_counter() - start + passes[-1] <= ctx.seconds:
        warm.append(_query_pass(ctx, order(), f"warm{len(warm)}"))
        passes.append(sum(r["build_s"] + r["exec_s"] for r in warm[-1]))

    layer = {}
    if ctx.trace:
        last = {r["q"]: r for r in warm[-1]}
        for r in cold:
            q = r["q"]
            runs = [x for p in warm for x in p if x["q"] == q]
            layer[f"query.{q}.cold_s"] = r["build_s"] + r["exec_s"]
            layer[f"query.{q}.build_s"] = median([x["build_s"] for x in runs])
            layer[f"query.{q}.exec_s"] = median([x["exec_s"] for x in runs])
            layer[f"query.{q}.jobs"] = last[q]["counters"]["jobs"]
        for key in ("jobs", "stages", "tasks", "executor_run_s", "shuffle_write_bytes", "spill_bytes"):
            layer[f"query.pass.{key}"] = sum(r["counters"][key] for r in warm[-1])
    n_ops = len(QUERIES) * (1 + len(warm))
    n_failed = len(problems) * (1 + len(warm))
    return Outcome(
        setup_s=0.0,
        attempted=n_ops,
        failed=n_failed,
        metrics={
            "ok_share": 1.0 - n_failed / n_ops,
            "throughput_per_s": len(QUERIES) / median(passes),
            "latency_p50_s": median(passes),
            "latency_p90_s": tail(passes),
            "cold_s": sum(r["build_s"] + r["exec_s"] for r in cold),
        },
        layer=layer,
        record={
            "queries": list(QUERIES),
            "cold": [{k: v for k, v in r.items() if k != "counters"} for r in cold],
            "warm_passes_s": passes,
            "last_warm": [{k: v for k, v in r.items() if k not in ("counters", "df")} for r in warm[-1]],
            "problems": problems,
        },
    )


WORKLOADS = {"ingest": ingest, "query_mix": query_mix}
# Per-layer metric prefixes each workload must fill; other layers read 0 there.
LAYER_PREFIX = {"ingest": ("ingest.", "stream."), "query_mix": ("query.",)}

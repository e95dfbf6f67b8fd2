"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with ``--trace 1``
they are its per-layer metrics, from a run that also records spans. A run
record with every figure, the host load and the spans is written to
``.perfbench/runs/``. Work files live under ``.perfbench/`` and are removed
when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("ingest", "query_mix"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate_temp(tmp: str) -> None:
    """Keep Python, Spark and JVM temporary files inside the checkout."""
    import tempfile

    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    tempfile.tempdir = None


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    from bench import _descendant_pids

    def descendants():
        return _descendant_pids() - {os.getpid()}

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        os.kill(pid, 9)
    for pid in descendants():
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)  # the program under test and bench.py

    from drive_health_etl_spark.session import get_spark  # absent outside a checkout: exits non-zero

    from bench import SF_DIR, external_shares, load_snapshot
    from measure import RssSampler, Tracer
    from workloads import LAYER_PREFIX, WORKLOADS, Ctx

    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench", f"{name}-{os.getpid()}")
    _isolate_temp(os.path.join(work, "tmp"))
    host_pre = load_snapshot()
    ctx = None
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = get_spark("perfbench", cpus=CPUS)
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t0
            ctx = Ctx(
                spark=spark,
                tracer=Tracer(spark, enabled=bool(args.trace)),
                seed=args.seed,
                seconds=args.seconds,
                trace=bool(args.trace),
                sf_dir=SF_DIR,
                query_sf_dir=os.path.join(os.path.dirname(SF_DIR), "sf0.01"),
                work=work,
            )
            try:
                out = WORKLOADS[args.workload](ctx)
            finally:
                stop_spark(ctx.spark)
        host = external_shares(host_pre, load_snapshot())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = dict(out.metrics)
    e2e["setup_s"] = session_s + out.setup_s
    e2e["peak_rss_mb"] = rss.peak_mb

    own = LAYER_PREFIX[args.workload]
    layer = {m["name"]: 0.0 for m in spec["per_layer"]}
    layer.update(out.layer)
    layer["failed_share"] = 1.0 - e2e["ok_share"]
    layer["trace.latency_p50_s"] = out.metrics["latency_p50_s"]
    if args.trace:
        missing = [m["name"] for m in spec["per_layer"] if m["name"].startswith(own) and m["name"] not in out.layer]
        if missing:
            raise RuntimeError(f"per-layer metrics not measured: {missing}")

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "attempted": out.attempted,
        "failed": out.failed,
        "probes": out.probes,
        "probes_failed": out.probes_failed,
        "session_s": session_s,
        "end_to_end": e2e,
        "per_layer": layer if args.trace else None,
        "host": host,
        "detail": out.record,
        "spans": ctx.tracer.spans if args.trace else None,
    }
    os.makedirs(os.path.join(ROOT, ".perfbench", "runs"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench", "runs", f"{name}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(
        f"perfbench {name}: host {json.dumps(host)}; failed {out.failed}/{out.attempted}; "
        f"probes failed {out.probes_failed}/{out.probes}; detail {json.dumps(out.record, default=str)[:2000]}",
        file=sys.stderr,
    )

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layer if args.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": out.failed == 0, "attempted": out.attempted, "failed": out.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

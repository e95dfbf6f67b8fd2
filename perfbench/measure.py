"""Measurement helpers: spans, Spark counters, percentiles and memory.

Everything here observes the program from outside: spans wrap the calls the
workloads make into the program's public functions, and counters come from
Spark's own status stores (``sc.statusTracker()``, the core status store and
the SQL status store), which work with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import ast
import json
import math
import os
import threading
import time
from contextlib import contextmanager

from bench import _descendant_pids


# --- percentiles -------------------------------------------------------------


def percentile(values: list[float], pct: int) -> float:
    """Nearest-rank percentile (the smallest sample with at least ``pct``% of
    samples at or below it)."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    return ordered[max(0, math.ceil(pct / 100 * len(ordered)) - 1)]


def min_samples_for(pct: int, beyond: int = 10) -> int:
    """Samples needed so that at least ``beyond`` of them lie above the
    ``pct`` percentile: p50 needs 20, p90 needs 100."""
    return math.ceil(beyond * 100 / (100 - pct))


def tail(values: list[float], pct: int = 90) -> float:
    """The ``pct`` percentile when there are enough samples for it, else the
    slowest sample (a closed loop of a few ops has no measurable p90)."""
    return percentile(values, pct) if len(values) >= min_samples_for(pct) else max(values)


# --- streaming progress ------------------------------------------------------


def parse_offset(text: str | None) -> int | None:
    """Spool-file count from a source offset string. Offsets arrive as JSON
    (``'{"n_files": 28}'``) or as a Python repr (``"{'n_files': 28}"``); the
    first batch's start offset is null."""
    if text is None:
        return None
    try:
        value = json.loads(text)
    except ValueError:
        value = ast.literal_eval(text)
    return None if value is None else int(value["n_files"])


def parse_ts(text: str) -> float:
    """Epoch seconds from a progress timestamp such as ``2026-10-17T03:08:41.292Z``."""
    from datetime import datetime, timezone

    return datetime.strptime(text, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


# --- spans -------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, op id), written when the run
    ends. A disabled tracer records nothing and sets no job groups, so the
    untraced run measures the program alone."""

    def __init__(self, spark, enabled: bool):
        self.spark, self.enabled = spark, enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def job_group(self, group: str):
        """Tag the Spark jobs started inside with ``group`` (traced runs only)."""
        sc = self.spark.sparkContext
        if self.enabled:
            sc.setJobGroup(group, group)
        try:
            yield group
        finally:
            if self.enabled:
                sc._jsc.clearJobGroup()


# --- Spark counters ----------------------------------------------------------

COUNTER_KEYS = ("jobs", "stages", "tasks", "executor_run_s", "shuffle_write_bytes", "spill_bytes", "input_records")


def _stage_counters(store, stage_ids) -> dict[str, float]:
    out = dict.fromkeys(COUNTER_KEYS, 0)
    for sid in sorted(stage_ids):
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # py4j wraps NoSuchElementException: stage evicted
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["executor_run_s"] += sd.executorRunTime() / 1000.0
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["input_records"] += sd.inputRecords()
    return out


def group_counters(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks, executor run time, shuffle write, spill and input
    records of every job tagged with ``group``."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = _stage_counters(sc._jsc.sc().statusStore(), stage_ids)
    out["jobs"] = len(jobs)
    return out


def _batch_of(description) -> int | None:
    """Micro-batch id from a streaming job/execution description (``... batch = 4``)."""
    if description is None:
        return None
    for line in reversed(str(description).splitlines()):
        if line.strip().startswith("batch = "):
            return int(line.split("=")[1])
    return None


def stream_batch_counters(spark, run_id: str) -> dict[int, dict[str, float]]:
    """Per micro-batch of the streaming query ``run_id``: jobs, tasks and the
    SQL metrics "number of files read" (the warehouse key scan: the spool
    source is not a file scan) and "number of written files"."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    per: dict[int, dict[str, float]] = {}
    for k in range(jobs.size()):
        j = jobs.apply(k)
        grp = j.jobGroup()
        if not grp.isDefined() or grp.get() != run_id:
            continue
        desc = j.description()
        b = _batch_of(desc.get() if desc.isDefined() else None)
        if b is None:
            continue
        rec = per.setdefault(b, {"jobs": 0, "tasks": 0, "files_read": 0, "files_written": 0})
        rec["jobs"] += 1
        rec["tasks"] += j.numCompletedTasks()
    sql = spark._jsparkSession.sharedState().statusStore()
    execs = sql.executionsList()
    for k in range(execs.size()):
        e = execs.apply(k)
        if run_id not in str(e.description()):
            continue
        b = _batch_of(e.description())
        if b is None or b not in per:
            continue
        names = {}
        ms = e.metrics()
        for m in range(ms.size()):
            names[ms.apply(m).accumulatorId()] = ms.apply(m).name()
        values = sql.executionMetrics(e.executionId())
        it = values.iterator()
        while it.hasNext():
            kv = it.next()
            name = names.get(kv._1())
            if name == "number of files read":
                per[b]["files_read"] += int(str(kv._2()).replace(",", ""))
            elif name == "number of written files":
                per[b]["files_written"] += int(str(kv._2()).replace(",", ""))
    return per


# --- memory -------------------------------------------------------------------


def _pss_kb(pid: int) -> int:
    """Proportional resident set: pages shared between the forked Python
    workers count once across the tree instead of once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process plus its descendants (the Spark
    JVM and its Python workers), sampled on a background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        total = sum(_pss_kb(p) for p in _descendant_pids())
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

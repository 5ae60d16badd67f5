"""Per-layer attribution of one query run, read from outside the program.

Sources, all public to any Spark application:

* the monitoring REST API (``/api/v1``): jobs, stages, per-node SQL
  metrics (the Python/Arrow boundary) and cached RDDs;
* a ``StreamingQueryListener`` on the session, which
  ``streaming/replay.py`` mirrors onto its pinned clones;
* the scratch directory the engine's replays create ``bdts_*`` dirs in.

Jobs, stages and SQL executions are attributed to a query by its time
window: queries run one at a time, so everything with an id above the
last one read belongs to the query that just ended. Job groups are no
use here, because micro-batch jobs run under the stream's run id.
"""

from __future__ import annotations

import json
import os
import statistics
import tempfile
import threading
import time
import urllib.request
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener

# Layers whose per-pass value is the largest reading, not the sum.
LEVEL_METRICS = frozenset({
    "executor.peak_exec_memory_bytes",
    "statestore.memory_bytes",
    "session.cached_bytes",
    "session.cached_rdds",
    "session.active_streams",
    "session.scratch_dirs",
})

_PY_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_STREAM_PHASES = {
    "triggerExecution": "streaming.trigger_ms",
    "addBatch": "streaming.add_batch_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
}
SETTLE_TIMEOUT_S = 30.0
# Attributed job time may lie outside the query's window only by
# timestamp rounding; more means jobs of other work were attributed to it.
MAX_OUTSIDE = 0.1  # share of the query's wall time


class TraceError(RuntimeError):
    """The monitoring data for a query is incomplete."""


def sql_metric_value(text: str) -> float:
    """Parse a SQL UI metric string: ``613 ms``, ``1.5 KiB``, ``10,000`` or
    the multi-task form ``total (min, med, max ...)\\n3.3 s (0 ms, ...)``."""
    total = text.split("\n")[-1].split(" (")[0].strip()
    num, _, unit = total.partition(" ")
    return float(num.replace(",", "")) * _UNITS.get(unit, 1.0)


def _epoch(stamp: str) -> float:
    return datetime.strptime(stamp[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


def _clip(intervals: list[tuple[float, float]], t0: float, t1: float) -> list[tuple[float, float]]:
    return [(max(a, t0), min(b, t1)) for a, b in intervals if b > t0 and a < t1]


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class _StreamEvents(StreamingQueryListener):
    """Collects progress and lifecycle events; callbacks arrive on py4j
    threads, so every access holds the condition's lock."""

    def __init__(self) -> None:
        self.cond = threading.Condition()
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.progress: list = []

    def onQueryStarted(self, event) -> None:
        with self.cond:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        with self.cond:
            self.progress.append(event.progress)

    def onQueryTerminated(self, event) -> None:
        with self.cond:
            self.terminated.add(str(event.runId))
            self.cond.notify_all()


class Tracer:
    """Attributes each query's wall time and work to the engine's layers."""

    def __init__(self, spark) -> None:
        self.spark = spark
        sc = spark.sparkContext
        self._bus = sc._jsc.sc().listenerBus()
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._events = _StreamEvents()
        self._scratch_root = tempfile.gettempdir()
        self._last_job = self._last_sql = -1
        self.skip()

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.load(r)

    def _settle(self) -> None:
        # Every event posted so far reaches the status store and the
        # Python listener before this returns.
        self._bus.waitUntilEmpty()

    def attach(self) -> None:
        """Start tracing; work that ran untraced before is not attributed."""
        self.spark.streams.addListener(self._events)
        self.skip()

    def detach(self) -> None:
        self.spark.streams.removeListener(self._events)

    def skip(self) -> None:
        """Forget everything that ran since the last read."""
        self._settle()
        self._last_job = max(
            (j["jobId"] for j in self._get("/jobs")), default=self._last_job
        )
        self._last_sql = max(self._sql_ids(), default=self._last_sql)
        with self._events.cond:
            self._seen_progress = len(self._events.progress)
            self._seen_started = len(self._events.started)

    def _sql_ids(self) -> list[int]:
        listing = self._get("/sql?details=false&planDescription=false&length=1000000")
        return sorted(e["id"] for e in listing)

    def record(self, t0: float, t1: float, build_s: float) -> dict[str, float]:
        """Layer values of the query that ran in the epoch window [t0, t1]."""
        self._settle()
        rec: dict[str, float] = {"registry.build_s": build_s}
        jobs, job_spans = self._jobs_and_stages(t0, t1)
        python, sql_spans = self._sql_executions()
        rec.update(jobs)
        rec.update(python)
        rec.update(self._streaming())
        rec.update(self._session())
        wall = t1 - t0
        outside = rec["scheduler.job_s"] - (wall - rec["driver.nojob_s"])
        if outside > MAX_OUTSIDE * wall:
            raise TraceError(f"{outside:.2f} s of attributed jobs outside the query's window")
        seen = [(t0, t0 + build_s)] + job_spans + sql_spans
        rec["coverage"] = _union_length(_clip(seen, t0, t1)) / wall
        return rec

    def _jobs_and_stages(self, t0: float, t1: float) -> tuple[dict[str, float], list]:
        jobs = [j for j in self._get("/jobs") if j["jobId"] > self._last_job]
        ids = sorted(j["jobId"] for j in jobs)
        if ids and ids != list(range(self._last_job + 1, ids[-1] + 1)):
            raise TraceError(
                f"job ids missing from the monitoring API after {self._last_job}: "
                f"got {ids[:5]}... (UI retention too small?)"
            )
        if any(j["status"] == "RUNNING" for j in jobs):
            raise TraceError("a job of the finished query is still running")
        if ids:
            self._last_job = ids[-1]
        spans = [
            (_epoch(j["submissionTime"]), _epoch(j["completionTime"]))
            for j in jobs
            if "submissionTime" in j and "completionTime" in j
        ]
        inside = _union_length(_clip(spans, t0, t1))
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("/stages") if s["stageId"] in stage_ids] if stage_ids else []
        found = {s["stageId"] for s in stages}
        if found != stage_ids:
            raise TraceError(f"{len(stage_ids - found)} stages missing from the monitoring API")
        ran = [s for s in stages if s["status"] != "SKIPPED"]

        def total(key: str, scale: float = 1.0) -> float:
            return sum(s[key] for s in ran) * scale

        return {
            "driver.nojob_s": (t1 - t0) - inside,
            "data.input_bytes": total("inputBytes"),
            "data.input_rows": total("inputRecords"),
            "scheduler.jobs": float(len(jobs)),
            "scheduler.stages": float(len({s["stageId"] for s in ran})),
            "scheduler.tasks": total("numCompleteTasks") + total("numFailedTasks"),
            "scheduler.job_s": _union_length(spans),
            "executor.run_s": total("executorRunTime", 1e-3),
            "executor.cpu_s": total("executorCpuTime", 1e-9),
            "executor.gc_s": total("jvmGcTime", 1e-3),
            "executor.deserialize_s": total("executorDeserializeTime", 1e-3),
            "executor.peak_exec_memory_bytes": max(
                (float(s["peakExecutionMemory"]) for s in ran), default=0.0
            ),
            "shuffle.write_bytes": total("shuffleWriteBytes"),
            "shuffle.write_s": total("shuffleWriteTime", 1e-9),
            "shuffle.read_bytes": total("shuffleReadBytes"),
            "shuffle.fetch_wait_s": total("shuffleFetchWaitTime", 1e-3),
            "shuffle.spill_disk_bytes": total("diskBytesSpilled"),
            "shuffle.spill_memory_bytes": total("memoryBytesSpilled"),
        }, spans

    def _sql_executions(self) -> tuple[dict[str, float], list]:
        """The Python/Arrow boundary metrics of the query's SQL executions,
        and when each execution ran."""
        out = dict.fromkeys(_PY_METRICS.values(), 0.0)
        spans = []
        for exec_id in [i for i in self._sql_ids() if i > self._last_sql]:
            ex = self._get(f"/sql/{exec_id}?details=true&planDescription=false")
            self._last_sql = exec_id
            if ex["status"] == "RUNNING":
                raise TraceError(f"SQL execution {ex['id']} still running")
            start = _epoch(ex["submissionTime"])
            spans.append((start, start + ex["duration"] / 1e3))
            for node in ex["nodes"]:
                for m in node["metrics"]:
                    key = _PY_METRICS.get(m["name"])
                    if key:
                        out[key] += sql_metric_value(m["value"])
        return out, spans

    def _streaming(self) -> dict[str, float]:
        ev = self._events
        deadline = time.monotonic() + SETTLE_TIMEOUT_S
        with ev.cond:
            started = ev.started[self._seen_started:]
            while not ev.terminated.issuperset(started):
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TraceError("no terminated event for a stream the query started")
                ev.cond.wait(left)
            progress = ev.progress[self._seen_progress:]
            self._seen_started = len(ev.started)
            self._seen_progress = len(ev.progress)
            active = len(set(ev.started) - ev.terminated)
        out = dict.fromkeys(_STREAM_PHASES.values(), 0.0)
        out.update({
            "streaming.batches": float(len(progress)),
            "streaming.input_rows": float(sum(p.numInputRows for p in progress)),
            "statestore.updates_ms": 0.0,
            "statestore.removals_ms": 0.0,
            "statestore.commit_ms": 0.0,
            "statestore.rows_updated": 0.0,
            "statestore.memory_bytes": 0.0,
            "session.active_streams": float(active),
        })
        batch_ms = []
        for p in progress:
            phases = dict(p.durationMs)
            for phase, key in _STREAM_PHASES.items():
                out[key] += phases.get(phase, 0)
            batch_ms.append(float(phases.get("triggerExecution", 0)))
            for op in p.stateOperators:
                out["statestore.updates_ms"] += op.allUpdatesTimeMs
                out["statestore.removals_ms"] += op.allRemovalsTimeMs
                out["statestore.commit_ms"] += op.commitTimeMs
                out["statestore.rows_updated"] += op.numRowsUpdated
                out["statestore.memory_bytes"] = max(
                    out["statestore.memory_bytes"], float(op.memoryUsedBytes)
                )
        out["_batch_ms"] = batch_ms
        return out

    def _session(self) -> dict[str, float]:
        rdds = self._get("/storage/rdd")
        return {
            "session.cached_bytes": float(
                sum(r["memoryUsed"] + r["diskUsed"] for r in rdds)
            ),
            "session.cached_rdds": float(len(rdds)),
            "session.scratch_dirs": float(
                sum(n.startswith("bdts_") for n in os.listdir(self._scratch_root))
            ),
        }


def pass_totals(spans: list[dict]) -> dict[str, float]:
    """Fold the spans of one pass's queries into layer values: sums, except
    levels (largest) and the micro-batch percentiles (over every batch)."""
    out: dict[str, float] = {}
    for span in spans:
        for key, value in span.items():
            if "." not in key:  # not a layer metric: query, wall_s, coverage...
                continue
            if key in LEVEL_METRICS:
                out[key] = max(out.get(key, 0.0), value)
            else:
                out[key] = out.get(key, 0.0) + value
    batches = [ms for span in spans for ms in span["_batch_ms"]]
    if len(batches) >= 2:
        q = statistics.quantiles(batches, n=10, method="inclusive")
        out["streaming.batch_p50_ms"], out["streaming.batch_p90_ms"] = q[4], q[8]
    else:
        out["streaming.batch_p50_ms"] = out["streaming.batch_p90_ms"] = (
            batches[0] if batches else 0.0
        )
    return out

"""In-memory spans around the module-level functions the pipeline calls,
plus Spark event-log parsing, for the traced run.

A span is ``(name, stage, start, end, parent)`` in epoch seconds, so it
lines up with the event log's millisecond timestamps. Every wrapper also
tags the jobs its thread submits with ``setJobDescription`` as
``"<stage>/<span name>"``; this holds inside the pipeline's sink
``ThreadPoolExecutor`` because the wrapper runs on the pool thread. Jobs
the pipeline submits outside any wrapper (lineage collects, cache fills)
carry the stage alone, set on the calling thread by :meth:`Tracer.stage`.
The route -> aggregate boundary is the return of the route stage's
``append_state`` call.
"""

from __future__ import annotations

import contextlib
import glob
import json
import statistics
import threading
import time
from dataclasses import dataclass

from log_analysis_system_spark import pipeline, state
from log_analysis_system_spark.operators import anomaly, performance, security
from log_analysis_system_spark.sources import catalog

DESC = "spark.job.description"


@dataclass
class Span:
    name: str
    stage: str
    start: float
    end: float
    parent: str | None


class Tracer:
    """Installs wrappers on the ``catalog``, ``state`` and operator
    functions the pipeline calls, for the lifetime of a ``with`` block, and
    records their spans."""

    WRAPPED = (
        (catalog, "write_table", "catalog.write"),
        (catalog, "read_table", "catalog.read"),
        (catalog, "table_exists", "catalog.probe"),
        (state, "append_state", "state.append"),
        (state, "completed_buckets", "state.resume_probe"),
        (state, "throttle_alerts", "state.throttle"),
        # lazy plan builders: their spans cover driver-side planning
        (pipeline, "parse_transcripts", "plan.parse"),
        (pipeline, "enrich", "plan.enrich"),
        *((security, f, "plan.detect") for f in (
            "attack_events", "scan_events", "suspicious_ip_events",
            "brute_force_events", "unusual_method_events", "ip_threat_scores")),
        (performance, "performance_metrics", "plan.metrics"),
        (anomaly, "response_time_zscore_anomalies", "plan.anomalies"),
        (anomaly, "error_rate_iqr_anomalies", "plan.anomalies"),
    )

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.current_stage = "setup"
        self.marks: dict[str, float] = {}
        # time spent in the tracer's own bookkeeping: its cost to the op
        self.bookkeeping_s = 0.0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._saved: list[tuple[object, str, object]] = []

    def __enter__(self):
        for module, attr, name in self.WRAPPED:
            original = getattr(module, attr)
            self._saved.append((module, attr, original))
            setattr(module, attr, self._wrap(original, name))
        return self

    def __exit__(self, *exc):
        for module, attr, original in reversed(self._saved):
            setattr(module, attr, original)
        self._saved.clear()
        return False

    def _wrap(self, fn, name):
        def wrapper(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            # the route stage records its buckets last: aggregate starts here
            if name == "state.append" and self.current_stage == "route" and any(
                    row[1] == "route" for row in args[2]):
                self.stage("aggregate")
            return out
        return wrapper

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        stage = self.current_stage
        parent = stack[-1] if stack else stage
        prev = self.sc.getLocalProperty(DESC)
        self.sc.setJobDescription(f"{stage}/{name}")
        stack.append(name)
        start = time.time()
        t1 = time.perf_counter()
        try:
            yield
        finally:
            end = time.time()
            t2 = time.perf_counter()
            stack.pop()
            self.sc.setJobDescription(prev)
            with self._lock:
                self.spans.append(Span(name, stage, start, end, parent))
                self.bookkeeping_s += (t1 - t0) + (time.perf_counter() - t2)

    def stage(self, name: str | None) -> None:
        """Enter stage ``name`` on the calling thread and record its start;
        ``None`` ends the current stage and untags the thread."""
        t0 = time.perf_counter()
        self.marks[name or "end"] = time.time()
        self.current_stage = name or "setup"
        self.sc.setJobDescription(name)
        with self._lock:
            self.bookkeeping_s += time.perf_counter() - t0


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


@dataclass
class Job:
    job_id: int
    desc: str
    start: float
    end: float
    stages: list[int]


@dataclass
class EventLog:
    jobs: dict[int, Job]
    # stage id -> list of (executor run s, shuffle write bytes, spill bytes)
    tasks: dict[int, list[tuple[float, int, int]]]
    # stage id -> number of json file scans in its RDD lineage
    json_scans: dict[int, int]


def read_event_log(log_dir: str) -> EventLog:
    """Parse the session's event log with stdlib ``json``."""
    jobs: dict[int, Job] = {}
    tasks: dict[int, list[tuple[float, int, int]]] = {}
    json_scans: dict[int, int] = {}
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"], props.get(DESC) or "",
                        ev["Submission Time"] / 1000, 0.0, list(ev["Stage IDs"]))
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    json_scans[info["Stage ID"]] = sum(
                        "Scan json" in (rdd.get("Scope") or "")
                        for rdd in info.get("RDD Info", []))
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    shuffle = (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    spill = m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
                    tasks.setdefault(ev["Stage ID"], []).append(
                        (m.get("Executor Run Time", 0) / 1000, shuffle, spill))
    return EventLog(jobs, tasks, json_scans)


def job_totals(log: EventLog, jobs: list[Job]) -> dict[str, float]:
    stage_ids = {s for j in jobs for s in j.stages if s in log.tasks}
    rows = [t for s in stage_ids for t in log.tasks[s]]
    return {
        "jobs": len(jobs),
        "tasks": len(rows),
        "executor_s": sum(r[0] for r in rows),
        "shuffle_bytes": sum(r[1] for r in rows),
        "spill_bytes": sum(r[2] for r in rows),
        "json_scans": sum(log.json_scans.get(s, 0) for s in stage_ids),
    }


def task_skew(log: EventLog, jobs: list[Job]) -> float:
    """max / median task run time of the busiest stage among ``jobs``."""
    stage_ids = {s for j in jobs for s in j.stages if s in log.tasks}
    if not stage_ids:
        return 0.0
    busiest = max(stage_ids, key=lambda s: sum(t[0] for t in log.tasks[s]))
    times = [t[0] for t in log.tasks[busiest]]
    med = statistics.median(times)
    return max(times) / med if med > 0 else 1.0

"""Spans and the Spark event-log ledger of a traced run.

A span is recorded around each call the benchmark makes into a layer of
the program: name, start, end, parent, and the id of the request (op) it
belongs to.  Each span also sets a Spark job group, so every job Spark
runs inside it can be traced back to the span from the event log, which
the traced run writes through ``get_spark(extra_conf=...)``.  Spans stay
in memory and are written out when the run ends.

With tracing off, :meth:`Tracer.span` records nothing and sets no job
group, so the end-to-end runs pay nothing for it.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    req: int


class Tracer:
    """In-memory span recorder; one per run."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._seq = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.sc = None  # set once a session exists

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def off(self):
        """Record nothing in this thread for the block (the untraced half
        of a tracing-overhead pair)."""
        self._local.off = True
        try:
            yield
        finally:
            self._local.off = False

    def current(self) -> Span | None:
        """This thread's innermost open span (to hand to worker threads)."""
        stack = self._stack()
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, new_request: bool = False, parent: Span | None = None):
        """Record ``name`` around the block; ``new_request`` starts a new
        request id even inside another span; ``parent`` links a span that
        runs in a worker thread to the span that submitted it."""
        if not self.enabled or getattr(self._local, "off", False):
            yield None
            return
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        sid = next(self._seq)
        req = sid if (new_request or parent is None) else parent.req
        sp = Span(sid, name, time.time(), 0.0, parent.sid if parent else None, req)
        stack.append(sp)
        if self.sc is not None:
            self.sc.setJobGroup(f"pb-{sid}", name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(sp)
            if self.sc is not None:
                if stack:
                    self.sc.setJobGroup(f"pb-{stack[-1].sid}", stack[-1].name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def count(self, key: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[key] = self.counts.get(key, 0) + n

    # -- read-back ---------------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.named(name)]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of the
        interval its child spans cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = union_length(
                [(c.start, c.end) for c in children.get(s.sid, [])], s.start, s.end
            )
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return {k: round(v, 4) for k, v in sorted(out.items())}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {"spans": [asdict(s) for s in self.spans], "counts": self.counts}, f
            )


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- Spark event log -----------------------------------------------------------


@dataclass
class Job:
    group: str | None
    desc: str | None
    execution: str | None
    submit: float
    end: float
    stages: list[int]
    bytes_read: int = 0
    bytes_written: int = 0
    shuffle_written: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    files_read: int = 0


def _plan_metrics(info: dict, out: dict[int, str]) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for c in info.get("children", []):
        _plan_metrics(c, out)


def _events(app: str):
    """The JSON events of one application log.  Spark 4 writes a log as a
    directory of rolled ``events_<n>_<app>`` files; older ones as a file."""
    files = (
        sorted(glob.glob(os.path.join(app, "events_*")),
               key=lambda p: int(os.path.basename(p).split("_")[1]))
        if os.path.isdir(app) else [app]
    )
    for path in files:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def read_event_logs(log_dir: str) -> list[Job]:
    """Jobs of every application log under ``log_dir``, with their task
    metrics summed and the files their SQL scans read."""
    jobs: list[Job] = []
    for app in sorted(glob.glob(os.path.join(log_dir, "*"))):
        by_id: dict[int, Job] = {}
        stage_job: dict[int, int] = {}
        acc_names: dict[int, str] = {}
        files_by_exec: dict[str, int] = {}
        for ev in _events(app):
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(
                    props.get("spark.jobGroup.id"),
                    props.get("spark.job.description"),
                    props.get("spark.sql.execution.id"),
                    ev["Submission Time"] / 1000.0,
                    ev["Submission Time"] / 1000.0,
                    ev.get("Stage IDs", []),
                )
                by_id[ev["Job ID"]] = job
                for sid in job.stages:
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd":
                job = by_id.get(ev["Job ID"])
                if job is not None:
                    job.end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = by_id.get(stage_job.get(ev.get("Stage ID"), -1))
                tm = ev.get("Task Metrics") or {}
                if job is None or not tm:
                    continue
                job.bytes_read += tm.get("Input Metrics", {}).get("Bytes Read", 0)
                job.bytes_written += tm.get("Output Metrics", {}).get("Bytes Written", 0)
                job.shuffle_written += tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                job.run_ms += tm.get("Executor Run Time", 0)
                job.gc_ms += tm.get("JVM GC Time", 0)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_metrics(ev.get("sparkPlanInfo", {}), acc_names)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                ex = str(ev.get("executionId"))
                for acc_id, value in ev.get("accumUpdates", []):
                    if acc_names.get(acc_id) == "number of files read":
                        files_by_exec[ex] = files_by_exec.get(ex, 0) + int(value)
        # a scan's file count belongs to the first job of its execution
        seen: set[str] = set()
        for job in sorted(by_id.values(), key=lambda j: j.submit):
            if job.execution is not None and job.execution not in seen:
                seen.add(job.execution)
                job.files_read = files_by_exec.get(job.execution, 0)
        jobs.extend(by_id.values())
    return jobs


def jobs_by_request(tracer: Tracer, jobs: list[Job]) -> dict[int, list[Job]]:
    """Group jobs by the request id of the span whose job group ran them."""
    req_of = {f"pb-{s.sid}": s.req for s in tracer.spans}
    out: dict[int, list[Job]] = {}
    for j in jobs:
        req = req_of.get(j.group or "")
        if req is not None:
            out.setdefault(req, []).append(j)
    return out


def op_ledger(tracer: Tracer, ops: list[Span], jobs: list[Job]) -> dict[str, list[float]]:
    """Per-op Spark figures for the op spans ``ops``: jobs, time inside
    jobs, driver time between them, bytes and files read, shuffle bytes."""
    grouped = jobs_by_request(tracer, jobs)
    out: dict[str, list[float]] = {
        k: []
        for k in ("jobs", "in_job_s", "driver_gap_s", "bytes_read", "files_read",
                  "shuffle_bytes", "bytes_written")
    }
    for op in ops:
        js = grouped.get(op.req, [])
        in_job = union_length([(j.submit, j.end) for j in js], op.start, op.end)
        out["jobs"].append(len(js))
        out["in_job_s"].append(in_job)
        out["driver_gap_s"].append((op.end - op.start) - in_job)
        out["bytes_read"].append(sum(j.bytes_read for j in js))
        out["files_read"].append(sum(j.files_read for j in js))
        out["shuffle_bytes"].append(sum(j.shuffle_written for j in js))
        out["bytes_written"].append(sum(j.bytes_written for j in js))
    return out


def gc_share(jobs: list[Job]) -> float:
    run = sum(j.run_ms for j in jobs)
    return sum(j.gc_ms for j in jobs) / run if run else 0.0


def planning_s(df) -> float:
    """Sum of the QueryPlanningTracker phases (parsing, analysis,
    optimization, planning) of an executed DataFrame."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.values().iterator()
    total = 0
    while it.hasNext():
        p = it.next()
        total += p.durationMs()
    return total / 1000.0

"""Benchmark-side tracing: spans around calls into the engine, Spark
job groups per span, and the event-log parser that attributes task
metrics to spans.

Spans are recorded only from the benchmark's own files — nothing in
the engine is instrumented. Each span sets a Spark job group, so the
jobs an engine call runs are counted through the public
``statusTracker().getJobIdsForGroup``; in traced mode the session also
writes Spark's event log, whose task metrics are joined to each span
through those job ids after the session stops.

The untraced run uses :class:`NullTracer`, whose spans do nothing.
"""

from __future__ import annotations

import contextlib
import glob
import json
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    phase: str = "setup"
    jobs: list[int] = field(default_factory=list)


class NullTracer:
    """Tracing off: spans are no-ops."""

    phase = "setup"

    def span(self, name: str, layer: str):
        return contextlib.nullcontext()


class Tracer:
    """Records one :class:`Span` per traced call, in memory.

    ``run_id`` prefixes every job group so that groups from separate
    runs never collide in one event log.
    """

    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.phase = "setup"
        #: wall seconds spent in the tracer's own bookkeeping
        self.self_cost_s = 0.0

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, layer,
                  parent.id if parent else None, 0.0)
        sp.group = f"{self.run_id}:{sp.id}"
        sp.phase = self.phase
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        sp.start = time.perf_counter()
        self.self_cost_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sp.jobs = sorted(
                self.sc.statusTracker().getJobIdsForGroup(sp.group))
            self._set_group(parent)
            self.self_cost_s += time.perf_counter() - sp.end

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                out[sp.parent].append(sp)
        return out


# -- event log ------------------------------------------------------------


@dataclass
class JobMetrics:
    execution: int | None = None
    start_s: float = 0.0
    end_s: float = 0.0
    stages: set = field(default_factory=set)
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


_SQL = "org.apache.spark.sql.execution.ui."


def _broadcast_size_ids(plan: dict, out: set) -> None:
    """Accumulator ids of every BroadcastExchange's "data size"."""
    if plan.get("nodeName") == "BroadcastExchange":
        out.update(m["accumulatorId"] for m in plan.get("metrics", [])
                   if m.get("name") == "data size")
    for child in plan.get("children", []):
        _broadcast_size_ids(child, out)


def parse_event_log(log_dir: str) -> tuple[dict[int, JobMetrics],
                                           dict[int, int]]:
    """From the (uncompressed) event log(s) under ``log_dir``: job id →
    metrics (times in epoch seconds), and SQL execution id → bytes
    broadcast by its BroadcastExchange nodes."""
    jobs: dict[int, JobMetrics] = {}
    stage_job: dict[int, int] = {}
    size_ids: dict[int, set] = {}
    accum: dict[int, int] = {}
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    exe = props.get("spark.sql.execution.id")
                    jm = JobMetrics(int(exe) if exe is not None else None,
                                    ev["Submission Time"] / 1000.0)
                    jm.stages = set(ev.get("Stage IDs", []))
                    jobs[ev["Job ID"]] = jm
                    for s in jm.stages:
                        stage_job[s] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end_s = (
                            ev["Completion Time"] / 1000.0)
                elif kind == "SparkListenerTaskEnd":
                    jm = jobs.get(stage_job.get(ev.get("Stage ID")))
                    tm = ev.get("Task Metrics")
                    if jm is None or not tm:
                        continue
                    jm.tasks += 1
                    jm.task_s += tm.get("Executor Run Time", 0) / 1000.0
                    jm.gc_s += tm.get("JVM GC Time", 0) / 1000.0
                    jm.shuffle_write_bytes += (
                        tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    jm.spill_bytes += tm.get("Memory Bytes Spilled", 0) + \
                        tm.get("Disk Bytes Spilled", 0)
                elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                              _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                    _broadcast_size_ids(
                        ev.get("sparkPlanInfo") or {},
                        size_ids.setdefault(ev["executionId"], set()))
                elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                    for acc_id, value in ev.get("accumUpdates", []):
                        accum[acc_id] = max(accum.get(acc_id, 0), value)
    broadcast = {exe: sum(accum.get(i, 0) for i in ids)
                 for exe, ids in size_ids.items()}
    return jobs, broadcast


def _subtract(intervals, cuts):
    """``intervals`` minus the union of ``cuts`` (both lists of
    (start, end))."""
    out = list(intervals)
    for c0, c1 in cuts:
        nxt = []
        for a, b in out:
            if c1 <= a or c0 >= b:
                nxt.append((a, b))
                continue
            if a < c0:
                nxt.append((a, c0))
            if c1 < b:
                nxt.append((c1, b))
        out = nxt
    return out


def _length(intervals) -> float:
    return sum(b - a for a, b in intervals)


def layer_totals(tracer: Tracer, jobs: dict[int, JobMetrics],
                 clock_offset: float) -> dict[str, dict[str, float]]:
    """Per-layer totals over the SELF time of every measure-phase span:
    a span's jobs are those of its own job group (children set their
    own), its self wall is its interval minus its children's, and
    ``driver_s`` is the part of the self wall no running job covers
    (planning, listing, manifest I/O, collects on the driver).

    ``clock_offset`` converts ``time.perf_counter`` to epoch seconds
    (the event log's clock)."""
    children = tracer.children()
    job_iv = [(j.start_s - clock_offset, j.end_s - clock_offset)
              for j in jobs.values() if j.end_s]
    job_iv.sort()
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for sp in tracer.spans:
        if sp.phase != "measure":
            continue
        self_iv = _subtract([(sp.start, sp.end)],
                            [(c.start, c.end) for c in children[sp.id]])
        uncovered = _subtract(
            self_iv, [iv for iv in job_iv
                      if iv[1] > sp.start and iv[0] < sp.end])
        acc = out[sp.layer]
        acc["driver_s"] += _length(uncovered)
        for jid in sp.jobs:
            jm = jobs.get(jid)
            acc["spark_jobs"] += 1
            if jm is None:
                continue
            acc["spark_stages"] += len(jm.stages)
            acc["spark_tasks"] += jm.tasks
            acc["task_s"] += jm.task_s
            acc["gc_s"] += jm.gc_s
            acc["shuffle_write_bytes"] += jm.shuffle_write_bytes
            acc["spill_bytes"] += jm.spill_bytes
    return out

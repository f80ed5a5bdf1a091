"""Spans and Spark counters for the traced run.

A span records a name, a start, an end, its parent span and the operation it
belongs to. Spans are kept in memory and written out when the run ends. A
span's self time is its duration minus the part of its interval that its
child spans cover.

Spark counters come from two public sources, in the traced run only: the
job group each operation sets plus ``SparkStatusTracker`` (jobs, stages,
tasks), and Spark's event log (task metrics), parsed after the session stops.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class NullTracer:
    """The untraced run: every hook is a no-op."""

    def span(self, name: str):
        return contextlib.nullcontext()

    def begin_op(self, op_id: str) -> None:
        pass

    def end_op(self, op_id: str) -> None:
        pass


class Tracer(NullTracer):
    def __init__(self, spark=None):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op: str | None = None
        self._spark = spark
        self.op_counts: dict[str, tuple[int, int, int]] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        span = Span(name, time.perf_counter(), 0.0, parent, self._op)
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()

    def begin_op(self, op_id: str) -> None:
        self._op = op_id
        if self._spark is not None:
            self._spark.sparkContext.setJobGroup(op_id, op_id)

    def end_op(self, op_id: str) -> None:
        self._op = None
        if self._spark is None:
            return
        sc = self._spark.sparkContext
        tracker = sc.statusTracker()
        jobs = stages = tasks = 0
        for jid in tracker.getJobIdsForGroup(op_id):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                stage = tracker.getStageInfo(sid)
                if stage is not None:
                    stages += 1
                    tasks += stage.numTasks
        self.op_counts[op_id] = (jobs, stages, tasks)
        sc.setLocalProperty("spark.jobGroup.id", None)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def self_times(spans: list[Span]) -> list[float]:
    """Self time of every span: its duration minus the union of its
    children's intervals, each clipped to the parent's interval."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(i, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s.end - s.start) - covered)
    return out


def wrap_method(tracer: Tracer, owner, attr: str, span_name: str) -> None:
    """Record a span around every call of ``owner.attr`` (a class method or
    module function), so calls one layer makes into another are attributed
    even when the benchmark does not make them itself."""
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(span_name):
            return fn(*args, **kwargs)

    setattr(owner, attr, traced)


def read_event_log(log_dir: str, groups: set[str]) -> dict[str, float]:
    """Sum the task metrics of every job whose job group is in ``groups``."""
    stage_group: dict[int, str] = {}
    out = {
        "task_run_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_read_bytes": 0.0, "shuffle_write_bytes": 0.0,
        "spill_bytes": 0.0, "peak_exec_mem_bytes": 0.0, "input_records": 0.0,
    }
    per_group_records: dict[str, float] = {}
    # Spark 4 writes rolling event logs: a directory of events_* files
    for path in sorted(glob.glob(f"{log_dir}/**/events_*", recursive=True)):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group in groups:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    out["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    out["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sr = m.get("Shuffle Read Metrics", {})
                    out["shuffle_read_bytes"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    )
                    out["shuffle_write_bytes"] += m.get(
                        "Shuffle Write Metrics", {}
                    ).get("Shuffle Bytes Written", 0)
                    out["spill_bytes"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    )
                    out["peak_exec_mem_bytes"] = max(
                        out["peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0)
                    )
                    recs = m.get("Input Metrics", {}).get("Records Read", 0)
                    out["input_records"] += recs
                    per_group_records[group] = per_group_records.get(group, 0) + recs
    out["per_group_input_records"] = per_group_records
    return out

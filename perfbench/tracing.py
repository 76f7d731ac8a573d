"""Tracing for the benchmark's traced run, kept entirely in the benchmark.

* Spans: public engine functions and methods are wrapped at class or module
  level (``Tracer.wrap``), so calls the engine makes internally -- such as
  ``search_auto`` resolving ``self.search_terms`` or importing
  ``wand.wand_search`` at call time -- are recorded too. A span has a name,
  start, end, parent and the id of the operation it belongs to.
* Operations: each benchmark operation gets its own Spark job group
  (``Tracer.operation``); its jobs, stages and tasks are counted with
  ``statusTracker()`` before the session stops.
* Task metrics: run time, input, shuffle and spill bytes are read from the
  uncompressed event log after the session stops (``read_event_log``).
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op: str
    parent: "Span | None"
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


@dataclass
class Operation:
    id: str
    kind: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


#: event-log settings the traced session needs: the image has no zstd
#: decoder, so the log is written uncompressed and in one file
def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


class Tracer:
    """Spans and operations of one traced run. Times are epoch seconds so
    they line up with the event log's epoch-millisecond timestamps."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.ops: list[Operation] = []
        self._stack: list[Span] = []
        self._op: Operation | None = None
        self._ids = itertools.count()

    def wrap(self, owner, attr: str, name: str, info=None) -> None:
        """Replace ``owner.attr`` by a recording wrapper. ``info(args,
        kwargs, result)`` may return attributes to keep on the span."""
        fn = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            op = tracer._op
            if op is None:
                return fn(*args, **kwargs)
            span = Span(name, op.id, tracer._stack[-1] if tracer._stack else None, time.time())
            tracer._stack.append(span)
            try:
                result = fn(*args, **kwargs)
            finally:
                span.end = time.time()
                tracer._stack.pop()
                tracer.spans.append(span)
            if info is not None:
                span.attrs.update(info(args, kwargs, result))
            return result

        setattr(owner, attr, wrapper)

    @contextmanager
    def operation(self, kind: str, **attrs):
        """One benchmark operation in its own Spark job group."""
        op = Operation(f"pb-{next(self._ids)}-{kind}", kind, time.time(), attrs=dict(attrs))
        self.sc.setJobGroup(op.id, kind)
        self._op = op
        try:
            yield op
        finally:
            op.end = time.time()
            self._op = None
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.ops.append(op)

    def count_jobs(self) -> None:
        """Attach job, stage and task counts from ``statusTracker()`` to
        every operation. Call once all work is done, before stopping."""
        st = self.sc.statusTracker()
        for op in self.ops:
            jobs = st.getJobIdsForGroup(op.id)
            stages = tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    si = st.getStageInfo(s)
                    if si is not None and si.numCompletedTasks > 0:
                        stages += 1
                        tasks += si.numCompletedTasks
            op.attrs.update(jobs=len(jobs), stages=stages, tasks=tasks)

    def spans_of(self, op: Operation, name: str | None = None) -> list[Span]:
        return [s for s in self.spans if s.op == op.id and (name is None or s.name == name)]


def covered_ms(intervals) -> float:
    """Length of the union of ``(start, end)`` second intervals, in ms."""
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
    return total * 1000.0


def read_event_log(log_dir: str) -> dict:
    """Per job group: jobs with submission times, stage run intervals and
    summed task metrics, from the one uncompressed event log in
    ``log_dir``."""
    (name,) = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(
        lambda: {"job_times": [], "stages": [], "run_ms": 0.0, "cpu_ms": 0.0,
                 "input_bytes": 0, "shuffle_read_bytes": 0,
                 "shuffle_write_bytes": 0, "spill_bytes": 0, "tasks": 0}
    )
    with open(os.path.join(log_dir, name)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g is None:
                    continue
                groups[g]["job_times"].append(ev["Submission Time"] / 1000.0)
                for s in ev["Stage IDs"]:
                    stage_group[s] = g
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                g = stage_group.get(info["Stage ID"])
                if g is not None and "Submission Time" in info and "Completion Time" in info:
                    groups[g]["stages"].append(
                        (info["Submission Time"] / 1000.0, info["Completion Time"] / 1000.0)
                    )
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if g is None or not m:
                    continue
                acc = groups[g]
                acc["tasks"] += 1
                acc["run_ms"] += m.get("Executor Run Time", 0)
                acc["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return dict(groups)

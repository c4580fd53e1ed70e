"""Spans at the layer boundaries the benchmark calls into.

A span holds a name, start, end, its parent span and the op id shared by
every span of one operation (a sync, a tick or a registry key). With tracing
on, each span labels the Spark jobs started while it is the innermost open
span with ``setJobGroup``; job, stage and task counts come from the status
tracker, and per-task metrics from the local event log, which the traced run
enables. Spans stay in memory until ``write``.

With tracing off, ``span`` only yields: no job groups, no event log.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.op, 0.0, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self.spark.sparkContext.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            sc = self.spark.sparkContext
            if self._stack:
                sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    # -- after the measured region ----------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        return {s.id: s.dur - child[s.id] for s in self.spans}

    def job_counts(self) -> None:
        """Attach jobs, stages and tasks run directly under each span."""
        st = self.spark.sparkContext.statusTracker()
        for s in self.spans:
            jobs = st.getJobIdsForGroup(s.group)
            stages = set()
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = 0
            for sid in stages:
                info = st.getStageInfo(sid)
                if info is not None:
                    tasks += info.numTasks
            s.attrs.update(jobs=len(jobs), stages=len(stages), tasks=tasks)

    def write(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        rows = [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "op": s.op,
                "start": round(s.start, 6),
                "end": round(s.end, 6),
                "self_s": round(selfs[s.id], 6),
                **s.attrs,
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({**extra, "spans": rows}, f, indent=1)


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings for a single plain-JSON event log in ``log_dir``,
    which starts empty."""
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        # the status tracker drops jobs past these limits
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


@dataclass
class TaskTotals:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def task_totals_by_group(log_dir: str) -> dict[str, TaskTotals]:
    """Sum task metrics per job group from the (stopped) application's
    event log. A stage shared by several jobs counts toward the first."""
    logs = glob.glob(os.path.join(log_dir, "*"))
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    stage_group: dict[int, str] = {}
    out: dict[str, TaskTotals] = defaultdict(TaskTotals)
    with open(logs[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if group is None or not m:
                    continue
                t = out[group]
                t.tasks += 1
                t.run_s += m.get("Executor Run Time", 0) / 1e3
                t.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                t.gc_s += m.get("JVM GC Time", 0) / 1e3
                t.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                t.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                t.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                t.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return out

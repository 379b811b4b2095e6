"""Spans around the benchmark's calls into each layer, and Spark's event log.

A span is opened around one public call (or a group of calls forming a
layer) from the benchmark's own code; nothing inside `libchunk_spark`
records spans. Spans live in memory and are written out when the run ends.

Spark work is attributed to spans by time: a job belongs to the innermost
span open at its submission time, a task to the innermost span open at its
launch time. The benchmark is a single closed-loop client, so at most one
span chain is open at any moment and the attribution is exact. Each span
also sets the Spark job group, which labels the event log for a reader, but
the group is not used for attribution: jobs started from the thread pools
in libchunk_spark.queries do not inherit it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field

MB = 1e6


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float | None = None
    parent: int | None = None  # index into Tracer.spans
    group: str = ""  # Spark job group set while the span was open
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    """In-memory span recorder. `sc` (a SparkContext) is optional so the
    tracer can time pure in-process kernels too."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, start: float | None = None):
        """Open a span now, or back-dated to `start` (epoch seconds) so it
        also covers work done just before the call it wraps."""
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, start or time.time(), parent=parent, group=f"perfbench-{idx}")
        self.spans.append(s)
        self._stack.append(idx)
        self._label(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._label(self.spans[parent] if parent is not None else None)

    def _label(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(s.group, s.name)

    def self_s(self, idx: int) -> float:
        """Span duration minus the part of it covered by its child spans."""
        s = self.spans[idx]
        kids = sorted(
            (c.start, c.end or c.start)
            for c in self.spans
            if c.parent == idx
        )
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in kids:
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        return s.wall_s - covered

    def find(self, name: str) -> Span:
        """The last span recorded under name."""
        return next(s for s in reversed(self.spans) if s.name == name)

    def innermost(self, t: float) -> int | None:
        """Index of the innermost span whose interval contains epoch time t."""
        best = None
        for i, s in enumerate(self.spans):
            if s.start <= t <= (s.end or t):
                if best is None or s.start >= self.spans[best].start:
                    best = i
        return best

    def to_json(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "job_group": s.group,
                "wall_s": s.wall_s,
                "self_s": self.self_s(i),
                "counts": s.counts,
            }
            for i, s in enumerate(self.spans)
        ]


# --------------------------------------------------------------- event log


@dataclass
class JobRecord:
    job_id: int
    submit_ms: int
    group: str


@dataclass
class TaskRecord:
    stage_id: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


def read_event_log(path: str) -> tuple[list[JobRecord], list[TaskRecord]]:
    """Jobs and finished tasks from an uncompressed Spark JSON event log."""
    jobs: list[JobRecord] = []
    tasks: list[TaskRecord] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs.append(
                    JobRecord(
                        ev["Job ID"],
                        ev["Submission Time"],
                        props.get("spark.jobGroup.id") or "",
                    )
                )
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append(
                    TaskRecord(
                        stage_id=ev["Stage ID"],
                        launch_ms=info["Launch Time"],
                        finish_ms=info["Finish Time"],
                        run_ms=m.get("Executor Run Time", 0),
                        cpu_ns=m.get("Executor CPU Time", 0),
                        shuffle_read_bytes=sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
                        spill_bytes=m.get("Disk Bytes Spilled", 0),
                    )
                )
    return jobs, tasks


def find_event_log(log_dir: str) -> str:
    """The single application log Spark wrote under log_dir (one plain
    file: the session disables rolling logs)."""
    logs = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return logs[0]


def spark_counters(jobs: list[JobRecord], tasks: list[TaskRecord]) -> dict[str, float]:
    """Totals over a set of jobs and tasks. task_skew is taken in the stage
    with the most task time: its longest task over its median task (1.0
    when every task takes the same time)."""
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage_id, []).append(t.finish_ms - t.launch_ms)
    skew = 1.0
    if by_stage:
        durations = max(by_stage.values(), key=sum)
        med = statistics.median(durations)
        skew = max(durations) / med if med > 0 else 1.0
    return {
        "jobs": len(jobs),
        "tasks": len(tasks),
        "executor_run_s": sum(t.run_ms for t in tasks) / 1e3,
        "executor_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "shuffle_read_mb": sum(t.shuffle_read_bytes for t in tasks) / MB,
        "shuffle_write_mb": sum(t.shuffle_write_bytes for t in tasks) / MB,
        "spill_mb": sum(t.spill_bytes for t in tasks) / MB,
        "task_skew": skew,
    }


def attribute(
    tracer: Tracer, jobs: list[JobRecord], tasks: list[TaskRecord]
) -> dict[int, dict[str, float]]:
    """Spark counters per span index (innermost span by time)."""
    by_span_jobs: dict[int, list[JobRecord]] = {}
    by_span_tasks: dict[int, list[TaskRecord]] = {}
    for j in jobs:
        i = tracer.innermost(j.submit_ms / 1e3)
        if i is not None:
            by_span_jobs.setdefault(i, []).append(j)
    for t in tasks:
        i = tracer.innermost(t.launch_ms / 1e3)
        if i is not None:
            by_span_tasks.setdefault(i, []).append(t)
    return {
        i: spark_counters(by_span_jobs.get(i, []), by_span_tasks.get(i, []))
        for i in range(len(tracer.spans))
    }

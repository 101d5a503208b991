"""Spans around calls into the engine's layers, Spark job attribution,
event-log parsing and peak memory.

A span records its name, start, end and parent. While a span is open its
id is the Spark job group, so ``statusTracker`` gives the jobs, stages
and tasks that ran inside it and no child span. Shuffle and spill bytes
come from the Spark event log, whose job-start events carry the same
group id. Spans stay in memory and are summarised when the run ends.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0  # self jobs: those run in this span but no child span
    stages: int = 0
    tasks: int = 0
    child_s: float = 0.0
    child_jobs: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.s - self.child_s

    @property
    def all_jobs(self) -> int:
        return self.jobs + self.child_jobs


class Tracer:
    """Records spans when enabled; ``span()`` is a no-op otherwise."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext if enabled else None
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.sid if parent else None, time.perf_counter(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(f"pb{sp.sid}", name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._count_jobs(sp)
            self._stack.pop()
            if parent is not None:
                parent.child_s += sp.s
                parent.child_jobs += sp.all_jobs
                self.sc.setJobGroup(f"pb{parent.sid}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _count_jobs(self, sp: Span) -> None:
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(f"pb{sp.sid}"):
            sp.jobs += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                st = tracker.getStageInfo(stage_id)
                if st is not None and st.numCompletedTasks > 0:  # skipped stages ran no task
                    sp.stages += 1
                    sp.tasks += st.numCompletedTasks

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as span ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def median(xs):
    xs = sorted(xs)
    if not xs:
        return 0.0
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = max(0, min(len(xs) - 1, -(-len(xs) * q // 100) - 1))
    return xs[int(k)]


def event_log_bytes(log_dir: str) -> dict[str, dict[str, int]]:
    """Per job group: shuffle read/write and spill bytes from the Spark
    event log. Read after the SparkContext stops (the log is flushed then)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
    # Spark 4 writes a directory of rolling event files per application
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if group is None or not m:
                        continue
                    acc = out[group]
                    rd = m.get("Shuffle Read Metrics", {})
                    acc["shuffle_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    acc["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return out


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of one process, in MiB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_pid(spark) -> int | None:
    """Pid of the driver JVM that PySpark launched (the gateway process
    execs into it)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None

"""Spans around the benchmark's calls into the program, and the Spark
stages the event log attributes to them.

Spans live in memory while the run measures and are written out at the
end.  A stage belongs to the innermost span whose interval holds the
stage's submission time; the benchmark runs one call at a time (closed
loop, one client), so sibling spans never overlap.  Event-log parsing is
``scripts/analyze_eventlog.py``'s ``load_events``, imported as is.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    children: list[int] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records a tree of spans; ``span`` nests under the open span."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None) -> int:
        idx = len(self.spans)
        self.spans.append(Span(name, start, end, parent))
        if parent is not None:
            self.spans[parent].children.append(idx)
        return idx

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        idx = self.add(name, time.time(), 0.0, parent)
        self._open.append(idx)
        try:
            yield idx
        finally:
            self._open.pop()
            self.spans[idx].end = time.time()

    def self_time(self, idx: int) -> float:
        """Span wall minus the part its children cover (children of one
        span are sequential, so their walls add up)."""
        s = self.spans[idx]
        return s.wall - sum(self.spans[c].wall for c in s.children)

    def tree(self) -> list[dict]:
        """Spans as dicts; ``start_s`` is relative to the first span."""
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {
                "name": s.name,
                "parent": s.parent,
                "start_s": round(s.start - t0, 6),
                "wall_s": round(s.wall, 6),
                "self_s": round(self.self_time(i), 6),
            }
            for i, s in enumerate(self.spans)
        ]


# SQL metric that every Arrow/pandas Python operator reports per task
PYTHON_METRIC = "data sent to Python workers"


@dataclass
class Stage:
    submit: float  # seconds since the epoch, like time.time()
    complete: float
    tasks: int
    task_run_s: list[float] = field(default_factory=list)
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    python_s: float = 0.0  # task time, if the stage runs a Python operator

    @property
    def wall(self) -> float:
        return self.complete - self.submit


def read_stages(load_events, eventlog_dir: Path) -> list[Stage]:
    """Completed stages of every application log under ``eventlog_dir``,
    with their task metrics summed; ``load_events`` is
    ``scripts/analyze_eventlog.py``'s event reader."""
    stages: dict[tuple[str, int, int], Stage] = {}
    tasks: dict[tuple[str, int, int], list[dict]] = {}
    for app_dir in sorted(eventlog_dir.iterdir()):
        for ev in load_events(app_dir):
            kind = ev.get("Event", "")
            if kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                if si.get("Submission Time") and si.get("Completion Time"):
                    key = (app_dir.name, si["Stage ID"], si["Stage Attempt ID"])
                    stages[key] = Stage(
                        si["Submission Time"] / 1000.0,
                        si["Completion Time"] / 1000.0,
                        si["Number of Tasks"],
                    )
            elif kind == "SparkListenerTaskEnd":
                key = (app_dir.name, ev["Stage ID"], ev["Stage Attempt ID"])
                tasks.setdefault(key, []).append(ev)
    for key, st in stages.items():
        runs_python = False
        for ev in tasks.get(key, []):
            tm = ev.get("Task Metrics") or {}
            st.task_run_s.append(tm.get("Executor Run Time", 0) / 1000.0)
            st.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            st.gc_s += tm.get("JVM GC Time", 0) / 1000.0
            swm = tm.get("Shuffle Write Metrics") or {}
            st.shuffle_write_mb += swm.get("Shuffle Bytes Written", 0) / 1e6
            st.spill_mb += (
                tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            ) / 1e6
            runs_python = runs_python or any(
                acc.get("Name") == PYTHON_METRIC
                for acc in (ev.get("Task Info") or {}).get("Accumulables", [])
            )
        if runs_python:
            st.python_s = sum(st.task_run_s)
    return sorted(stages.values(), key=lambda s: s.submit)


def attribute(tracer: Tracer, stages: list[Stage]) -> dict[int, list[Stage]]:
    """Map span index -> stages submitted inside it and not inside any of
    its children."""
    out: dict[int, list[Stage]] = {i: [] for i in range(len(tracer.spans))}
    roots = [i for i, s in enumerate(tracer.spans) if s.parent is None]
    for st in stages:
        level, owner = roots, None
        while True:
            hit = next(
                (i for i in level
                 if tracer.spans[i].start <= st.submit <= tracer.spans[i].end),
                None,
            )
            if hit is None:
                break
            owner, level = hit, tracer.spans[hit].children
        if owner is not None:
            out[owner].append(st)
    return out


def subtree(tracer: Tracer, idx: int) -> list[int]:
    out, stack = [], [idx]
    while stack:
        i = stack.pop()
        out.append(i)
        stack.extend(tracer.spans[i].children)
    return out


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy


def task_skew(stages: list[Stage]) -> float:
    """max / median task run time in the slowest stage (1.0 = even)."""
    slow = max((s for s in stages if s.task_run_s), key=lambda s: s.wall, default=None)
    if slow is None:
        return 0.0
    med = statistics.median(slow.task_run_s)
    return max(slow.task_run_s) / med if med > 0 else 1.0

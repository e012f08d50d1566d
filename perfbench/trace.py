"""Spans recorded around calls into the engine, and Spark's own counters
reduced per span.

A span has a name, start, end, parent and the run id. Spans are kept in
memory and written out once, when the run ends. Every span runs its
Spark jobs under its own job group (``<run id>/<span id>``), so jobs,
stages and tasks can be attributed to the innermost span that launched
them, both from the live status tracker and from the event log.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field

MIB = 1024.0 * 1024.0

# SQL metric names of the Python-worker boundary, as Spark writes them
# into each task's accumulable updates (times in ms)
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder that tags each span's Spark jobs with a
    job group. ``time.time()`` is used for span bounds because Spark's
    event timestamps are wall-clock milliseconds."""

    def __init__(self, sc, run_id: str) -> None:
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def group(self, span: Span) -> str:
        return f"{self.run_id}/{span.sid}"

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.sid if parent else None,
                  time.time(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(self.group(sp), name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self.group(parent), parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def record(self, name: str, start: float, end: float) -> Span:
        """A finished top-level span that launched no Spark jobs."""
        sp = Span(len(self.spans), name, None, start, end)
        self.spans.append(sp)
        return sp

    def subtree(self, span: Span) -> list[Span]:
        """``span`` and every span below it."""
        out, todo = [], [span.sid]
        while todo:
            sid = todo.pop()
            out.append(self.spans[sid])
            todo.extend(s.sid for s in self.spans if s.parent == sid)
        return out

    def self_time(self, span: Span) -> float:
        kids = [s for s in self.spans if s.parent == span.sid]
        return span.wall - _union([(k.start, k.end) for k in kids])

    def live_tasks(self, span: Span) -> tuple[int, int]:
        """(jobs, completed tasks) launched under ``span``'s subtree, from
        the status tracker (no event log needed)."""
        st = self.sc.statusTracker()
        jobs = tasks = 0
        for sp in self.subtree(span):
            for jid in st.getJobIdsForGroup(self.group(sp)):
                jobs += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = st.getStageInfo(sid)
                    tasks += stage.numCompletedTasks if stage else 0
        return jobs, tasks

    def dump(self, path: str, extra: dict) -> None:
        rows = [
            {"id": s.sid, "name": s.name, "parent": s.parent,
             "run": self.run_id, "start": s.start, "end": s.end,
             "self_s": self.self_time(s), **s.attrs}
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump({"spans": rows, **extra}, fh, indent=1)


def _union(intervals) -> float:
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


def _clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


@dataclass
class _Stage:
    group: str | None = None
    start: float = 0.0
    end: float = 0.0


@dataclass
class _Task:
    stage: int
    start: float
    end: float
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_read: int
    shuffle_write: int
    spill: int
    acc: dict


class EventLog:
    """Spark event log (uncompressed JSON lines) reduced per job group."""

    def __init__(self, log_dir: str) -> None:
        self.job_group: dict[int, str | None] = {}
        self.stages: dict[int, _Stage] = {}
        self.tasks: list[_Task] = []
        files = sorted(
            f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
            if os.path.isfile(f)
        )
        for f in files:
            with open(f) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            self.job_group[ev["Job ID"]] = group
            for sid in ev.get("Stage IDs", []):
                st = self.stages.setdefault(sid, _Stage())
                # a stage reused by a later job keeps its first group
                st.group = st.group or group
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = self.stages.setdefault(info["Stage ID"], _Stage())
            st.start = info.get("Submission Time", 0) / 1000.0
            st.end = info.get("Completion Time", 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            if info.get("Failed") or not m:
                return
            sr = m.get("Shuffle Read Metrics", {})
            sw = m.get("Shuffle Write Metrics", {})
            self.tasks.append(_Task(
                stage=ev["Stage ID"],
                start=info["Launch Time"] / 1000.0,
                end=info["Finish Time"] / 1000.0,
                run_s=m.get("Executor Run Time", 0) / 1000.0,
                cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                gc_s=m.get("JVM GC Time", 0) / 1000.0,
                shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                shuffle_write=sw.get("Shuffle Bytes Written", 0),
                spill=m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0),
                acc={a["Name"]: int(a["Update"]) for a in info.get("Accumulables", [])
                     if a.get("Name") in (PY_TIME, PY_SENT, PY_RETURNED)},
            ))

    def reduce(self, groups: set[str], wall: tuple[float, float], cores: int) -> dict:
        """Counters of every job launched under ``groups`` during the
        ``wall`` interval, with the wall split into driver time (no stage
        active) and stage-active time."""
        stage_ids = {sid for sid, st in self.stages.items() if st.group in groups}
        ran = {t.stage for t in self.tasks if t.stage in stage_ids}
        tasks = [t for t in self.tasks if t.stage in stage_ids]
        lo, hi = wall
        span_s = hi - lo
        stage_iv = _clip([(self.stages[s].start, self.stages[s].end) for s in ran], lo, hi)
        task_iv = _clip([(t.start, t.end) for t in tasks], lo, hi)
        stage_active = _union(stage_iv)
        task_active = _union(task_iv)
        runs = sorted(t.run_s for t in tasks)
        mid = statistics.median(runs) if runs else 0.0
        acc: dict = {}
        for t in tasks:
            for k, v in t.acc.items():
                acc[k] = acc.get(k, 0) + v
        run_s = sum(runs)
        gc_s = sum(t.gc_s for t in tasks)
        py_s = acc.get(PY_TIME, 0) / 1000.0
        return {
            "jobs": sum(1 for g in self.job_group.values() if g in groups),
            "stages": len(ran),
            "tasks": len(tasks),
            "wall_s": span_s,
            "driver_s": span_s - stage_active,
            "stage_active_s": stage_active,
            "task_active_s": task_active,
            "coverage": (span_s - stage_active + task_active) / span_s if span_s else 1.0,
            "executor_run_s": run_s,
            "executor_cpu_s": sum(t.cpu_s for t in tasks),
            "gc_s": gc_s,
            "busy_ratio": run_s / (span_s * cores) if span_s else 0.0,
            "max_task_s": runs[-1] if runs else 0.0,
            "skew": runs[-1] / mid if mid > 0 else 1.0,
            "shuffle_read_mb": sum(t.shuffle_read for t in tasks) / MIB,
            "shuffle_write_mb": sum(t.shuffle_write for t in tasks) / MIB,
            "spill_mb": sum(t.spill for t in tasks) / MIB,
            "python_s": py_s,
            "python_share": py_s / run_s if run_s else 0.0,
            "gc_share": gc_s / run_s if run_s else 0.0,
            "python_sent_mb": acc.get(PY_SENT, 0) / MIB,
            "python_returned_mb": acc.get(PY_RETURNED, 0) / MIB,
        }

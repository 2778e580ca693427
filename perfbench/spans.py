"""Spans around layer calls, per-job-group counts and the event-log reduction.

A span records name, start, end, parent and a trace id (one trace per
window). Each span runs under its own Spark job group, so the jobs it
launched are attributable: job/stage/task counts come from the
StatusTracker while the context is alive, and shuffle bytes, spill, task
time and task intervals come from the (uncompressed, non-rolling) event
log after the context stops. Spans are kept in memory and reduced at the
end of the run.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    trace_id: str
    span_id: int
    parent: int | None
    group: str
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; ``span`` sets the Spark job group of the
    calling thread for the span's lifetime (PySpark pins one JVM thread
    per Python thread, so groups set in pool threads stay separate)."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, trace_id: str, parent: Span | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            sid = next(self._ids)
        s = Span(name, trace_id, sid, parent.span_id if parent else None,
                 f"{name}#{sid}", time.time())
        self.sc.setJobGroup(s.group, name)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            if stack:
                self.sc.setJobGroup(stack[-1].group, stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(s)

    def job_shape(self) -> dict[str, dict[str, int]]:
        """Jobs, stages and tasks per span group, from the StatusTracker
        (call before the context stops)."""
        st = self.sc.statusTracker()
        out = {}
        for s in self.spans:
            jobs = st.getJobIdsForGroup(s.group)
            stages = tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                if info is None:
                    continue
                for sid in info.stageIds:
                    stages += 1
                    si = st.getStageInfo(sid)
                    tasks += si.numTasks if si is not None else 0
            out[s.group] = {"jobs": len(jobs), "stages": stages, "tasks": tasks}
        return out

    def self_time(self, s: Span) -> float:
        """Span duration minus the part its child spans cover."""
        kids = [(c.start, c.end) for c in self.spans if c.parent == s.span_id]
        return s.dur - union_len(kids, s.start, s.end)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(s.__dict__) + "\n")


def union_len(intervals: list[tuple[float, float]], lo: float = float("-inf"),
              hi: float = float("inf")) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
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


@dataclass
class GroupStats:
    jobs: list = field(default_factory=list)  # (submit_s, complete_s)
    tasks: list = field(default_factory=list)  # (launch_s, finish_s)
    run_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    records_read: int = 0


def reduce_event_log(path: str) -> tuple[dict[str, GroupStats], list[float]]:
    """Per job group: job and task intervals, executor run time, shuffle
    write bytes, spill and input records. Also returns every job's
    submission time (job counting over a wall-clock interval)."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_submit: dict[int, float] = {}
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    submits: list[float] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                jid = ev["Job ID"]
                job_group[jid] = g
                job_submit[jid] = ev["Submission Time"] / 1000.0
                submits.append(job_submit[jid])
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = g
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_group:
                    stats[job_group[jid]].jobs.append(
                        (job_submit[jid], ev["Completion Time"] / 1000.0))
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"], "")
                st = stats[g]
                info = ev["Task Info"]
                st.tasks.append((info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0))
                m = ev.get("Task Metrics") or {}
                st.run_ms += m.get("Executor Run Time", 0)
                st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                st.records_read += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return stats, submits

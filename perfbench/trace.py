"""In-memory spans around the calls the benchmark makes into each layer.

A span records name, start, end, its parent span and a request id shared
by every span of one HTTP request. Spans live in memory and are rolled
up when the run ends. While a span is open, its thread's Spark jobs
carry the span's name as their job group, so Spark's status tracker and
the event log can be attributed to the layer that launched the jobs.

Tracing is off in the runs that give the end-to-end metrics; with it
off, ``span`` only yields and nothing is wrapped.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path

# the job group of Spark jobs launched outside any span's thread (the
# build runs its stages on threads of its own)
UNGROUPED = "(none)"


@dataclass
class Span:
    sid: int
    parent: int | None
    rid: int | None
    name: str
    t0: float
    t1: float = 0.0
    thread: int = 0


class Tracer:
    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc  # SparkContext whose job groups follow the spans
        self.spans: list[Span] = []
        self.lanes: dict[int, list[float]] = {}  # thread -> [start, end]
        # parent for spans opened on threads the benchmark did not start
        # (the build's stage threads); set while such a phase runs
        self.ambient: Span | None = None
        # request id -> the client span of that request, so the server
        # span (on a server thread) can name it as parent
        self.request_spans: dict[int, Span] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    def lane(self, start: bool) -> None:
        """Mark the calling thread's working interval; time inside a
        lane that no root span covers is reported as unattributed."""
        if self.enabled:
            ln = self.lanes.setdefault(threading.get_ident(), [0.0, 0.0])
            ln[0 if start else 1] = time.perf_counter()

    @contextmanager
    def span(self, name: str, rid: int | None = None, parent: Span | None = None):
        if not self.enabled:
            yield None
            return
        st = self._stack()
        par = parent or (st[-1] if st else self.ambient)
        with self._lock:
            self._next += 1
            sid = self._next
        s = Span(
            sid,
            par.sid if par else None,
            rid if rid is not None else (par.rid if par else None),
            name,
            time.perf_counter(),
            thread=threading.get_ident(),
        )
        st.append(s)
        self._set_group(name)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            st.pop()
            self._set_group(st[-1].name if st else None)
            self.spans.append(s)

    def dump(self, path: Path, t_zero: float) -> None:
        """Write the spans as JSON lines, times relative to ``t_zero``."""
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.t0):
                f.write(json.dumps({
                    "id": s.sid, "parent": s.parent, "rid": s.rid, "name": s.name,
                    "start_s": s.t0 - t_zero, "end_s": s.t1 - t_zero,
                    "thread": s.thread,
                }) + "\n")

    def _set_group(self, name: str | None) -> None:
        if self.sc is None:
            return
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(name, name)


def union_len(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name, the summed time of its spans not covered by their
    children (children may run on other threads and overlap)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.t0, s.t1))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        inner = [(max(a, s.t0), min(b, s.t1)) for a, b in kids.get(s.sid, [])]
        inner = [(a, b) for a, b in inner if b > a]
        out[s.name] += (s.t1 - s.t0) - union_len(inner)
    return dict(out)


def unattributed(spans: list[Span], lanes: dict[int, list[float]]) -> float:
    """Lane time on each thread that no root span of that thread covers."""
    roots: dict[int, list[tuple[float, float]]] = defaultdict(list)
    ids = {s.sid for s in spans}
    for s in spans:
        if s.parent is None or s.parent not in ids:
            roots[s.thread].append((s.t0, s.t1))
    total = 0.0
    for th, (a, b) in lanes.items():
        if b > a:
            inside = [(max(x, a), min(y, b)) for x, y in roots.get(th, [])]
            total += (b - a) - union_len([(x, y) for x, y in inside if y > x])
    return total


def span_cost(tracer: Tracer, n: int = 200) -> float:
    """Seconds one span costs (enter + exit + job-group calls), measured
    on a scratch tracer bound to the same SparkContext."""
    probe = Tracer(True, tracer.sc)
    t0 = time.perf_counter()
    for _ in range(n):
        with probe.span("probe"):
            pass
    return (time.perf_counter() - t0) / n


def status_counts(sc, groups: list[str]) -> dict[str, dict[str, int]]:
    """Jobs, stages and completed tasks per job group, from Spark's
    status tracker; UNGROUPED names the jobs of no group."""
    st = sc.statusTracker()
    out = {}
    for g in groups:
        jobs = st.getJobIdsForGroup(None if g == UNGROUPED else g)
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for sid in stages:
            si = st.getStageInfo(sid)
            if si is not None:
                tasks += si.numCompletedTasks
        out[g] = {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}
    return out


def event_log_rollup(path: str) -> dict[str, dict[str, float]]:
    """Task seconds, shuffle and spill bytes per job group from a Spark
    event log (JSON lines)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"task_s": 0.0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                 "spill_bytes": 0}
    )
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or UNGROUPED
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                r = out[stage_group.get(ev.get("Stage ID"), UNGROUPED)]
                r["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                sr = m.get("Shuffle Read Metrics") or {}
                r["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                r["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                r["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return dict(out)

"""Spark-free tracing helpers for the benchmark.

Spans are recorded in memory around calls into the program's public
functions (the benchmark wraps them from outside; nothing inside the
program is instrumented).  Spark's own event log supplies jobs, tasks,
shuffle and spill; each job is attributed to the innermost span that covers
its submission time.
"""

from __future__ import annotations

import contextlib
import functools
import json
import math
import threading
import time
from dataclasses import dataclass, field

# percentile ladder the tail choice walks down from
_LADDER = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 50.0)


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """Highest ladder percentile with at least ``beyond`` of ``n`` samples
    strictly above it; None when even the median has fewer."""
    for p in _LADDER:
        if n - math.ceil(n * p / 100.0 - 1e-9) >= beyond:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the sample at rank ceil(p/100 * n))."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(s) - 1e-9))
    return s[k - 1]


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------
@dataclass
class Span:
    sid: int
    name: str
    start: float  # epoch seconds
    end: float | None = None
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """In-memory span recorder.  Spans opened on one thread nest by a
    per-thread stack; ``enabled=False`` makes every call a no-op wrapper so
    untraced runs execute the same code path minus the bookkeeping."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, **attrs) -> Span | None:
        if not self.enabled:
            return None
        st = self._stack()
        with self._lock:
            sp = Span(len(self.spans), name, time.time(),
                      parent=st[-1] if st else None, attrs=dict(attrs))
            self.spans.append(sp)
        st.append(sp.sid)
        return sp

    def close(self, sp: Span | None, **attrs) -> None:
        if sp is None:
            return
        sp.end = time.time()
        sp.attrs.update(attrs)
        st = self._stack()
        if st and st[-1] == sp.sid:
            st.pop()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sp = self.open(name, **attrs)
        try:
            yield sp
        finally:
            self.close(sp)

    def wrap(self, name: str, fn, attrs=None):
        """A callable that runs ``fn`` inside a span called ``name``;
        ``attrs(*args, **kwargs)`` gives the span's attributes."""

        @functools.wraps(fn)
        def inner(*a, **k):
            sp = self.open(name, **(attrs(*a, **k) if attrs else {}))
            try:
                return fn(*a, **k)
            finally:
                self.close(sp)

        return inner

    def dump(self) -> list[dict]:
        selft = self_times(self.spans)
        return [
            {"id": s.sid, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "self_s": selft.get(s.sid), "attrs": s.attrs}
            for s in self.spans
        ]


def _union_len(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover
    (children clipped to the parent; overlapping children counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        if s.end is None:
            continue
        clipped = [
            (max(a, s.start), min(b, s.end))
            for a, b in kids.get(s.sid, [])
            if min(b, s.end) > max(a, s.start)
        ]
        out[s.sid] = max(0.0, s.dur - _union_len(clipped))
    return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------
@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    stages: list[int]
    end: float | None = None
    task_s: float = 0.0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    python_bytes: int = 0
    tasks: int = 0


# SQL metrics of the Arrow/pandas python runners as named in task accumulables
_PY_METRICS = ("data sent to Python workers", "data returned from Python workers")


def read_event_log(lines) -> dict[int, Job]:
    """Jobs with their per-task totals, from Spark event-log JSON lines."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            j = Job(ev["Job ID"], ev["Submission Time"] / 1000.0, list(ev.get("Stage IDs", [])))
            jobs[j.job_id] = j
            for sid in j.stages:
                stage_job[sid] = j.job_id
        elif kind == "SparkListenerJobEnd":
            j = jobs.get(ev["Job ID"])
            if j is not None:
                j.end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            j = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
            if j is None:
                continue
            m = ev.get("Task Metrics") or {}
            j.tasks += 1
            j.task_s += m.get("Executor Run Time", 0) / 1000.0
            sw = m.get("Shuffle Write Metrics") or {}
            j.shuffle_write += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            j.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            j.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") in _PY_METRICS:
                    try:
                        j.python_bytes += int(acc.get("Update", 0))
                    except (TypeError, ValueError):
                        pass
    return jobs


def attribute_jobs(spans: list[Span], jobs: dict[int, Job]) -> dict[int, list[int]]:
    """span id -> ids of the jobs whose submission time it is the innermost
    (latest-starting, then shortest) covering span of.  Jobs no span covers
    are filed under -1."""
    closed = [s for s in spans if s.end is not None]
    out: dict[int, list[int]] = {}
    for j in sorted(jobs.values(), key=lambda j: j.job_id):
        best = None
        for s in closed:
            if s.start <= j.submit <= s.end:
                if best is None or (s.start, -s.dur) > (best.start, -best.dur):
                    best = s
        out.setdefault(best.sid if best else -1, []).append(j.job_id)
    return out


def subtree_ids(spans: list[Span], root: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.sid)
    out, todo = set(), [root]
    while todo:
        x = todo.pop()
        out.add(x)
        todo.extend(kids.get(x, []))
    return out


def jobs_under(spans, owned: dict[int, list[int]], root: int) -> list[int]:
    """Jobs attributed to ``root`` or any span below it."""
    ids = subtree_ids(spans, root)
    return [j for sid in ids for j in owned.get(sid, [])]

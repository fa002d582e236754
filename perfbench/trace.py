"""Measurement helpers: spans, process-tree RSS from /proc, event logs.

Nothing here imports Spark; the benchmark's own code records spans
around its calls into the program's layers, and Spark's stage and task
metrics are read back from an uncompressed event log.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


# ---- spans ------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    id: int = 0
    run_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; spans are written out by ``dump``.

    ``on_enter`` is called with each new span's id, so the caller can
    tag the Spark jobs the span submits."""

    def __init__(self, run_id: str, on_enter=None):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._on_enter = on_enter

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), parent=parent, id=sid,
                 run_id=self.run_id, attrs=attrs)
        self.spans.append(s)
        self._stack.append(sid)
        if self._on_enter:
            self._on_enter(sid)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._on_enter:
                self._on_enter(parent)

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def subtree(self, name: str) -> set[int]:
        """Ids of the spans called ``name`` and of all their descendants."""
        ids = {s.id for s in self.spans if s.name == name}
        for s in self.spans:  # parents precede their children
            if s.parent in ids:
                ids.add(s.id)
        return ids

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        rows = [{
            "id": s.id, "name": s.name, "parent": s.parent,
            "run_id": s.run_id, "start": s.start, "end": s.end,
            "self_s": self_time(s, self.children(s.id)), **s.attrs,
        } for s in self.spans]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it that child spans cover."""
    return span.duration - covered(
        [(c.start, c.end) for c in children], span.start, span.end)


# ---- process-tree memory -----------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _rss_and_kind(pid: int) -> tuple[int, str] | None:
    """Resident memory of ``pid`` and whether it is the JVM. For Python
    processes this is the proportional set (PSS), which splits the pages
    a forked worker shares with its parent, so they are not counted
    twice. For the JVM, which shares next to nothing, it is VmRSS: PSS
    walks every page of the process, and on a multi-GiB heap that takes
    tens of milliseconds of CPU per read, which would load the host the
    benchmark measures."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            kind = "jvm" if f.read().strip() == "java" else "python"
        path, key = ((f"/proc/{pid}/status", "VmRSS:") if kind == "jvm"
                     else (f"/proc/{pid}/smaps_rollup", "Pss:"))
        with open(path) as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith(key))
    except (OSError, StopIteration):
        return None
    return kb * 1024, kind


class RssSampler:
    """Samples the resident memory of this process and its descendants every
    ``period`` seconds in a background thread. ``window()`` resets the
    peaks; ``peaks()`` returns ``(total, jvm, python)`` peak bytes."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._peak = (0, 0, 0)
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> tuple[int, int, int]:
        me = os.getpid()
        jvm = py = 0
        for pid in [me, *descendants(me)]:
            got = _rss_and_kind(pid)
            if got is None:
                continue
            rss, kind = got
            if kind == "jvm":
                jvm += rss
            else:
                py += rss
        return jvm + py, jvm, py

    def _run(self):
        while not self._stop.wait(self.period):
            t, j, p = self.sample()
            with self._lock:
                pt, pj, pp = self._peak
                self._peak = (max(pt, t), max(pj, j), max(pp, p))

    def window(self) -> None:
        with self._lock:
            self._peak = self.sample()

    def peaks(self) -> tuple[int, int, int]:
        with self._lock:
            return self._peak


# ---- Spark event log -------------------------------------------------


def _plan_nodes(info: dict):
    yield info.get("nodeName", "")
    for c in info.get("children", []):
        yield from _plan_nodes(c)


class EventLog:
    """Stage, task and SQL-execution records of one uncompressed Spark
    event log, attributed to spans through the ``span_prop`` local
    property of the jobs."""

    def __init__(self, path: str, span_prop: str):
        self.tasks: list[dict] = []  # stage, span, wall, run, cpu, gc, ...
        self.stages: dict[int, dict] = {}
        self.execs: dict[int, dict] = {}
        stage_span: dict[int, int | None] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    span = props.get(span_prop)
                    span = int(span) if span not in (None, "") else None
                    ex = props.get("spark.sql.execution.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_span[sid] = span
                    if ex is not None and span is not None:
                        self.execs.setdefault(int(ex), {})["span"] = span
                elif kind == "SparkListenerTaskEnd":
                    self._task(ev)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    self.stages[info["Stage ID"]] = {
                        "wall": (info.get("Completion Time", 0)
                                 - info.get("Submission Time", 0)) / 1e3,
                        "tasks": info.get("Number of Tasks", 0),
                    }
                elif kind.endswith("SQLExecutionStart"):
                    e = self.execs.setdefault(ev["executionId"], {})
                    e.update(start=ev["time"] / 1e3, plan=ev["sparkPlanInfo"],
                             desc=ev.get("description", ""))
                elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                    self.execs.setdefault(ev["executionId"], {})["plan"] = (
                        ev["sparkPlanInfo"])
                elif kind.endswith("SQLExecutionEnd"):
                    self.execs.setdefault(ev["executionId"], {})["end"] = (
                        ev["time"] / 1e3)
        for t in self.tasks:
            t["span"] = stage_span.get(t["stage"])
        for sid, st in self.stages.items():
            st["span"] = stage_span.get(sid)

    def _task(self, ev: dict) -> None:
        info = ev.get("Task Info", {})
        m = ev.get("Task Metrics") or {}
        sw = m.get("Shuffle Write Metrics", {})
        sr = m.get("Shuffle Read Metrics", {})
        self.tasks.append({
            "stage": ev["Stage ID"],
            "wall": (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3,
            "run": m.get("Executor Run Time", 0) / 1e3,
            "cpu": m.get("Executor CPU Time", 0) / 1e9,
            "gc": m.get("JVM GC Time", 0) / 1e3,
            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
            "shuffle_read": sr.get("Remote Bytes Read", 0)
            + sr.get("Local Bytes Read", 0),
            "spill": m.get("Disk Bytes Spilled", 0),
            "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
        })

    def tasks_of(self, spans: set[int]) -> list[dict]:
        return [t for t in self.tasks if t["span"] in spans]

    def stages_of(self, spans: set[int]) -> dict[int, dict]:
        return {k: v for k, v in self.stages.items() if v["span"] in spans}

    def execs_of(self, spans: set[int]) -> list[dict]:
        return sorted((e for e in self.execs.values()
                       if e.get("span") in spans and "end" in e),
                      key=lambda e: e["start"])

    @staticmethod
    def plan_counts(plan: dict) -> dict[str, int]:
        names = list(_plan_nodes(plan))
        return {
            "exchanges": sum(n.startswith("Exchange")
                             or n.endswith("Exchange") for n in names),
            "sorts": sum(n == "Sort" for n in names),
            "python_evals": sum("Python" in n or "Pandas" in n
                                or "Arrow" in n for n in names),
        }


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile; 0 for an empty list."""
    if not values:
        return 0.0
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0

"""In-memory spans around the engine's public calls, and the Spark
event-log parser that attributes jobs to ops and modules.

A span has a name, a start, an end, a parent and the id of the op it
belongs to. An op is a root span: one timed request of a workload. A
span's layer is its name without the last dotted part
(``streaming.compressed.add_batch`` → ``streaming.compressed``).
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float  # unix seconds, comparable with event-log times
    end: float = 0.0
    count: int = 0  # work items the call reports (e.g. blocks decoded)

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def layer(self) -> str:
        return self.name.rsplit(".", 1)[0]


class Tracer:
    """Records spans when ``enabled``; a disabled tracer costs one
    attribute test per call and records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._ids = 0
        self._lock = threading.Lock()
        self._undo: list = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, root: bool = False):
        """Span ``name``; a ``root`` span starts a new op."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            self._ids += 1
            sid = self._ids
        parent = None if root or not stack else stack[-1]
        s = Span(sid, name, sid if parent is None else parent.op,
                 None if parent is None else parent.id, time.time())
        t0 = time.perf_counter()
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            s.end = s.start + (time.perf_counter() - t0)
            self.spans.append(s)

    def wrap(self, owner, attr: str, name: str, count=None) -> None:
        """Replace ``owner.attr`` by a spanned call; ``count(args,
        result)`` gives the span's work count. ``unwrap`` restores."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if s is not None and count is not None:
                    s.count += count(args, out)
                return out

        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, spanned)

    def unwrap(self) -> None:
        while self._undo:
            owner, attr, fn = self._undo.pop()
            setattr(owner, attr, fn)

    def ops(self, kind: str | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.parent is None and (kind is None or s.name == kind)
        ]

    def layer_self_times(self, op: Span) -> dict[str, float]:
        """Self time per layer within ``op`` (a span's wall minus its
        children's), plus ``unattributed``: the op's own self time."""
        mine = [s for s in self.spans if s.op == op.op]
        child_wall: dict[int, float] = {}
        for s in mine:
            if s.parent is not None:
                child_wall[s.parent] = child_wall.get(s.parent, 0.0) + s.wall
        out: dict[str, float] = {}
        for s in mine:
            self_t = s.wall - child_wall.get(s.id, 0.0)
            key = "unattributed" if s is op else s.layer
            out[key] = out.get(key, 0.0) + self_t
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def span_cost_s(n: int = 20_000) -> float:
    """Measured cost of recording one span, in seconds."""
    t = Tracer(True)
    with t.span("bench.cost", root=True):
        t0 = time.perf_counter()
        for _ in range(n):
            with t.span("bench.cost.child"):
                pass
        return (time.perf_counter() - t0) / n


# ---------------------------------------------------------------------
# Spark event log


@dataclass
class Job:
    id: int
    submit: float  # unix seconds
    end: float = 0.0
    callsite: str | None = None
    stages: list = field(default_factory=list)
    task_run_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    module: str | None = None  # set by attribute()
    op: int | None = None  # set by attribute()


def read_eventlog(log_dir: str) -> list[Job]:
    """Jobs with their summed task metrics from every event file under
    ``log_dir`` (plain JSON lines; Spark's v1 file or v2 directory)."""
    files = []
    for root, _, names in os.walk(log_dir):
        files += [
            os.path.join(root, n) for n in sorted(names)
            if not n.startswith(".") and not n.startswith("appstatus")
        ]
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    j = Job(
                        e["Job ID"], e["Submission Time"] / 1e3,
                        callsite=(e.get("Properties") or {}).get("callSite.short"),
                        stages=list(e.get("Stage IDs", [])),
                    )
                    jobs[j.id] = j
                    for sid in j.stages:
                        stage_job[sid] = j.id
                elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                    jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(e.get("Stage ID")))
                    m = e.get("Task Metrics")
                    if j is None or not m:
                        continue
                    sr = m.get("Shuffle Read Metrics", {})
                    j.task_run_s += m.get("Executor Run Time", 0) / 1e3
                    j.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    j.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    j.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    j.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return sorted(jobs.values(), key=lambda j: j.id)


_CALLSITE = re.compile(r"neural_cherche_spark/([\w/]+)\.py:\d+")


def callsite_module(callsite: str | None) -> str | None:
    """``collect at .../neural_cherche_spark/index/builder.py:565`` →
    ``index.builder``; None for callsites outside the package (writes
    submitted from the JVM carry no Python callsite)."""
    m = _CALLSITE.search(callsite or "")
    return m.group(1).replace("/", ".") if m else None


def attribute(jobs: list[Job], spans: list[Span]) -> None:
    """Set each job's op (the root span whose window holds its
    submission time) and module (its Python callsite's module, else the
    layer of the innermost span holding its submission time). Windows,
    not job groups: index.builder's thread-pool jobs carry no group."""
    roots = [s for s in spans if s.parent is None]
    for j in jobs:
        holding = [s for s in spans if s.start <= j.submit <= s.end]
        op = [s for s in roots if s in holding]
        j.op = op[0].op if op else None
        inner = [s for s in holding if s.parent is not None]
        j.module = callsite_module(j.callsite) or (
            max(inner, key=lambda s: s.start).layer if inner else None
        )


def busy_s(jobs: list[Job]) -> float:
    """Wall covered by the union of the jobs' [submit, end] windows."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((j.submit, j.end) for j in jobs):
        if cur_e is None or s > cur_e:
            total += 0.0 if cur_e is None else cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (0.0 if cur_e is None else cur_e - cur_s)

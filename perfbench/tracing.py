"""Spans around calls into the engine's layers, and the Spark jobs each covers.

A ``Tracer`` keeps spans in memory (layer, name, start, end, parent,
thread) and is summarised once the workload ends. With tracing off every
``span`` is a no-op and no engine function is patched, so the untraced
run measures the engine as a user calls it.

Spark jobs are attributed by time window: after the run the benchmark
reads every job and stage of the application from the Spark driver's
own status REST endpoint (the live UI on 127.0.0.1) and assigns each job to
the spans whose interval contains its submission time.
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from urllib.parse import urlparse


@dataclass
class Span:
    id: int
    layer: str
    name: str
    t0: float
    parent: int | None
    t1: float = 0.0
    children: list[int] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


@dataclass
class Job:
    t0: float
    t1: float
    tasks: int
    run_s: float
    shuffle_write: int


def union_len(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    clipped = ((max(a, lo), min(b, hi)) for a, b in intervals)
    for a, b in sorted(c for c in clipped if c[1] > c[0]):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.get_ident()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            # Foreach-batch callbacks and driver pools run on other threads,
            # on behalf of the main thread's open span.
            owner = stack or self._stacks.get(self._main, [])
            parent = owner[-1] if owner else None
            sp = Span(len(self.spans), layer, name, time.time(), parent)
            self.spans.append(sp)
            if parent is not None:
                self.spans[parent].children.append(sp.id)
            stack.append(sp.id)
        try:
            yield
        finally:
            sp.t1 = time.time()
            with self._lock:
                stack.pop()

    def patch(self, module, attr: str, layer: str, name: str | None = None) -> None:
        """Wrap ``module.attr`` in a span (tracing on only)."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapped(*a, **kw):
            with self.span(layer, name or attr):
                return orig(*a, **kw)

        setattr(module, attr, wrapped)
        self._patched.append((module, attr, orig))

    def unpatch(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # ---- summaries --------------------------------------------------------

    def self_time(self, sp: Span) -> float:
        kids = [(self.spans[c].t0, self.spans[c].t1) for c in sp.children]
        return sp.wall - union_len(kids, sp.t0, sp.t1)

    def outermost(self, layer: str) -> list[Span]:
        """Spans of ``layer`` with no ancestor of the same layer."""
        out = []
        for sp in self.spans:
            p = sp.parent
            while p is not None and self.spans[p].layer != layer:
                p = self.spans[p].parent
            if sp.layer == layer and p is None:
                out.append(sp)
        return out

    def layer_table(self, jobs: list[Job]) -> dict[str, dict]:
        """Per layer: calls, busy (outermost wall), self time, and the
        Spark jobs submitted inside its outermost spans."""
        table: dict[str, dict] = {}
        for layer in sorted({sp.layer for sp in self.spans}):
            top = self.outermost(layer)
            row = {
                "calls": sum(1 for sp in self.spans if sp.layer == layer),
                "busy_s": sum(sp.wall for sp in top),
                "self_s": sum(self.self_time(sp) for sp in self.spans if sp.layer == layer),
            }
            row.update(spark_window(jobs, [(sp.t0, sp.t1) for sp in top]))
            table[layer] = row
        return table


def spark_window(jobs: list[Job], windows) -> dict[str, float]:
    """Jobs submitted inside any window: counts, executor time, shuffle
    bytes, and driver gap = window wall minus the union of job intervals."""
    inside = [j for j in jobs if any(a <= j.t0 <= b for a, b in windows)]
    gap = sum(b - a - union_len([(j.t0, j.t1) for j in inside], a, b) for a, b in windows)
    return {
        "spark.jobs": len(inside),
        "spark.tasks": sum(j.tasks for j in inside),
        "spark.executor_run_s": sum(j.run_s for j in inside),
        "spark.shuffle_write_bytes": sum(j.shuffle_write for j in inside),
        "spark.driver_gap_s": gap,
    }


def _ts(s: str) -> float:
    return dt.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _api(base: str, path: str):
    with urllib.request.urlopen(f"{base}/api/v1{path}", timeout=30) as r:
        return json.loads(r.read())


def fetch_jobs(spark) -> list[Job]:
    """Every finished job of the application with its stages' metrics.
    Waits until the status store stops growing (it is fed asynchronously
    by the listener bus)."""
    sc = spark.sparkContext
    port = urlparse(sc.uiWebUrl).port
    base = f"http://127.0.0.1:{port}"
    app = f"/applications/{sc.applicationId}"
    last = -1
    for _ in range(50):
        raw = _api(base, f"{app}/jobs")
        done = [j for j in raw if j.get("completionTime")]
        if len(done) == last and len(done) == len(raw):
            break
        last = len(done)
        time.sleep(0.2)
    stages = {}
    for st in _api(base, f"{app}/stages"):
        acc = stages.setdefault(st["stageId"], [0.0, 0])
        acc[0] += st.get("executorRunTime", 0) / 1000.0
        acc[1] += st.get("shuffleWriteBytes", 0)
    jobs = []
    for j in done:
        run_s = sum(stages.get(s, (0.0, 0))[0] for s in j["stageIds"])
        shuffle = sum(stages.get(s, (0.0, 0))[1] for s in j["stageIds"])
        jobs.append(
            Job(_ts(j["submissionTime"]), _ts(j["completionTime"]),
                j.get("numCompletedTasks", 0), run_s, int(shuffle))
        )
    return sorted(jobs, key=lambda j: j.t0)

"""Tracing for the traced run: Python-side spans, Spark event-log parsing,
and attribution of Spark jobs to spans.

Spans are kept in memory and written once at the end. Spark-side numbers
come from the event log (enabled only for the traced run). Because the
benchmark is a single closed-loop client, a job belongs to the innermost
span whose time window contains the job's submission; job groups are not
used, since they are thread-local and streaming micro-batch jobs escape
them.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float  # time.time() seconds, the clock Spark's event log uses
    end: float = 0.0
    parent: int | None = None
    run: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; otherwise ``span`` costs one branch."""

    def __init__(self, enabled: bool, run: str = ""):
        self.enabled = enabled
        self.run = run
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), name, time.time(),
                 parent=self._stack[-1].id if self._stack else None,
                 run=self.run, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def wrap(self, layer: str, fn):
        """``fn`` with a ``layer`` span around each outermost call: a call
        made from inside a span of the same layer runs unwrapped."""
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if any(s.name == layer for s in self._stack):
                return fn(*args, **kwargs)
            with self.span(layer, fn=fn.__name__):
                return fn(*args, **kwargs)
        return wrapper

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
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
    """Span id → its duration minus the part its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.dur - _covered(children.get(s.id, [])) for s in spans}


def attribute(spans: list[Span], submit_times: dict[int, float]) -> dict[int, int | None]:
    """Job id → id of the innermost span whose window contains the job's
    submission time, or None when no span does."""
    out: dict[int, int | None] = {}
    for job, t in submit_times.items():
        best = None
        for s in spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        out[job] = None if best is None else best.id
    return out


def ancestors(spans: list[Span], span_id: int | None) -> list[Span]:
    """The span and every span above it, innermost first."""
    by_id = {s.id: s for s in spans}
    out = []
    while span_id is not None:
        out.append(by_id[span_id])
        span_id = by_id[span_id].parent
    return out


@dataclass
class JobStats:
    submit: float = 0.0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0


def read_event_log(log_dir: str) -> dict[int, JobStats]:
    """Per-job task totals from every uncompressed Spark event log under
    ``log_dir``. Task metrics are summed over the job's stages."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    for root, _, files in os.walk(log_dir):
        for name in sorted(files):
            with open(os.path.join(root, name)) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        j = jobs.setdefault(ev["Job ID"], JobStats())
                        j.submit = ev["Submission Time"] / 1000.0
                        for sid in ev.get("Stage IDs", []):
                            stage_job[sid] = ev["Job ID"]
                    elif kind == "SparkListenerTaskEnd":
                        job = stage_job.get(ev["Stage ID"])
                        m = ev.get("Task Metrics")
                        if job is None or not m:
                            continue
                        j = jobs[job]
                        j.tasks += 1
                        j.run_s += m.get("Executor Run Time", 0) / 1e3
                        j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                        j.gc_s += m.get("JVM GC Time", 0) / 1e3
                        j.shuffle_bytes += m.get("Shuffle Write Metrics", {}).get(
                            "Shuffle Bytes Written", 0)
    return jobs

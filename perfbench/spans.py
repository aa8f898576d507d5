"""Spans for the traced run, and the Spark event-log reader.

A span is one timed call of a layer's public function (or of a whole
op). Spans are kept in memory: name, start, end, parent, op id. Each
span tags the Spark jobs it submits with its id through the job
description, so the event log attributes every job to the innermost
span open on the submitting thread (``InheritableThread`` children
inherit the description, which is how the store protocols' concurrent
writes stay attributed).

Self time = span wall time minus the time its children cover (where
spans on concurrent threads overlap, the overlap is shared evenly).
Driver gap = span wall time minus the union of the intervals of the
Spark jobs attributed to the span or any span below it.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    b0: int = 0  # probe reading at start and end (probed spans only)
    b1: int = 0


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [a, b] intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def clip(iv: tuple[float, float], lo: float, hi: float) -> tuple[float, float] | None:
    a, b = max(iv[0], lo), min(iv[1], hi)
    return (a, b) if b > a else None


class Tracer:
    """In-memory span recorder. ``spark`` may be None (unit tests)."""

    def __init__(self, spark=None, probe=None, probed: tuple[str, ...] = ()):
        self.spark = spark
        self.probe = probe  # () -> int, read at both ends of probed spans
        self.probed = probed  # span-name prefixes that get probe readings
        self.spans: list[Span] = []
        self.overhead: dict[int, float] = defaultdict(float)
        self.op = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: list[int] = []  # stack of the thread that opened the op

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _describe(self, sid: int | None) -> None:
        if self.spark is not None:
            desc = f"perfbench:{sid}" if sid is not None else None
            self.spark.sparkContext.setLocalProperty("spark.job.description", desc)

    @contextmanager
    def span(self, name: str):
        b = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else (self._root[-1] if self._root else None)
        with self._lock:
            sp = Span(len(self.spans), name, self.op, parent, time.time())
            self.spans.append(sp)
        probed = self.probe is not None and name.startswith(self.probed)
        if probed:
            sp.b0 = sp.b1 = self.probe()
        stack.append(sp.sid)
        self._describe(sp.sid)
        self._charge(sp.op, time.perf_counter() - b)
        try:
            yield sp
        finally:
            b = time.perf_counter()
            if probed:
                sp.b1 = self.probe()
            sp.end = time.time()
            stack.pop()
            self._describe(stack[-1] if stack else parent)
            self._charge(sp.op, time.perf_counter() - b)

    def _charge(self, op: int, seconds: float) -> None:
        """Book the tracer's own time (span records, probe and job
        description calls) against the op: the tracing overhead."""
        with self._lock:
            self.overhead[op] += seconds

    @contextmanager
    def op_span(self, op: int, name: str = "op"):
        """The root span of one op; spans opened on helper threads that
        have no span of their own hang below it."""
        self.op = op
        with self.span(name) as sp:
            self._root.append(sp.sid)
            try:
                yield sp
            finally:
                self._root.pop()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a spanned version of itself."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(module, attr, spanned)

    # -- arithmetic over the recorded spans ------------------------------

    def self_times(self) -> dict[int, float]:
        """Self time of every span: its wall time minus the time its
        children cover. Where spans on concurrent threads overlap, each
        instant is shared evenly by the deepest spans open at it, so the
        self times of one op's spans always add up to the op's wall."""
        depth: dict[int, int] = {}
        for s in self.spans:  # parents are recorded before children
            depth[s.sid] = 0 if s.parent is None else depth[s.parent] + 1
        out = {s.sid: 0.0 for s in self.spans}
        by_root: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            r = s
            while r.parent is not None:
                r = self.spans[r.parent]
            by_root[r.sid].append(s)
        for group in by_root.values():
            cuts = sorted({t for s in group for t in (s.start, s.end)})
            for a, b in zip(cuts, cuts[1:]):
                open_ = [s for s in group if s.start <= a and s.end >= b]
                if not open_:
                    continue
                deep = max(depth[s.sid] for s in open_)
                owners = [s for s in open_ if depth[s.sid] == deep]
                for s in owners:
                    out[s.sid] += (b - a) / len(owners)
        return out


# ---------------------------------------------------------------------------
# Spark event log


@dataclass
class Job:
    jid: int
    sid: int | None
    start: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


STAGE_METRICS = {
    "tasks": None,
    "executor_run_s": "internal.metrics.executorRunTime",
    "shuffle_bytes": "internal.metrics.shuffle.write.bytesWritten",
    "spill_bytes": "internal.metrics.diskBytesSpilled",
    "bytes_read": "internal.metrics.input.bytesRead",
    "records_written": "internal.metrics.output.recordsWritten",
}


def read_event_log(path: str) -> tuple[list[Job], dict[int, dict[str, float]]]:
    """Jobs (with their tagging span) and per-stage metric sums from an
    uncompressed Spark event log."""
    jobs: dict[int, Job] = {}
    stages: dict[int, dict[str, float]] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                sid = int(desc.split(":", 1)[1]) if desc.startswith("perfbench:") else None
                jobs[ev["Job ID"]] = Job(ev["Job ID"], sid, ev["Submission Time"] / 1000.0,
                                         stages=list(ev.get("Stage IDs", [])))
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}
                m = {"tasks": float(info.get("Number of Tasks", 0))}
                for key, name in STAGE_METRICS.items():
                    if name is not None:
                        m[key] = float(acc.get(name) or 0)
                m["executor_run_s"] /= 1000.0
                # a stage whose tasks were all skipped never completes;
                # a retried stage completes again — keep the last attempt
                stages[info["Stage ID"]] = m
    return [j for j in jobs.values() if j.end], stages

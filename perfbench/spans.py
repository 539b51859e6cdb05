"""Spans around layer calls, and their attribution in the Spark event log.

A span records one call into a layer: name, start, end and the span that
caused it.  While a span is open, every Spark job the driver thread starts
carries the span's id as its job group (``setJobGroup``), so the event log
written by the run can be split per span afterwards.  With tracing off
``Tracer(None)`` records nothing and touches no Spark state.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# SQL-metric names of the Python/Arrow boundary (PythonSQLMetrics).
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; ``sc`` is the SparkContext, or None to disable."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        # open phase (see ``phase``) per enclosing span id
        self._phase: dict[int, int] = {}
        # seconds spent inside the tracer's own bookkeeping
        self.cost_s = 0.0

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    def _tag(self, span_id: int | None) -> None:
        if span_id is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"span-{span_id}", self.spans[span_id].name)

    def _open(self, name: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp.id)
        self._tag(sp.id)
        return sp

    def _close(self, sp: Span) -> None:
        inner = self._phase.pop(sp.id, None)
        now = time.perf_counter()
        if inner is not None:
            self.spans[inner].end = now
            self._stack.pop()
        sp.end = now
        self._stack.pop()
        self._tag(self._stack[-1] if self._stack else None)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        c0 = time.perf_counter()
        sp = self._open(name)
        self.cost_s += time.perf_counter() - c0
        try:
            yield
        finally:
            c1 = time.perf_counter()
            self._close(sp)
            self.cost_s += time.perf_counter() - c1

    def phase(self, name: str) -> None:
        """Start a child span of the innermost open span that lasts until
        the next ``phase`` call or until that span closes.  Used inside
        callbacks the program calls (a pipeline stage function), where no
        ``with`` block can enclose the work the program does next."""
        if not self.enabled:
            return
        c0 = time.perf_counter()
        owner = self._stack[-1]
        if owner in self._phase.values():  # an open phase: end it first
            owner = self.spans[owner].parent
            prev = self._phase.pop(owner)
            self.spans[prev].end = time.perf_counter()
            self._stack.pop()
        self._phase[owner] = self._open(name).id
        self.cost_s += time.perf_counter() - c0

    def self_time(self, sp: Span) -> float:
        """The span's duration minus the part its children cover."""
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == sp.id
        )
        covered, reach = 0.0, sp.start
        for a, b in kids:
            a, b = max(a, reach), min(b, sp.end)
            if b > a:
                covered += b - a
                reach = b
        return sp.wall - covered


@dataclass
class SpanStats:
    """Totals of the Spark work one span started."""

    stages: dict = field(default_factory=dict)  # stage id -> StageStats
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    records_read: int = 0
    bytes_written: int = 0
    py_sent: int = 0
    py_received: int = 0

    @property
    def exchanges(self) -> int:
        """Shuffle-map stages that ran: one per shuffle exchange executed."""
        return sum(1 for s in self.stages.values() if s.shuffle_map)

    @property
    def task_skew(self) -> float:
        """max / median task run time in the widest stage (most tasks)."""
        if not self.stages:
            return 0.0
        widest = max(
            self.stages.values(), key=lambda s: (len(s.task_ms), sum(s.task_ms))
        )
        med = statistics.median(widest.task_ms) if widest.task_ms else 0
        return max(widest.task_ms) / med if med else 0.0

    @property
    def gc_share(self) -> float:
        return self.gc_ms / self.run_ms if self.run_ms else 0.0

    def python_stage_s(self) -> float:
        """Wall time of the stages that crossed the Python boundary."""
        return sum(s.wall_ms for s in self.stages.values() if s.py) / 1000.0


@dataclass
class StageStats:
    task_ms: list = field(default_factory=list)
    shuffle_map: bool = False
    py: bool = False
    wall_ms: int = 0


def event_log_file(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def parse_event_log(path: str) -> dict[int, SpanStats]:
    """Split the work recorded in an (uncompressed, unrolled) Spark event
    log by span id, through the ``span-<id>`` job groups."""
    stage_span: dict[int, int] = {}
    out: dict[int, SpanStats] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group and group.startswith("span-"):
                    sid = int(group[5:])
                    for st in ev["Stage IDs"]:
                        stage_span[st] = sid
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(ev["Stage ID"])
                if sid is None:
                    continue
                ss = out.setdefault(sid, SpanStats())
                st = ss.stages.setdefault(ev["Stage ID"], StageStats())
                tm = ev.get("Task Metrics") or {}
                run = tm.get("Executor Run Time", 0)
                st.task_ms.append(run)
                st.shuffle_map = st.shuffle_map or ev["Task Type"] == "ShuffleMapTask"
                ss.run_ms += run
                ss.gc_ms += tm.get("JVM GC Time", 0)
                ss.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                ss.spill_bytes += tm.get("Memory Bytes Spilled", 0)
                ss.records_read += (tm.get("Input Metrics") or {}).get("Records Read", 0)
                ss.bytes_written += (tm.get("Output Metrics") or {}).get(
                    "Bytes Written", 0
                )
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name = acc.get("Name")
                    if name == PY_SENT:
                        ss.py_sent += int(acc.get("Update", 0))
                        st.py = True
                    elif name == PY_RECEIVED:
                        ss.py_received += int(acc.get("Update", 0))
                        st.py = True
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid = stage_span.get(info["Stage ID"])
                if sid is not None and "Completion Time" in info:
                    ss = out.setdefault(sid, SpanStats())
                    st = ss.stages.setdefault(info["Stage ID"], StageStats())
                    st.wall_ms = info["Completion Time"] - info["Submission Time"]
    return out


def merged(stats: dict[int, SpanStats], span_ids) -> SpanStats:
    """One SpanStats over several spans (a span and its phases)."""
    m = SpanStats()
    for sid in span_ids:
        s = stats.get(sid)
        if s is None:
            continue
        m.stages.update(s.stages)
        for k in (
            "shuffle_write_bytes", "spill_bytes", "run_ms", "gc_ms",
            "records_read", "bytes_written", "py_sent", "py_received",
        ):
            setattr(m, k, getattr(m, k) + getattr(s, k))
    return m

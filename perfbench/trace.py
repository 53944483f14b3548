"""Spans recorded around calls into the package, and the Spark event-log
parser that attributes Spark's own telemetry to them.

A span is one timed call (a stage commit, a query, a whole cycle).  When
tracing, every span also sets the Spark job description to
``"<name>#<id>"`` so the event log ties each job back to the span that
started it.  Self time (span wall minus its child spans) and driver time
(span wall with no Spark job running) are interval arithmetic over the
span list and the job intervals read from the log.
"""

from __future__ import annotations

import itertools
import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float
    parent: int | None

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans; with ``sc`` set it also tags Spark jobs."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[tuple[int, str]] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str):
        sid = next(self._ids)
        parent = self._stack[-1][0] if self._stack else None
        self._stack.append((sid, name))
        self._describe()
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self.spans.append(Span(sid, name, start, end, parent))
            self._describe()

    def _describe(self) -> None:
        if self.sc is not None:
            top = self._stack[-1] if self._stack else None
            self.sc.setJobDescription(f"{top[1]}#{top[0]}" if top else None)

    def wrap(self, fn, name_of):
        """``fn`` with every call inside a span named ``name_of(*args, **kw)``."""

        def wrapped(*args, **kwargs):
            with self.span(name_of(*args, **kwargs)):
                return fn(*args, **kwargs)

        return wrapped


# ---------------------------------------------------------------------------
# interval arithmetic
# ---------------------------------------------------------------------------

def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(spans: list[Span], span: Span) -> float:
    """Span wall minus the time covered by its direct children."""
    kids = [(s.start, s.end) for s in spans if s.parent == span.id]
    return span.wall - covered(kids, span.start, span.end)


def subtree(spans: list[Span], span: Span) -> list[Span]:
    """``span`` and every span nested under it."""
    out, frontier = [span], {span.id}
    while frontier:
        kids = [s for s in spans if s.parent in frontier]
        out += kids
        frontier = {s.id for s in kids}
    return out


def driver_time(span: Span, job_intervals) -> float:
    """Span wall with no Spark job running (planning, renames, catalog)."""
    return span.wall - covered(job_intervals, span.start, span.end)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


@dataclass
class TaskStats:
    tasks: int = 0
    failed: int = 0
    empty: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0
    rows_out: int = 0
    python_run_s: float = 0.0
    python_bytes_sent: int = 0
    python_bytes_returned: int = 0

    def add(self, other: "TaskStats") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class EventLog:
    jobs: dict[int, dict] = field(default_factory=dict)  # id -> {span, start, end, ok}
    by_span: dict[int, TaskStats] = field(default_factory=dict)
    unattributed: TaskStats = field(default_factory=TaskStats)

    def job_intervals(self):
        return [(j["start"], j["end"]) for j in self.jobs.values() if j["end"]]

    def jobs_of(self, span_id: int) -> int:
        return sum(1 for j in self.jobs.values() if j["span"] == span_id)


def _span_of(props: dict | None) -> int | None:
    desc = (props or {}).get("spark.job.description") or ""
    head, _, tail = desc.rpartition("#")
    return int(tail) if head and tail.isdigit() else None


def _task_stats(ev: dict) -> TaskStats:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    s = TaskStats(tasks=1)
    ok = ev.get("Task End Reason", {}).get("Reason") == "Success"
    s.failed = 0 if ok and not info.get("Failed") else 1
    s.cpu_s = m.get("Executor CPU Time", 0) / 1e9
    s.run_s = m.get("Executor Run Time", 0) / 1e3
    s.gc_s = m.get("JVM GC Time", 0) / 1e3
    s.shuffle_write_bytes = m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    out = m.get("Output Metrics", {})
    s.output_bytes = out.get("Bytes Written", 0)
    s.rows_out = out.get("Records Written", 0)
    read = m.get("Input Metrics", {}).get("Records Read", 0) + m.get(
        "Shuffle Read Metrics", {}
    ).get("Total Records Read", 0)
    s.empty = 1 if read == 0 else 0
    for acc in info.get("Accumulables", []):
        name, upd = acc.get("Name"), acc.get("Update")
        if upd is None:
            continue
        if name == PY_RUN:
            s.python_run_s += float(upd) / 1e3  # SQL timing metric, ms
        elif name == PY_SENT:
            s.python_bytes_sent += int(upd)
        elif name == PY_RETURNED:
            s.python_bytes_returned += int(upd)
    return s


def parse_event_log(lines) -> EventLog:
    """Jobs and per-span task totals from an uncompressed event log.

    A task counts toward the span named in its stage's job description;
    tasks of untagged stages go to ``unattributed``."""
    log = EventLog()
    stage_span: dict[int, int | None] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            span = _span_of(ev.get("Properties"))
            log.jobs[ev["Job ID"]] = {
                "span": span, "start": ev["Submission Time"] / 1e3,
                "end": None, "ok": None,
            }
            for sid in ev.get("Stage IDs", []):
                stage_span.setdefault(sid, span)
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev["Completion Time"] / 1e3
                job["ok"] = ev.get("Job Result", {}).get("Result") == "JobSucceeded"
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            span = _span_of(ev.get("Properties"))
            if span is not None:
                stage_span[sid] = span
        elif kind == "SparkListenerTaskEnd":
            span = stage_span.get(ev["Stage ID"])
            stats = _task_stats(ev)
            if span is None:
                log.unattributed.add(stats)
            else:
                log.by_span.setdefault(span, TaskStats()).add(stats)
    return log


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0

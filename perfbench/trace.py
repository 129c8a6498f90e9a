"""Spans, self time, and the two Spark-side sources of a traced run:
the uncompressed event log and a streaming progress listener.

Spans are kept in memory and written out when the run ends. Times are
epoch seconds from one monotonic clock, so they line up with the event
log's millisecond timestamps.
"""

from __future__ import annotations

import datetime
import json
import time
from collections.abc import Iterable, Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    trace_id: str
    start: float
    end: float
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: Iterable[Span]) -> float:
    """The span's duration minus the part of it its children cover.

    Children are clipped to the parent and overlapping children count
    once, so parallel children never push self time below zero."""
    ivs = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    )
    covered = 0.0
    cur_s = cur_e = None
    for s, e in ivs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.duration - covered


class Tracer:
    """Records spans around calls made from the benchmark's own code."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._epoch0 = time.time()
        self._pc0 = time.perf_counter()

    def now(self) -> float:
        return self._epoch0 + (time.perf_counter() - self._pc0)

    def add(self, name: str, trace_id: str, start: float, end: float,
            parent: int | None = None, **attrs) -> Span:
        span = Span(len(self.spans), name, trace_id, start, end, parent, attrs)
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, trace_id: str | None = None, **attrs) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        tid = trace_id or (parent.trace_id if parent else name)
        sp = self.add(name, tid, self.now(), float("nan"),
                      parent.id if parent else None, **attrs)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = self.now()

    def wrap(self, name: str, fn):
        """``fn`` wrapped in a span named ``name`` under the open span."""

        def traced(*args, **kwargs):
            if not self._stack:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def write(self, path: str) -> None:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        with open(path, "w") as f:
            for s in self.spans:
                rec = asdict(s)
                rec["self_s"] = self_time(s, kids.get(s.id, ()))
                f.write(json.dumps(rec) + "\n")


# --------------------------------------------------------------------------
# Spark event log

#: plan nodes that evaluate Python in workers; their "number of output
#: rows" SQL metric counts the rows that came back from Python.
_PYTHON_NODE_MARKERS = ("Python", "Pandas", "InArrow")
_ROWS_METRIC = "number of output rows"
_MB = float(1 << 20)


@dataclass
class Job:
    id: int
    submit_s: float
    end_s: float = float("nan")
    group: str | None = None
    stage_ids: tuple[int, ...] = ()


@dataclass
class Stage:
    id: int
    submit_s: float = float("nan")
    end_s: float = float("nan")
    tasks: int = 0
    executor_cpu_s: float = 0.0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    scheduler_delay_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    #: accumulator id -> summed task updates, for row-count SQL metrics
    row_updates: dict[int, int] = field(default_factory=dict)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]
    python_row_accumulators: set[int]

    def stage_job(self) -> dict[int, int]:
        """stage id -> the first job that lists it (later jobs skip it)."""
        out: dict[int, int] = {}
        for job in sorted(self.jobs.values(), key=lambda j: j.id):
            for sid in job.stage_ids:
                out.setdefault(sid, job.id)
        return out

    def python_rows(self, stage: Stage) -> int:
        return sum(v for k, v in stage.row_updates.items() if k in self.python_row_accumulators)


def _plan_python_accumulators(node: dict, out: set[int]) -> None:
    if any(m in node.get("nodeName", "") for m in _PYTHON_NODE_MARKERS):
        for m in node.get("metrics", ()):
            if m.get("name") == _ROWS_METRIC:
                out.add(int(m["accumulatorId"]))
    for child in node.get("children", ()):
        _plan_python_accumulators(child, out)


def parse_event_log(lines: Iterable[str]) -> EventLog:
    """Fold an uncompressed Spark event log into jobs and per-stage task
    totals. Unknown events are ignored."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    py_accs: set[int] = set()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = Job(
                ev["Job ID"], ev["Submission Time"] / 1e3,
                group=props.get("spark.jobGroup.id"),
                stage_ids=tuple(ev.get("Stage IDs", ())),
            )
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_s = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            st.submit_s = info.get("Submission Time", float("nan")) / 1e3
            st.end_s = info.get("Completion Time", float("nan")) / 1e3
        elif kind == "SparkListenerTaskEnd":
            _fold_task(stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"])), ev)
        elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
            _plan_python_accumulators(ev.get("sparkPlanInfo") or {}, py_accs)
    return EventLog(jobs, stages, py_accs)


def _fold_task(st: Stage, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    st.tasks += 1
    run_ms = m.get("Executor Run Time", 0)
    st.executor_run_s += run_ms / 1e3
    st.executor_cpu_s += (m.get("Executor CPU Time", 0) + m.get("Executor Deserialize CPU Time", 0)) / 1e9
    st.gc_s += m.get("JVM GC Time", 0) / 1e3
    wall_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    overhead_ms = (
        run_ms
        + m.get("Executor Deserialize Time", 0)
        + m.get("Result Serialization Time", 0)
        + (info["Finish Time"] - info["Getting Result Time"] if info.get("Getting Result Time") else 0)
    )
    st.scheduler_delay_s += max(wall_ms - overhead_ms, 0) / 1e3
    rd = m.get("Shuffle Read Metrics") or {}
    st.shuffle_read_mb += (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)) / _MB
    st.shuffle_write_mb += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / _MB
    st.spill_mb += m.get("Disk Bytes Spilled", 0) / _MB
    for acc in info.get("Accumulables", ()):
        if acc.get("Name") == _ROWS_METRIC and "Update" in acc:
            aid = int(acc["ID"])
            st.row_updates[aid] = st.row_updates.get(aid, 0) + int(acc["Update"])


# --------------------------------------------------------------------------
# streaming progress


def iso_to_epoch(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def progress_record(p) -> dict:
    """The fields of one ``StreamingQueryProgress`` the benchmark uses."""
    return {
        "run_id": str(p.runId),
        "batch": int(p.batchId),
        "start": iso_to_epoch(p.timestamp),
        "dur_ms": {k: int(v) for k, v in (p.durationMs or {}).items()},
        "state_rows": sum(int(s.numRowsTotal) for s in p.stateOperators),
        "state_bytes": sum(int(s.memoryUsedBytes) for s in p.stateOperators),
    }


def progress_listener(sink: list):
    """A ``StreamingQueryListener`` that appends ``progress_record``s to
    ``sink``. Sessions keep separate listener lists, so the caller adds it
    to each session it wants observed."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Recorder(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            sink.append(progress_record(event.progress))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return _Recorder()

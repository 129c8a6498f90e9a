"""Span arithmetic and the event-log parser, on a small captured log."""

from __future__ import annotations

import math
import os

import pytest

from perfbench.trace import Span, Tracer, parse_event_log, self_time

DATA = os.path.join(os.path.dirname(__file__), "data")


def _span(start: float, end: float, parent: int | None = None) -> Span:
    return Span(0, "s", "t", start, end, parent)


def test_self_time_without_children_is_duration():
    assert self_time(_span(1.0, 4.0), []) == pytest.approx(3.0)


def test_self_time_subtracts_disjoint_children():
    parent = _span(0.0, 10.0)
    kids = [_span(1.0, 3.0), _span(5.0, 6.0)]
    assert self_time(parent, kids) == pytest.approx(7.0)


def test_self_time_counts_overlapping_children_once():
    parent = _span(0.0, 10.0)
    kids = [_span(1.0, 5.0), _span(4.0, 6.0), _span(5.5, 7.0)]
    assert self_time(parent, kids) == pytest.approx(4.0)


def test_self_time_clips_children_to_parent():
    parent = _span(2.0, 6.0)
    kids = [_span(0.0, 3.0), _span(5.0, 9.0), _span(7.0, 8.0)]
    assert self_time(parent, kids) == pytest.approx(2.0)


def test_tracer_nests_spans_and_writes_self_time(tmp_path):
    tr = Tracer()
    with tr.span("key", "w/1/k") as key:
        with tr.span("construct") as c:
            pass
        with tr.span("fetch") as f:
            pass
    assert c.parent == key.id and f.parent == key.id
    assert c.trace_id == f.trace_id == "w/1/k"
    assert key.start <= c.start <= c.end <= f.start <= f.end <= key.end
    out = tmp_path / "spans.jsonl"
    tr.write(str(out))
    rows = [__import__("json").loads(line) for line in out.read_text().splitlines()]
    assert [r["name"] for r in rows] == ["key", "construct", "fetch"]
    assert rows[0]["self_s"] == pytest.approx(key.duration - c.duration - f.duration)


def test_wrap_records_only_under_an_open_span():
    tr = Tracer()
    fn = tr.wrap("streaming.stage_events", lambda x: x + 1)
    assert fn(1) == 2 and tr.spans == []
    with tr.span("construct", "w/1/k"):
        assert fn(2) == 3
    assert [s.name for s in tr.spans] == ["construct", "streaming.stage_events"]
    assert tr.spans[1].parent == tr.spans[0].id


@pytest.fixture(scope="module")
def log():
    """A log captured from local[2]: job group ``g|construct`` ran one
    count job; ``g|fetch`` ran a 3-partition ``mapInPandas`` over 10 rows
    that keeps the 5 even ones, then a 2-partition shuffle."""
    with open(os.path.join(DATA, "eventlog_small.jsonl")) as f:
        return parse_event_log(f)


def test_event_log_jobs_carry_their_group(log):
    groups = sorted(j.group for j in log.jobs.values())
    assert groups == ["g|construct", "g|fetch"]
    for job in log.jobs.values():
        assert job.end_s >= job.submit_s > 1e9  # epoch seconds


def test_event_log_stages_map_to_jobs_and_count_tasks(log):
    stage_job = log.stage_job()
    fetch = next(j for j in log.jobs.values() if j.group == "g|fetch")
    fetch_stages = [s for sid, s in log.stages.items() if stage_job[sid] == fetch.id]
    assert sum(s.tasks for s in fetch_stages) == 3 + 2
    assert sum(s.shuffle_write_mb for s in fetch_stages) > 0
    assert sum(s.shuffle_read_mb for s in fetch_stages) > 0
    for s in log.stages.values():
        assert s.executor_run_s >= 0 and s.executor_cpu_s > 0
        assert not math.isnan(s.end_s)


def test_event_log_python_rows_count_rows_back_from_python(log):
    assert sum(log.python_rows(s) for s in log.stages.values()) == 5


def test_parser_ignores_unknown_events():
    empty = parse_event_log(['{"Event": "SparkListenerLogStart"}', ""])
    assert empty.jobs == {} and empty.stages == {}

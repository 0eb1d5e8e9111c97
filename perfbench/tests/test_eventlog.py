"""The event-log reducer on a recorded log: the kriging pipeline's jobs from
a traced ``sensor_pipelines`` pass (its 3 driver-side fit jobs under
``ordinary_kriging``, its 2 sink jobs running the ``mapInPandas`` predict)."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from perfbench.eventlog import _streaming, read_events, reduce_log
from perfbench.trace import Span

DATA = Path(__file__).parent / "data"


@pytest.fixture(scope="module")
def recorded():
    spans = [Span(**s) for s in json.loads((DATA / "kriging.spans.json").read_text())]
    events = list(read_events(str(DATA / "kriging.eventlog")))
    root = Span(-1, "pass", "pass", "traced", None,
                min(s.start for s in spans), max(s.end for s in spans))
    for s in spans:
        if s.parent not in {x.id for x in spans}:
            s.parent = root.id
    return events, [root, *spans], root


def test_jobs_are_attributed_to_the_innermost_span(recorded):
    events, spans, root = recorded
    m = reduce_log(events, spans, root)
    assert m["operators.interpolate.jobs"] == 3
    assert m["driver.control_jobs"] == 3
    assert m["sink.jobs"] == 2


def test_task_metrics_are_summed(recorded):
    events, spans, root = recorded
    m = reduce_log(events, spans, root)
    ends = [e for e in events if e["Event"] == "SparkListenerTaskEnd"]
    assert m["exec.tasks"] == len(ends)
    assert m["exec.failed_tasks"] == 0
    assert m["exec.run_s"] == pytest.approx(
        sum(e["Task Metrics"]["Executor Run Time"] for e in ends) / 1e3)
    assert m["exec.cpu_frac"] == pytest.approx(m["exec.cpu_s"] / m["exec.run_s"])
    assert 0 < m["exec.cpu_frac"] <= 1


def test_python_metrics_come_from_the_python_plan_nodes(recorded):
    events, spans, root = recorded
    m = reduce_log(events, spans, root)
    run_ms = sum(
        float(a["Update"])
        for e in events if e["Event"] == "SparkListenerTaskEnd"
        for a in e["Task Info"]["Accumulables"] if a["Name"] == "time to run Python workers"
    )
    assert run_ms > 0
    assert m["python.total_s"] == pytest.approx(run_ms / 1e3)  # "timing" metrics are ms
    assert m["python.bytes_sent"] > 0
    assert m["python.rows_received"] == 256  # the 16 x 16 kriging grid


def test_driver_only_time_is_the_pass_minus_job_spans(recorded):
    events, spans, root = recorded
    m = reduce_log(events, spans, root)
    assert 0 < m["driver.only_s"] < root.end - root.start


def test_jobs_of_other_runs_are_ignored(recorded):
    events, spans, root = recorded
    other = Span(-1, "pass", "pass", "elsewhere", None, root.start, root.end)
    m = reduce_log(events, spans, other)
    assert m["exec.tasks"] == 0 and m["sink.jobs"] == 0


def test_streaming_progress_is_summarised():
    events = read_events(str(DATA / "kriging.eventlog"))
    progress = [e["progress"] for e in events if e["Event"].endswith("QueryProgressEvent")]
    m = _streaming(progress)
    p = progress[0]
    assert m["streaming.batches"] == 1
    assert m["streaming.batch_s_p50"] == p["durationMs"]["triggerExecution"] / 1e3
    assert m["streaming.state_rows"] == sum(s["numRowsTotal"] for s in p["stateOperators"])

"""Reduce a Spark event log to per-layer metrics for the traced pass.

A job belongs to the span whose ``pb<id>`` tag it carries (see
``trace.py``); jobs without a tag of the traced pass are ignored. Tasks
belong to the stage that ran them, stages to the tags in their submit
properties.
"""

from __future__ import annotations

import json
import statistics
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field
from datetime import datetime

from perfbench.trace import Span, tag_of

PY_TIMES = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.total_s",
}
PY_BYTES_SENT = "data sent to Python workers"
PY_MARKERS = set(PY_TIMES) | {PY_BYTES_SENT, "data returned from Python workers"}
PROGRESS_EVENT = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
SQL_EXEC_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)
METRIC_NAMES = (
    "driver.only_s",
    "driver.control_jobs",
    "sink.jobs",
    "sink.tasks",
    "sink.bytes_written",
    "scan.records_read",
    "scan.bytes_read",
    "exec.run_s",
    "exec.cpu_s",
    "exec.cpu_frac",
    "exec.gc_s",
    "exec.tasks",
    "exec.failed_tasks",
    "exec.skipped_stages",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "shuffle.fetch_wait_s",
    "shuffle.spill_bytes",
    "python.boot_s",
    "python.init_s",
    "python.total_s",
    "python.bytes_sent",
    "python.rows_received",
    "streaming.batches",
    "streaming.batch_s_p50",
    "streaming.state_rows",
    "streaming.state_bytes",
)


def read_events(path: str) -> Iterator[dict]:
    with open(path) as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def _tags(props: dict | None) -> list[str]:
    raw = (props or {}).get("spark.job.tags") or ""
    return [t for t in raw.split(",") if t]


def _walk_plan(node: dict) -> Iterator[dict]:
    yield node
    for child in node.get("children", ()):
        yield from _walk_plan(child)


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


@dataclass
class _Job:
    span: Span
    start: float
    end: float | None = None
    stages: list[int] = field(default_factory=list)


def reduce_log(events: Iterable[dict], spans: Iterable[Span], pass_span: Span) -> dict[str, float]:
    """Per-layer metrics of the jobs started inside ``pass_span``'s run."""
    by_tag = {tag_of(s.id): s for s in spans if s.run == pass_span.run}
    jobs: dict[int, _Job] = {}
    stage_span: dict[int, Span] = {}
    submitted: set[int] = set()
    tasks: list[tuple[Span, dict]] = []
    acc_meta: dict[int, tuple[str, str]] = {}  # accumulator id -> (metric, type)
    py_rows_ids: set[int] = set()
    progress: list[dict] = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            span = next((by_tag[t] for t in _tags(ev.get("Properties")) if t in by_tag), None)
            if span is not None:
                jobs[ev["Job ID"]] = _Job(span, ev["Submission Time"] / 1e3,
                                          stages=list(ev.get("Stage IDs", ())))
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            submitted.add(sid)
            span = next((by_tag[t] for t in _tags(ev.get("Properties")) if t in by_tag), None)
            if span is not None:
                stage_span[sid] = span
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_span:
            tasks.append((stage_span[ev["Stage ID"]], ev))
        elif kind == PROGRESS_EVENT:
            progress.append(ev["progress"])
        elif kind in SQL_EXEC_EVENTS:
            for node in _walk_plan(ev["sparkPlanInfo"]):
                metrics = node.get("metrics", ())
                names = {m["name"] for m in metrics}
                for m in metrics:
                    acc_meta[m["accumulatorId"]] = (m["name"], m["metricType"])
                    if names & PY_MARKERS and m["name"] == "number of output rows":
                        py_rows_ids.add(m["accumulatorId"])

    out = dict.fromkeys(METRIC_NAMES, 0.0)
    job_list = list(jobs.values())
    for j in job_list:
        if j.span.layer == "sink":
            out["sink.jobs"] += 1
        else:
            out["driver.control_jobs"] += 1
        if j.span.layer.startswith("operators."):
            key = f"{j.span.layer}.jobs"
            out[key] = out.get(key, 0.0) + 1
    out["exec.skipped_stages"] = float(
        len({s for j in job_list for s in j.stages} - submitted)
    )
    pass_end = pass_span.end
    busy = union_length(
        (max(j.start, pass_span.start), min(j.end or pass_end, pass_end)) for j in job_list
    )
    out["driver.only_s"] = (pass_end - pass_span.start) - busy

    for span, ev in tasks:
        tm = ev.get("Task Metrics") or {}
        reason = (ev.get("Task End Reason") or {}).get("Reason")
        out["exec.tasks"] += 1
        if reason != "Success":
            out["exec.failed_tasks"] += 1
        out["exec.run_s"] += tm.get("Executor Run Time", 0) / 1e3
        out["exec.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        out["exec.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        out["shuffle.spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
        rd = tm.get("Shuffle Read Metrics") or {}
        out["shuffle.read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        out["shuffle.fetch_wait_s"] += rd.get("Fetch Wait Time", 0) / 1e3
        out["shuffle.write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        inp = tm.get("Input Metrics") or {}
        out["scan.records_read"] += inp.get("Records Read", 0)
        out["scan.bytes_read"] += inp.get("Bytes Read", 0)
        if span.layer == "sink":
            out["sink.tasks"] += 1
            out["sink.bytes_written"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
            name, mtype = acc_meta.get(acc.get("ID"), (acc.get("Name"), ""))
            try:
                update = float(acc.get("Update", 0))
            except (TypeError, ValueError):
                continue
            if name in PY_TIMES:
                scale = 1e9 if mtype == "nsTiming" else 1e3
                out[PY_TIMES[name]] += update / scale
            elif name == PY_BYTES_SENT:
                out["python.bytes_sent"] += update
            elif acc.get("ID") in py_rows_ids:
                out["python.rows_received"] += update
    out["exec.cpu_frac"] = out["exec.cpu_s"] / out["exec.run_s"] if out["exec.run_s"] else 0.0
    out.update(_streaming(p for p in progress if pass_span.start <= _epoch(p["timestamp"]) <= pass_end))
    return out


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _streaming(progress: Iterable[dict]) -> dict[str, float]:
    """Batch count, median batch time, and state size at each query's last
    batch summed over queries."""
    progress = list(progress)
    last: dict[str, dict] = {}
    for p in progress:
        if p["id"] not in last or p["batchId"] >= last[p["id"]]["batchId"]:
            last[p["id"]] = p
    times = sorted(p["durationMs"].get("triggerExecution", 0) / 1e3 for p in progress)
    return {
        "streaming.batches": float(len(progress)),
        "streaming.batch_s_p50": statistics.median(times) if times else 0.0,
        "streaming.state_rows": float(sum(
            s.get("numRowsTotal", 0) for p in last.values() for s in p.get("stateOperators", ()))),
        "streaming.state_bytes": float(sum(
            s.get("memoryUsedBytes", 0) for p in last.values() for s in p.get("stateOperators", ()))),
    }

"""Fold Spark's local event log into per-span counts.

The traced run's session writes one uncompressed, non-rolling JSON-lines
event log. Jobs are assigned to spans by time, not by job group: the
program submits jobs from its own worker threads and AQE broadcast
futures, which do not inherit ``setJobGroup``. The benchmark runs one
operation at a time, so the span whose interval contains a job's
submission time is the operation that caused it; among several such
spans the innermost (latest started) wins. Stages and tasks follow
their job, SQL executions their start time.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
SQL_DRIVER_ACCUM = (
    "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
)

# (plan node predicate, metric name) -> counter name
_SQL_METRICS = {
    ("scan", "number of output rows"): "scan_rows",
    ("scan", "size of files read"): "scan_bytes",
    ("scan", "number of files read"): "files_read",
    ("sort", "sort time"): "sort_time_ms",
    ("python", "time to run Python workers"): "python_run_ms",
    ("python", "data sent to Python workers"): "python_bytes_sent",
    ("python", "data returned from Python workers"): "python_bytes_returned",
}
# timing metrics are kept in ms; nanosecond timers are scaled down
_SCALE = {"nsTiming": 1e-6}


def _node_kind(name: str) -> str | None:
    if name.startswith("Scan ") or name.startswith("FileSourceScan"):
        return "scan"
    if name == "Sort":
        return "sort"
    # the Arrow boundary: MapInPandas, MapInArrow, ArrowEvalPython, ...
    if "Python" in name or "Pandas" in name or name.startswith("MapInArrow"):
        return "python"
    return None


def read_events(path: str) -> list[dict]:
    """Events of the one application log under ``path`` (a file or a
    directory holding exactly one log)."""
    if os.path.isdir(path):
        files = [f for f in glob.glob(os.path.join(path, "*")) if os.path.isfile(f)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {path}, found {files}")
        path = files[0]
    out = []
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line:
                out.append(json.loads(line))
    return out


def _walk(info: dict):
    yield info
    for child in info.get("children", ()):
        yield from _walk(child)


def innermost(spans, t: float):
    """The latest-started span whose interval contains ``t``."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


class Folded:
    """Per-span totals of one event log."""

    def __init__(self):
        self.by_span: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        self.unattributed_jobs: list[int] = []
        self.n_jobs = 0


def fold(events: list[dict], spans) -> Folded:
    res = Folded()
    stage_span: dict[int, int] = {}
    exec_plan: dict[int, dict] = {}
    exec_span: dict[int, int] = {}
    accum_counter: dict[int, tuple[str, float]] = {}

    def learn_metrics(info):
        for node in _walk(info):
            kind = _node_kind(node.get("nodeName", ""))
            if kind is None:
                continue
            for m in node.get("metrics", ()):
                key = (kind, m.get("name"))
                if key in _SQL_METRICS:
                    accum_counter[m["accumulatorId"]] = (
                        _SQL_METRICS[key], _SCALE.get(m.get("metricType"), 1.0)
                    )

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            res.n_jobs += 1
            span = innermost(spans, ev["Submission Time"] / 1000.0)
            if span is None:
                res.unattributed_jobs.append(ev["Job ID"])
                continue
            acc = res.by_span[span.id]
            acc["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_span.setdefault(sid, span.id)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            if sid in stage_span and "Submission Time" in info:
                # a stage skipped because its shuffle output exists never runs
                res.by_span[stage_span[sid]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            if sid not in stage_span:
                continue
            acc = res.by_span[stage_span[sid]]
            tm = ev.get("Task Metrics") or {}
            acc["tasks"] += 1
            acc["run_ms"] += tm.get("Executor Run Time", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = tm.get("Shuffle Write Metrics") or {}
            acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            acc["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            om = tm.get("Output Metrics") or {}
            acc["records_written"] += om.get("Records Written", 0)
            acc["bytes_written"] += om.get("Bytes Written", 0)
            for a in (ev.get("Task Info") or {}).get("Accumulables", ()):
                counter = accum_counter.get(a.get("ID"))
                if counter is not None:
                    acc[counter[0]] += float(a.get("Update") or 0) * counter[1]
        elif kind in (SQL_START, SQL_AQE):
            eid = ev["executionId"]
            exec_plan[eid] = ev["sparkPlanInfo"]
            learn_metrics(ev["sparkPlanInfo"])
            if kind == SQL_START:
                span = innermost(spans, ev["time"] / 1000.0)
                if span is not None:
                    exec_span[eid] = span.id
        elif kind == SQL_DRIVER_ACCUM:
            sid = exec_span.get(ev["executionId"])
            if sid is None:
                continue
            for aid, value in ev.get("accumUpdates", ()):
                counter = accum_counter.get(aid)
                if counter is not None:
                    res.by_span[sid][counter[0]] += float(value) * counter[1]

    # plan shape: node counts of each execution's final (adaptive) plan
    for eid, info in exec_plan.items():
        sid = exec_span.get(eid)
        if sid is None:
            continue
        acc = res.by_span[sid]
        acc["sql_executions"] += 1
        for node in _walk(info):
            name = node.get("nodeName", "")
            if name == "Exchange":
                acc["exchanges"] += 1
            elif name == "Sort":
                acc["sorts"] += 1
            elif name == "Window":
                acc["windows"] += 1
    return res


def job_intervals(events: list[dict]) -> list[tuple[float, float]]:
    """(submission, completion) seconds of every finished job."""
    start = {}
    out = []
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
        elif ev.get("Event") == "SparkListenerJobEnd" and ev["Job ID"] in start:
            out.append((start[ev["Job ID"]], ev["Completion Time"] / 1000.0))
    return out

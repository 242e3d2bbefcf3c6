"""Per-layer metrics of a traced run: spans plus the folded event log.

Layers are named after the program's modules. Counts that the timing
shims would inflate (the shims add count and checkpoint jobs) are taken
from the shim-free operations of the traced run; times and row counts
that need a span come from the traced operations.
"""

from __future__ import annotations

from perfbench import eventlog
from perfbench.stats import nearest_rank, tail_percentile
from perfbench.trace import covered, self_times


def _op_of(spans) -> dict[int, int]:
    """Span id -> id of the operation span at the root of its chain."""
    parent = {s.id: s.parent for s in spans}
    out = {}
    for s in spans:
        sid = s.id
        while parent.get(sid) is not None:
            sid = parent[sid]
        out[s.id] = sid
    return out


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(wl, tracer, eventlog_dir, lat, ops_traced, failed, cores):
    spans = tracer.spans
    events = eventlog.read_events(eventlog_dir)
    folded = eventlog.fold(events, spans)
    if folded.unattributed_jobs:
        raise RuntimeError(
            f"{len(folded.unattributed_jobs)} of {folded.n_jobs} Spark jobs fall "
            f"in no span: {folded.unattributed_jobs[:10]}"
        )

    root_of = _op_of(spans)
    ops = [s for s in spans if s.name == "op"]
    per_op = {s.id: {} for s in ops}
    for sid, acc in folded.by_span.items():
        op = root_of.get(sid)
        if op in per_op:
            for k, v in acc.items():
                per_op[op][k] = per_op[op].get(k, 0.0) + v
    on = [s for s in ops if s.attrs.get("traced")]
    off = [s for s in ops if not s.attrs.get("traced")] or ops
    n_on = max(1, len(on))

    def off_mean(key):
        return _mean(per_op[s.id].get(key, 0.0) for s in off)

    selft = self_times(spans)
    on_ids = {s.id for s in on}
    names = {s.id: s.name for s in spans}

    def span_total(name, self_time=True):
        return sum(
            selft[s.id] if self_time else s.end - s.start
            for s in spans
            if s.name == name and root_of[s.id] in on_ids
        ) / n_on

    def in_spans(name, key):
        return sum(
            acc.get(key, 0.0)
            for sid, acc in folded.by_span.items()
            if names.get(sid) == name
        ) / n_on

    jobs = eventlog.job_intervals(events)
    gaps = []
    for s in ops:
        inside = [(max(a, s.start), min(b, s.end)) for a, b in jobs
                  if min(b, s.end) > max(a, s.start)]
        gaps.append((s.end - s.start) - covered(inside))
    wall = sum(s.end - s.start for s in ops)
    run_s = sum(per_op[s.id].get("run_ms", 0.0) for s in ops) / 1000.0

    c = wl.counts
    stats = wl.sink_stats
    last = stats[-2:] if stats else []
    rows_written = in_spans("sinks.merge_upsert", "records_written")
    rows_changed = c.get("rows_changed", 0.0) / n_on
    delta_rows = c.get("delta_rows", 0.0) / n_on
    history_rows = c.get("history_rows", 0.0) / n_on
    lat_on = [x for x, t in zip(lat, ops_traced) if t]
    lat_off = [x for x, t in zip(lat, ops_traced) if not t]
    # the tail comes from shim-free operations only: traced ones pay the
    # shims and the planning span's second planning pass
    pct = tail_percentile(len(lat_off))
    publishes = [
        s for s in spans if s.name == "state.publish" and root_of[s.id] in on_ids
    ]

    m = {
        # scheduling
        "jobs_per_op": (off_mean("jobs"), "count"),
        "stages_per_op": (off_mean("stages"), "count"),
        "tasks_per_op": (off_mean("tasks"), "count"),
        "busy_share": (run_s / (wall * cores) if wall else 0.0, "ratio"),
        "driver_gap_s": (_mean(gaps), "s"),
        # plans
        "planning_s": (span_total("plans.planning", self_time=False), "s"),
        "exchanges_per_op": (off_mean("exchanges"), "count"),
        "sorts_per_op": (off_mean("sorts"), "count"),
        "windows_per_op": (off_mean("windows"), "count"),
        "shuffle_write_bytes": (off_mean("shuffle_write_bytes"), "bytes"),
        "shuffle_read_bytes": (off_mean("shuffle_read_bytes"), "bytes"),
        "spill_bytes": (off_mean("spill_bytes"), "bytes"),
        "sort_time_s": (off_mean("sort_time_ms") / 1000.0, "s"),
        # sources
        "scan_rows": (off_mean("scan_rows"), "count"),
        "scan_bytes": (off_mean("scan_bytes"), "bytes"),
        "files_read": (off_mean("files_read"), "count"),
        # operators
        "transform_s": (span_total("operators.transform"), "s"),
        "gold_refresh_s": (span_total("operators.gold_refresh"), "s"),
        "history_rows": (history_rows, "count"),
        "delta_rows": (delta_rows, "count"),
        "recompute_ratio": (history_rows / delta_rows if delta_rows else 0.0, "ratio"),
        # sinks
        "merge_s": (span_total("sinks.merge_upsert"), "s"),
        "rows_written": (rows_written, "count"),
        "rows_changed": (rows_changed, "count"),
        "rewrite_amplification": (
            rows_written / rows_changed if rows_changed else 0.0, "ratio"),
        "bytes_written": (in_spans("sinks.merge_upsert", "bytes_written"), "bytes"),
        "files_written": (sum(x["files_written"] for x in stats) / n_on, "count"),
        "partitions_rewritten": (
            sum(x["partitions_rewritten"] for x in stats) / n_on, "count"),
        "partitions_total": (sum(x["partitions_total"] for x in last), "count"),
        "live_files": (sum(x["live_files"] for x in last), "count"),
        "live_bytes": (sum(x["live_bytes"] for x in last), "bytes"),
        # state: the versioned publish protocol (merge_state publishes
        # through overwrite_state)
        "publish_s": (sum(s.end - s.start for s in publishes) / n_on, "s"),
        "publishes_per_tick": (len(publishes) / n_on, "count"),
        "state_live_files": (0, "count"),
        "state_live_bytes": (0, "bytes"),
        "retired_dirs": (0, "count"),
        # streaming
        "cursor_s": (span_total("streaming.cursor"), "s"),
        # python: the Arrow boundary, from the MapInPandas SQL metrics
        "worker_run_s": (off_mean("python_run_ms") / 1000.0, "s"),
        "bytes_to_worker": (off_mean("python_bytes_sent"), "bytes"),
        "bytes_from_worker": (off_mean("python_bytes_returned"), "bytes"),
        # functions: filled in by a workload that decodes media
        "decode_ms_per_doc": (0.0, "ms"),
        # the loop itself
        "ops_failed_frac": (failed / len(lat), "ratio"),
        # trace
        "overhead_frac": (
            _mean(lat_on) / _mean(lat_off) - 1.0 if lat_on and lat_off else 0.0,
            "ratio"),
    }
    if pct is not None:
        # only a workload with enough shim-free operations per run has a
        # tail (the dashboard mix; a traced tick run has two)
        m["op_tail_s"] = (nearest_rank(lat_off, pct), "s")
        m["op_tail_pct"] = (float(pct), "percentile")
    return m

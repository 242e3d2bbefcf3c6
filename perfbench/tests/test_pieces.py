"""Unit tests for the benchmark's own pieces (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(__file__))))

import numpy as np  # noqa: E402

from perfbench import eventlog, gen  # noqa: E402
from perfbench.stats import nearest_rank, tail_percentile  # noqa: E402
from perfbench.trace import Span, Tracer, self_times  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_tiny.json")


# -- tail percentile -------------------------------------------------------
def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(20) == 50
    assert tail_percentile(100) == 90
    assert tail_percentile(1000) == 99
    assert tail_percentile(10) is None
    assert tail_percentile(11) == 9  # rank 1 of 11 leaves 10 beyond
    for n in (11, 17, 40, 333):
        p = tail_percentile(n)
        assert n - int(np.ceil(p / 100 * n)) >= 10
        assert p == 99 or n - int(np.ceil((p + 1) / 100 * n)) < 10


def test_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert nearest_rank(xs, 50) == 3.0
    assert nearest_rank(xs, 100) == 5.0
    assert nearest_rank(xs, 1) == 1.0


# -- self time -------------------------------------------------------------
def test_self_time_with_overlapping_children_on_two_threads():
    parent = Span(1, "op", 0.0, 10.0)
    a = Span(2, "sinks.merge_upsert", 1.0, 5.0, parent=1, thread=111)
    b = Span(3, "sinks.merge_upsert", 3.0, 8.0, parent=1, thread=222)
    late = Span(4, "state.publish", 9.0, 12.0, parent=1, thread=222)  # clipped
    grandchild = Span(5, "x", 2.0, 4.0, parent=2, thread=111)
    st = self_times([parent, a, b, late, grandchild])
    # children cover [1, 8] and [9, 10] of the parent: 8 of 10 seconds
    assert st[1] == 2.0
    assert st[2] == 2.0  # a minus its grandchild
    assert st[3] == 5.0
    assert st[5] == 2.0


def test_worker_thread_spans_hang_off_the_operation():
    t = Tracer()
    t.active = True
    seen = {}

    def work():
        with t.span("state.publish") as s:
            seen["thread"] = s.thread

    with t.op("op") as op:
        with t.span("bench.call"):
            th = threading.Thread(target=work)
            th.start()
            th.join()
    pub = next(s for s in t.spans if s.name == "state.publish")
    assert pub.parent == op.id
    assert pub.thread == seen["thread"] != threading.get_ident()


def test_inactive_tracer_records_only_operations():
    t = Tracer()
    with t.op("op"):
        with t.span("inner") as s:
            assert s is None
    assert [s.name for s in t.spans] == ["op"]


def test_shim_wraps_and_undo_restores():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    orig = mod.f
    t = Tracer()
    t.shim(mod, "f", "layer.f")
    t.active = True
    with t.op("op"):
        assert mod.f(1) == 2
    assert [s.name for s in t.spans] == ["op", "layer.f"]
    t.undo()
    assert mod.f is orig


# -- event-log folding -----------------------------------------------------
def _fixture_spans():
    op_a = Span(1, "op", 1000.5, 1002.5)
    op_b = Span(2, "op", 1002.8, 1004.0)
    merge = Span(3, "sinks.merge_upsert", 1002.9, 1003.5, parent=2)
    return [op_a, op_b, merge]


def test_fold_tiny_event_log():
    events = eventlog.read_events(FIXTURE)
    res = eventlog.fold(events, _fixture_spans())
    a, merge = res.by_span[1], res.by_span[3]
    assert res.n_jobs == 3
    assert a["jobs"] == 1 and a["stages"] == 2 and a["tasks"] == 3
    assert a["run_ms"] == 600
    assert a["shuffle_write_bytes"] == 800
    assert a["shuffle_read_bytes"] == 800
    assert a["spill_bytes"] == 64
    assert a["scan_rows"] == 100
    assert a["files_read"] == 1
    assert a["scan_bytes"] == 4096
    assert a["sort_time_ms"] == 25
    assert (a["exchanges"], a["sorts"], a["windows"]) == (1, 1, 0)
    # job 1 falls inside op B and its merge span: the innermost wins
    assert merge["jobs"] == 1 and merge["records_written"] == 7
    assert merge["bytes_written"] == 2048
    # the Arrow boundary: MapInPandas metrics, its nanosecond timer in ms
    assert merge["python_run_ms"] == 3.0
    assert merge["python_bytes_sent"] == 512
    assert merge["python_bytes_returned"] == 128
    assert merge["sql_executions"] == 1
    assert res.by_span[2].get("jobs", 0) == 0
    # job 2 was submitted when no span was open
    assert res.unattributed_jobs == [2]


def test_job_intervals():
    events = eventlog.read_events(FIXTURE)
    assert eventlog.job_intervals(events) == [
        (1001.1, 1001.95), (1003.0, 1003.25), (1009.0, 1009.1)
    ]


# -- seeded generators -----------------------------------------------------
AFTER = np.datetime64("1999-02-04")


def test_tick_delta_is_a_function_of_the_seed():
    a = gen.tick_delta(7, 3, 4000, 0.01, AFTER)
    b = gen.tick_delta(7, 3, 4000, 0.01, AFTER)
    assert a.equals(b)
    assert len(a) == 40 and a["work_item_id"].is_unique
    other_seed = gen.tick_delta(8, 3, 4000, 0.01, AFTER)
    other_tick = gen.tick_delta(7, 4, 4000, 0.01, AFTER)
    assert set(a["work_item_id"]) != set(other_seed["work_item_id"])
    assert set(a["work_item_id"]) != set(other_tick["work_item_id"])
    assert (a["updated"] > AFTER).all()


def test_query_order_is_a_function_of_the_seed():
    names = ["q%d" % i for i in range(12)]
    assert gen.shuffled(3, names, 4) == gen.shuffled(3, names, 4)
    assert gen.shuffled(3, names, 4) != gen.shuffled(4, names, 4)
    assert sorted(gen.shuffled(3, names, 1)) == sorted(names)


def test_media_slices_are_a_function_of_the_seed():
    base, deltas = gen.media_slices(9, 48, 12, 16)
    assert (base, deltas) == gen.media_slices(9, 48, 12, 16)
    assert (base, deltas) != gen.media_slices(10, 48, 12, 16)
    flat = base + [i for d in deltas for i in d]
    assert len(base) == 48 and all(len(d) == 12 for d in deltas)
    assert len(set(flat)) == len(flat)  # disjoint slices


def test_flow_tables_are_a_function_of_the_seed():
    o1, l1 = gen.flow_tables(5, 300)
    o2, l2 = gen.flow_tables(5, 300)
    assert o1.equals(o2) and l1.equals(l2)
    o3, l3 = gen.flow_tables(6, 300)
    assert not l1.equals(l3)
    # revisions are unique per work item, so per-item orderings are total
    revs = gen.bronze_revisions(l1)
    assert not revs.duplicated(["work_item_id", "revision"]).any()


# -- process hygiene ---------------------------------------------------------
# Each case runs in its own interpreter: becoming a subreaper sticks to a
# process for its lifetime.
REAP_CASE = """
import os, subprocess, sys, time
sys.path.insert(0, {repo!r})
from perfbench.run import become_subreaper, reap_children
become_subreaper()
# the shell exits at once and leaves its background sleep orphaned
out = subprocess.run(["sh", "-c", "sleep {sleep} >/dev/null 2>&1 & echo $!"],
                     capture_output=True, text=True).stdout
t = time.time()
reap_children(grace={grace})
print(int(out), time.time() - t, os.path.exists(f"/proc/{{int(out)}}"))
"""


def _reap_case(sleep: float, grace: float):
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    code = REAP_CASE.format(repo=repo, sleep=sleep, grace=grace)
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=60, check=True).stdout.split()
    return float(out[1]), out[2] == "True"


def test_reap_children_waits_for_orphaned_grandchildren():
    waited, alive = _reap_case(sleep=1, grace=30)
    assert waited >= 0.5 and not alive


def test_reap_children_kills_what_outlives_the_grace():
    waited, alive = _reap_case(sleep=60, grace=0.2)
    assert waited < 10 and not alive

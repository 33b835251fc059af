"""Tests of the benchmark's trace analysis on a small synthetic event
log and span list, including spans of overlapping driver threads.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
import threading
import types
from concurrent.futures import ThreadPoolExecutor

import pytest

from perfbench.attribution import (
    attribute,
    covered,
    in_trees,
    parse_event_log,
    self_times,
    spark_totals,
)
from perfbench.trace import SPAN_KEY, Span, Tracer


def _span(i, parent, start, end, thread=1, layer="x"):
    return Span(i, f"s{i}", layer, parent, thread, start, end)


# root pass [0, 10] on the main thread; q = span 2 [1, 9] submits two
# worker-thread spans that overlap on [4, 6].
ROOT = _span(1, None, 0.0, 10.0, layer="pass")
SPANS = [
    ROOT,
    _span(2, 1, 1.0, 9.0),
    _span(3, 2, 2.0, 6.0, thread=2),
    _span(4, 2, 4.0, 8.0, thread=3),
]


def _ms(t):
    return int(t * 1000)


def _events():
    ev = [
        # job 0 (span 3) runs stages 0 and 1
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": _ms(2.5),
         "Stage IDs": [0, 1], "Properties": {SPAN_KEY: "3"}},
        # job 1 (span 4) lists stage 1 again (reused, skipped) and runs 2
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": _ms(4.5),
         "Stage IDs": [1, 2], "Properties": {SPAN_KEY: "4"}},
        # job 2 has no span id but starts inside the root window
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": _ms(8.5),
         "Stage IDs": [3], "Properties": {}},
        # job 3 starts after the root ended: ignored
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": _ms(11.0),
         "Stage IDs": [4], "Properties": {SPAN_KEY: "99"}},
    ]
    stage_times = {0: (2.5, 3.0), 1: (3.0, 4.0), 2: (4.5, 7.0), 3: (8.5, 8.75), 4: (11.0, 12.0)}
    for sid, (a, b) in stage_times.items():
        ev.append({"Event": "SparkListenerStageCompleted",
                   "Stage Info": {"Stage ID": sid, "Submission Time": _ms(a), "Completion Time": _ms(b)}})
        ev.append({"Event": "SparkListenerTaskEnd", "Stage ID": sid,
                   "Task Info": {"Failed": sid == 2},
                   "Task Metrics": {
                       "Executor Run Time": 1000 * (sid + 1),
                       "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 1 << 20},
                       "Shuffle Write Metrics": {"Shuffle Bytes Written": 2 << 20},
                       "Disk Bytes Spilled": (3 << 20) if sid == 2 else 0}})
    for jid, end in ((0, 4.0), (1, 7.0), (2, 8.75), (3, 12.0)):
        ev.append({"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": _ms(end),
                   "Job Result": {"Result": "JobSucceeded"}})
    ev.append({"Event": "SparkListenerEnvironmentUpdate"})
    return [json.dumps(e) for e in ev] + [""]


def test_parse_event_log():
    log = parse_event_log(_events())
    assert sorted(log.jobs) == [0, 1, 2, 3]
    assert [log.jobs[j].span for j in range(4)] == [3, 4, None, 99]
    assert log.jobs[1].stage_ids == [1, 2]
    assert log.jobs[1].submit == pytest.approx(4.5)
    st = log.stages[2]
    assert st.intervals == [(4.5, 7.0)]
    assert (st.tasks, st.tasks_failed, st.task_s) == (1, 1, 3.0)
    assert (st.shuffle_read_b, st.shuffle_write_b, st.spill_b) == (1 << 20, 2 << 20, 3 << 20)


def test_self_time_nested_single_thread():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 2, 2.0, 3.0),
        _span(4, 1, 5.0, 9.0),
    ]
    # duration minus the time the children cover
    assert self_times(spans) == pytest.approx({1: 3.0, 2: 2.0, 3: 1.0, 4: 4.0})


def test_self_time_overlapping_threads():
    st = self_times(SPANS)
    # the two worker spans cover [2, 8] together; span 2 keeps [1, 2]
    # and [8, 9], and each worker keeps its whole duration
    assert st == pytest.approx({1: 2.0, 2: 2.0, 3: 4.0, 4: 4.0})
    # [4, 6] ran on two threads at once, so the sum exceeds the wall
    assert sum(st.values()) == pytest.approx(ROOT.end - ROOT.start + 2.0)


def test_self_time_child_outliving_parent():
    spans = [_span(1, None, 0.0, 4.0), _span(2, 1, 3.0, 6.0, thread=2)]
    assert self_times(spans) == pytest.approx({1: 3.0, 2: 3.0})


def test_in_trees_drops_spans_outside_roots():
    stray = _span(7, None, 20.0, 21.0)
    orphan_child = _span(8, 7, 20.0, 20.5)
    kept = in_trees(SPANS + [stray, orphan_child], [ROOT])
    assert [s.id for s in kept] == [1, 2, 3, 4]


def test_attribution_of_jobs_and_stage_totals():
    log = parse_event_log(_events())
    per_span, unattributed = attribute(log, SPANS, [ROOT])
    assert unattributed == 1
    # job 2 carries no span id; span 2 is the latest-started span running
    # at its submission (8.5)
    assert {k: v["jobs"] for k, v in per_span.items()} == {3: 1, 4: 1, 2: 1}
    # stage 1 ran in job 0 and is reused by job 1: counted once, for span 3
    assert per_span[3]["task_s"] == pytest.approx(1.0 + 2.0)
    assert per_span[4]["task_s"] == pytest.approx(3.0)
    assert per_span[4]["spill_mb"] == pytest.approx(3.0)
    assert per_span[2]["task_s"] == pytest.approx(4.0)
    assert per_span[3]["shuffle_write_mb"] == pytest.approx(4.0)


def test_spark_totals_over_root_window():
    log = parse_event_log(_events())
    t = spark_totals(log, [ROOT], cores=2)
    assert (t["jobs"], t["stages"], t["tasks"], t["tasks_failed"]) == (3, 4, 4, 1)
    assert t["stage_reuse"] == pytest.approx(1 / 5)
    assert t["task_s"] == pytest.approx(1 + 2 + 3 + 4)
    assert t["core_busy"] == pytest.approx(10 / (10 * 2))
    # stages run over [2.5, 4], [4.5, 7] and [8.5, 8.75] of the [0, 10] window
    assert t["driver_gap_s"] == pytest.approx(10 - 1.5 - 2.5 - 0.25)
    assert t["shuffle_read_mb"] == pytest.approx(4.0)
    assert t["spill_mb"] == pytest.approx(3.0)


def test_spark_totals_without_jobs_keeps_every_key():
    t = spark_totals(parse_event_log([]), [ROOT], cores=2)
    assert set(t) == set(spark_totals(parse_event_log(_events()), [ROOT], cores=2))
    assert t["task_s"] == 0 and t["driver_gap_s"] == pytest.approx(10)


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 12)], 0, 10) == pytest.approx(4 + 3)
    assert covered([], 0, 10) == 0


@pytest.fixture
def fake_package():
    mod = types.ModuleType("fakepkg.mod")
    exec(
        "def inner(x):\n    return x + 1\n"
        "def outer(x):\n    return inner(x) * 2\n"
        "def _private(x):\n    return x\n",
        mod.__dict__,
    )
    user = types.ModuleType("fakepkg.user")
    user.outer = mod.outer  # a ``from fakepkg.mod import outer`` binding
    names = {"fakepkg": types.ModuleType("fakepkg"), "fakepkg.mod": mod, "fakepkg.user": user}
    sys.modules.update(names)
    yield mod, user
    for n in names:
        sys.modules.pop(n, None)


def test_tracer_wraps_by_identity_and_restores(fake_package):
    mod, user = fake_package
    orig = mod.outer
    tracer = Tracer()
    tracer.install("fakepkg", also=())
    try:
        assert user.outer is mod.outer and user.outer is not orig
        assert mod._private.__name__ == "_private" and not hasattr(mod._private, "__wrapped__")
        with tracer.span("pass", "pass"):
            assert user.outer(1) == 4
    finally:
        tracer.uninstall()
    assert mod.outer is orig and user.outer is orig
    names = {s.name: s for s in tracer.spans}
    assert names["mod.outer"].parent == names["pass"].id
    assert names["mod.inner"].parent == names["mod.outer"].id
    assert names["mod.inner"].layer == "mod"


def test_tracer_propagates_span_to_pool_threads(fake_package):
    mod, _ = fake_package
    marks: list[tuple[int, str | None]] = []
    lock = threading.Lock()

    def set_property(key, value):
        assert key == SPAN_KEY
        with lock:
            marks.append((threading.get_ident(), value))

    tracer = Tracer(set_property)
    tracer.install("fakepkg", also=())
    try:
        with tracer.span("pass", "pass") as root:
            with ThreadPoolExecutor(max_workers=2) as pool:
                results = [f.result() for f in [pool.submit(mod.outer, i) for i in range(4)]]
    finally:
        tracer.uninstall()
    assert results == [2, 4, 6, 8]
    outer = [s for s in tracer.spans if s.name == "mod.outer"]
    assert len(outer) == 4
    assert all(s.parent == root.id and s.thread != root.thread for s in outer)
    # worker threads were tagged with their span while it ran, and
    # cleared when the submitted task finished
    worker_marks = [m for m in marks if m[0] != root.thread]
    assert (outer[0].thread, str(outer[0].id)) in worker_marks
    assert worker_marks[-1][1] is None
    assert ThreadPoolExecutor.submit.__name__ == "submit"

"""Tests of the benchmark's own arithmetic on canned inputs; no Spark.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402
import stats  # noqa: E402


def _batch(end: dict, end_ms: float) -> dict:
    return {"end": end, "end_ms": end_ms}


def test_emit_latency_from_batch_offsets_and_schedule():
    # Partition "0" holds offsets 0..4 scheduled at 100..140 ms; batch 0
    # reads [0, 2) and ends at 1000 ms, batch 1 reads [2, 4) and ends at
    # 2500 ms; offset 4 is read by no batch.
    batches = [_batch({"0": 2, "1": 1}, 1000.0), _batch({"0": 4, "1": 3}, 2500.0)]
    sched = {"0": [100, 110, 120, 130, 140], "1": [105, 115, 125]}
    lat, missing = stats.emit_latencies_ms(batches, sched, (0, 10_000))
    assert sorted(lat) == sorted([900, 890, 2380, 2370, 895, 2385, 2375])
    assert missing == 1


def test_emit_latency_counts_only_the_measured_window():
    batches = [_batch({"0": 3}, 1000.0)]
    lat, missing = stats.emit_latencies_ms(batches, {"0": [100, 200, 300]}, (150, 300))
    assert lat == [800.0] and missing == 0


def test_batch_of_offsets_assigns_each_offset_to_the_first_covering_batch():
    batches = [_batch({"0": 0}, 1), _batch({"0": 3}, 2), _batch({"0": 3}, 3), _batch({"0": 5}, 4)]
    assert stats.batch_of_offsets(batches, "0", 6) == [1, 1, 1, 3, 3, -1]


def test_backlog_from_generator_timeline_and_batch_end_offsets():
    written = [(100.0, 10), (200.0, 30), (300.0, 60)]
    batches = [
        _batch({"0": 5, "1": 5}, 150.0),  # 10 written, 10 read
        _batch({"0": 10, "1": 8}, 250.0),  # 30 written, 18 read
        _batch({"0": 20, "1": 20}, 50.0),  # nothing written yet
    ]
    assert stats.backlog_events(written, batches) == [0, 12, 0]


@pytest.mark.parametrize(
    "n, want",
    [
        (5, 50),  # too few for any tail: the median
        (39, 50),  # p75 has 9 beyond
        (40, 75),  # p75 has exactly 10 beyond
        (100, 90),
        (999, 90),  # p99 has 9 beyond
        (1000, 99),
    ],
)
def test_tail_needs_ten_samples_beyond_the_percentile(n, want):
    p, value = stats.tail(list(range(n)))
    assert p == want
    assert stats.beyond(n, p) >= 10 or p == 50
    if p != 50:
        assert value == stats.percentile(list(range(n)), p)


def test_percentile_is_nearest_rank():
    vals = [5, 1, 4, 2, 3]
    assert stats.percentile(vals, 50) == 3
    assert stats.percentile(vals, 99) == 5
    assert stats.percentile(vals, 1) == 1
    assert stats.beyond(100, 99) == 1


def _task(stage, run_ms, accums, cpu_ns=0, gc=0, shuffle=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Info": {"Accumulables": [{"ID": a, "Update": str(u)} for a, u in accums]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": gc,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
        },
    }


def _node(name, desc, metrics=(), children=()):
    return {
        "nodeName": name, "simpleString": desc,
        "metrics": [{"name": n, "accumulatorId": a} for n, a in metrics],
        "children": list(children),
    }


def _canned_log() -> list[str]:
    prefix_join = _node(
        "BroadcastHashJoin",
        "BroadcastHashJoin [s#7], [s#29], Inner, BuildRight, (doc_id#0L < doc_id#24L), false",
        [("number of output rows", 11)],
    )
    other_join = _node("BroadcastHashJoin", "BroadcastHashJoin [s#7], [s#18], Inner, BuildRight, false",
                       [("number of output rows", 12)])
    verify = _node(
        "WholeStageCodegen (3)", "WholeStageCodegen (3)", [("duration", 21)],
        [_node("Project", "Project [size(array_intersect(sh_a#1, sh_b#2), false)]", [],
               [_node("InputAdapter", "InputAdapter", [], [prefix_join])])],
    )
    plan = _node("AdaptiveSparkPlan", "AdaptiveSparkPlan", [],
                 [verify, _node("InMemoryTableScan", "scan", [], [prefix_join]), other_join])
    ev = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 7, "time": 1000, "sparkPlanInfo": _node("Scan", "initial")},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1100, "Stage IDs": [0, 1]},
        _task(0, 100, [(11, 40), (12, 5)], cpu_ns=2_000_000, gc=3, shuffle=2**20),
        _task(0, 300, [(11, 60)], cpu_ns=1_000_000, spill=2**19),
        _task(1, 500, [(21, 9)], gc=7),
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 7, "sparkPlanInfo": plan},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 7, "accumUpdates": [[12, 1]]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 9000, "Stage IDs": [2]},
        _task(2, 1000, []),
    ]
    return [json.dumps(e) for e in ev]


def test_event_log_fold_stages_and_jobs():
    f = eventlog.fold_lines(_canned_log())
    assert f.jobs_between(1000, 2000) == [0]
    stages = {s.stage_id: s for s in f.stages_of_jobs([0])}
    assert sorted(stages) == [0, 1]
    assert stages[0].n_tasks == 2 and stages[0].run_ms == 400
    assert stages[0].cpu_ns == 3_000_000 and stages[0].gc_ms == 3
    assert stages[0].shuffle_write_bytes == 2**20 and stages[0].spill_bytes == 2**19
    assert stages[1].gc_ms == 7
    assert f.executions_between(0, 5000) == [7]


def test_event_log_fold_uses_the_final_plan_and_counts_each_accumulator_once():
    f = eventlog.fold_lines(_canned_log())
    assert f.accum_values[12] == 6  # task update plus driver update
    rows, verify = eventlog.ppjoin_counts(f, [7])
    # The prefix join appears twice in the plan (under a cached scan too);
    # its 40 + 60 output rows count once.
    assert rows == 100
    assert 21 in verify and 11 not in verify
    verify_stages = [s.stage_id for s in f.stages_of_jobs([0]) if s.accums & verify]
    assert verify_stages == [1]

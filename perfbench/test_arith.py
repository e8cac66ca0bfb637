"""Self-tests of the benchmark's own arithmetic (pure Python, no Spark).

    python3 -m pytest perfbench/test_arith.py -q
"""

from __future__ import annotations

import pytest

import arith


def test_tail_percentile_leaves_exactly_ten_beyond():
    samples = list(range(1, 101))  # 1..100, shuffled order must not matter
    value, pct, n = arith.tail_percentile(reversed(samples))
    assert (value, pct, n) == (90, 90.0, 100)
    assert sum(s > value for s in samples) == 10


def test_tail_percentile_needs_more_than_ten_samples():
    assert arith.tail_percentile(range(10)) is None
    value, pct, n = arith.tail_percentile(range(11))
    assert (value, n) == (0, 11)
    assert pct == pytest.approx(100 / 11)


def test_tail_value_falls_back_to_the_slowest_sample():
    # 8 commits (one compaction period): no percentile has ten beyond it
    assert arith.tail_value([1.0, 1.2, 4.5, 1.1, 0.9, 1.0, 1.3, 1.1]) == (4.5, 100.0, 8)
    # 20 samples: the ten-beyond percentile is the 50th, below the floor
    assert arith.tail_value(range(20)) == (19, 100.0, 20)
    # 200 samples: the 95th percentile has ten beyond it and is reported
    assert arith.tail_value(range(200)) == (189, 95.0, 200)


def test_failed_ratio():
    assert arith.failed_ratio(0, 31) == 0.0
    assert arith.failed_ratio(3, 12) == 0.25
    with pytest.raises(ValueError):
        arith.failed_ratio(0, 0)
    with pytest.raises(ValueError):
        arith.failed_ratio(5, 4)


def test_self_time_subtracts_the_union_of_overlapping_children():
    span = {"start": 0.0, "end": 10.0}
    children = [
        {"start": 1.0, "end": 4.0},
        {"start": 3.0, "end": 5.0},  # overlaps the first: union is 1..5
        {"start": 9.0, "end": 12.0},  # runs past the parent: clipped to 9..10
        {"start": 6.0, "end": 6.0},  # empty
    ]
    assert arith.self_time(span, children) == pytest.approx(10.0 - 4.0 - 1.0)
    assert arith.self_time(span, []) == 10.0


def test_descendants_follow_parent_ids():
    spans = [
        {"id": 1, "parent": None},
        {"id": 2, "parent": 1},
        {"id": 3, "parent": 2},
        {"id": 4, "parent": None},
    ]
    kids = arith.children_of(spans)
    assert sorted(arith.descendants(1, kids)) == [1, 2, 3]
    assert arith.descendants(4, kids) == [4]


def _task(stage, launch, run_ms, shuffle=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def test_stages_are_charged_to_the_job_group_that_launched_them():
    group = {"spark.jobGroup.id": "span-7"}
    events = [
        {"Event": "SparkListenerJobStart", "Properties": group, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0, "Submission Time": 1000}, "Properties": group},
        _task(0, 1000, 200, shuffle=100),
        _task(0, 1500, 800, shuffle=50, spill=10),  # waited 0.5 s for a slot
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1, "Submission Time": 3000}},
        _task(1, 3000, 100),
        {"Event": "SparkListenerJobStart", "Properties": {}, "Stage IDs": [2]},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2, "Submission Time": 5000}},
        _task(2, 5000, 100, shuffle=999),
        {"Event": "SparkListenerApplicationEnd"},
    ]
    per = arith.attribute_stages(events)
    g = per["span-7"]
    assert (g["jobs"], g["stages"], g["tasks"]) == (1, 2, 3)
    assert (g["shuffle_bytes"], g["spill_bytes"]) == (150, 10)
    assert g["slot_wait_s"] == pytest.approx(0.5)
    assert sorted(map(sorted, g["stage_run_s"])) == [[0.1], [0.2, 0.8]]
    assert per[None]["shuffle_bytes"] == 999  # a job outside any span


def test_task_skew_reads_the_heaviest_stage():
    assert arith.task_skew([[0.1, 0.1], [1.0, 1.0, 4.0]]) == 4.0
    assert arith.task_skew([]) == 0.0

"""Event-log parser and span arithmetic on a tiny hand-written event log.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE)]

from eventlog import event_files, group_stats, read_events, span_stats, union_length  # noqa: E402
from spans import Tracer, add_self_times  # noqa: E402


def task(stage, run_ms, cpu_ns, gc_ms, read=(0, 0), written=0, spill=(0, 0)):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill[0],
            "Disk Bytes Spilled": spill[1],
            "Shuffle Read Metrics": {"Remote Bytes Read": read[0], "Local Bytes Read": read[1]},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
        },
    }


def stage(kind, sid, start_ms, end_ms=None):
    info = {"Stage ID": sid, "Stage Attempt ID": 0, "Submission Time": start_ms}
    if end_ms is not None:
        info["Completion Time"] = end_ms
    return {"Event": kind, "Stage Info": info}


# Group "s1": job 0 runs stage 0 and skips stage 1 (never submitted); job 1
# runs stage 2. Job 2 has no group. Times are epoch milliseconds.
EVENTS = [
    {"Event": "SparkListenerApplicationStart", "App Name": "t"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
     "Properties": {"spark.jobGroup.id": "s1"}},
    stage("SparkListenerStageSubmitted", 0, 1000),
    task(0, 300, 200_000_000, 10, read=(5, 7), written=11),
    task(0, 100, 50_000_000, 0, spill=(3, 4)),
    stage("SparkListenerStageCompleted", 0, 1000, 1500),
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
     "Properties": {"spark.jobGroup.id": "s1"}},
    stage("SparkListenerStageSubmitted", 2, 1400),
    task(2, 50, 1_000_000, 0, written=100),
    stage("SparkListenerStageCompleted", 2, 1400, 2000),
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
    stage("SparkListenerStageSubmitted", 3, 2500),
    task(3, 20, 1_000, 0),
    stage("SparkListenerStageCompleted", 3, 2500, 2600),
]


def write_log(tmp_path, events, parts=2):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "appstatus_local-1").write_text("")
    chunk = -(-len(events) // parts)
    for i in range(parts):
        lines = [json.dumps(e) for e in events[i * chunk:(i + 1) * chunk]]
        (d / f"events_{i + 1}_local-1").write_text("\n".join(lines) + "\n")
    return str(tmp_path)


def test_event_files_in_roll_order(tmp_path):
    root = write_log(tmp_path, EVENTS, parts=3)
    names = [os.path.basename(p) for p in event_files(root)]
    assert names == ["events_1_local-1", "events_2_local-1", "events_3_local-1"]
    assert len(list(read_events(event_files(root)))) == len(EVENTS)


def test_group_stats_counts_and_bytes(tmp_path):
    g = group_stats(read_events(event_files(write_log(tmp_path, EVENTS))))
    s1 = g["s1"]
    assert (s1["jobs"], s1["stages"], s1["tasks"]) == (2, 2, 3)  # stage 1 skipped
    assert s1["shuffle_read_bytes"] == 12
    assert s1["shuffle_write_bytes"] == 111
    assert s1["spill_bytes"] == 7
    assert abs(s1["executor_run_s"] - 0.45) < 1e-12
    assert abs(s1["executor_cpu_s"] - 0.251) < 1e-12
    assert abs(s1["gc_s"] - 0.01) < 1e-12
    assert s1["stage_intervals"] == [(1.0, 1.5), (1.4, 2.0)]
    assert (g[""]["jobs"], g[""]["tasks"]) == (1, 1)


def test_union_length_merges_and_clips():
    assert union_length([(1.0, 1.5), (1.4, 2.0), (3.0, 4.0)], 0.0, 10.0) == 2.0
    assert abs(union_length([(1.0, 1.5), (1.4, 2.0)], 1.2, 1.8) - 0.6) < 1e-12
    assert union_length([], 0.0, 1.0) == 0.0


def test_span_stats_include_children_and_driver_gap(tmp_path):
    groups = group_stats(read_events(event_files(write_log(tmp_path, EVENTS))))
    groups["s2"] = groups.pop("")  # the ungrouped job becomes a child span's
    spans = [
        {"id": "s1", "name": "op", "parent": None, "start": 0.5, "end": 3.0},
        {"id": "s2", "name": "child", "parent": "s1", "start": 2.4, "end": 2.7},
    ]
    span_stats(spans, groups)
    parent, child = spans
    assert parent["spark"]["jobs"] == 3 and child["spark"]["jobs"] == 1
    # stages cover [1.0, 2.0] and [2.5, 2.6] of the parent's 2.5 s
    assert abs(parent["spark"]["driver_gap_s"] - 1.4) < 1e-9
    assert abs(child["spark"]["driver_gap_s"] - 0.2) < 1e-9


def test_tracer_nesting_and_self_time():
    t = Tracer()
    with t.span("outer") as outer:
        with t.span("inner") as inner:
            pass
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    outer["start"], outer["end"], inner["start"], inner["end"] = 0.0, 1.0, 0.25, 0.5
    add_self_times(t.spans)
    assert outer["wall_s"] == 1.0 and outer["self_s"] == 0.75 and inner["self_s"] == 0.25

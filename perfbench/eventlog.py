"""Spark event log → per-span records.

A traced run turns on Spark's uncompressed JSON event log and tags every
call into the library with a Spark job group named after the benchmark's
span id. This module reads the log back and sums, per job group:

- ``jobs``, ``stages`` (submitted, so skipped stages are not counted),
  ``tasks``;
- ``shuffle_read_bytes``, ``shuffle_write_bytes``, ``spill_bytes``
  (memory + disk);
- ``executor_run_s``, ``executor_cpu_s``, ``gc_s`` (summed over tasks);
- ``stage_intervals``: the [submitted, completed] interval of each stage,
  in epoch seconds, from which :func:`span_stats` derives ``driver_gap_s``.

Only four event kinds are read: ``SparkListenerJobStart`` (job group from
``Properties["spark.jobGroup.id"]``), ``SparkListenerStageSubmitted``,
``SparkListenerStageCompleted`` and ``SparkListenerTaskEnd``.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

GROUP_KEY = "spark.jobGroup.id"
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
)


def event_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir`` in write order.

    Spark 4 writes ``eventlog_v2_<app>/events_<n>_<app>`` (rolling); a
    single-file log is a plain file named after the application."""
    found = []
    for dirpath, _dirs, files in os.walk(log_dir):
        for name in files:
            if name.startswith(".") or name.endswith(".crc") or name.startswith("appstatus"):
                continue
            if name.startswith("events_"):
                key = (dirpath, int(name.split("_")[1]))
            else:
                key = (dirpath, 0)
            found.append((key, os.path.join(dirpath, name)))
    return [path for _key, path in sorted(found)]


def read_events(paths: list[str]):
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def group_stats(events) -> dict[str, dict]:
    """Job group → summed counters plus the stage intervals of its stages.

    Jobs without a group are collected under the key ``""``."""
    stage_group: dict[int, str] = {}
    stats: dict[str, dict] = defaultdict(_empty)
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get(GROUP_KEY) or ""
            stats[group]["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            stats[stage_group.get(e["Stage Info"]["Stage ID"], "")]["stages"] += 1
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            start, end = info.get("Submission Time"), info.get("Completion Time")
            if start is not None and end is not None:
                group = stage_group.get(info["Stage ID"], "")
                stats[group]["stage_intervals"].append((start / 1000.0, end / 1000.0))
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(e["Stage ID"], "")
            m = e.get("Task Metrics") or {}
            s = stats[group]
            s["tasks"] += 1
            read = m.get("Shuffle Read Metrics") or {}
            s["shuffle_read_bytes"] += read.get("Remote Bytes Read", 0) + read.get(
                "Local Bytes Read", 0
            )
            s["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            s["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            s["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            s["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    return dict(stats)


def _empty() -> dict:
    d = {k: 0 for k in COUNTERS}
    d["stage_intervals"] = []
    return d


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def span_stats(spans: list[dict], groups: dict[str, dict]) -> None:
    """Attach event-log counters to each span, in place.

    A span's counters cover its own job group and those of all its
    descendants; ``driver_gap_s`` is its wall time minus the union of the
    stage-active intervals inside it, i.e. the time no stage of the span
    was running (driver planning, scheduling, Python-side work)."""
    children: dict[str | None, list[dict]] = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)

    def subtree(s: dict) -> list[str]:
        ids = [s["id"]]
        for c in children[s["id"]]:
            ids.extend(subtree(c))
        return ids

    for s in spans:
        ids = subtree(s)
        out = {k: 0 for k in COUNTERS}
        intervals = []
        for sid in ids:
            g = groups.get(sid)
            if g is None:
                continue
            for k in COUNTERS:
                out[k] += g[k]
            intervals.extend(g["stage_intervals"])
        wall = s["end"] - s["start"]
        out["driver_gap_s"] = max(0.0, wall - union_length(intervals, s["start"], s["end"]))
        s["spark"] = out

"""Spark event-log parser: per-job-group totals from a local event log.

Reads the JSON-lines log that ``spark.eventLog.enabled`` writes and sums,
per job group (the ``spark.jobGroup.id`` property a job was submitted
under), the job, stage and task counts and the ``SparkListenerTaskEnd``
task metrics: executor run and CPU time, JVM GC time, shuffle bytes read
and written, and bytes spilled to disk; and the largest JVM heap use any
task's executor metrics report (zero unless executor metrics are polled).
"""

from __future__ import annotations

import json
from collections.abc import Iterable
from dataclasses import dataclass


@dataclass
class GroupTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    jvm_heap_peak_bytes: int = 0  # a maximum, not a sum


def parse(lines: Iterable[str]) -> dict[str, GroupTotals]:
    """Totals per job group; jobs submitted outside any group fall under ``""``.

    Stages count once each when they complete; skipped stages (a job reusing
    an earlier shuffle) never complete and are not counted. Tasks count every
    ``SparkListenerTaskEnd``, retries included.
    """
    totals: dict[str, GroupTotals] = {}
    group_of_stage: dict[int, str] = {}
    for line in lines:
        event = json.loads(line)
        kind = event.get("Event")
        if kind == "SparkListenerJobStart":
            group = (event.get("Properties") or {}).get("spark.jobGroup.id") or ""
            totals.setdefault(group, GroupTotals()).jobs += 1
            for stage_id in event["Stage IDs"]:
                group_of_stage[stage_id] = group
        elif kind == "SparkListenerStageCompleted":
            group = group_of_stage.get(event["Stage Info"]["Stage ID"], "")
            totals.setdefault(group, GroupTotals()).stages += 1
        elif kind == "SparkListenerTaskEnd":
            t = totals.setdefault(group_of_stage.get(event["Stage ID"], ""), GroupTotals())
            t.tasks += 1
            peak = (event.get("Task Executor Metrics") or {}).get("JVMHeapMemory", 0)
            t.jvm_heap_peak_bytes = max(t.jvm_heap_peak_bytes, peak)
            m = event.get("Task Metrics")
            if not m:  # a task that failed before reporting metrics
                continue
            t.executor_run_s += m["Executor Run Time"] / 1e3
            t.executor_cpu_s += m["Executor CPU Time"] / 1e9
            t.gc_s += m["JVM GC Time"] / 1e3
            read = m["Shuffle Read Metrics"]
            t.shuffle_read_bytes += read["Remote Bytes Read"] + read["Local Bytes Read"]
            t.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            t.spill_bytes += m["Disk Bytes Spilled"]
    return totals


def parse_file(path) -> dict[str, GroupTotals]:
    with open(path, encoding="utf-8") as f:
        return parse(f)


def combine(groups: Iterable[GroupTotals]) -> GroupTotals:
    """Totals over several groups: counts and times add, the heap peak is the largest."""
    out = GroupTotals()
    for g in groups:
        for f, v in vars(g).items():
            setattr(out, f, max(getattr(out, f), v) if f == "jvm_heap_peak_bytes" else getattr(out, f) + v)
    return out

"""The event-log parser, pinned on a fragment of a real Spark 4 event log."""

import json
from pathlib import Path

import pytest

import eventlog

FRAGMENT = Path(__file__).resolve().parent / "data" / "eventlog_fragment.jsonl"
GROUP = "1|pagerank_customer_supplier|queries.build"


def test_totals_per_job_group():
    totals = eventlog.parse_file(FRAGMENT)
    assert set(totals) == {"", GROUP}
    ungrouped, build = totals[""], totals[GROUP]
    assert (ungrouped.jobs, ungrouped.stages, ungrouped.tasks) == (1, 1, 1)
    assert ungrouped.executor_run_s == pytest.approx(0.403)
    assert ungrouped.executor_cpu_s == pytest.approx(0.038334987)
    assert ungrouped.gc_s == pytest.approx(0.013)
    # the job's first stage was skipped (its shuffle was reused): not counted
    assert (build.jobs, build.stages, build.tasks) == (1, 1, 1)
    assert build.shuffle_read_bytes == 62307
    assert (build.shuffle_write_bytes, build.spill_bytes) == (0, 0)


def test_failed_task_counts_without_metrics():
    lines = FRAGMENT.read_text().splitlines()
    lines.append(json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": 201, "Stage Attempt ID": 0,
        "Task End Reason": {"Reason": "ExceptionFailure"},
    }))
    build = eventlog.parse(lines)[GROUP]
    assert build.tasks == 2
    assert build.executor_run_s == pytest.approx(0.065)


def test_heap_peak_is_the_largest_task_report_and_combines_as_a_max():
    lines = FRAGMENT.read_text().splitlines()
    for heap in (300 * 2**20, 200 * 2**20):
        lines.append(json.dumps({
            "Event": "SparkListenerTaskEnd", "Stage ID": 201, "Stage Attempt ID": 0,
            "Task Executor Metrics": {"JVMHeapMemory": heap},
        }))
    totals = eventlog.parse(lines)
    assert totals[GROUP].jvm_heap_peak_bytes == 300 * 2**20
    assert totals[""].jvm_heap_peak_bytes == 0  # the fragment was logged without polling
    both = eventlog.combine(totals.values())
    assert both.jvm_heap_peak_bytes == 300 * 2**20
    assert (both.jobs, both.tasks) == (2, 4)

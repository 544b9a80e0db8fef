"""Tests for the benchmark's event-log parser and span summaries.

Run with ``python3 -m pytest perfbench``; no Spark session is needed.
testdata/eventlog_small.jsonl is a recorded local[2] event log, pruned
to the fields the parser reads: a mapInPandas job described
"iso.parse", a job described "sinks.write" and an undescribed
two-stage count.
"""

from __future__ import annotations

import os

import pytest

import eventlog
import spans

LOG = os.path.join(os.path.dirname(__file__), "testdata", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def log():
    return eventlog.parse_file(LOG)


def test_jobs_keep_their_descriptions(log):
    assert [j.description for j in log.jobs.values()] == [
        "iso.parse", "sinks.write", None, None,
    ]
    assert log.jobs[3].stage_ids == [3, 4]
    assert all(j.end_s >= j.submit_s for j in log.jobs.values())


def test_python_worker_times_come_from_stage_accumulables(log):
    parse = log.stage_totals([log.jobs[0]])
    assert parse["tasks"] == 2 and parse["stages"] == 1
    assert parse["python_start_s"] == pytest.approx(1.915)
    assert parse["python_init_s"] == pytest.approx(0.559)
    assert parse["python_run_s"] == pytest.approx(2.998)
    assert parse["executor_run_s"] == pytest.approx(3.72)
    # a JVM-only job has no Python worker time
    assert log.stage_totals([log.jobs[1]])["python_run_s"] == 0


def test_shuffle_bytes_and_skipped_stages(log):
    count = log.stage_totals([log.jobs[2], log.jobs[3]])
    assert count["shuffle_write_bytes"] == 118
    assert count["shuffle_read_bytes"] == 118
    # stage 3 of job 3 reused job 2's shuffle: never completed, not counted
    assert count["stages"] == 2


def test_busy_intervals_merge_and_clip(log):
    t0 = log.jobs[0].submit_s
    t1 = log.jobs[3].end_s
    busy = log.busy_intervals(t0, t1)
    assert busy[0] == (t0, log.jobs[0].end_s)
    assert len(busy) == 4  # the four jobs never overlap
    assert sum(b - a for a, b in busy) < t1 - t0
    assert len(log.tasks) == 7
    assert 0 < log.task_seconds(t0, t1) <= 2 * (t1 - t0)


def test_python_field_names():
    assert eventlog._python_field("time to run Python workers") == (
        "python_run_s"
    )
    assert eventlog._python_field("time to initialize Python workers") == (
        "python_init_s"
    )
    assert eventlog._python_field("data sent to Python workers") is None


def test_self_time_subtracts_direct_children():
    # restore [0, 10] > write [1, 5] > save [2, 3]; restore > save [6, 7]
    rows = [
        ["restore", 0.0, 10.0, -1, 0, None],
        ["sinks.write", 1.0, 5.0, 0, 0, None],
        ["checkpoints.save", 2.0, 3.0, 1, 0, 100],
        ["checkpoints.save", 6.0, 7.0, 0, 0, 300],
    ]
    s = spans.summarize(rows)[0]
    assert s["restore"]["self_s"] == pytest.approx(5.0)
    assert s["sinks.write"]["self_s"] == pytest.approx(3.0)
    assert s["checkpoints.save"] == {
        "calls": 2, "total_s": 2.0, "self_s": 2.0, "values": [100, 300],
    }

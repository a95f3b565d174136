"""Event-log fold on canned events; no JVM needed."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

import pytest  # noqa: E402

from perfbench import eventlog  # noqa: E402

MB = 1024 * 1024
SQL_UI = "org.apache.spark.sql.execution.ui"


def _task(stage, run_ms, gc=0, shuffle_write=0, shuffle_read=0, fetch_wait=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 1_000_000,
            "JVM GC Time": gc,
            "Disk Bytes Spilled": spill,
            "Shuffle Read Metrics": {
                "Remote Bytes Read": 0,
                "Local Bytes Read": shuffle_read,
                "Fetch Wait Time": fetch_wait,
            },
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
        },
    }


EVENTS = [
    {"Event": f"{SQL_UI}.SparkListenerSQLExecutionStart", "executionId": 0, "time": 1000},
    {
        "Event": "SparkListenerJobStart",
        "Job ID": 0,
        "Submission Time": 1250,
        "Stage IDs": [0, 1],
        "Properties": {"spark.sql.execution.id": "0", "spark.jobGroup.id": "q|exec"},
    },
    _task(0, 400, gc=10, shuffle_write=2 * MB),
    _task(1, 100, shuffle_read=2 * MB, fetch_wait=5),
    _task(1, 100, shuffle_read=0, spill=MB),
    {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {
            "Stage ID": 0,
            "Accumulables": [
                {"Name": "scan time", "Value": "300"},
                {"Name": "time to run Python workers", "Value": "50"},
            ],
        },
    },
    # Outside every window: must not count.
    {"Event": f"{SQL_UI}.SparkListenerSQLExecutionStart", "executionId": 1, "time": 9000},
    {
        "Event": "SparkListenerJobStart",
        "Job ID": 1,
        "Submission Time": 9100,
        "Stage IDs": [2],
        "Properties": {"spark.sql.execution.id": "1"},
    },
    _task(2, 5000),
    {
        "Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
        "progress": {
            "batchId": 0,
            "timestamp": "1970-01-01T00:00:01.500Z",
            "durationMs": {
                "addBatch": 40,
                "queryPlanning": 9,
                "walCommit": 3,
                "commitOffsets": 2,
                "latestOffset": 1,
            },
            "stateOperators": [{"commitTimeMs": 7, "numRowsTotal": 12, "memoryUsedBytes": MB}],
            "sources": [{"numInputRows": 0}],
        },
    },
]


def test_fold_counts_only_jobs_inside_windows():
    out = eventlog.fold(EVENTS, [(900, 2000)])
    assert out["spark.executor_run_s"] == pytest.approx(0.6)
    assert out["spark.executor_cpu_s"] == pytest.approx(0.6)
    assert out["spark.gc_s"] == pytest.approx(0.01)
    assert out["spark.shuffle_write_mb"] == pytest.approx(2.0)
    assert out["spark.shuffle_read_mb"] == pytest.approx(2.0)
    assert out["spark.fetch_wait_s"] == pytest.approx(0.005)
    assert out["spark.spill_mb"] == pytest.approx(1.0)
    assert out["spark.scan_time_s"] == pytest.approx(0.3)
    assert out["spark.python_worker_s"] == pytest.approx(0.05)
    assert out["spark.driver_plan_s"] == pytest.approx(0.25)
    # Longest task per stage: 400 + 100 of 600 ms.
    assert out["spark.max_task_share"] == pytest.approx(500 / 600)


def test_fold_reads_stream_progress_and_state():
    out = eventlog.fold(EVENTS, [(900, 2000)])
    assert out["stream.batches"] == 1.0
    assert out["stream.empty_batch_ratio"] == 1.0
    assert out["stream.add_batch_ms"] == 40
    assert out["state.commit_ms"] == 7
    assert out["state.rows_total"] == 12.0
    assert out["state.memory_mb"] == pytest.approx(1.0)
    assert "stream.batches" not in eventlog.fold(EVENTS, [(5000, 6000)])

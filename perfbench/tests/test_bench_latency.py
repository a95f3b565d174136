"""Latency, sustainability and recovery checks on canned progress records;
no JVM needed."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

import pytest  # noqa: E402

from perfbench import latency as L  # noqa: E402

CREATION_MS = 1_700_000_000_250.0  # rate source start: 250 ms past a second


def _iso(ms: float) -> str:
    import datetime

    t = datetime.datetime.fromtimestamp(ms / 1000, tz=datetime.timezone.utc)
    return t.isoformat(timespec="milliseconds").replace("+00:00", "Z")


def _record(batch_id, trigger, rows, took, end_s):
    return {
        "batchId": batch_id,
        "timestamp": _iso(trigger),
        "numInputRows": rows,
        "durationMs": {
            "triggerExecution": took,
            "addBatch": took - 100,
            "queryPlanning": 20,
            "walCommit": 40,
            "commitOffsets": 30,
            "latestOffset": 1,
        },
        "sources": [{"startOffset": end_s - 1, "endOffset": end_s, "numInputRows": rows}],
    }


def _steady(n=6, took=400, start_batch=2):
    grid = 1_700_000_002_000.0  # triggers land on whole seconds
    return [
        _record(start_batch + i, grid + i * 1000, 10_000, took, 2 + i) for i in range(n)
    ]


def test_trigger_ms_parses_iso_utc():
    assert L.trigger_ms({"timestamp": "2023-11-14T22:13:22.000Z"}) == 1_700_000_002_000.0


def test_latency_runs_from_trigger_time_not_event_creation():
    window = _steady()
    emit = {r["batchId"]: L.trigger_ms(r) + 350.0 + r["batchId"] for r in window}
    phase = L.open_loop_phase(window, emit, CREATION_MS, 1000)
    assert phase["latency_ms"] == [352.0, 353.0, 354.0, 355.0, 356.0, 357.0]
    # The source's seconds start 250 ms past the trigger grid: 750 ms of
    # offset, recorded but not part of the latency.
    assert phase["phase_offset_ms"] == pytest.approx(750.0)
    assert phase["sustainable"] and phase["overruns"] == 0


def test_overrun_marks_phase_unsustainable():
    window = _steady()
    window[3]["durationMs"]["triggerExecution"] = 1200
    emit = {r["batchId"]: L.trigger_ms(r) + 300 for r in window}
    phase = L.open_loop_phase(window, emit, CREATION_MS, 1000)
    assert phase["overruns"] == 1 and not phase["sustainable"]


def test_growing_backlog_marks_phase_unsustainable():
    # Each batch reads one second of input but finishes later than the last:
    # unread input piles up even though no single batch overruns.
    window = _steady(took=900)
    for i, r in enumerate(window):
        r["sources"][0]["endOffset"] = 2 + i - (i // 2)
    emit = {r["batchId"]: L.trigger_ms(r) + 800 for r in window}
    phase = L.open_loop_phase(window, emit, CREATION_MS, 1000)
    assert phase["backlog_grows"] and not phase["sustainable"]


def test_steady_window_skips_start_up_batches():
    start = [
        _record(0, 1_700_000_000_000.0, 0, 300, 0),
        _record(1, 1_700_000_001_000.0, 30_000, 900, 1),
    ]
    records = start + _steady(n=6)
    window = L.steady_window(records, 10_000, skip=1, n=4)
    assert [r["batchId"] for r in window] == [3, 4, 5, 6]
    assert L.steady_window(records, 10_000, skip=1, n=9)[-1]["batchId"] == 7


def test_percentile_interpolates():
    vals = [10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0, 80.0, 90.0, 100.0]
    assert L.percentile(vals, 50) == 55.0
    assert L.percentile(vals, 90) == pytest.approx(91.0)
    assert L.percentile([5.0], 90) == 5.0


def test_events_must_equal_input_rows():
    window = _steady(n=3)
    rows = {r["batchId"]: r["numInputRows"] for r in window}
    assert L.events_match_input(rows, window) == []
    rows[3] -= 1
    assert L.events_match_input(rows, window) == [3]
    empty = [_record(9, 1_700_000_009_000.0, 0, 50, 9)]
    assert L.events_match_input({}, empty) == []


def test_batch_ids_resume_exactly_once():
    assert L.resumes_once([5, 6, 7], [8, 9], last_committed=7)
    assert not L.resumes_once([5, 6, 7], [7, 8], last_committed=7)  # replayed
    assert not L.resumes_once([5, 6, 7], [9], last_committed=7)  # skipped
    assert not L.resumes_once([5, 6, 7], [], last_committed=7)


def test_input_rows_from_event_log_form():
    rec = _record(1, 1_700_000_001_000.0, 7, 10, 1)
    del rec["numInputRows"]
    assert L.input_rows(rec) == 7

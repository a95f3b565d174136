"""Pure functions over micro-batch progress records (no JVM needed).

A progress record is the JSON form of ``StreamingQueryProgress``: a dict
with ``batchId``, ``timestamp`` (ISO-8601 trigger time), ``numInputRows``,
``durationMs`` and ``sources``.  Emission times are epoch milliseconds taken
when the benchmark's foreachBatch wrapper returns, i.e. when the batch's
metrics row has been emitted by the real ``MetricsCollector``.
"""

from __future__ import annotations

import datetime
import json
import statistics


def as_dict(progress) -> dict:
    """``StreamingQueryProgress`` object or dict -> plain dict."""
    if isinstance(progress, dict):
        return progress
    return json.loads(progress.json)


def trigger_ms(progress: dict) -> float:
    """The batch's trigger time, epoch ms."""
    ts = datetime.datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00"))
    return ts.timestamp() * 1000


def input_rows(progress: dict) -> int:
    """Rows the batch read; the event-log form of a progress record carries
    them only per source."""
    if "numInputRows" in progress:
        return progress["numInputRows"]
    return sum(s["numInputRows"] for s in progress["sources"])


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100] of ``values``."""
    vals = sorted(values)
    if not vals:
        raise ValueError("percentile of no values")
    pos = (len(vals) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


def source_end_s(progress: dict) -> float:
    """End offset of the ``rate`` source, in seconds of generated input."""
    return float(progress["sources"][0]["endOffset"])


def steady_window(records: list[dict], rows_per_batch: int, skip: int, n: int) -> list[dict]:
    """The ``n`` batches that follow ``skip`` further batches after the first
    batch carrying exactly one trigger's worth of input.  Start-up batches
    (empty, or catching up on the source's first seconds) come before it."""
    records = sorted(records, key=lambda r: r["batchId"])
    for i, r in enumerate(records):
        if r["numInputRows"] == rows_per_batch:
            return records[i + skip : i + skip + n]
    return []


def open_loop_phase(
    window: list[dict],
    emit_ms: dict[int, float],
    creation_ms: float,
    trigger_interval_ms: float,
) -> dict:
    """Summarize an open-loop phase over its measured batches.

    - ``latency_ms``: per batch, emission minus trigger time.  Trigger time,
      not event creation: each second of the rate source becomes readable
      only at the next trigger, so event-creation latency would carry the
      0-1 s phase offset between the source's second boundaries and the
      trigger grid.  That offset is reported separately as
      ``phase_offset_ms`` and kept out of the latency.
    - ``backlog_s``: seconds of generated input not yet read when each batch
      finished.  A sustainable rate keeps it flat; growth over the phase, or
      any batch whose trigger execution exceeded the trigger interval
      (``overruns``), marks the phase as unsustainable.
    """
    if not window:
        return {"sustainable": False, "latency_ms": [], "overruns": 0}
    latency = []
    backlog = []
    offsets = []
    overruns = 0
    for r in window:
        t = trigger_ms(r)
        took = r["durationMs"]["triggerExecution"]
        latency.append(emit_ms[r["batchId"]] - t)
        backlog.append((t + took - creation_ms) / 1000 - source_end_s(r))
        offsets.append((t - creation_ms) % 1000)
        overruns += took > trigger_interval_ms
    grows = backlog[-1] - backlog[0] > trigger_interval_ms / 1000
    return {
        "latency_ms": latency,
        "backlog_s": backlog,
        "overruns": overruns,
        "backlog_grows": grows,
        "sustainable": overruns == 0 and not grows,
        "phase_offset_ms": statistics.median(offsets),
    }


def phase_durations(records: list[dict]) -> dict[str, float]:
    """Median of each progress duration phase over ``records``."""
    keys = (
        "addBatch",
        "queryPlanning",
        "walCommit",
        "commitOffsets",
        "latestOffset",
        "triggerExecution",
    )
    out = {}
    for k in keys:
        vals = [r["durationMs"][k] for r in records if k in r.get("durationMs", {})]
        out[k] = statistics.median(vals) if vals else 0.0
    return out


def events_match_input(rows_by_batch: dict[int, int], records: list[dict]) -> list[int]:
    """Batch ids whose emitted ``batch_events`` differ from the progress
    record's ``numInputRows`` (an empty batch emits no row, so it must have
    no input)."""
    bad = []
    for r in records:
        if rows_by_batch.get(r["batchId"], 0) != r["numInputRows"]:
            bad.append(r["batchId"])
    return bad


def resumes_once(first_run_ids, restarted_ids, last_committed: int) -> bool:
    """After a restart on the same checkpoint the first emitted batch is the
    one after the last committed batch, and no batch id is emitted twice."""
    restarted = sorted(restarted_ids)
    return (
        bool(restarted)
        and restarted[0] == last_committed + 1
        and not set(first_run_ids) & set(restarted)
    )

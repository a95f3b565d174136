"""Fold a Spark event log (uncompressed JSON lines) into per-layer numbers.

Only work that started inside the benchmark's timed windows counts: a job
belongs to the run when its submission time falls inside one of the
windows (epoch ms, the same clock the JVM stamps events with).  One client
runs one operation at a time, so time windows also catch jobs that carry
no benchmark job group, such as a stream's micro-batch jobs, which Spark
tags with the query's run id.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

from perfbench import latency as L

MB = 1024 * 1024


def read(event_dir: str) -> list[dict]:
    """Events of the single application log in ``event_dir``."""
    (name,) = [n for n in os.listdir(event_dir) if not n.startswith(".")]
    with open(os.path.join(event_dir, name)) as f:
        return [json.loads(line) for line in f if line.strip()]


def _inside(t: float, windows) -> bool:
    return any(a <= t <= b for a, b in windows)


def _acc(stage_info: dict, name: str) -> float:
    return sum(
        float(a.get("Value") or 0)
        for a in stage_info.get("Accumulables", [])
        if a.get("Name") == name
    )


def fold(events: list[dict], windows) -> dict[str, float]:
    stages_in: set[int] = set()
    first_job_ms: dict[int, float] = {}
    exec_start: dict[int, float] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    stage_info: dict[int, dict] = {}
    progress: list[dict] = []
    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart"):
            exec_start[e["executionId"]] = e["time"]
        elif kind == "SparkListenerJobStart":
            t = e["Submission Time"]
            if _inside(t, windows):
                stages_in.update(e["Stage IDs"])
                x = (e.get("Properties") or {}).get("spark.sql.execution.id")
                if x is not None:
                    first_job_ms.setdefault(int(x), t)
        elif kind == "SparkListenerTaskEnd" and "Task Metrics" in e:
            tasks[e["Stage ID"]].append(e["Task Metrics"])
        elif kind == "SparkListenerStageCompleted":
            stage_info[e["Stage Info"]["Stage ID"]] = e["Stage Info"]
        elif kind.endswith("QueryProgressEvent"):
            p = e["progress"]
            if _inside(L.trigger_ms(p), windows):
                progress.append(p)

    out = defaultdict(float)
    longest = 0.0
    for s in stages_in:
        ts = tasks.get(s, [])
        run_ms = [m["Executor Run Time"] for m in ts]
        longest += max(run_ms, default=0)
        out["spark.executor_run_s"] += sum(run_ms) / 1000
        out["spark.executor_cpu_s"] += sum(m["Executor CPU Time"] for m in ts) / 1e9
        out["spark.gc_s"] += sum(m["JVM GC Time"] for m in ts) / 1000
        out["spark.spill_mb"] += sum(m["Disk Bytes Spilled"] for m in ts) / MB
        for m in ts:
            r = m.get("Shuffle Read Metrics", {})
            w = m.get("Shuffle Write Metrics", {})
            out["spark.shuffle_read_mb"] += (
                r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
            ) / MB
            out["spark.fetch_wait_s"] += r.get("Fetch Wait Time", 0) / 1000
            out["spark.shuffle_write_mb"] += w.get("Shuffle Bytes Written", 0) / MB
        info = stage_info.get(s, {})
        out["spark.python_worker_s"] += _acc(info, "time to run Python workers") / 1000
        out["spark.scan_time_s"] += _acc(info, "scan time") / 1000
    # Longest task's share of its stage, weighted by stage time: a stage
    # run as one task (an under-split scan) reads 1.0.
    if out["spark.executor_run_s"]:
        out["spark.max_task_share"] = longest / 1000 / out["spark.executor_run_s"]
    out["spark.driver_plan_s"] = sum(
        (t - exec_start[x]) / 1000 for x, t in first_job_ms.items() if x in exec_start
    )

    if progress:
        out["stream.batches"] = float(len(progress))
        out["stream.empty_batch_ratio"] = sum(
            L.input_rows(p) == 0 for p in progress
        ) / len(progress)
        phases = L.phase_durations(progress)
        out["stream.add_batch_ms"] = phases["addBatch"]
        out["stream.query_planning_ms"] = phases["queryPlanning"]
        out["stream.wal_commit_ms"] = phases["walCommit"]
        out["stream.commit_offsets_ms"] = phases["commitOffsets"]
        out["stream.latest_offset_ms"] = phases["latestOffset"]
        stateful = [p for p in progress if p.get("stateOperators")]
        if stateful:
            out["state.commit_ms"] = statistics.median(
                sum(o["commitTimeMs"] for o in p["stateOperators"]) for p in stateful
            )
            out["state.rows_total"] = float(
                max(sum(o["numRowsTotal"] for o in p["stateOperators"]) for p in stateful)
            )
            out["state.memory_mb"] = max(
                sum(o["memoryUsedBytes"] for o in p["stateOperators"]) for p in stateful
            ) / MB
    return dict(out)

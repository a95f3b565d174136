"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 16 --trace 0

Workloads: ``ingest`` and ``batch`` (see ``perfbench/README.md``).
With ``--trace 0`` the result carries every end-to-end metric named in
``BENCHMARK.json``; with ``--trace 1`` the run also writes a Spark event log,
folds it into every per-layer metric, and leaves its spans and the fold in
``.bench_out/``.  One driver process at ``local[<cores>]``, one sequential
client, no extra threads.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "batch")
# Spans whose intervals bound the timed work the event-log fold counts.
TIMED_SPANS = ("op", "ingest.capacity", "ingest.open_loop", "ingest.recovery")


def process_start_ms() -> float:
    """Wall-clock start of this process, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return (time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))) * 1000


class Run:
    """What one invocation shares between the harness and a workload."""

    def __init__(self, args, env, spans):
        self.seed = args.seed
        self.seconds = args.seconds
        self.env = env
        self.spans = spans
        self.spark = None
        self.specs = None
        self.setup_end_ms = None

    def mark_setup_done(self, at_ms: float | None = None) -> None:
        self.setup_end_ms = at_ms if at_ms is not None else time.time() * 1000


def measure(args, env, started_ms: float, spec: dict) -> dict:
    from perfbench.harness import OUT_DIR, Spans, Weather, peak_rss_mb, start_spark, stop_spark

    weather = Weather()
    spans = Spans(uuid.uuid4().hex)
    run = Run(args, env, spans)
    import kafka_spark_streaming_eval_spark  # noqa: F401  (fails fast without the engine)

    env.redirect_engine_scratch()
    run.spark = start_spark(spans)
    try:
        from kafka_spark_streaming_eval_spark.plans.registry import all_queries

        with spans.span("registry.all_queries"):
            run.specs = all_queries()
        if args.workload == "ingest":
            from perfbench import ingest

            out = ingest.run(run)
        else:
            from perfbench import passes

            out = passes.run(run)
            if args.trace:  # warm: after the pass, off the untraced path
                with spans.span("catalog.scan"):
                    passes.scan_tables(run)
        rss_mb = peak_rss_mb(run.spark)
    finally:
        stop_spark(run.spark)

    e2e = {
        "setup_s": (run.setup_end_ms - started_ms) / 1000,
        "peak_rss_mb": rss_mb,
        **out["e2e"],
    }
    layers = {
        "session.get_spark_s": spans.total("session.get_spark"),
        "registry.all_queries_s": spans.total("registry.all_queries"),
        "catalog.scan_s": spans.total("catalog.scan"),
        **out["layers"],
    }
    stem = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}")
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "e2e": e2e,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "weather": weather.finish(),
        "layers": layers,
        "details": out["details"],
    }
    if args.trace:
        from perfbench import eventlog

        # One pass's worth of work: only the first timed round of ``batch``.
        windows = [
            (s["start_ms"], s["end_ms"])
            for s in spans.items
            if s["name"] in TIMED_SPANS and s.get("round", 0) == 0
        ]
        for k, v in eventlog.fold(eventlog.read(env.event_dir), windows).items():
            layers.setdefault(k, v)
        layers.update({f"traced.{k}": v for k, v in e2e.items()})
        record["tracing_overhead"] = tracing_overhead(args.workload, e2e)
        spans.write(stem + "-spans.json")
    with open(f"{stem}-trace{args.trace}.json", "w") as f:
        json.dump(record, f, indent=1)

    if args.trace:  # a layer this workload does not exercise reads 0
        values = {m["name"]: layers.get(m["name"], 0.0) for m in spec["per_layer"]}
    else:
        values = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
    units = {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}
    metrics = {k: {"value": float(v), "unit": units[k]} for k, v in values.items()}
    for name, m in metrics.items():
        print(f"{args.workload}: {name} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(f"{args.workload}: weather {record['weather']}", file=sys.stderr)
    return {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }


def tracing_overhead(workload: str, traced: dict) -> dict:
    """Traced minus the median untraced value of each end-to-end metric,
    over the untraced runs of this workload recorded in this checkout."""
    from perfbench.harness import OUT_DIR

    rows = []
    for path in glob.glob(os.path.join(OUT_DIR, f"{workload}-seed*-trace0.json")):
        with open(path) as f:
            rows.append(json.load(f)["e2e"])
    out = {}
    for k, v in traced.items() if rows else ():
        base = statistics.median(r[k] for r in rows)
        out[k] = {"traced": v, "untraced_median": base, "overhead": v - base, "runs": len(rows)}
    return out


def main(argv=None) -> int:
    started_ms = process_start_ms()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    from perfbench.harness import Env

    env = Env(bool(args.trace))
    try:
        result = measure(args, env, started_ms, spec)
    finally:
        env.cleanup()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

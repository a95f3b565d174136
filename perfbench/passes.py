"""The ``batch`` workload: warm, repeated passes over registered queries.

Each operation is ``spec.fn(spark, data_dir)`` (the operators layer builds
the plan, including any eager probe or gate jobs) followed by ``.count()``
on its result.  Set-up ends with a warm-up pass that collects every query
and compares its full value hash, which also warms the input scans.  The
timed part then runs rounds, each a pass over all queries in a new
seed-shuffled order, for ``--seconds`` and at least MIN_ROUNDS rounds.  A
query's time is the median of its rounds, so a burst of load on a shared
host moves one sample, not the result.

The queries come from the HEADLINE set of ``bench.py``.  ``OLAP`` reads no
``documents``/``embeddings`` table (TPC-H shapes, joins, windows, ETL,
PageRank); ``CURATION`` does (dedup, similarity, text, pipeline), and only
its scans take ``catalog.table``'s spread rule.  Five OLAP queries (a
six-way TPC-H join, TPC-H's semi/anti-join query, a MERGE upsert,
PageRank's mapInPandas, a windowed streaming aggregation with its state
store) and four curation queries (connected components' mapInPandas,
MinHash hashing, the LSH similarity join, the contamination aggregation).
A warm pass over these 9 takes 5-11 s on a 4-vCPU virtual machine,
depending on host load, and the cold warm-up pass 10-25 s; more queries
would leave too few timed rounds in the time a run gets.
"""

from __future__ import annotations

import random
import statistics
import time

from perfbench import latency as L
from perfbench.fingerprint import DATA_DIR

OLAP = [
    "tpch_q5_local_supplier_volume",
    "tpch_q21_suppliers_kept_waiting",
    "etl_merge_upsert",
    "graph_pagerank_trade",
    "stream_tumbling_counts",
]
CURATION = [
    "dedup_minhash_lsh_pairs",
    "dedup_cluster_components",
    "sim_lsh_ann_topk",
    "text_contamination_matrix",
]
QUERIES = OLAP + CURATION

INPUT_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
    "documents", "embeddings",
)

# Fewest timed rounds a run makes, so every query's median has at least
# this many samples however slow the host is.
MIN_ROUNDS = 3


def scan_tables(run) -> None:
    """``catalog.table`` + count over every input table."""
    from kafka_spark_streaming_eval_spark.catalog import table

    for name in INPUT_TABLES:
        table(run.spark, DATA_DIR, name).count()


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages that ran, and tasks that completed, for one job group."""
    # The status tracker is fed by the asynchronous listener bus: drain it,
    # or the last job of a group can be missing from the count.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        stages.update(info.stageIds if info else ())
    ran = [tracker.getStageInfo(s) for s in stages]
    ran = [s for s in ran if s is not None and s.numCompletedTasks > 0]
    return {
        "jobs": len(jobs),
        "stages": len(ran),
        "tasks": sum(s.numCompletedTasks for s in ran),
    }


def wrong_results(run, names, expected: dict) -> list[str]:
    """Collect each query's result and return those whose fingerprint
    differs from the expected one."""
    from perfbench.fingerprint import fingerprint

    sc = run.spark.sparkContext
    wrong = []
    for name in names:
        sc.setJobGroup(f"{name}|verify", name)
        if fingerprint(run.specs[name].fn(run.spark, DATA_DIR).toPandas()) != expected[name]:
            wrong.append(name)
    sc.setLocalProperty("spark.jobGroup.id", None)
    return wrong


def run_pass(run, names: list[str], expected: dict, tag: str = "", rnd: int = 0) -> list[dict]:
    """Time ``fn`` and ``.count()`` for each query, in the given order."""
    sc = run.spark.sparkContext
    ops = []
    for name in names:
        fn = run.specs[name].fn
        with run.spans.span("op", op=name, round=rnd):
            sc.setJobGroup(f"{tag}{name}|build", name)
            with run.spans.span("operators.build", op=name) as b:
                df = fn(run.spark, DATA_DIR)
            sc.setJobGroup(f"{tag}{name}|exec", name)
            with run.spans.span("operators.exec", op=name) as e:
                rows = df.count()
        op = {
            "op": name,
            "round": rnd,
            "build_s": b["dur_s"],
            "exec_s": e["dur_s"],
            "rows": rows,
            "ok": rows == expected[name]["rows"],
        }
        for phase in ("build", "exec"):
            for k, v in job_counts(sc, f"{tag}{name}|{phase}").items():
                op[f"{phase}_{k}"] = v
        sc.setLocalProperty("spark.jobGroup.id", None)
        ops.append(op)
    return ops


def median_by_query(ops: list[dict], key) -> dict[str, float]:
    """Each query's median of ``key(op)`` over its rounds."""
    samples: dict[str, list[float]] = {}
    for o in ops:
        samples.setdefault(o["op"], []).append(key(o))
    return {name: statistics.median(v) for name, v in samples.items()}


def run(run) -> dict:
    from perfbench.fingerprint import load

    expected = load()
    with run.spans.span("verify"):  # the warm-up pass
        wrong = wrong_results(run, QUERIES, expected)
    run.mark_setup_done()
    order = random.Random(run.seed)
    ops: list[dict] = []
    started = time.perf_counter()
    with run.spans.span("pass"):
        rnd = 0
        while rnd < MIN_ROUNDS or time.perf_counter() - started < run.seconds:
            names = list(QUERIES)
            order.shuffle(names)
            ops += run_pass(run, names, expected, tag=f"r{rnd}:", rnd=rnd)
            rnd += 1
    for o in ops:
        o["ok"] = o["ok"] and o["op"] not in wrong
    op_s = median_by_query(ops, lambda o: o["build_s"] + o["exec_s"])
    first = [o for o in ops if o["round"] == 0]

    def count(*keys):
        return float(sum(o[k] for o in first for k in keys))

    layers = {
        "latency.op_p50_ms": L.percentile(list(op_s.values()), 50) * 1000,
        "latency.op_p90_ms": L.percentile(list(op_s.values()), 90) * 1000,
        "operators.build_s": sum(median_by_query(ops, lambda o: o["build_s"]).values()),
        "operators.exec_s": sum(median_by_query(ops, lambda o: o["exec_s"]).values()),
        "operators.build_jobs": count("build_jobs"),
        "operators.exec_jobs": count("exec_jobs"),
        "operators.stages": count("build_stages", "exec_stages"),
        "operators.tasks": count("build_tasks", "exec_tasks"),
    }
    return {
        "e2e": {"pass_s": sum(op_s.values())},
        "layers": layers,
        "attempted": len(ops),
        "failed": sum(not o["ok"] for o in ops),
        "details": {"rounds": rnd, "wrong_hash": wrong, "ops": ops},
    }

"""Exact counts stay exact: the job, stage and task counts the benchmark
reports for each query repeat across two passes after a warm-up, so a
change can state a count claim.  Starts a local Spark driver (~2 min)."""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

import pytest  # noqa: E402

from perfbench import passes  # noqa: E402
from perfbench.fingerprint import load  # noqa: E402
from perfbench.harness import Env, Spans  # noqa: E402

COUNTS = [f"{p}_{k}" for p in ("build", "exec") for k in ("jobs", "stages", "tasks")]


class _Run:
    def __init__(self, spark, specs):
        self.spark = spark
        self.specs = specs
        self.spans = Spans("test")


@pytest.fixture(scope="module")
def bench_run():
    env = Env(trace=False)
    from kafka_spark_streaming_eval_spark.plans.registry import all_queries
    from kafka_spark_streaming_eval_spark.session import get_spark
    from perfbench.harness import cpus, stop_spark

    env.redirect_engine_scratch()
    spark = get_spark("perfbench-counts", cpus=cpus())
    try:
        yield _Run(spark, all_queries())
    finally:
        stop_spark(spark)
        env.cleanup()


@pytest.mark.parametrize("names", [passes.OLAP, passes.CURATION], ids=["olap", "curation"])
def test_counts_repeat_exactly(bench_run, names):
    expected = load()
    assert passes.wrong_results(bench_run, names, expected) == []
    first = passes.run_pass(bench_run, names, expected, tag="a:")
    second = passes.run_pass(bench_run, names, expected, tag="b:")
    for a, b in zip(first, second):
        assert a["ok"] and b["ok"], a["op"]
        assert {k: a[k] for k in COUNTS} == {k: b[k] for k in COUNTS}, a["op"]

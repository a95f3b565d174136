"""``batch_metrics`` against the per-row latency formula it replaced, and the
collector's codegen behaviour on a live stream."""

from __future__ import annotations

import time

import pytest

from pyspark.sql import functions as F

from kafka_spark_streaming_eval_spark.streaming.generator import (
    BASE_TS_MS,
    event_columns,
    synth_events_batch,
    to_wire,
)
from kafka_spark_streaming_eval_spark.streaming.metrics_job import (
    MetricsCollector,
    batch_metrics,
    parse_events,
)

NOW_MS = BASE_TS_MS + 600_000


def _oracle(df, batch_id: int, now_ms: int):
    """The per-row formula: latency = cast(now - created_ts as double), then
    avg and one percentile_approx per quantile over it.  Its double sum is
    exact while the latency sum stays below 2**53, which holds for every
    case below."""
    now = F.lit(now_ms)
    lat = df.select((now - F.col("created_ts")).cast("double").alias("latency_ms"))
    return lat.agg(
        F.lit(batch_id).cast("long").alias("batch_id"),
        F.first((now / 1000).cast("long"), ignorenulls=False).alias("epoch_sec"),
        F.count(F.lit(1)).alias("batch_events"),
        F.avg("latency_ms").alias("mean_latency_ms"),
        F.percentile_approx("latency_ms", 0.50, 10000).alias("p50_latency_ms"),
        F.percentile_approx("latency_ms", 0.95, 10000).alias("p95_latency_ms"),
        F.percentile_approx("latency_ms", 0.99, 10000).alias("p99_latency_ms"),
    ).collect()[0]


def _malformed(spark):
    wire = to_wire(synth_events_batch(spark, 3000))
    bad = spark.createDataFrame(
        [("{not json",), ("42",), ('{"created_ts": "abc"}',)] * 100, "value string"
    )
    return parse_events(wire.unionByName(bad))


CASES = {
    "empty": lambda s: synth_events_batch(s, 10).limit(0),
    "one_row": lambda s: synth_events_batch(s, 1),
    "malformed_json_nulls": _malformed,
    "heavy_ties": lambda s: s.range(50_000).select(
        (F.lit(BASE_TS_MS) + (F.col("id") % 7) * 1000).alias("created_ts")
    ),
    "seven_partitions": lambda s: synth_events_batch(s, 40_000).repartition(7),
    "rows_200k": lambda s: synth_events_batch(s, 200_000, rate_eps=5000),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_batch_metrics_equals_per_row_formula(spark, case):
    """Same fixed ``now``: every field of the summary row is bit-identical to
    the per-row formula's (no tolerance)."""
    df = CASES[case](spark)
    got = batch_metrics(df, batch_id=11, now_ms=NOW_MS)
    want = _oracle(df, 11, NOW_MS)
    assert got.asDict() == want.asDict()
    if case == "malformed_json_nulls":
        assert got.batch_events == 3300
    if case == "empty":
        assert got.batch_events == 0 and got.epoch_sec is None


def test_collector_compiles_nothing_per_warm_batch(spark, tmp_path):
    """A warm metrics stream reuses its generated code: the JVM codegen
    compile count does not grow once 3 batches have run.  A per-batch
    literal in the plan (such as a folded ``current_timestamp()``) would
    miss the codegen cache and compile the stage again every batch."""
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    collector = MetricsCollector()
    counts = []

    def sink(batch_df, batch_id):
        collector(batch_df, batch_id)
        counts.append(compiles.getCount())

    src = spark.readStream.format("rate-micro-batch").option("rowsPerBatch", 2000).load()
    events = src.select(F.col("timestamp").alias("ts"), *event_columns(F.col("value")))
    wire = to_wire(events, created_ts=F.unix_millis("ts"))
    query = (
        parse_events(wire)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.monotonic() + 180
        while len(counts) < 8 and query.exception() is None:
            assert time.monotonic() < deadline, f"only {len(counts)} batches ran"
            time.sleep(0.2)
    finally:
        query.stop()
    assert query.exception() is None
    assert [r.batch_events for r in collector.rows[:8]] == [2000] * 8
    assert counts[7] - counts[2] == 0, counts

"""The streaming metrics job — the reference's core
(`/root/reference/spark_job/spark_stream_metrics.py`) rebuilt Spark-first.

Reference behavior: parse JSON events from Kafka, derive end-to-end latency,
and per micro-batch emit one summary row (batch_id, epoch_sec, batch_events,
mean/p50/p95/p99 latency) via ``foreachBatch`` into a CSV directory
(spark_stream_metrics.py:54-76).

Fixes over the reference (SURVEY §3.1 / §4 anti-patterns):
- ONE fused aggregation per batch instead of 4 separate jobs
  (``rdd.isEmpty`` + ``count`` + ``approxQuantile`` + ``agg(avg)`` each
  re-fetched the batch from Kafka).  One ``percentile_approx`` over an
  array of percentages builds a single quantile sketch for p50/p95/p99 in
  the same pass as the counts and the latency sum.
- No ``rdd`` materialization for the empty check — the fused agg returns a
  zero row naturally and we skip the write on ``batch_events == 0``.
- Sub-second latency precision (the reference truncated to whole seconds via
  ``unix_timestamp(current_timestamp())``).

The aggregation reads ``created_ts`` only and carries no per-batch value:
the sink time ``now`` (ms) is taken on the driver just before the
``collect()`` — the instant ``current_timestamp()`` used to be fixed at —
and applied to the aggregates afterwards.  Every latency is ``now -
created_ts``: the sketch runs over ``-created_ts``, a translation that keeps
every rank and tie, so ``p = now + q`` picks the same element; the mean
comes from the exact long ``sum(created_ts - ANCHOR_MS)``.  A per-row
``current_timestamp()`` was folded into a new long literal for every query,
and codegen inlines long literals, so the per-row stage missed the codegen
cache and was compiled again every micro-batch; without it the stage
compiles once per stream.  The exact sum is bounded: ANSI ``sum`` raises
once ``n * |created_ts - ANCHOR_MS|`` passes 2**63, i.e. past about 1.6e8
events per batch at 2026 timestamps (5.7e10 ms after the anchor).

Kafka I/O: the wire format and options mirror the reference
(spark_stream_metrics.py:33-40); the connector jar is not in this runtime,
so ``kafka_source`` is import-gated and every test/bench path uses the
file/rate source — the plan downstream of the source is identical.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Explicit wire schema — never inference (spark_stream_metrics.py:7-14).
EVENT_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.StringType()),
        T.StructField("created_ts", T.LongType()),
        T.StructField("user_id", T.IntegerType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("payload", T.StringType()),
    ]
)

METRICS_SCHEMA = (
    "batch_id BIGINT, epoch_sec BIGINT, batch_events BIGINT, "
    "mean_latency_ms DOUBLE, p50_latency_ms DOUBLE, "
    "p95_latency_ms DOUBLE, p99_latency_ms DOUBLE"
)
MetricsRow = Row(
    "batch_id", "epoch_sec", "batch_events",
    "mean_latency_ms", "p50_latency_ms", "p95_latency_ms", "p99_latency_ms",
)

# Offset for the exact latency sum: 2025-01-01T00:00:00Z in epoch ms.
ANCHOR_MS = 1_735_689_600_000


def kafka_source(spark: SparkSession, brokers: str, topic: str) -> DataFrame:
    """Kafka stream source with the reference's options
    (spark_stream_metrics.py:33-40).  Requires the spark-sql-kafka package on
    the classpath; raises a clear error when absent."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", "latest")
        .load()
    )


def parse_events(
    raw: DataFrame,
    value_col: str = "value",
    fields: list[str] | None = None,
    wire: str = "json",
) -> DataFrame:
    """Kafka bytes -> typed event columns: cast, from_json with the explicit
    schema, struct flatten (spark_stream_metrics.py:43-45).

    ``fields`` optionally restricts the decoded schema to a subset of the
    wire columns.  NOTE (r13 parse-knee probe): Catalyst's
    OptimizeJsonExprs rule already prunes the from_json schema to the
    columns a downstream plan actually uses (verified on the
    batch_metrics plan: the optimized plan's from_json carries only
    created_ts), so passing ``fields`` is for plans that defeat the rule
    (e.g. a checkpointed stream whose analyzed plan is pinned) and for
    measuring rule parity — it is NOT needed for ordinary pipelines.

    ``wire`` selects the decode: ``"json"`` (the reference's format) or
    ``"csv"`` (the positional delimited wire of ``generator.to_wire`` —
    the r13 parse-knee engineering conclusion: the JSON knee is
    bytes-bound in the tokenizer, and the CSV decode moves it; SCALE.md
    rounds 13–14).  CSV is positional, so ``fields`` still tokenizes
    every column and merely prunes the projected output."""
    if wire not in ("json", "csv"):
        raise ValueError(f"parse_events: unknown wire format {wire!r}")
    if fields is None:
        schema = EVENT_WIRE_SCHEMA
    else:
        want = set(fields)
        known = {f.name for f in EVENT_WIRE_SCHEMA.fields}
        if not want <= known:
            # A typo (e.g. "created_tz") would otherwise yield an empty
            # from_json schema and zero columns with no error — a probe
            # could silently measure a parse of nothing (ADVICE r13).
            raise ValueError(
                f"parse_events: unknown wire field(s) {sorted(want - known)}; "
                f"wire schema has {sorted(known)}"
            )
        schema = T.StructType([f for f in EVENT_WIRE_SCHEMA.fields if f.name in want])
    text = raw.select(F.col(value_col).cast("string").alias("wire_str"))
    if wire == "csv":
        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in EVENT_WIRE_SCHEMA.fields
        )
        decoded = text.select(F.from_csv("wire_str", F.lit(ddl)).alias("e"))
        return decoded.select(*[f"e.{f.name}" for f in schema.fields])
    return text.select(F.from_json("wire_str", schema).alias("e")).select("e.*")


def batch_metrics(batch_df: DataFrame, batch_id: int, now_ms: int | None = None) -> Row:
    """The fused per-batch summary: ONE aggregation job computes the counts,
    the latency sum and one sketch for all three quantiles (vs the
    reference's 4 jobs + rescan).  End-to-end latency is sink-time minus
    ``created_ts`` at ms precision (the reference lost sub-second precision,
    spark_stream_metrics.py:49-52); pass ``now_ms`` for deterministic tests.
    Returns one ``MetricsRow``: its latency fields are None when no row
    carries a ``created_ts``, and ``epoch_sec`` is None too for an empty
    batch."""
    ts = F.col("created_ts")
    agg = batch_df.agg(
        F.count(F.lit(1)),
        F.count(ts),
        F.sum(ts - F.lit(ANCHOR_MS)),
        F.percentile_approx((-ts).cast("double"), [0.50, 0.95, 0.99], 10000),
    )
    now = now_ms if now_ms is not None else time.time_ns() // 1_000_000
    n, n_ts, off_sum, neg_q = agg.collect()[0]
    if not n_ts:
        lat = [None] * 4
    else:
        mean = ((now - ANCHOR_MS) * n_ts - off_sum) / n_ts
        lat = [mean] + [now + q for q in neg_q]
    return MetricsRow(batch_id, now // 1000 if n else None, n, *lat)


@dataclass
class MetricsCollector:
    """foreachBatch sink: fused agg -> append one row per micro-batch.

    ``rows`` accumulates driver-side (one 7-field row per trigger — bounded
    and tiny); when ``outdir`` is set each row is also appended as CSV like
    the reference (spark_stream_metrics.py:71-74), without ``coalesce(1)``
    serializing anything bigger than the single summary row.
    """

    outdir: str | None = None
    rows: list = field(default_factory=list)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        row = batch_metrics(batch_df, batch_id)
        if row.batch_events == 0:  # empty-batch short-circuit, post-agg
            return
        self.rows.append(row)
        if self.outdir:
            spark = batch_df.sparkSession
            spark.createDataFrame([row], METRICS_SCHEMA).write.mode("append").option(
                "header", "true"
            ).csv(self.outdir)


def run_metrics_stream(
    events: DataFrame,
    checkpoint: str,
    outdir: str | None = None,
    trigger_sec: int = 5,
    collector: MetricsCollector | None = None,
):
    """Start the metrics query: foreachBatch sink + processingTime trigger +
    checkpoint WAL (restart resumes from committed offsets — the exp3
    recovery semantics, spark_stream_metrics.py:78-84)."""
    sink = collector if collector is not None else MetricsCollector(outdir)
    query = (
        events.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{trigger_sec} seconds")
        .start()
    )
    return query, sink

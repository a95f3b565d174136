"""Catalog metadata caches: the per-file-version parquet schema behind
``table()``, the planned scan-partition count (``_scan_parts``) and the
metadata row count (``streaming.queries._table_rows``).

Contract under test (see the ``catalog`` module docstring):
- a cached schema equals Spark's own inference for the same file;
- a warm ``table()`` call launches no Spark job;
- every key follows the files (each part file of a directory layout) and
  the session confs that change the cached value, so nothing is served
  past a file change or across differently configured sessions.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

from kafka_spark_streaming_eval_spark.catalog import (
    TABLES,
    _scan_parts,
    events_ts_ms,
    parquet_schema,
    table,
)
from kafka_spark_streaming_eval_spark.streaming.queries import _table_rows
from tests.conftest import SF_DIR


def _jobs_in_group(spark, group: str, fn) -> int:
    """Spark jobs launched by ``fn()`` under job group ``group`` (listener
    bus drained first, so every job start is accounted)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_cached_schema_table_matches_fresh_inference(spark):
    for name in TABLES:
        path = f"{SF_DIR}/{name}.parquet"
        table(spark, SF_DIR, name)  # cold: infers and caches
        warm = table(spark, SF_DIR, name)
        fresh = spark.read.parquet(path)
        assert parquet_schema(spark, path) == fresh.schema, name
        expected = events_ts_ms(fresh) if name == "events" else fresh
        assert warm.schema == expected.schema, name


def test_warm_table_launches_no_jobs(spark, tmp_path):
    for name in TABLES:
        table(spark, SF_DIR, name)  # warm every cache the call consults

    def all_tables():
        for name in TABLES:
            table(spark, SF_DIR, name)

    assert _jobs_in_group(spark, "test_catalog_warm", all_tables) == 0
    # Positive control: a file this process has never read is inferred by
    # a real job, so the count above is not vacuous.
    pq.write_table(pq.read_table(f"{SF_DIR}/region.parquet"), tmp_path / "region.parquet")
    cold = _jobs_in_group(
        spark, "test_catalog_cold", lambda: table(spark, str(tmp_path), "region")
    )
    assert cold >= 1


def test_schema_inference_conf_flip_reinfers(spark, tmp_path):
    """The schema key carries the inference confs: a TIMESTAMP(NANOS) ts is
    a long only under ``nanosAsLong`` and is rejected without it, and a
    timestamp[us] ts flips between TIMESTAMP_NTZ and TIMESTAMP with
    ``inferTimestampNTZ`` — a conf-blind cache would keep serving the
    first answer."""
    ns = str(tmp_path / "ns.parquet")
    us = str(tmp_path / "us.parquet")
    ts = [1_700_000_000_123_456_789, 1_700_000_000_987_654_321]
    pq.write_table(pa.table({"ts": pa.array(ts, pa.timestamp("ns"))}), ns)
    pq.write_table(pa.table({"ts": pa.array(ts, pa.timestamp("ns")).cast(
        pa.timestamp("us"), safe=False)}), us)
    iso = spark.newSession()

    iso.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert isinstance(parquet_schema(iso, ns)["ts"].dataType, LongType)
    iso.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL|Illegal Parquet type"):
        parquet_schema(iso, ns)
    iso.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert isinstance(parquet_schema(iso, ns)["ts"].dataType, LongType)

    iso.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    assert isinstance(parquet_schema(iso, us)["ts"].dataType, TimestampNTZType)
    iso.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert isinstance(parquet_schema(iso, us)["ts"].dataType, TimestampType)
    assert iso.read.schema(parquet_schema(iso, us)).parquet(us).count() == 2


@pytest.mark.parametrize("layout", ["file", "directory"])
def test_rewritten_table_schema_not_served_stale(spark, tmp_path, layout):
    path = tmp_path / "region.parquet"
    data_file = path if layout == "file" else path / "part-0.parquet"
    data_file.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), data_file)
    assert table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]

    pq.write_table(
        pa.table({"r_regionkey": [0, 1, 2], "r_name": ["A", "B", "C"], "r_x": [1.0, 2.0, 3.0]}),
        data_file,
    )
    df = table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_x"]
    assert sorted(r.r_x for r in df.collect()) == [1.0, 2.0, 3.0]


def test_scan_parts_key_follows_split_conf(spark):
    """Two sessions that plan the same file into different split counts
    must not share a cached count (the split confs are typed; reading them
    with a string default used to raise and silently drop them from the
    key)."""
    path = f"{SF_DIR}/lineitem.parquet"
    default_n = _scan_parts(spark.read.parquet(path), path)
    small = spark.newSession()
    small.conf.set("spark.sql.files.maxPartitionBytes", str(os.path.getsize(path) // 4))
    small_df = small.read.parquet(path)
    small_n = _scan_parts(small_df, path)
    assert default_n == spark.read.parquet(path).rdd.getNumPartitions()
    assert small_n == small_df.rdd.getNumPartitions()
    assert small_n > default_n


def test_table_rows_sees_part_file_rewritten_in_place(tmp_path):
    """A part file rewritten in place leaves the table directory's stat
    unchanged; the row-count key covers every part file, so the new count
    is read rather than the cached one."""
    d = tmp_path / "events.parquet"
    d.mkdir()
    pq.write_table(pa.table({"x": list(range(100))}), d / "part-0.parquet")
    pq.write_table(pa.table({"x": list(range(50))}), d / "part-1.parquet")
    assert _table_rows(str(tmp_path), "events") == 150
    before = os.stat(d)

    pq.write_table(pa.table({"x": list(range(10))}), d / "part-0.parquet")
    after = os.stat(d)
    assert (after.st_mtime_ns, after.st_size) == (before.st_mtime_ns, before.st_size)
    assert _table_rows(str(tmp_path), "events") == 60

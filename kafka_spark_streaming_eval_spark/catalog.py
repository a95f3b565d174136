"""Table catalog over the driver-generated parquet testdata.

Tables (TESTDATA.md / FIXTURES.md §4): ``region nation customer supplier part
orders lineitem events documents embeddings`` — one parquet file per table
under ``{sf_dir}/``.

Scale note: on a production cluster these would be directories of many
parquet files (optionally partitioned, e.g. ``events`` by day); every reader
here goes through ``spark.read.parquet`` so partition discovery, predicate
pushdown and column pruning apply unchanged at 100 TB.

Metadata cache contract.  Resolving a parquet path normally runs a
one-task Spark job to read a footer and infer the schema; ``parquet_schema``
does that once per file version and serves every later read of the same
path with ``spark.read.schema(cached).parquet(path)``, which only plans.
What is cached is metadata only — a ``StructType`` per table here, and the
planned scan-partition count (``_scan_parts``) and row count
(``streaming.queries._table_rows``) elsewhere — never data, a DataFrame
or a result.  Every key includes ``file_fingerprint(path)``: the relative
name, ``mtime_ns`` and size of every ``*.parquet`` data file under the
path, so rewriting, adding or removing any data file (also inside a
directory-layout table, whose directory stat does not change when a part
file is rewritten in place) misses the cache and re-reads the metadata.
The schema key also carries the session confs that change parquet schema
inference (``_SCHEMA_CONFS``), so a session that infers differently never
sees another session's schema.  Nothing is served past a file change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def events_long_ts_divisor(path: str) -> int:
    """Epoch-unit divisor (to ms) for a long-encoded ``ts`` column, detected
    from parquet column statistics — metadata only, no data scan.

    The testdata generator has already changed the ``ts`` encoding once
    between driver rounds; if a future vintage stores epoch ms or us as a
    plain long, a hard-coded nanosecond divide would silently corrupt every
    events query.  Magnitude disambiguates exactly (epoch-s ~1.7e9,
    -ms ~1.7e12, -us ~1.7e15, -ns ~1.7e18 for 2020s dates).

    Returns a positive divisor to ms, or a NEGATIVE value whose magnitude
    is a multiplier to ms (epoch-seconds vintage).
    """
    divisor = 1_000_000  # nanos: the only long vintage observed so far
    try:
        import pyarrow.parquet as pq

        meta = pq.ParquetFile(path).metadata
        cols = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
        stats = meta.row_group(0).column(cols["ts"]).statistics
        mx = stats.max if stats is not None else None
        if isinstance(mx, int):
            if 0 < mx < 100_000_000_000:
                # Below ~year 5138 in epoch-ms means the values can only be
                # epoch-SECONDS (~1.7e9 for 2020s dates).  A divisor of 1
                # here would silently read seconds as ms and collapse every
                # date to 1970 — the exact bug this function exists to stop.
                # Negative return = multiplier to ms (see events_ts_ms).
                divisor = -1000
            else:
                divisor = 1
                while mx // divisor > 4_000_000_000_000:  # > ~2096 in epoch-ms
                    divisor *= 1000
    except Exception:
        pass  # stats unavailable -> keep the observed-vintage default
    return divisor


def events_ts_ms(df: DataFrame, long_divisor: int = 1_000_000) -> DataFrame:
    """Normalize ``events.ts`` to a ms-truncated TIMESTAMP (UTC instant).

    The testdata generator has stored ``ts`` two ways across rounds:
    TIMESTAMP(NANOS), which Spark cannot represent and reads as a
    nanosecond long under ``legacy.parquet.nanosAsLong``, and plain
    timestamp[us], which scans as TIMESTAMP_NTZ.  Both normalize to the
    same ms-truncated TIMESTAMP column, so every downstream query and its
    DuckDB oracle (``date_trunc('milliseconds', ts)``) agree bit-for-bit
    whichever file vintage is on disk.  ``long_divisor`` (from
    ``events_long_ts_divisor``) maps a long-encoded ts to epoch-ms.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    if isinstance(df.schema["ts"].dataType, LongType):  # epoch-long vintage
        if long_divisor < 0:  # epoch-seconds: negative = multiplier to ms
            ts_ms = F.timestamp_millis(F.expr(f"ts * {-int(long_divisor)}"))
        else:
            ts_ms = F.timestamp_millis(F.expr(f"ts div {int(long_divisor)}"))
    else:  # timestamp[us] vintage -> TIMESTAMP_NTZ scan (session tz is UTC)
        ts_ms = F.timestamp_millis(F.expr("unix_micros(cast(ts as timestamp)) div 1000"))
    return df.withColumn("ts", ts_ms)


# Tables whose consumers do compute-heavy per-row map work (tokenization,
# 12x md5 minhashing, per-dimension vector arithmetic) straight off the
# scan, and the key that spreads them deterministically.  These scans are
# spread to session parallelism when the file layout cannot feed the cores
# (see session.spread_small_scan — a no-op on real multi-split inputs).
# lineitem/orders are deliberately NOT spread: the relational queries'
# scan-side work is light, and an explicit repartition node hides the
# scan-size statistics that let the planner auto-broadcast the dimension
# side — measured r14: join_star_revenue 0.93 s -> 3.79 s, tpch_q1
# 0.28 s -> 0.99 s with lineitem/orders in this map (SMJ replacing BHJ).
_SPREAD_KEYS = {"documents": "doc_id", "embeddings": "vec_id"}


def table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = True
) -> DataFrame:
    """Load one testdata table as a DataFrame (lazy parquet scan).

    The scan is given the table's cached schema (``parquet_schema``), so
    only the first call per file version launches a Spark job.

    ``events.ts`` is truncated to millisecond precision; oracle SQL mirrors
    this with ``date_trunc('milliseconds', ts)`` so both engines compare
    equal bits (see ``events_ts_ms``).

    ``documents`` / ``embeddings`` are spread to session parallelism when
    the scan is under-split (optimization guide §2.5 input skew: the local
    testdata is one single-row-group parquet file per table, so the scan —
    and every tokenizing/hashing map stage above it — would otherwise run
    as ONE task; measured r14: minhash signatures 2.72 s -> 0.64 s on
    local[32], bit-identical output).  On production multi-split inputs
    the spread never fires.

    ``spread=False`` opts a consumer out (VERDICT r14 item 2: queries whose
    scan-side map work is cheap — a bare explode/posexplode straight into
    the first aggregation — pay more for the extra full-payload exchange +
    32-task stage than the single-core map costs; each opt-out call site
    cites its own A/B numbers).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events":
        return events_ts_ms(df, long_divisor=events_long_ts_divisor(path))
    key = _SPREAD_KEYS.get(name)
    if key is not None and spread:
        from kafka_spark_streaming_eval_spark.session import spread_small_scan

        df = spread_small_scan(df, key, scan_parts=_scan_parts(df, path))
    return df


def file_fingerprint(path: str) -> tuple:
    """(relative name, mtime_ns, size) of every ``*.parquet`` data file
    under ``path`` — the file itself for the single-file layout, every part
    file at any depth for a directory (partitioned) layout.  The one
    freshness key of every metadata cache over a table path."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return ((os.path.basename(path), st.st_mtime_ns, st.st_size),)
    out = []
    for root, _dirs, files in os.walk(path):
        for fname in files:
            if fname.endswith(".parquet"):
                full = os.path.join(root, fname)
                st = os.stat(full)
                out.append((os.path.relpath(full, path), st.st_mtime_ns, st.st_size))
    return tuple(sorted(out))


# Session confs that change what schema parquet inference produces for the
# same file (TIMESTAMP(NANOS) as long, binary as string, INT96 and
# timestamp-NTZ mapping, footer merging, field-name case).  Read with
# ``conf.get(key)`` and no default: typed confs reject a string default.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)
_SCHEMA_CACHE: dict[tuple, StructType] = {}


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """Inferred schema of the parquet table at ``path``, inferred once per
    (path, file version, inference confs).  The first call runs Spark's own
    inference (one footer-reading job); later calls launch nothing, and a
    reader given this schema (``spark.read.schema(s).parquet(path)``) only
    plans.  Equal to ``spark.read.parquet(path).schema`` by construction."""
    key = (
        path,
        file_fingerprint(path),
        tuple(spark.conf.get(k) for k in _SCHEMA_CONFS),
    )
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = _SCHEMA_CACHE[key] = spark.read.parquet(path).schema
    return schema


# (path, file fingerprint, split conf) -> planned scan partition count.  The
# probe costs ~45 ms of physical planning per call (df.rdd), and table()
# runs several times per query build.  The planner's split count ALSO
# depends on session conf (ADVICE r14: maxPartitionBytes and the
# parallelism-derived openCost packing), so those ride the key — a value
# cached under one session's conf can't leak into a session planned
# differently in the same process.
_SCAN_PARTS_CACHE: dict[tuple, int] = {}


def _scan_parts(df: DataFrame, path: str) -> int:
    sess = df.sparkSession
    k = (
        path,
        file_fingerprint(path),
        sess.conf.get("spark.sql.files.maxPartitionBytes"),
        sess.conf.get("spark.sql.files.openCostInBytes"),
        sess.sparkContext.defaultParallelism,
    )
    n = _SCAN_PARTS_CACHE.get(k)
    if n is None:
        n = _SCAN_PARTS_CACHE[k] = df.rdd.getNumPartitions()
    return n


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (for the SQL API)."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)

"""Result fingerprints: row count plus an order-insensitive value hash.

Rows are canonicalized exactly as the oracle-parity tests do
(``tests/conftest.py:canonical_rows``), so a fingerprint taken from the
DuckDB oracle and one taken from the Spark result agree iff the parity test
would pass.

Regenerate ``fingerprints.json`` from the DuckDB oracles with
``python3 perfbench/fingerprint.py``.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")


@functools.cache
def _canonical_rows():
    # Loaded by path: the repo's tests/ is not a package, and the name
    # "tests" would resolve to this benchmark's own test directory.
    spec = importlib.util.spec_from_file_location(
        "_parity_conftest", os.path.join(ROOT, "tests", "conftest.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canonical_rows


def fingerprint(pdf) -> dict:
    """``{"rows": n, "hash": md5}`` of a pandas result."""
    cols, rows = _canonical_rows()(pdf)
    digest = hashlib.md5(repr((cols, rows)).encode()).hexdigest()
    return {"rows": len(rows), "hash": digest}


def oracle_fingerprints(names) -> dict[str, dict]:
    """Fingerprint each named query's DuckDB oracle over the benchmark data."""
    import duckdb

    from kafka_spark_streaming_eval_spark.catalog import TABLES
    from kafka_spark_streaming_eval_spark.plans.registry import all_queries

    specs = all_queries()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{DATA_DIR}/{t}.parquet')"
            )
        out = {}
        for name in names:
            if specs[name].oracle is None:
                raise ValueError(f"{name} has no DuckDB oracle")
            out[name] = fingerprint(con.execute(specs[name].oracle).fetchdf())
        return out
    finally:
        con.close()


def load() -> dict[str, dict]:
    with open(FINGERPRINTS) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    from perfbench.passes import QUERIES

    with open(FINGERPRINTS, "w") as f:
        json.dump(oracle_fingerprints(sorted(QUERIES)), f, indent=1, sort_keys=True)
        f.write("\n")

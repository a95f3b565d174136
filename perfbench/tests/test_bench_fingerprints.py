"""The committed fingerprints re-derive from the DuckDB oracles, and every
benchmark query has one; no JVM needed."""

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import fingerprint  # noqa: E402
from perfbench.passes import QUERIES  # noqa: E402


def test_fingerprints_rederive_from_duckdb_oracles():
    assert fingerprint.load() == fingerprint.oracle_fingerprints(sorted(QUERIES))


def test_fingerprint_ignores_row_and_column_order():
    import pandas as pd

    a = pd.DataFrame({"k": [1, 2, 3], "v": ["x", "y", "z"]})
    b = a.iloc[::-1][["v", "k"]]
    assert fingerprint.fingerprint(a) == fingerprint.fingerprint(b)
    assert fingerprint.fingerprint(a) != fingerprint.fingerprint(a.iloc[:2])


def test_benchmark_json_matches_the_harness():
    from perfbench.run import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert tuple(w["name"] for w in spec["workloads"]) == WORKLOADS
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))

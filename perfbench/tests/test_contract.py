"""BENCHMARK.json, the metric names and the result comparison agree."""

from __future__ import annotations

import hashlib
import json
import os

import pandas as pd

import oracle
from layers import END_TO_END, FIXTURES, PER_LAYER

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_lists_match_the_code():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == PER_LAYER


def test_listed_workloads_exist():
    from run import WORKLOADS

    assert {w["name"] for w in _bench()["workloads"]} <= set(WORKLOADS)


def test_fixtures_match_their_checksums():
    with open(os.path.join(FIXTURES, "SHA256SUMS")) as f:
        sums = dict(reversed(line.split()) for line in f if line.strip())
    assert set(sums) == {f"{t}.parquet" for t in oracle.TABLES}
    for name, digest in sums.items():
        with open(os.path.join(FIXTURES, name), "rb") as f:
            assert hashlib.sha256(f.read()).hexdigest() == digest, name


def test_mismatch_keeps_ints_and_floats_apart():
    a = pd.DataFrame({"x": [1, 2]})
    b = pd.DataFrame({"x": [1.0, 2.0]})
    assert oracle.mismatch(a, a.copy()) is None
    assert oracle.mismatch(a, b) is not None


def test_mismatch_is_order_insensitive_and_tolerance_is_opt_in():
    a = pd.DataFrame({"k": ["a", "b"], "s": [0.1 + 0.2, 1.0]})
    b = pd.DataFrame({"s": [1.0, 0.3], "k": ["b", "a"]})
    assert oracle.mismatch(a, b) is not None
    assert oracle.mismatch(a, b, rel=1e-9) is None

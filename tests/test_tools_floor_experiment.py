"""Smoke test for tools/sf1_floor_experiment.py (VERDICT r6 item 6: the
floor-vs-scale generator must be committed and runnable, since the PERF.md
x10/x100 table is the load-bearing answer to the floor-graded bench
ratios). Runs the whole pipeline at a tiny scale so it stays cheap."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from measure_scale import ID_SHIFTS  # noqa: E402
from sf1_floor_experiment import TABLES, replicate, run_experiment  # noqa: E402
from python_kinesis_streaming_spark.sources.tables import load_table  # noqa: E402

SRC = "/root/testdata/sf0.001"


def test_replicate_scales_rows_with_disjoint_ids(spark, tmp_path):
    dest = str(tmp_path / "synth")
    replicate(spark, SRC, dest, 3, TABLES)
    for name in TABLES:
        shifts = ID_SHIFTS[name]
        base = load_table(spark, SRC, name).count()
        synth = load_table(spark, dest, name)
        assert synth.count() == 3 * base
        # id shifts keep every replica's keys disjoint: distinct scales too
        key = next(iter(shifts))
        assert synth.select(key).distinct().count() == 3 * load_table(
            spark, SRC, name
        ).select(key).distinct().count()


def test_experiment_produces_ratios(spark, tmp_path):
    out = run_experiment(
        spark, SRC, str(tmp_path / "synth2"), factor=2
    )
    assert set(out) == {
        "distinct_users_per_type",
        "text_token_count",
        "knn_cosine_top10",
    }
    for rec in out.values():
        assert rec["spark_s"] > 0 and rec["duckdb_s"] > 0
        assert rec["ratio"] > 0

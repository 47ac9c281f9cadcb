"""Pins for the promotion ops (PROMOTION.md).

Promotion ops are the r6-r8 library surface in the driver contract
shape, named in ``tests/corpus_sets.py::PROMOTED_OPS`` and registered
with ``@op`` like every other op (by ``promotions.py``, except
``sim_ann_ivf``, which lives with its family in ``llm/similarity.py``). Their twin gates run registry-wide in
tests/test_oracle_parity.py; the registry total is pinned by
test_correctness_canary::test_claude_md_registry_count. This file pins
what is specific to them: every promotion carries an oracle and scale
notes, and PROMOTION.md documents each one.
"""

from __future__ import annotations

import os

from python_kinesis_streaming_spark.registry import get_op
from tests.corpus_sets import PROMOTED_OPS


def test_promotions_all_have_oracles_and_scale_notes():
    for name in sorted(PROMOTED_OPS):
        spec = get_op(name)
        assert spec.oracle, f"{name}: missing oracle"
        assert spec.scale_notes, f"{name}: missing scale notes"


def test_promotion_names_match_promotion_md():
    md = open(
        os.path.join(os.path.dirname(os.path.dirname(__file__)),
                     "PROMOTION.md")
    ).read()
    missing = [n for n in sorted(PROMOTED_OPS) if n not in md]
    assert not missing, f"ops not documented in PROMOTION.md: {missing}"


def test_bounded_shuffle_restores_conf(spark):
    """_bounded_shuffle must restore spark.sql.shuffle.partitions on
    exit — including on exception — or every later plan in the session
    (ours OR the driver's) silently runs at 16 partitions."""
    from python_kinesis_streaming_spark.promotions import _bounded_shuffle

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with _bounded_shuffle(spark, 7):
        assert spark.conf.get(key) == "7"
    assert spark.conf.get(key) == before
    try:
        with _bounded_shuffle(spark, 9):
            assert spark.conf.get(key) == "9"
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get(key) == before

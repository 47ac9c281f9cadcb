"""Per-op view of the plan gates for the lazy promotion ops (PROMOTION.md).
The gates and the name-keyed shuffle budgets live in
tests/test_global_window_bounded.py, whose sweep covers these ops too;
this file reports each of them as its own test.

Plans come from the session-shared ``plan_corpus`` (tests/conftest.py);
the executing promotions are classified in tests/corpus_sets.py
``EXECUTING_OPS`` and stay out of it.
"""

from __future__ import annotations

import pytest

from python_kinesis_streaming_spark.registry import all_queries
from tests.corpus_sets import PROMOTED_LAZY_OPS, PROMOTED_OPS
from tests.test_global_window_bounded import plan_gate_failures


def test_every_promotion_op_is_classified():
    """Every promoted name is registered, and every op ``promotions.py``
    registers is a promoted name (executing or lazy)."""
    queries = all_queries()
    assert PROMOTED_OPS <= set(queries)
    assert {
        n for n, fn in queries.items() if fn.__module__.endswith(".promotions")
    } <= PROMOTED_OPS


@pytest.mark.parametrize("name", PROMOTED_LAZY_OPS)
def test_promotion_plan_gates(name, plan_corpus):
    df, plan = plan_corpus[name]
    assert plan_gate_failures(name, df, plan) == {}

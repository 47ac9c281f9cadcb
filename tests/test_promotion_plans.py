"""Physical-plan pins for the lazy promotion ops (PROMOTION.md) — the
mechanical scale gates tests/test_global_window_bounded.py applies to the
rest of the registry, with a tighter shuffle budget: bounded global
windows, a per-op shuffle budget, and zero row-at-a-time Python (every
promotion kernel is an Arrow seam).

Plans come from the session-shared ``plan_corpus`` (tests/conftest.py),
which already builds every lazy op once; the executing promotions are
classified in tests/corpus_sets.py ``EXECUTING_OPS`` and stay out of it.
"""

from __future__ import annotations

import pytest

from python_kinesis_streaming_spark.plans.audit import (
    global_window_violations,
)
from python_kinesis_streaming_spark.plans.explain import shuffle_count
from tests.corpus_sets import EXECUTING_OPS, promotion_names

#: Max shuffle Exchanges a lazy promotion op may plan. Census at r8:
#: the codec/transport parity ops plan 0 (pure mapInPandas over one
#: scan), the text/web ops 0-4, span_dedup_parity 6 (its r7 pin),
#: pack_concat_audit 8 (three invariant aggregates + a join).
SHUFFLE_CEILING = {
    "span_dedup_parity": 6,
    # three invariant aggregates each re-derive pack_concat's (pinned
    # ≤2-shuffle) layout plus the conservation join — measured 11
    "pack_concat_audit": 12,
    # distinct vids + cue/frame builds + the bucketized range join's
    # equi-join, dedup and uncovered anti-join — measured 7
    "subtitles_align_parity": 8,
    # same invariant-aggregate shape as pack_concat_audit plus the
    # per-bucket BFD-tightness aggregate
    "pack_best_fit_audit": 14,
}
DEFAULT_CEILING = 4

LAZY_OPS = sorted(set(promotion_names()) - EXECUTING_OPS)


def test_every_promotion_op_is_classified():
    unknown = EXECUTING_OPS - set(promotion_names())
    assert not unknown, f"stale names in EXECUTING_OPS: {unknown}"


@pytest.mark.parametrize("name", LAZY_OPS)
def test_promotion_plan_gates(name, plan_corpus):
    df, plan = plan_corpus[name]
    violations = global_window_violations(df)
    assert not violations, (
        f"{name}: global Window over unbounded input: {violations}"
    )
    shuffles = shuffle_count(plan)
    ceiling = SHUFFLE_CEILING.get(name, DEFAULT_CEILING)
    assert shuffles <= ceiling, (
        f"{name}: plans {shuffles} shuffles (budget {ceiling}) — "
        "accidental repartition / lost broadcast?"
    )
    assert "BatchEvalPython" not in plan, (
        f"{name}: row-at-a-time Python on the hot path — promotion "
        "kernels must be Arrow seams"
    )

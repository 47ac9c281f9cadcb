"""Bounded-input invariant for global windows (VERDICT r5, next-round item 4).

SCALE.md's discipline: a ``Window.orderBy`` with no ``partitionBy`` forces
all rows through a single task, so it is only ever allowed on inputs whose
cardinality is bounded — the output of an Aggregate / Limit, a dim-table
scan, or a generated grid — never directly on a fact table. This test
turns that rule into a regression gate over EVERY registered batch op,
using the product-surface walker in ``plans/audit.py`` (also behind the
CLI's ``audit <op>``).

(This is the audit that caught corpus_epoch_plan's global cumsum in r6; it
now uses the two-level range-bucket prefix sum and passes.)
"""

from __future__ import annotations

from python_kinesis_streaming_spark.plans.audit import global_window_violations
from python_kinesis_streaming_spark.plans.explain import shuffle_count
from tests.corpus_sets import PROMOTED_LAZY_OPS

#: ops whose builder executes a streaming query / writes side outputs —
#: they are audited by their own suites, and the global-window rule is a
#: batch-plan property.
SKIP_PREFIXES = ("stream_", "source_stream", "sink_", "join_stream", "source_python")

#: Max shuffle Exchanges any single batch op may plan. The r6 census:
#: 62 ops at 0, 129 at 1, 87 at 2, and a thin tail of deliberately
#: iterative algorithms. A new op (or a regression in an existing one)
#: exceeding its ceiling is far more likely an accidental
#: repartition / lost broadcast than a new legitimate iteration.
SHUFFLE_CEILING = 15

#: op name -> its shuffle budget where it is not ``SHUFFLE_CEILING``
SHUFFLE_BUDGET = {
    **dict.fromkeys(PROMOTED_LAZY_OPS, 4),  # see corpus_sets
    "span_dedup_parity": 6,  # its r7 pin
    # three invariant aggregates each re-derive pack_concat's (pinned
    # ≤2-shuffle) layout plus the conservation join — measured 11
    "pack_concat_audit": 12,
    # distinct vids + cue/frame builds + the bucketized range join's
    # equi-join, dedup and uncovered anti-join — measured 7
    "subtitles_align_parity": 8,
    # same invariant-aggregate shape as pack_concat_audit plus the
    # per-bucket BFD-tightness aggregate
    "pack_best_fit_audit": 14,
    "graph_pagerank_lite": 25,  # 3 unrolled rank rounds
    "dedup_clusters": 22,  # connected-components label propagation
    "dedup_lsh_tuning": 20,  # candidate volume across band layouts
    # 4-stage funnel: the MinHash-LSH and Jaccard-confirm legs each
    # re-derive the canonical (normalized-dedup) corpus — measured 16
    "corpus_dedup_funnel": 17,
    # 3 prefilter legs over the shared coords lineage; since the r15
    # spill-proof reshape each leg ranks its own pair stream (smaller
    # per-task sorts — the ×10/1 GB fix), so the static plan carries one
    # window exchange + the cores-proportional fan-out repartition per
    # leg plus the cached cna build re-expanded per consumer (runtime
    # dedups via InMemoryRelation/ReusedExchange). Every Exchange is
    # d*k-, N- or sample-bounded, never pairs — measured 20 (the 2-leg
    # wave-3 sibling measures 14)
    "sim_prefilter_quality_report": 20,
    # NN-descent iteration shape: the seed graph feeds both hop ends,
    # the candidate union AND the stage-1 audit — 4 consumers of one
    # lineage, re-expanded in the static plan; all edge tables are
    # N*k rows, exact legs sample-bounded — measured 17
    "emb_nndescent_round": 18,
}


#: The ONLY ops allowed to plan row-at-a-time Python (BatchEvalPython /
#: BatchEvalPythonUDTF): the deliberate slow-path rungs of the §2.10 UDF
#: ladder, kept as measured contrast to the Arrow paths. Everything else
#: Python-touching must be Arrow/Pandas-vectorized (r6 census: exactly
#: these three; ArrowEvalPython ×3, FlatMapGroupsInPandas ×2,
#: MapInPandas ×4 elsewhere).
ROW_PYTHON_ALLOWED = {"udf_scalar_py", "udtf_python_lateral", "udtf_dynamic_schema"}


def plan_gate_failures(name: str, df, plan: str) -> dict[str, object]:
    """The three scale gates of one op's plan: no unbounded global window
    (tree walk), its shuffle budget, and no row-at-a-time Python outside
    the documented UDF-ladder rungs (formatted-plan text)."""
    failures: dict[str, object] = {}
    if violations := global_window_violations(df):
        failures["global_window"] = violations
    shuffles = shuffle_count(plan)
    if shuffles > SHUFFLE_BUDGET.get(name, SHUFFLE_CEILING):
        failures["shuffles"] = shuffles
    if "BatchEvalPython" in plan and name not in ROW_PYTHON_ALLOWED:
        failures["row_python"] = True
    return failures


def test_global_windows_only_consume_bounded_inputs(plan_corpus):
    """One sweep over every batch op's plan through ``plan_gate_failures``.

    Deterministic sweep (CLAUDE.md invariant 4): the plans come from the
    session-shared ``plan_corpus`` fixture, which clears the CacheManager
    AND the table memo, then builds every lazy op once in registration
    order — the only cache state the plans can see is the corpus's own
    fixed build order, so every count is reproducible regardless of which
    tests ran earlier (observed r14: the same op read 12 or 26 Exchanges
    depending on test order). Sharing the corpus with test_plans' global
    sweep and the schema gate pays the ~250 s catalyst cost once per
    session instead of three times (VERDICT r14 item 2).

    A failure names the gate: ``global_window`` (add an Aggregate/Limit
    or use the two-level prefix-sum pattern), ``shuffles`` (accidental
    repartition / lost broadcast?) or ``row_python`` (use a pandas/Arrow
    UDF or built-ins)."""
    failures = {
        name: found
        for name, (df, plan) in plan_corpus.items()
        if not name.startswith(SKIP_PREFIXES)
        and (found := plan_gate_failures(name, df, plan))
    }
    assert failures == {}


def test_violation_detector_catches_a_real_offender(spark, sf_dir):
    """Positive control: a global rank straight over the events fact table
    must be flagged (guards against the walker silently matching nothing)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from python_kinesis_streaming_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    bad = ev.withColumn(
        "rk", F.row_number().over(Window.orderBy("ts", "event_id"))
    )
    assert global_window_violations(bad) == [["events"]]

    ok = (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .withColumn("rk", F.row_number().over(Window.orderBy(F.desc("n"))))
    )
    assert global_window_violations(ok) == []

"""Unit tests for every plans/explain.py predicate (ADVICE r5 items 1-2, 4).

Two layers:
- canned plan text covering each explain mode's notation, so the parsing
  rules (formatted detail headers vs tree lines, ``[codegen id : N]`` vs
  ``*(N)`` vs the codegen-mode header) are pinned without a SparkSession;
- live plans from a real session cross-checking the canned expectations
  (formatted vs simple vs codegen mode must agree on the same query).
"""

from __future__ import annotations

from python_kinesis_streaming_spark.plans.explain import (
    broadcast_join_count,
    codegen_stage_count,
    has_partial_aggregation,
    is_take_ordered,
    normalized_plan,
    plan_of,
    pushed_filters,
    read_schemas,
    shuffle_count,
)

# A trimmed formatted-mode plan: every operator appears BOTH as a tree line
# and as a numbered detail header — the double-count trap from ADVICE r5.
FORMATTED_PLAN = """\
== Physical Plan ==
AdaptiveSparkPlan (9)
+- Sort (8)
   +- Exchange (7)
      +- HashAggregate (6)
         +- Exchange (5)
            +- HashAggregate (4)
               +- BroadcastHashJoin Inner BuildRight (3)
                  :- Filter (1)
                  :     +- Scan parquet  (0)
                  +- BroadcastExchange (2)

(0) Scan parquet
Output [3]: [l_orderkey#1L, l_quantity#2, l_discount#3]
PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,10.0)]
ReadSchema: struct<l_orderkey:bigint,l_quantity:double,l_discount:double>

(1) Filter [codegen id : 1]
Input [3]: [l_orderkey#1L, l_quantity#2, l_discount#3]

(2) BroadcastExchange
Input [2]: [o_orderkey#10L, o_orderpriority#11]

(3) BroadcastHashJoin [codegen id : 1]
Left keys [1]: [l_orderkey#1L]

(4) HashAggregate [codegen id : 1]
Functions [1]: [partial_sum(l_quantity#2)]

(5) Exchange
Input [2]: [o_orderpriority#11, sum#20]

(6) HashAggregate [codegen id : 2]
Functions [1]: [sum(l_quantity#2)]

(7) Exchange
Input [2]: [o_orderpriority#11, sum_qty#21]

(8) Sort [codegen id : 3]
Input [2]: [o_orderpriority#11, sum_qty#21]

(9) AdaptiveSparkPlan
Output [2]: [o_orderpriority#11, sum_qty#21]
"""

# Simple/extended tree notation: codegen'd nodes carry a ``*(N)`` prefix,
# Exchange nodes spell their partitioning inline, no detail section.
SIMPLE_PLAN = """\
== Physical Plan ==
*(3) Sort [sum_qty#21 DESC NULLS LAST], true, 0
+- Exchange rangepartitioning(sum_qty#21 DESC NULLS LAST, 32), ENSURE_REQUIREMENTS, [plan_id=42]
   +- *(2) HashAggregate(keys=[o_orderpriority#11], functions=[sum(l_quantity#2)])
      +- Exchange hashpartitioning(o_orderpriority#11, 32), ENSURE_REQUIREMENTS, [plan_id=41]
         +- *(1) HashAggregate(keys=[o_orderpriority#11], functions=[partial_sum(l_quantity#2)])
            +- *(1) BroadcastHashJoin [l_orderkey#1L], [o_orderkey#10L], Inner, BuildRight
               :- *(1) ColumnarToRow
               :  +- FileScan parquet [l_orderkey#1L] PushedFilters: [IsNotNull(l_quantity)], ReadSchema: struct<l_orderkey:bigint>
               +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=40]
                  +- ReusedExchange [o_orderkey#10L], BroadcastExchange
"""

CODEGEN_PLAN = """\
Found 2 WholeStageCodegen subtrees.
== Subtree 1 / 2 (maxMethodCodeSize:284; maxConstantPoolSize:193(0.29% used); numInnerClasses:0) ==
*(1) HashAggregate(keys=[t#5], functions=[partial_count(1)])
+- *(1) Project [type#3 AS t#5]

== Subtree 2 / 2 (maxMethodCodeSize:312; maxConstantPoolSize:206(0.31% used); numInnerClasses:0) ==
*(2) HashAggregate(keys=[t#5], functions=[count(1)])
+- Exchange hashpartitioning(t#5, 32)
"""

EMPTY_CODEGEN_PLAN = "Found 0 WholeStageCodegen subtrees.\n"


def test_shuffle_count_formatted_counts_each_exchange_once():
    # two shuffle Exchanges; BroadcastExchange excluded; tree+detail dedup'd
    assert shuffle_count(FORMATTED_PLAN) == 2


def test_shuffle_count_simple_tree():
    # two Exchange tree nodes; BroadcastExchange and ReusedExchange excluded
    assert shuffle_count(SIMPLE_PLAN) == 2


def test_codegen_stage_count_formatted_distinct_ids():
    # codegen ids 1,2,3 across five tagged operators -> 3 spans
    assert codegen_stage_count(FORMATTED_PLAN) == 3


def test_codegen_stage_count_simple_star_prefixes():
    # *(1) x4, *(2), *(3) -> 3 distinct spans
    assert codegen_stage_count(SIMPLE_PLAN) == 3


def test_codegen_stage_count_codegen_mode_header():
    # header says 2; naive substring counting would say 3 (header + subtrees)
    assert codegen_stage_count(CODEGEN_PLAN) == 2
    assert codegen_stage_count(EMPTY_CODEGEN_PLAN) == 0


def test_pushed_filters_and_read_schema_extraction():
    pf = pushed_filters(FORMATTED_PLAN)
    assert pf == ["[IsNotNull(l_quantity), GreaterThan(l_quantity,10.0)]"]
    rs = read_schemas(FORMATTED_PLAN)
    assert rs == ["struct<l_orderkey:bigint,l_quantity:double,l_discount:double>"]


def test_broadcast_partial_takeordered_predicates():
    assert broadcast_join_count(FORMATTED_PLAN) == 1  # detail-deduped
    assert broadcast_join_count(SIMPLE_PLAN) == 1
    assert has_partial_aggregation(FORMATTED_PLAN)
    assert not is_take_ordered(FORMATTED_PLAN)
    assert is_take_ordered("TakeOrderedAndProject(limit=10, ...)")


# Three builds of one count(DISTINCT a), count(DISTINCT b) query: fresh
# expression ids, exchange ids and lambda suffixes; B lists the Expand
# groups in the other order; C lists the distinct columns in the other
# order, so the Expand output, the gid literals and the key lists of the
# aggregate and exchange above it change with them.
EXPAND_PLAN_A = """\
(3) Expand [codegen id : 1]
Input [2]: [a#11L, b#12]
Arguments: [[a#11L, null, 1], [null, b#12, 2]], [a#20L, b#21, gid#19]
(4) Exchange
Arguments: hashpartitioning(a#20L, 8), ENSURE_REQUIREMENTS, [plan_id=41]
Output [1]: [transform(v#7, lambdafunction(lambda x_12#30, lambda x_12#30, false)) AS t#31]
(5) HashAggregate
Keys [3]: [a#20L, b#21, gid#19]
Functions [2]: [partial_count(a#20L) FILTER (WHERE (gid#19 = 1)), partial_count(b#21) FILTER (WHERE (gid#19 = 2))]
(6) Exchange
Arguments: hashpartitioning(a#20L, b#21, gid#19, 8), ENSURE_REQUIREMENTS, [plan_id=42]
"""
EXPAND_PLAN_B = """\
(3) Expand [codegen id : 1]
Input [2]: [a#511L, b#512]
Arguments: [[null, b#512, 2], [a#511L, null, 1]], [a#520L, b#521, gid#519]
(4) Exchange
Arguments: hashpartitioning(a#520L, 8), ENSURE_REQUIREMENTS, [plan_id=977]
Output [1]: [transform(v#507, lambdafunction(lambda x_98#530, lambda x_98#530, false)) AS t#531]
(5) HashAggregate
Keys [3]: [a#520L, b#521, gid#519]
Functions [2]: [partial_count(a#520L) FILTER (WHERE (gid#519 = 1)), partial_count(b#521) FILTER (WHERE (gid#519 = 2))]
(6) Exchange
Arguments: hashpartitioning(a#520L, b#521, gid#519, 8), ENSURE_REQUIREMENTS, [plan_id=978]
"""
EXPAND_PLAN_C = """\
(3) Expand [codegen id : 1]
Input [2]: [b#12, a#11L]
Arguments: [[b#12, null, 1], [null, a#11L, 2]], [b#21, a#20L, gid#19]
(4) Exchange
Arguments: hashpartitioning(a#20L, 8), ENSURE_REQUIREMENTS, [plan_id=41]
Output [1]: [transform(v#7, lambdafunction(lambda x_12#30, lambda x_12#30, false)) AS t#31]
(5) HashAggregate
Keys [3]: [b#21, a#20L, gid#19]
Functions [2]: [partial_count(a#20L) FILTER (WHERE (gid#19 = 2)), partial_count(b#21) FILTER (WHERE (gid#19 = 1))]
(6) Exchange
Arguments: hashpartitioning(b#21, a#20L, gid#19, 8), ENSURE_REQUIREMENTS, [plan_id=42]
"""


def test_normalized_plan_strips_ids_and_sorts_expand_groups():
    assert len({EXPAND_PLAN_A, EXPAND_PLAN_B, EXPAND_PLAN_C}) == 3
    assert normalized_plan(EXPAND_PLAN_A) == normalized_plan(EXPAND_PLAN_B)
    assert normalized_plan(EXPAND_PLAN_A) == normalized_plan(EXPAND_PLAN_C)
    # a real difference survives normalization
    changed = EXPAND_PLAN_B.replace("hashpartitioning(a#520L, 8)", "hashpartitioning(a#520L, 16)")
    assert normalized_plan(EXPAND_PLAN_A) != normalized_plan(changed)
    # so does a distinct aggregate tested against the other group
    swapped = EXPAND_PLAN_C.replace("(gid#19 = 2)", "(gid#19 = 1)")
    assert normalized_plan(EXPAND_PLAN_A) != normalized_plan(swapped)


def test_live_plan_modes_agree(spark, sf_dir):
    """Cross-check the parsers against a real 2-shuffle plan in every mode:
    groupBy (1 Exchange) + orderBy (1 Exchange), no broadcast.

    AQE is pinned OFF around the explains: an un-executed AdaptiveSparkPlan
    prints its initial plan with NO ``[codegen id : N]`` tags, so whether
    the fresh plan carries codegen ids would otherwise depend on session
    cache state (a cached load_table child is the only pre-execution
    source of ids under AQE — test-order-dependent, observed r14)."""
    from pyspark.sql import functions as F

    from python_kinesis_streaming_spark.sources.tables import load_table

    df = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy("event_type")
    )
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        formatted = plan_of(df, "formatted")
        simple = plan_of(df, "simple")
        codegen = plan_of(df, "codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)

    assert shuffle_count(formatted) == 2, formatted
    assert shuffle_count(simple) == 2, simple

    n_fmt = codegen_stage_count(formatted)
    n_simple = codegen_stage_count(simple)
    assert n_fmt == n_simple >= 1, (n_fmt, n_simple)
    # codegen mode on an un-executed AdaptiveSparkPlan reports the header
    # honestly (often 0 subtrees pre-finalization); the parser must return
    # exactly the header's N — i.e. equal the number of printed subtrees.
    n_cg = codegen_stage_count(codegen)
    assert n_cg == codegen.count("== Subtree"), codegen

"""Plan inspection + hygiene predicates (see ``plans.explain``) and
optimized-tree audits (see ``plans.audit``)."""

from python_kinesis_streaming_spark.plans.audit import (  # noqa: F401
    global_window_violations,
    plan_audit,
)
from python_kinesis_streaming_spark.plans.explain import (  # noqa: F401
    EXPLAIN_MODES,
    broadcast_join_count,
    codegen_stage_count,
    has_partial_aggregation,
    is_take_ordered,
    normalized_plan,
    plan_of,
    pushed_filters,
    read_schemas,
    shuffle_count,
    uncached_plan_of,
)

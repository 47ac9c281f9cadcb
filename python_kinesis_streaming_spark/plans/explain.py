"""Physical-plan inspection helpers — the audit surface behind the 100 TB
plan-hygiene gate (tests/test_plans.py) and the CLI's ``explain <op>``.

``plan_of`` returns Spark's explain output for a DataFrame; the predicate
helpers parse the properties the plan pins at scale: filter pushdown to the
parquet scan, column pruning (ReadSchema), broadcast-vs-shuffle join
choice, partial aggregation, top-k pushdown (TakeOrderedAndProject), and
Exchange (shuffle) counts.

Cache caveat (CLAUDE.md invariant 4): Spark's CacheManager substitutes
InMemoryRelation into any matching fragment of a *fresh* plan, hiding the
parquet scan. Audit with ``SPARK_GRAFT_NO_TABLE_CACHE=1`` and
``spark.catalog.clearCache()`` (see ``uncached_plan_of``).
"""

from __future__ import annotations

import re
from pathlib import Path

from pyspark.sql import DataFrame

#: explain modes accepted by Spark (`df.explain(mode)` synonyms).
EXPLAIN_MODES = ("simple", "extended", "codegen", "cost", "formatted")


def plan_of(df: DataFrame, mode: str = "formatted") -> str:
    """Return the explain string for ``df`` (same text `df.explain` prints)."""
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def uncached_plan_of(df_builder, spark, *args, mode: str = "formatted") -> str:
    """Build ``df_builder(spark, *args)`` with the session cache cleared and
    the table cache bypassed, so the plan shows real parquet scans."""
    import os

    from python_kinesis_streaming_spark.sources import tables

    prev = os.environ.get("SPARK_GRAFT_NO_TABLE_CACHE")
    os.environ["SPARK_GRAFT_NO_TABLE_CACHE"] = "1"
    spark.catalog.clearCache()
    tables._CACHE.clear()
    try:
        return plan_of(df_builder(spark, *args), mode)
    finally:
        if prev is None:
            os.environ.pop("SPARK_GRAFT_NO_TABLE_CACHE", None)
        else:
            os.environ["SPARK_GRAFT_NO_TABLE_CACHE"] = prev
        tables._CACHE.clear()


#: the checkout root, as it appears in scan locations and scratch paths
_ROOT = str(Path(__file__).resolve().parents[2])


def _split_top_level(body: str) -> list[str]:
    """Split ``body`` on the commas that sit outside every bracket."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(body):
        if ch in "[(":
            depth += 1
        elif ch in "])":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(body[start:i].strip())
            start = i + 1
    parts.append(body[start:].strip())
    return parts


def _sort_expand_groups(line: str) -> str:
    """Sort the projection groups of an ``Expand`` argument list
    (``[[g0], [g1], ...], [output]``) found at the first ``[[``."""
    start = line.find("[[")
    if start < 0:
        return line
    depth = 0
    for end in range(start, len(line)):
        depth += line[end] in "[("
        depth -= line[end] in "])"
        if depth == 0:
            break
    groups = sorted(_split_top_level(line[start + 1 : end]))
    return line[:start] + "[" + ", ".join(groups) + "]" + line[end + 1 :]


def normalized_plan(plan: str) -> str:
    """``plan`` with everything that varies between two builds of the same
    query stripped, so two dumps compare as text: expression ``#id``s,
    ``plan_id=``, ``RDD[n]``, the checkout path, the numeric suffix of
    lambda variables, and the order of each ``Expand``'s projection groups
    (Spark lists the groups of several ``count(DISTINCT ...)`` aggregates
    in a different order from one session to the next)."""
    text = plan.replace(_ROOT, "<root>")
    text = re.sub(r"#\d+", "", text)
    text = re.sub(r"plan_id=\d+", "plan_id=", text)
    text = re.sub(r"RDD\[\d+\]", "RDD[]", text)
    text = re.sub(r"\b(lambda \w+?)_\d+\b", r"\1", text)
    lines = text.splitlines()
    in_expand = False
    for i, line in enumerate(lines):
        if re.match(r"^\(\d+\) ", line):
            in_expand = line.split()[1] == "Expand"
        if (in_expand and line.startswith("Arguments: ")) or "Expand [[" in line:
            lines[i] = _sort_expand_groups(line)
    return "\n".join(lines)


def pushed_filters(plan: str) -> list[str]:
    """All PushedFilters lines from a formatted plan (one per scan)."""
    return [
        line.split("PushedFilters: ", 1)[1].strip()
        for line in plan.splitlines()
        if "PushedFilters: " in line
    ]


def read_schemas(plan: str) -> list[str]:
    """All ReadSchema lines from a formatted plan (column-pruning audit)."""
    return [
        line.split("ReadSchema: ", 1)[1].strip()
        for line in plan.splitlines()
        if "ReadSchema: " in line
    ]


def broadcast_join_count(plan: str) -> int:
    """Number of BroadcastHashJoin operators, detail-deduped on formatted
    plans (which print each operator in both the tree and the detail
    section) — same mode handling as ``shuffle_count``."""
    detail_ops = re.findall(r"^\(\d+\) +([A-Za-z]+)", plan, flags=re.M)
    if detail_ops:
        return sum(1 for name in detail_ops if name == "BroadcastHashJoin")
    return plan.count("BroadcastHashJoin")


def shuffle_count(plan: str) -> int:
    """Number of shuffle Exchange operators in the plan.

    Formatted-mode plans print every operator twice — once in the tree
    (``+- Exchange (4)``) and once as a detail header (``(4) Exchange``) —
    so counting substrings double-counts. When detail headers are present,
    count only those; otherwise (simple/extended tree text) count tree
    nodes whose operator name starts with ``Exchange``, which excludes
    BroadcastExchange and ReusedExchange by construction.
    """
    detail_ops = re.findall(r"^\(\d+\) +([A-Za-z]+)", plan, flags=re.M)
    if detail_ops:
        return sum(1 for name in detail_ops if name == "Exchange")
    count = 0
    for line in plan.splitlines():
        node = re.sub(r"^[\s+\-:*!]*(\(\d+\) +)?", "", line)
        if node.startswith("Exchange"):
            count += 1
    return count


def has_partial_aggregation(plan: str) -> bool:
    """Map-side combine present: >=2 HashAggregates and a partial_* function."""
    return plan.count("HashAggregate") >= 2 and "partial_" in plan


def is_take_ordered(plan: str) -> bool:
    """ORDER BY + LIMIT compiled to per-partition top-k, not a global sort."""
    return "TakeOrderedAndProject" in plan


def codegen_stage_count(plan: str) -> int:
    """WholeStageCodegen span count — wider fused spans = fewer JVM virtual
    calls per row; a plan fragment outside any span runs interpreted.

    Mode-aware: ``codegen``-mode output states the count in its header
    (``Found N WholeStageCodegen subtrees.``); formatted mode tags fused
    operators with ``[codegen id : N]``; simple/extended mark fused tree
    nodes with a ``*(N)`` prefix. In each case the span count is the number
    of DISTINCT codegen ids, not a substring count.
    """
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", plan)
    if m:
        return int(m.group(1))
    formatted_ids = set(re.findall(r"\[codegen id : (\d+)\]", plan))
    if formatted_ids:
        return len(formatted_ids)
    return len(set(re.findall(r"\*\((\d+)\)", plan)))

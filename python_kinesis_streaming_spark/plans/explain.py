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


def _bracket_end(text: str, start: int) -> int:
    """Index of the bracket that closes the one at ``start``."""
    depth = 0
    for end in range(start, len(text)):
        depth += text[end] in "[("
        depth -= text[end] in "])"
        if depth == 0:
            return end
    return len(text)


def _sorted_items(line: str, start: int) -> str:
    """``line`` with the items of the bracket opened at ``start`` sorted."""
    end = _bracket_end(line, start)
    items = sorted(_split_top_level(line[start + 1 : end]))
    return line[: start + 1] + ", ".join(items) + line[end:]


def _canonical_expand(line: str, gids: dict[str, dict[str, str]]) -> str:
    """``line`` with the ``Expand`` argument list found at its first ``[[``
    (``[[g0], [g1], ...], [output]``) in canonical order: each group's
    ``gid`` literal renumbered by the rank of the group's (output, value)
    pairs (recorded in ``gids`` for the aggregates' ``gid = n`` tests),
    then the items of each group, the groups and the output sorted."""
    start = line.find("[[")
    if start < 0:
        return line
    mid = _bracket_end(line, start)
    out = line.find("[", mid)
    end = _bracket_end(line, out)
    groups = [_split_top_level(g[1:-1]) for g in _split_top_level(line[start + 1 : mid])]
    output = _split_top_level(line[out + 1 : end])
    names = [re.sub(r"#\d+", "", o) for o in output]
    if "gid" in names:
        k = names.index("gid")

        def pairs(g: list[str]) -> list[str]:
            return sorted(
                names[i] + "=" + re.sub(r"#\d+", "", v)
                for i, v in enumerate(g)
                if i != k and v != "null"
            )

        renumber = {g[k]: str(rank) for rank, g in enumerate(sorted(groups, key=pairs))}
        gids[output[k]] = renumber
        for g in groups:
            g[k] = renumber[g[k]]
    body = ", ".join(sorted("[" + ", ".join(sorted(g)) + "]" for g in groups))
    return f"{line[:start]}[{body}], [{', '.join(sorted(output))}]{line[end + 1 :]}"


def normalized_plan(plan: str) -> str:
    """``plan`` with everything that varies between two builds of the same
    query stripped, so two dumps compare as text: expression ``#id``s,
    ``plan_id=``, ``RDD[n]``, the checkout path and the numeric suffix of
    lambda variables.

    The ``Expand`` of several ``count(DISTINCT ...)`` aggregates lists its
    groups, its output and the ``gid`` literals in per-session set order,
    and the key lists of the aggregates and exchanges above it follow.
    In a plan with an ``Expand`` these are put in canonical order (see
    ``_canonical_expand``) and every ``Input``/``Output``/``Keys``/
    ``Results`` list and ``hashpartitioning`` argument list is sorted."""
    lines = plan.replace(_ROOT, "<root>").splitlines()
    gids: dict[str, dict[str, str]] = {}
    in_expand = False
    for i, line in enumerate(lines):
        if re.match(r"^\(\d+\) ", line):
            in_expand = line.split()[1] == "Expand"
        if (in_expand and line.startswith("Arguments: ")) or "Expand [[" in line:
            lines[i] = _canonical_expand(line, gids)

    def renumbered(m: re.Match) -> str:
        # a literal that no group carries keeps a mark, so it cannot pass as one
        known = gids.get(m[1])
        return m[0] if known is None else f"{m[1]} = {known.get(m[2], m[2] + '?')}"

    text = re.sub(r"\b(gid#\d+) = (\d+)", renumbered, "\n".join(lines))
    text = re.sub(r"#\d+", "", text)
    text = re.sub(r"plan_id=\d+", "plan_id=", text)
    text = re.sub(r"RDD\[\d+\]", "RDD[]", text)
    text = re.sub(r"\b(lambda \w+?)_\d+\b", r"\1", text)
    if not gids:
        return text
    lines = text.splitlines()
    for i, line in enumerate(lines):
        if m := re.match(r"(Input|Output|Keys|Results)( \[\d+\])?: \[", line):
            lines[i] = _sorted_items(line, m.end() - 1)
        elif (j := line.find("hashpartitioning(")) >= 0:
            lines[i] = _sorted_items(line, j + len("hashpartitioning"))
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

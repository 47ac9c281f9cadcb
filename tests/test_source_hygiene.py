"""Source hygiene read from the AST alone (no Spark): test modules define
each ``test_*`` name once, package and test modules import nothing they
never use, the ``ts``, ``dq``, ``feat``, ``sim`` and ``graph`` op families
each live in one module, and the cents and micro-score freezes and the
``(sim DESC, vec_id)`` ranking are each written once."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "python_kinesis_streaming_spark"


def unused_imports(tree: ast.Module, lines: list[str]) -> list[str]:
    """Names a module-level import binds that the module never reads,
    unless listed in ``__all__`` or imported on a ``# noqa: F401`` line."""
    strings: dict[str, set[str]] = {}  # module-level name -> its str literals
    bound: dict[str, tuple[int, int]] = {}  # name -> (statement, alias) line
    for node in tree.body:
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            if getattr(node, "module", None) == "__future__":
                continue
            for alias in node.names:
                name = alias.asname or alias.name.split(".")[0]
                bound[name] = (node.lineno, alias.lineno)
        elif isinstance(node, ast.Assign):
            # a list may splice earlier module-level lists: ``_SURFACE + [...]``
            literals: set[str] = set()
            for c in ast.walk(node.value):
                if isinstance(c, ast.Constant) and isinstance(c.value, str):
                    literals.add(c.value)
                elif isinstance(c, ast.Name):
                    literals |= strings.get(c.id, set())
            for target in node.targets:
                if isinstance(target, ast.Name):
                    strings[target.id] = literals
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    return sorted(
        f"{name} (line {line})"
        for name, (stmt, line) in bound.items()
        if name not in used | strings.get("__all__", set())
        and "noqa: F401" not in lines[stmt - 1] + lines[line - 1]
    )


def test_no_test_name_defined_twice():
    """Python keeps only the last of two same-named tests; the first never runs."""
    found = {}
    for path in sorted((ROOT / "tests").glob("test_*.py")):
        names = Counter(
            node.name
            for node in ast.parse(path.read_text()).body
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            and node.name.startswith("test_")
        )
        if dups := sorted(n for n, k in names.items() if k > 1):
            found[path.name] = dups
    assert found == {}


def test_no_unused_module_level_import():
    found = {}
    paths = [*ROOT.glob("python_kinesis_streaming_spark/**/*.py"), *ROOT.glob("tests/*.py")]
    for path in sorted(paths):
        text = path.read_text()
        if unused := unused_imports(ast.parse(text), text.splitlines()):
            found[str(path.relative_to(ROOT))] = unused
    assert found == {}


#: op-name prefix -> the one module that registers that family
FAMILY_HOMES = {
    "ts_": PKG / "operators" / "timeseries.py",
    "dq_": PKG / "operators" / "data_quality.py",
    "feat_": PKG / "operators" / "features.py",
    "sim_": PKG / "llm" / "similarity.py",
    "graph_": PKG / "operators" / "graph.py",
}


def test_op_families_are_defined_in_their_home_module():
    """Every op whose name starts with a ``FAMILY_HOMES`` prefix is
    registered by that family's module."""
    stray = [
        f"{path.relative_to(ROOT)}: {name}"
        for path in sorted(PKG.glob("**/*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and getattr(node.func, "id", None) == "op"
        and node.args
        and isinstance(node.args[0], ast.Constant)
        for name in [str(node.args[0].value)]
        for prefix, home in FAMILY_HOMES.items()
        if name.startswith(prefix) and path != home
    ]
    assert stray == []


def test_cents_freeze_is_written_once():
    """Spark code freezes ``value`` to integer cents through ``rounding.cents``."""
    needle = 'F.floor(F.col("value") * 100'
    copies = [
        f"{path.relative_to(ROOT)}:{i}"
        for path in sorted(PKG.glob("**/*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if needle in line
    ]
    assert copies == []


def test_micro_score_freeze_is_written_once():
    """Spark code freezes a logistic score to integer micro-units through
    ``data_quality.micro_score`` (the needle is matched with whitespace
    removed, since the expression spans lines)."""
    needle = "F.lit(1000000.0)/(F.lit(1.0)+F.exp("
    copies = {
        str(path.relative_to(ROOT)): n
        for path in sorted(PKG.glob("**/*.py"))
        if (n := "".join(path.read_text().split()).count(needle))
    }
    assert copies == {"python_kinesis_streaming_spark/operators/data_quality.py": 1}


def test_sim_ranking_is_written_once():
    """Spark code ranks by ``(sim DESC, vec_id)`` per query through
    ``similarity.top_k``. Two rankings keep their own window because
    ``top_k`` would change their plan: ``sim_rank_quality_ndcg`` names its
    rank ``erank`` and ``emb_quantization_recall`` ranks per ``q_id``."""
    needle = '.orderBy(F.desc("sim"),"vec_id")'
    copies = {
        f"{path.relative_to(PKG)}::{node.name}": n
        for path in sorted(PKG.glob("**/*.py"))
        for lines in [path.read_text().splitlines()]
        for node in ast.parse("\n".join(lines)).body
        if isinstance(node, ast.FunctionDef)
        for body in ["".join(lines[node.lineno - 1 : node.end_lineno])]
        if (n := "".join(body.split()).count(needle))
    }
    assert copies == {
        "llm/similarity.py::top_k": 1,
        "llm/similarity.py::emb_quantization_recall": 1,
        "llm/similarity.py::sim_rank_quality_ndcg": 1,
    }

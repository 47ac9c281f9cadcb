"""Pins for tools/rotate_priority.py — the per-round rotation is the
single highest-leverage round-start action (an unrotated registry
wastes a whole grading window re-grading greens), so the tool that
mechanizes it gets the same test treatment as an operator.

Hermeticity (r8 VERDICT item 1): the tool globs every
``CORRECTNESS_r*.json`` next to itself, so any test pinned against the
live repo's results set breaks the moment the driver drops the next
round's artifact. All rule assertions therefore run against a SYNTHETIC
sandbox tree (tiny fake registry + fake CORRECTNESS files) whose
contents the test controls completely; the only real-tree test asserts
round-agnostic invariants (dry run exits 0 and never mutates bytes).
Everything runs the tool in a subprocess: dry runs must never mutate
registry.py, and the in-process registry must stay frozen.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(REPO, "tools", "rotate_priority.py")

FAKE_REGISTRY = textwrap.dedent(
    '''\
    """Sandbox registry for rotation-tool tests (shape-compatible)."""

    _OP_MODULES = [
        "python_kinesis_streaming_spark.fake_ops",
    ]

    _GRADING_PRIORITY = [
        "a",
        "c",
        "b",
        "e",
        "d",
    ]


    def all_queries():
        return {n: None for n in _GRADING_PRIORITY}
    '''
)

GREEN = {"rows_match": True, "schema_match": True, "hash_match": True}


def _make_sandbox(tmp_path, results: dict[str, dict]) -> str:
    """Build a minimal repo tree the tool can run against.

    ``results`` maps CORRECTNESS filename -> {op: row} content. The fake
    registry's current priority is [a, c, b, e, d].
    """
    work = tmp_path / "repo"
    pkg = work / "python_kinesis_streaming_spark"
    (work / "tools").mkdir(parents=True)
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "registry.py").write_text(FAKE_REGISTRY)
    import shutil

    shutil.copy(TOOL, work / "tools" / "rotate_priority.py")
    for fname, content in results.items():
        (work / fname).write_text(json.dumps(content))
    return str(work)


def _run_in(work: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(work, "tools", "rotate_priority.py"),
         *args],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=work,
    )


BASE_RESULTS = {
    # history: a and b went green in r01
    "CORRECTNESS_r01.json": {"a": GREEN, "b": GREEN},
    # latest: c failed (err), d green — e never graded anywhere
    "CORRECTNESS_r02.json": {"c": {"err": "boom"}, "d": GREEN},
}


def test_rotation_rules_failed_then_never_then_back(tmp_path):
    """front = latest failures, next = never-graded (current order),
    back = driver-green (current order): [a,c,b,e,d] -> [c,e,a,b,d]."""
    work = _make_sandbox(tmp_path, BASE_RESULTS)
    out = _run_in(work, os.path.join(work, "CORRECTNESS_r02.json"))
    assert out.returncode == 0, out.stderr
    assert "regrade-first (failed in CORRECTNESS_r02.json): 1" in out.stdout
    assert "never-graded block: 1" in out.stdout
    assert "rotated-to-back (driver-green): 3" in out.stdout
    assert "total: 5 (was 5)" in out.stdout
    assert "next window (first 50): c .. d" in out.stdout
    listed = [
        line.strip() for line in out.stdout.splitlines()
        if line.startswith("  ") and line.strip() in ("a", "b", "c", "d", "e")
    ]
    assert listed == ["c", "e", "a", "b", "d"], listed
    assert "dry run" in out.stdout
    # dry run never touches the sandbox registry
    reg = os.path.join(work, "python_kinesis_streaming_spark", "registry.py")
    assert open(reg).read() == FAKE_REGISTRY


def test_tolerates_new_driver_artifacts(tmp_path):
    """Driver-artifact canary (r8 VERDICT item 6): when the driver drops
    a NEW CORRECTNESS file between rounds, the tool must fold it into
    the green-ever set (e rotates back) rather than erroring or keeping
    a stale never-graded block."""
    results = dict(BASE_RESULTS)
    results["CORRECTNESS_r99.json"] = {"e": GREEN}
    work = _make_sandbox(tmp_path, results)
    out = _run_in(work, os.path.join(work, "CORRECTNESS_r02.json"))
    assert out.returncode == 0, out.stderr
    assert "never-graded block: 0" in out.stdout
    assert "rotated-to-back (driver-green): 4" in out.stdout


def test_real_tree_dry_run_is_nondestructive():
    """Round-agnostic real-tree invariant: a dry run against the newest
    real CORRECTNESS artifact exits 0 and never mutates registry.py.
    (No window-content pins here — those would break every time the
    driver drops the next round's artifact; the rules are pinned by the
    sandbox tests above.)"""
    latest = sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")))[-1]
    reg_path = os.path.join(
        REPO, "python_kinesis_streaming_spark", "registry.py"
    )
    before = open(reg_path, "rb").read()
    out = subprocess.run(
        [sys.executable, TOOL, latest],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=REPO,
    )
    assert out.returncode == 0, out.stderr
    assert "dry run" in out.stdout
    assert "next window (first 50):" in out.stdout
    assert open(reg_path, "rb").read() == before


FAKE_REGISTRY_UNLISTED = FAKE_REGISTRY.replace(
    "def all_queries():\n"
    '    return {n: None for n in _GRADING_PRIORITY}\n',
    "def all_queries():\n"
    "    # two REGISTERED ops missing from the priority literal: w was\n"
    "    # never graded (must be fronted into the never block), g is\n"
    "    # already green (must stay out of the rewritten list — unknown\n"
    "    # names sort behind everything in _ordered_names anyway)\n"
    '    return {n: None for n in (*_GRADING_PRIORITY, "w", "g")}\n'
)


def test_registered_but_unlisted_ops_join_the_never_block(tmp_path):
    """ADVICE r10 item 1 regression: an op module whose names were never
    appended to _GRADING_PRIORITY must still reach a grading window —
    the tool unions registry.all_queries() into the never-graded
    computation instead of building only from the current list."""
    results = dict(BASE_RESULTS)
    results["CORRECTNESS_r01.json"] = {
        **BASE_RESULTS["CORRECTNESS_r01.json"],
        "g": GREEN,
    }
    work = _make_sandbox(tmp_path, results)
    reg = os.path.join(work, "python_kinesis_streaming_spark", "registry.py")
    open(reg, "w").write(FAKE_REGISTRY_UNLISTED)
    out = _run_in(
        work, os.path.join(work, "CORRECTNESS_r02.json"), "--write"
    )
    assert out.returncode == 0, out.stderr
    assert "registered but unlisted ops fronted: ['w']" in out.stdout
    assert "never-graded block: 2" in out.stdout
    scope: dict = {}
    exec(compile(open(reg).read(), "registry.py", "exec"), scope)
    # w lands behind the in-list never-graded e, ahead of the greens;
    # the green unlisted g joins the very back (full-list invariant,
    # VERDICT r13 item 7 — every registered name appears explicitly)
    assert scope["_GRADING_PRIORITY"] == ["c", "e", "w", "a", "b", "d", "g"]

"""Driver-green regression canary (VERDICT r4, item 7).

Every op name that ever earned a driver CORRECTNESS row must (a) still be
registered under that exact name, (b) still carry a SQL oracle if it was
hash-graded, and (c) sit BEHIND the never-graded block in ``queries()``
order so the per-round grading window keeps converting backlog, not
re-grading proven ops. Value-level parity for these ops is already covered
by test_oracle_parity (parameterized over every registered oracle); this
file guards against registry churn silently orphaning a driver-green name.
"""

from __future__ import annotations

import glob
import json
import os

import pytest

from python_kinesis_streaming_spark.registry import all_oracles, all_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _graded() -> dict[str, dict]:
    """Union of all CORRECTNESS_r*.json rows, later rounds winning."""
    rows: dict[str, dict] = {}
    for f in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rows.update(json.load(open(f)))
    return rows

GRADED = _graded()
QUERIES = all_queries()
ORACLES = all_oracles()


def test_some_correctness_history_exists():
    assert len(GRADED) >= 140, "driver CORRECTNESS history went missing"


@pytest.mark.parametrize("name", sorted(GRADED))
def test_driver_green_op_still_registered(name):
    assert name in QUERIES, f"driver-graded op {name!r} dropped from registry"


@pytest.mark.parametrize(
    "name",
    sorted(n for n, row in GRADED.items() if row.get("hash_match")),
)
def test_hash_graded_op_still_has_oracle(name):
    assert name in ORACLES, (
        f"{name!r} was hash-graded driver-green but lost its SQL oracle "
        "(would silently downgrade to rows-only)"
    )


def test_grading_window_is_never_graded_ops():
    """The first 50 names in queries() order — the driver's grading window —
    must all be never-graded while a backlog remains (rotation discipline).

    'Never graded' deliberately excludes the NEWEST CORRECTNESS file: the
    driver grades the current window and writes that file BEFORE the next
    round's rotation lands, so at judging time the freshest file always
    covers the still-current window. Comparing against all earlier rounds
    still catches real rotation failures (a window name graded ≥2 rounds
    ago means the rotation was skipped or mis-ordered)."""
    files = sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")))
    graded_before_latest: set[str] = set()
    for f in files[:-1]:
        graded_before_latest |= set(json.load(open(f)))
    backlog = [n for n in QUERIES if n not in GRADED]
    if len(backlog) < 50:
        pytest.skip("backlog nearly drained; window may include regrades")
    window = list(QUERIES)[:50]
    stale = [n for n in window if n in graded_before_latest]
    assert not stale, f"window wastes grades on already-green ops: {stale}"


def test_grading_priority_is_the_full_registry():
    """_GRADING_PRIORITY must list EVERY registered op explicitly
    (VERDICT r13 item 7): an explicit full list makes each rotation
    diff reviewable and kills the silent-ordering class the
    registered-but-unlisted union rule papered over. The rotation
    tool enforces this on --write; this pin keeps manual edits
    honest."""
    from python_kinesis_streaming_spark.registry import _GRADING_PRIORITY

    pri = list(_GRADING_PRIORITY)
    assert len(pri) == len(set(pri)), "duplicate names in _GRADING_PRIORITY"
    missing = set(QUERIES) - set(pri)
    stale = set(pri) - set(QUERIES)
    assert not missing, f"registered ops missing from the list: {sorted(missing)[:5]}"
    assert not stale, f"priority names not in the registry: {sorted(stale)[:5]}"
    assert list(QUERIES) == pri, "queries() order drifted from _GRADING_PRIORITY"


def test_claude_md_registry_count():
    """CLAUDE.md's 'Registry total N' prose must match the live registry.

    The count drifted three rounds in a row (r9 item 5, r10 item 2, r11
    item 1) because it lives in prose the registry pin can't see. Every
    'Registry total <N>' occurrence in CLAUDE.md must equal
    len(all_queries()) — update the notes when registering new ops."""
    import re

    text = open(os.path.join(REPO, "CLAUDE.md")).read()
    counts = [int(m) for m in re.findall(r"Registry total (?:at end of r\d+: )?(\d+)", text)]
    assert counts, "CLAUDE.md no longer states the registry total"
    live = len(QUERIES)
    stale = [c for c in counts if c != live]
    assert not stale, (
        f"CLAUDE.md 'Registry total' says {stale} but the live registry "
        f"has {live} ops — update the prose"
    )

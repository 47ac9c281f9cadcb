"""Regenerate registry.py's ``_GRADING_PRIORITY`` for the next round.

The driver grades the first ~50 of ``queries()`` per round, so each
round starts by rotating the just-graded-green names to the back and
fronting the never-graded block (CLAUDE.md round checklists). This
tool mechanizes the rewrite the rounds have been doing by hand:

    python tools/rotate_priority.py CORRECTNESS_r08.json            # dry run
    python tools/rotate_priority.py CORRECTNESS_r08.json --write

Rules (same as every manual rotation since r4):
1. ops the given CORRECTNESS file graded FAILED stay at the very front
   (regrade after fixing);
2. ops never graded green in ANY CORRECTNESS_r*.json come next, in
   their current relative order;
3. everything driver-green rotates to the back, current order kept.

Dry run prints the new head (next window) and the diff summary; only
``--write`` rewrites the literal list between ``_GRADING_PRIORITY = [``
and its closing ``]`` in registry.py. Run the full test suite and
``tools/drive_driver.py`` after writing — the canary test
(tests/test_correctness_canary.py) pins the rotation invariants.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
REGISTRY_PATH = os.path.join(
    REPO, "python_kinesis_streaming_spark", "registry.py"
)


def load_results(path: str) -> tuple[set[str], set[str]]:
    """(green, failed) op names from one CORRECTNESS file.

    Driver shape (r1-r8): {op: {rows_match, schema_match, hash_match,
    err, ...}}. Green = hash_match when the op has a SQL oracle, else
    rows_match (the driver's weaker rows-only check); anything with an
    err or a false gate is failed."""
    with open(path) as f:
        data = json.load(f)
    green, failed = set(), set()
    for name, r in data.items():
        if not isinstance(r, dict):
            continue
        if r.get("err"):
            failed.add(name)
            continue
        ok = r.get("hash_match")
        if ok is None:
            ok = r.get("rows_match")
        (green if ok else failed).add(name)
    return green, failed


def all_green_ever() -> set[str]:
    green: set[str] = set()
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        g, _ = load_results(path)
        green |= g
    return green


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    write = "--write" in sys.argv
    if len(args) != 1:
        print(__doc__)
        return 2
    latest = args[0]

    from python_kinesis_streaming_spark import registry

    current = list(registry._GRADING_PRIORITY)
    all_names = set(registry.all_queries())
    latest_green, latest_failed = load_results(latest)
    # union the latest file explicitly: it may live outside the repo
    # root that all_green_ever() globs, and its green ops must never be
    # misclassified as never-graded (that would waste the next window)
    green_ever = all_green_ever() | latest_green

    current_set = set(current)
    front = [n for n in current if n in latest_failed]
    # an op that FAILED but was never in the list would otherwise be
    # dropped from the rewrite entirely (ADVICE r11 item 3) — front it
    # with the other regrades, registry order
    unlisted_failed = [
        n for n in registry.all_queries()
        if n not in current_set and n in latest_failed
    ]
    if unlisted_failed:
        print(f"WARNING: unlisted FAILED ops fronted: {unlisted_failed}")
        front = front + unlisted_failed
    never = [
        n for n in current
        if n not in green_ever and n not in latest_failed
    ]
    # registered ops missing from the current list (e.g. a wave module
    # whose names were never appended) join the never-graded block in
    # registry order — otherwise they'd silently fall behind the
    # rotated-back greens and never enter a window (ADVICE r10 item 1)
    unlisted = [
        n for n in registry.all_queries()
        if n not in current_set
        and n not in green_ever
        and n not in latest_failed
    ]
    if unlisted:
        print(f"WARNING: registered but unlisted ops fronted: {unlisted}")
        never = never + unlisted
    back = [n for n in current if n in green_ever and n not in latest_failed]
    # full-list invariant (VERDICT r13 item 7): every registered name
    # appears explicitly — green ops that rode the unlisted-union rule
    # join the back in registry order, so the rotation diff is
    # reviewable and no ordering is implicit
    unlisted_green = [
        n for n in registry.all_queries()
        if n not in current_set
        and n in green_ever
        and n not in latest_failed
    ]
    if unlisted_green:
        print(f"appending {len(unlisted_green)} green-but-unlisted names "
              "to the back (full-list invariant)")
    new = front + never + back + unlisted_green

    stale = [n for n in new if n not in all_names]
    if stale:
        print(f"WARNING: priority names not in registry: {stale}")
    print(f"regrade-first (failed in {os.path.basename(latest)}): "
          f"{len(front)}")
    print(f"never-graded block: {len(never)}")
    print(f"rotated-to-back (driver-green): {len(back)}")
    print(f"total: {len(new)} (was {len(current)})")
    window = new[:50]
    print(f"\nnext window (first 50): {window[0]} .. {window[-1]}")
    for n in window:
        print(f"  {n}")

    if not write:
        print("\ndry run — pass --write to rewrite registry.py")
        return 0

    src = open(REGISTRY_PATH).read()
    m = re.search(
        r"(_GRADING_PRIORITY = \[\n)(.*?)(^\])", src, re.S | re.M
    )
    if not m:
        print("ERROR: could not locate the _GRADING_PRIORITY literal")
        return 1
    body = "".join(f'    "{n}",\n' for n in new)
    header = (
        "    # regenerated by tools/rotate_priority.py from "
        f"{os.path.basename(latest)}:\n"
        f"    # {len(front)} regrades, {len(never)} never-graded, "
        f"{len(back)} rotated back\n"
    )
    src = src[: m.start(2)] + header + body + src[m.end(2):]
    open(REGISTRY_PATH, "w").write(src)
    print(f"\nwrote {REGISTRY_PATH} — now run: python -m pytest "
          "tests/test_correctness_canary.py -q && python tools/drive_driver.py")
    return 0


if __name__ == "__main__":
    sys.exit(main())

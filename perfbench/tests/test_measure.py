"""Self-tests of the benchmark's own arithmetic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from measure import (
    Span, Tally, Tracer, eventlog_totals, percentile_name, self_times,
    summarize_progress, tail_percentile,
)

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


# -- percentile rule ---------------------------------------------------------

def test_no_tail_below_twenty_samples():
    assert tail_percentile(range(19)) is None


def test_median_at_twenty_samples():
    assert tail_percentile(range(1, 21)) == (50.0, 10)


@pytest.mark.parametrize("n, pct", [(39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
                                    (200, 95.0), (1000, 99.0), (10000, 99.9)])
def test_highest_percentile_with_ten_beyond(n, pct):
    p, v = tail_percentile(range(1, n + 1))
    assert p == pct
    assert n - v >= 10  # at least ten samples lie beyond the reported one


def test_percentile_name():
    assert percentile_name(90.0) == "p90"
    assert percentile_name(99.9) == "p99_9"


# -- spans and self time -----------------------------------------------------

def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, "run")


def test_self_time_subtracts_children():
    spans = [_span(0, 0.0, 10.0), _span(1, 1.0, 3.0, 0), _span(2, 5.0, 6.0, 0)]
    assert self_times(spans) == {0: 7.0, 1: 2.0, 2: 1.0}


def test_self_time_counts_overlapping_children_once():
    spans = [_span(0, 0.0, 10.0), _span(1, 1.0, 4.0, 0), _span(2, 3.0, 5.0, 0)]
    assert self_times(spans)[0] == pytest.approx(6.0)


def test_self_time_clips_children_to_parent():
    spans = [_span(0, 2.0, 4.0), _span(1, 1.0, 3.0, 0)]
    assert self_times(spans)[0] == pytest.approx(1.0)


def test_self_time_ignores_grandchildren():
    spans = [_span(0, 0.0, 10.0), _span(1, 0.0, 4.0, 0), _span(2, 1.0, 2.0, 1)]
    st = self_times(spans)
    assert st[0] == pytest.approx(6.0) and st[1] == pytest.approx(3.0)


def test_tracer_nests_and_disables():
    tr = Tracer(True, "r1")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.id and outer.parent is None
    assert inner.run_id == outer.run_id == "r1"
    assert outer.start <= inner.start <= inner.end <= outer.end
    off = Tracer(False, "r2")
    with off.span("x"):
        pass
    assert off.spans == []


# -- streaming progress ------------------------------------------------------

def test_duration_parts_from_recorded_payloads():
    with open(os.path.join(DATA, "progress.json")) as f:
        payloads = json.load(f)
    s = summarize_progress(payloads)
    by_part = {}
    for p in payloads:
        for k, v in p["durationMs"].items():
            by_part[k] = by_part.get(k, 0) + v
    assert s["latest_offset_ms"] == by_part["latestOffset"]
    assert s["add_batch_ms"] == by_part["addBatch"]
    assert s["wal_commit_ms"] == by_part.get("walCommit", 0)
    assert s["trigger_ms"] == by_part["triggerExecution"]
    with_batch = [p for p in payloads if "addBatch" in p["durationMs"]]
    assert s["batches"] == len({(p["runId"], p["batchId"]) for p in with_batch})


def test_state_metrics_take_last_payload_per_run():
    def p(run, batch, rows, mem):
        return {"runId": run, "batchId": batch, "durationMs": {"addBatch": 1, "triggerExecution": 2},
                "stateOperators": [{"numRowsTotal": rows, "memoryUsedBytes": mem}]}

    s = summarize_progress([p("a", 0, 5, 100), p("a", 1, 7, 150), p("b", 0, 3, 10)])
    assert s["state_rows_total"] == 10 and s["state_memory_bytes"] == 160
    assert s["batches"] == 3 and s["batch_p50_s"] == 0.002


def test_idle_trigger_counts_time_but_not_a_batch():
    idle = {"runId": "a", "batchId": 1, "durationMs": {"latestOffset": 4, "triggerExecution": 5}}
    s = summarize_progress([idle])
    assert s["batches"] == 0 and s["latest_offset_ms"] == 4 and s["trigger_ms"] == 5


# -- fail ratio --------------------------------------------------------------

def test_tally_counts_failures_against_attempts():
    t = Tally()
    t.add(19)
    t.add(1, 1, "op x: 3/10 rows differ")
    assert (t.attempted, t.failed) == (20, 1)
    assert t.fail_ratio == pytest.approx(0.05)
    assert t.errors == ["op x: 3/10 rows differ"]


def test_empty_tally_is_a_total_failure():
    assert Tally().fail_ratio == 1.0


def test_record_faults():
    from workloads.kinesis_ingest import record_faults

    expected = {"click": (3, 1.5, 6, 14), "view": (2, 2.0, 4, 10)}
    good = [
        {"event_type": "click", "n": 3, "s": 1.5, "id1": 6, "id2": 14, "nd": 3},
        {"event_type": "view", "n": 2, "s": 2.0, "id1": 4, "id2": 10, "nd": 2},
    ]
    assert record_faults(good, expected, 5) == 0
    dup = [dict(good[0], n=4, nd=3, id1=9, id2=23), good[1]]
    assert record_faults(dup, expected, 5) == 1 + 1 + 1  # extra record, not distinct, count off
    wrong_sum = [dict(good[0], s=9.9), good[1]]
    assert record_faults(wrong_sum, expected, 5) == 3  # every click mis-aggregated
    lost = [good[0]]
    assert record_faults(lost, expected, 5) == 2 + 2  # two records short, view type missing


# -- event log ---------------------------------------------------------------

def test_eventlog_totals_window(tmp_path):
    def task_end(finish, run_ms, gc_ms, rd, wr, spill):
        return json.dumps({
            "Event": "SparkListenerTaskEnd",
            "Task Info": {"Finish Time": finish},
            "Task Metrics": {
                "Executor Run Time": run_ms, "JVM GC Time": gc_ms,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": rd},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": wr},
                "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
            },
        })

    log = tmp_path / "app"
    log.write_text("\n".join([
        json.dumps({"Event": "SparkListenerJobStart"}),
        task_end(100, 1000, 10, 5, 6, 0),
        task_end(200, 500, 0, 1, 2, 3),
        task_end(900, 9999, 0, 0, 0, 0),  # outside the window
    ]) + "\n")
    t = eventlog_totals(str(log), 50, 500)
    assert t == {"task_run_s": 1.5, "gc_s": 0.01, "shuffle_read_bytes": 6,
                 "shuffle_write_bytes": 8, "spill_bytes": 3, "tasks": 2}

"""Measurement primitives shared by the workloads (no Spark import here).

- ``tail_percentile``: the highest percentile that still has at least ten
  samples beyond it, so a reported tail is never one unlucky sample;
- ``Tracer``: in-memory spans around calls into the engine's layers, with
  self time (a span's duration minus the time its child spans cover);
- ``Tally``: attempted and failed operations, the run's fail ratio;
- ``summarize_progress``: sums of the per-trigger ``durationMs`` parts and
  state metrics from Structured Streaming progress payloads;
- ``eventlog_totals``: task run time, GC, shuffle and spill summed from a
  Spark event log over a time window.
"""

from __future__ import annotations

import contextlib
import json
import math
import statistics
import time
from dataclasses import dataclass, field

#: Percentiles a tail may be reported at, lowest first.
PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def tail_percentile(samples) -> tuple[float, float] | None:
    """(percentile, value) for the highest percentile with ``MIN_BEYOND``
    samples above it, by nearest rank; None when even the median lacks
    them (fewer than 20 samples)."""
    xs = sorted(samples)
    n = len(xs)
    best = None
    for p in PERCENTILES:
        if n * (1.0 - p / 100.0) >= MIN_BEYOND - 1e-9:
            best = (p, xs[max(0, math.ceil(p * n / 100.0 - 1e-9) - 1)])
    return best


def percentile_name(p: float) -> str:
    """``latency_p90_s`` style name for a percentile (99.9 -> ``p99_9``)."""
    return "p" + f"{p:g}".replace(".", "_")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals
    (clipped to the parent's own interval)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


class Tracer:
    """Spans kept in memory; a disabled tracer records nothing."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def span(self, name: str):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name)

    @contextlib.contextmanager
    def _span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.perf_counter(), math.nan, parent, self.run_id)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def self_time_by_name(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for sid, t in self_times(self.spans).items():
            name = self.spans[sid].name
            out[name] = out.get(name, 0.0) + t
        return out

    def dump(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


@dataclass
class Tally:
    """Operations attempted and failed; ``errors`` keeps the first reasons."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def add(self, attempted: int, failed: int = 0, reason: str | None = None) -> None:
        self.attempted += attempted
        self.failed += failed
        if failed and reason and len(self.errors) < 20:
            self.errors.append(reason)

    @property
    def fail_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


#: ``durationMs`` parts reported per streaming trigger, and their metric names.
DURATION_PARTS = {
    "latestOffset": "latest_offset_ms",
    "getBatch": "get_batch_ms",
    "addBatch": "add_batch_ms",
    "queryPlanning": "query_planning_ms",
    "walCommit": "wal_commit_ms",
    "triggerExecution": "trigger_ms",
}


def summarize_progress(progress: list[dict]) -> dict[str, float]:
    """Sum per-trigger progress payloads (``StreamingQueryProgress.json``).

    Triggers that processed no batch (``batchId`` repeated with zero input
    and no ``addBatch``) still cost ``latestOffset`` time, so every payload
    counts towards the duration sums; ``batches`` counts distinct
    ``(runId, batchId)`` pairs. State metrics take the last payload of each
    run, since ``numRowsTotal`` and ``memoryUsedBytes`` are levels, not
    increments.
    """
    out = {v: 0.0 for v in DURATION_PARTS.values()}
    batches, last_by_run, trigger_s = set(), {}, []
    for p in progress:
        dur = p.get("durationMs") or {}
        for part, name in DURATION_PARTS.items():
            out[name] += float(dur.get(part, 0))
        if "addBatch" in dur:
            batches.add((p.get("runId"), p.get("batchId")))
            trigger_s.append(float(dur.get("triggerExecution", 0)) / 1000.0)
        last_by_run[p.get("runId")] = p
    rows = mem = 0
    for p in last_by_run.values():
        for op in p.get("stateOperators") or []:
            rows += int(op.get("numRowsTotal", 0))
            mem += int(op.get("memoryUsedBytes", 0))
    out["batches"] = float(len(batches))
    out["batch_p50_s"] = median(trigger_s) if trigger_s else 0.0
    out["state_rows_total"] = float(rows)
    out["state_memory_bytes"] = float(mem)
    return out


def eventlog_totals(path: str, t0_ms: float, t1_ms: float) -> dict[str, float]:
    """Task metrics summed over tasks that finished inside [t0_ms, t1_ms]."""
    tot = {
        "task_run_s": 0.0, "gc_s": 0.0, "shuffle_read_bytes": 0.0,
        "shuffle_write_bytes": 0.0, "spill_bytes": 0.0, "tasks": 0.0,
    }
    with open(path) as f:
        for line in f:
            if '"SparkListenerTaskEnd"' not in line:
                continue
            ev = json.loads(line)
            finish = ev.get("Task Info", {}).get("Finish Time", 0)
            m = ev.get("Task Metrics")
            if not m or not (t0_ms <= finish <= t1_ms):
                continue
            rd = m.get("Shuffle Read Metrics", {})
            wr = m.get("Shuffle Write Metrics", {})
            tot["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            tot["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            tot["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            tot["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
            tot["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            tot["tasks"] += 1
    return tot

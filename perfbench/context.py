"""What the runner hands a workload, and what a workload hands back."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from measure import Tally, Tracer


@dataclass
class Context:
    root: str  # checkout root: holds the engine and perfbench/
    work: str  # scratch space inside the checkout (.perfbench/)
    seed: int
    seconds: float
    trace: bool
    cores: int  # Spark local[k]: one core fewer than the machine has
    sf_dir: str  # the input tables (perfbench/fixtures/sf0.01)
    tracer: Tracer
    tally: Tally = field(default_factory=Tally)

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def repeated_setup(self, build, teardown, repeats: int):
        """Run ``build`` ``repeats`` times, tearing down all but the last;
        returns (last state, set-up times). Only the first set-up of a
        process pays the JVM launch, so with three or more the median is a
        warm-JVM set-up."""
        times, state = [], None
        for _ in range(repeats):
            if state is not None:
                teardown(state)
            t0 = time.perf_counter()
            with self.tracer.span("setup"):
                state = build()
            times.append(time.perf_counter() - t0)
        return state, times


@dataclass
class Outcome:
    latency_samples: list[float]  # per unit of work, seconds
    setup_samples: list[float]
    per_layer: dict[str, float] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)  # extra human-readable lines
    #: traced runs: (event log path, window start ms, window end ms, units)
    eventlog: tuple[str, float, float, int] | None = None
    #: traced runs: extra records for the per-layer JSON (raw progress etc.)
    extra: dict = field(default_factory=dict)

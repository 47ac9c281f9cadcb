"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload kinesis_ingest --seed 1 --seconds 10 --trace 0

Prints each end-to-end metric with its unit and sample count, then, as the
last line of stdout, one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end ones of
BENCHMARK.json; with ``--trace 1`` they are the per-layer ones, the spans
are written to ``.perfbench/results/<workload>.trace.json`` and the
tracing overhead against the last untraced run of the workload is printed.
Exits 1 when any output is wrong (after printing the result) and 2 without
a result when the engine is not in the checkout.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from context import Context  # noqa: E402
from layers import END_TO_END, FIXTURES, PER_LAYER  # noqa: E402
from measure import Tracer, eventlog_totals, median, percentile_name, tail_percentile  # noqa: E402

WORKLOADS = ("kinesis_ingest", "cold_ops")
RUN_LIMIT_S = 170  # the whole run, priming excluded, must end well inside 180 s
PRIME_LIMIT_S = 600
PROGRAM_FILES = ("__spark_entry__.py", "python_kinesis_streaming_spark/__init__.py")


def spark_cores() -> int:
    """local[k] with k = usable cores - 1: one core stays free for the
    loopback Kinesis service and the Python workers."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def prime(work: str) -> None:
    marker = os.path.join(work, "primed")
    if os.path.exists(marker):
        return
    subprocess.run(
        [sys.executable, os.path.join(HERE, "prime.py")],
        check=True, timeout=PRIME_LIMIT_S, stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    with open(marker, "w") as f:
        f.write("primed\n")


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def per_layer_metrics(ctx: Context, out, latency: float) -> dict[str, float]:
    pl = {name: 0.0 for name in PER_LAYER}
    tr = ctx.tracer
    for span, name in (
        ("session.build", "session.build_s"),
        ("registry.import", "registry.import_s"),
        ("tables.load", "tables.load_s"),
    ):
        ds = tr.durations(span)
        pl[name] = median(ds) if ds else 0.0
    pl.update(out.per_layer)
    if out.eventlog:
        path, t0, t1, units = out.eventlog
        for key, v in eventlog_totals(path, t0, t1).items():
            pl[f"spark.{key}"] = v / units
    pl["trace.latency_s"] = latency
    unknown = set(pl) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"per-layer metrics missing from layers.PER_LAYER: {sorted(unknown)}")
    return pl


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark runner")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [f for f in PROGRAM_FILES if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print(f"engine not found in {ROOT}: missing {missing}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench")
    os.makedirs(work, exist_ok=True)
    prime(work)

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(RUN_LIMIT_S)
    ctx = Context(
        root=ROOT, work=work, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), cores=spark_cores(), sf_dir=FIXTURES,
        tracer=Tracer(bool(args.trace), f"{args.workload}-{args.seed}-{os.getpid()}"),
    )
    workload = importlib.import_module(f"workloads.{args.workload}")
    try:
        out = workload.run(ctx)
    finally:
        if "pyspark" in sys.modules:
            from sparkside import shutdown_jvm

            shutdown_jvm()
    signal.alarm(0)

    latency = median(out.latency_samples)
    e2e = {
        "latency_s": (latency, len(out.latency_samples)),
        "setup_s": (median(out.setup_samples), len(out.setup_samples)),
    }
    tally = ctx.tally
    print(f"workload {args.workload} seed {args.seed}: local[{ctx.cores}], "
          f"inputs {os.path.relpath(ctx.sf_dir, ROOT)}, "
          f"process wall {time.perf_counter() - T_PROCESS:.1f} s")
    for name, (value, n) in e2e.items():
        print(f"  {name} = {value:.4f} {END_TO_END[name]} (median of n={n})")
    tail = tail_percentile(out.latency_samples)
    if tail is not None:
        p, v = tail
        print(f"  latency_{percentile_name(p)}_s = {v:.4f} s (n={len(out.latency_samples)})")
    print(f"  fail_ratio = {tally.fail_ratio:.6f} ratio ({tally.failed}/{tally.attempted})")
    print("  setup samples: " + ", ".join(f"{s:.3f}" for s in out.setup_samples))
    for line in out.notes:
        print("  " + line)
    for err in tally.errors:
        print("  FAILED: " + err)

    results = os.path.join(work, "results")
    os.makedirs(results, exist_ok=True)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "cores": ctx.cores, "inputs": os.path.relpath(ctx.sf_dir, ROOT),
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "latency_samples": out.latency_samples, "setup_samples": out.setup_samples,
        "attempted": tally.attempted, "failed": tally.failed,
    }
    if args.trace:
        metrics = per_layer_metrics(ctx, out, latency)
        units = PER_LAYER
        record["per_layer"] = metrics
        record["self_time_s"] = ctx.tracer.self_time_by_name()
        record["spans"] = ctx.tracer.dump()
        record.update(out.extra)
        base = os.path.join(results, f"{args.workload}.json")
        if os.path.exists(base):
            with open(base) as f:
                untraced = json.load(f)["end_to_end"]["latency_s"]
            record["tracing_overhead"] = latency / untraced - 1.0
            print(f"  tracing overhead: latency_s {latency:.4f} traced vs "
                  f"{untraced:.4f} untraced ({record['tracing_overhead']:+.1%})")
        else:
            print("  tracing overhead: no untraced run of this workload on record yet")
        path = os.path.join(results, f"{args.workload}.trace.json")
    else:
        metrics = {k: v for k, (v, _) in e2e.items()}
        units = END_TO_END
        path = os.path.join(results, f"{args.workload}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(os.path.join(work, "eventlog"), ignore_errors=True)
    print(f"  results written to {os.path.relpath(path, ROOT)}")

    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if tally.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

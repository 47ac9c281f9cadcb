"""Per-op ×N scale measurement harness (the r6 floor-vs-scale method,
generalized — committed in r14 so future rounds stop re-writing it).

Union-replicates fixture tables by FACTOR with id columns shifted per
replica (distinct-key work scales with the data), then runs each named
registry op AND its DuckDB oracle on the same synthetic parquet,
best-of-3 fully fetched. The DataFrame is rebuilt inside every timed
lambda (the r13 measurement lesson: re-running an action on the SAME
DataFrame object reuses completed shuffle stages and reads 36 ms for a
12.8 s job).

    python tools/measure_scale.py op1 op2 ...             # ×10 from sf0.1
    X10_FACTOR=3 python tools/measure_scale.py op1 ...    # ×3 (id-shifted
                                                          #  duplicates —
                                                          #  the leg that
                                                          #  caught r12's
                                                          #  divide-by-zero)
    X10_TABLES=events,orders,lineitem python tools/measure_scale.py op

Prints one JSON line {op: {spark_s, duckdb_s, ratio}}. Synthetic data
lands in gitignored scratch keyed by factor; delete to force a rebuild.
Four latent cross-engine defects were found by this harness before any
driver run (r12 ANSI divide-by-zero, r13 DECIMAL(38) overflow, r14
INT32/int64 overflows + a 1g-heap OOM) — run it on every new op BEFORE
shipping.
"""
from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

#: id-shift steps per table: larger than any real id range, so every
#: replica's keys are disjoint from every other's
ID_SHIFTS = {
    "events": {"event_id": 10**10, "user_id": 10**7},
    "documents": {"doc_id": 10**9},
    "embeddings": {"vec_id": 10**7},
    "orders": {"o_orderkey": 10**9, "o_custkey": 10**7},
    "lineitem": {"l_orderkey": 10**9},
    "customer": {"c_custkey": 10**7},
}
FACTOR = int(os.environ.get("X10_FACTOR", "10"))
SYNTH = os.path.join(REPO, ".scratch", f"sf_synth_x{FACTOR}")


def replicate(spark, src: str, dest: str, factor: int, tables) -> None:
    """Write ``factor``-x id-shifted unions of ``tables`` from ``src``
    into ``dest``; a table already written there is kept."""
    from python_kinesis_streaming_spark.sources.tables import load_table

    os.makedirs(dest, exist_ok=True)
    for name in tables:
        path = os.path.join(dest, f"{name}.parquet")
        if os.path.isdir(path):
            continue
        df = load_table(spark, src, name)
        parts = []
        for i in range(factor):
            d = df
            for col, step in ID_SHIFTS.get(name, {}).items():
                d = d.withColumn(col, F.col(col) + F.lit(i * step))
            parts.append(d)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        out.coalesce(8).write.mode("overwrite").parquet(path)
        print(f"replicated {name} x{factor}", file=sys.stderr)


def best3(fn, warm: int = 1) -> float:
    for _ in range(warm):
        fn()
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> int:
    ops = [a for a in sys.argv[1:] if not a.startswith("--")]
    if not ops:
        print(__doc__)
        return 2
    tables = os.environ.get(
        "X10_TABLES", "events,documents,embeddings"
    ).split(",")
    from python_kinesis_streaming_spark.session import build_session
    from python_kinesis_streaming_spark.registry import (
        all_queries,
        all_oracles,
    )

    spark = build_session(
        app_name=f"measure-x{FACTOR}",
        master="local[32]",
        shuffle_partitions=16,
        extra_confs={"spark.sql.adaptive.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    replicate(spark, os.environ.get("X10_SRC", "/root/testdata/sf0.1"), SYNTH, FACTOR, tables)

    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SYNTH}/{t}.parquet/*.parquet')"
        )
    qs, os_ = all_queries(), all_oracles()
    out = {}
    for name in ops:
        s = best3(lambda: qs[name](spark, SYNTH).toPandas())
        d = best3(lambda: con.execute(os_[name]).fetchdf())
        out[name] = {
            "spark_s": round(s, 3),
            "duckdb_s": round(d, 3),
            "ratio": round(s / d, 2),
        }
        print(name, out[name], file=sys.stderr)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

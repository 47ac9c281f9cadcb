"""Driver sim: bare SparkSession from a neutral cwd, full oracle parity.

Simulates the grading driver end-to-end: builds its OWN SparkSession with
none of our builder configs, imports ``__spark_entry__`` from the repo root,
runs ``entry`` then every ``queries()`` entry against its ``oracle_sql()``
twin in DuckDB at sf0.01 using the same column-sorted canonicalized
comparison as the driver (tests/twin.py).

Usage:
    python tools/drive_driver.py                # full sweep, every op
    python tools/drive_driver.py name1 name2    # just the named ops
    python tools/drive_driver.py --double-run   # each op TWICE in the same
                                                # session (scratch
                                                # idempotency gate)
    SPARK_GRAFT_SIM_SF=/root/testdata/sf0.001 python tools/drive_driver.py

Run it from anywhere — it chdirs to a scratch dir so any accidental
cwd-relative path in an op fails here the same way it would in the driver.
"""
import os
import sys
import tempfile
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = os.environ.get("SPARK_GRAFT_SIM_SF", "/root/testdata/sf0.01")

os.chdir(tempfile.mkdtemp(prefix="drive_driver_"))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

from pyspark.sql import SparkSession  # noqa: E402

spark = (
    SparkSession.builder.master(
        os.environ.get("SPARK_GRAFT_SIM_MASTER", "local[8]")
    )
    .appName("driver-sim")
    .getOrCreate()
)
import __spark_entry__ as e  # noqa: E402

qs, os_ = e.queries(), e.oracle_sql()
args = sys.argv[1:]
runs = 2 if "--double-run" in args else 1
names = [a for a in args if not a.startswith("--")] or list(qs)
unknown = [n for n in names if n not in qs]
if unknown:
    print(f"unknown op(s): {unknown}")
    sys.exit(2)

t0 = time.time()
rows = e.entry(spark).collect()
print(f"entry: {len(rows)} rows ({time.time()-t0:.1f}s)")
assert len(rows) > 0
print(f"queries: {len(qs)}  oracles: {len(os_)}")

import duckdb  # noqa: E402

con = duckdb.connect()
for t in [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]:
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
    )

from twin import assert_twin_match  # noqa: E402

fails = []
for i, name in enumerate(names):
    for run in range(1, runs + 1):
        tag = f"{name}#r{run}" if runs > 1 else name
        t0 = time.time()
        try:
            sdf = qs[name](spark, SF)
            if name in os_:
                spdf = sdf.toPandas()
                dpdf = con.execute(os_[name]).fetchdf()
                assert_twin_match(spdf, dpdf, tag)
                status = "ok"
            else:
                n = sdf.count()
                status = f"rows-only({n})"
        except Exception:
            status = "FAIL"
            fails.append(tag)
            traceback.print_exc()
        print(
            f"[{i+1}/{len(names)}] {tag}: {status} ({time.time()-t0:.1f}s)",
            flush=True,
        )

total = len(names) * runs
print(f"\n{total-len(fails)}/{total} pass; fails: {fails}")
sys.exit(1 if fails else 0)

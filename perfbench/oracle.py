"""DuckDB reference results and the result comparison the benchmark uses.

Rows are canonicalized the way the engine's oracle-parity tests do it:
columns sorted by name, rows compared as a sorted multiset, integers and
floats kept distinct (a DuckDB HUGEINT sum that arrives as float64 does
not match a Spark int64), timestamps as ISO strings. Floats compare
bit-exactly unless the caller passes a relative tolerance, which only the
hand-written headline-query twins need: their sums run in a different
order in DuckDB than in Spark.

The benchmark keeps its own copy of this canonicalization rather than
importing ``tests/twin.py``, so that a change to the engine's test helpers
cannot change what the benchmark counts as a correct result.
"""

from __future__ import annotations

import datetime
import math
import os
from typing import Any

import numpy as np
import pandas as pd

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)


def connect(sf_dir: str):
    """A DuckDB connection with one view per input table of ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def canonical_value(v: Any) -> Any:
    if v is None:
        return None
    if isinstance(v, (np.integer, int)) and not isinstance(v, (bool, np.bool_)):
        return ("i", int(v))
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return "NaN" if math.isnan(f) else ("f", f)
    if isinstance(v, np.bool_):
        return bool(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(canonical_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canonical_value(x)) for k, x in v.items()))
    if isinstance(v, pd.Timestamp):
        return None if v is pd.NaT else v.to_pydatetime().isoformat()
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def canonical_rows(df: pd.DataFrame) -> list[tuple]:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.astype(object).where(pd.notna(df), None)
    rows = [tuple(canonical_value(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows, key=repr)


def _close(a: Any, b: Any, rel: float) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        if len(a) == 2 and a[0] == b[0] == "f":
            return math.isclose(a[1], b[1], rel_tol=rel, abs_tol=rel)
        return len(a) == len(b) and all(_close(x, y, rel) for x, y in zip(a, b))
    return a == b


def mismatch(got: pd.DataFrame, want: pd.DataFrame, rel: float = 0.0) -> str | None:
    """None when the frames hold the same rows, else a one-line reason."""
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    g, w = canonical_rows(got), canonical_rows(want)
    bad = [i for i, (a, b) in enumerate(zip(g, w)) if not _close(a, b, rel)]
    if bad:
        return f"{len(bad)}/{len(g)} rows differ, first {g[bad[0]]} != {w[bad[0]]}"
    return None

"""Cross-engine-deterministic rounding.

Spark's ``round`` (java BigDecimal HALF_UP on the double's exact decimal
expansion) and DuckDB's ``round`` (float multiply/round) disagree on
boundary values (observed: 101112.725 → .72 vs .73 at sf0.01). Instead of
either engine's builtin, both sides compute the SAME IEEE-754 expression

    floor(x * 10^s + 0.505) / 10^s

which is bit-reproducible anywhere. Use ``rnd`` in Spark code and
``sql_rnd`` inside oracle SQL — always together, same scale. ``cents``
freezes a money column to whole integer cents before any sum, so every
total is an exact BIGINT on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def rnd(c: Column, scale: int = 2) -> Column:
    f = float(10**scale)
    return F.floor(c * f + F.lit(0.505)) / F.lit(f)


def sql_rnd(expr: str, scale: int = 2) -> str:
    f = float(10**scale)
    return f"floor(({expr}) * {f} + 0.505) / {f}"


def cents(col: str = "value") -> Column:
    """``col`` as whole integer cents: floor(x·100 + 0.5) cast to BIGINT."""
    return F.floor(F.col(col) * 100 + F.lit(0.5)).cast("long")

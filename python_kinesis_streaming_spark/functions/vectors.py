"""Vector kernels: the engine's only higher-order-function vector folds.

Every fold casts each element to double inside its lambda and sums the
terms left to right from 0.0, so Spark accumulates in double in index
order whatever the element type. Where an input is already
``array<double>`` the optimizer drops the cast, so a call plans exactly
like a hand-written fold without it. Column forms for Spark code;
``sql_guarded_cos`` is the oracle-side twin of ``guarded_cos``, the way
``functions/rounding.py`` pairs ``rnd`` with ``sql_rnd``.

Folds that stay where they are, because their arithmetic differs:

- the int8 coarse dot in ``llm/similarity.py::sim_rerank_two_stage``
  (long products, long accumulator);
- wave20's sign packing (``>= 0`` per bit, where ``sign_bits`` uses ``> 0``);
- ``functions/families.py``, the array-function showcase, which spells
  out its HOFs on purpose;
- text and length folds (token bigrams, run lengths).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def _sum(terms: Column) -> Column:
    return F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢbᵢ in double precision."""
    return _sum(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")))


def sq_norm(a: Column | str) -> Column:
    """Σ aᵢ² in double precision."""
    return _sum(F.transform(a, lambda x: x.cast("double") * x.cast("double")))


def l2norm(a: Column | str) -> Column:
    return F.sqrt(sq_norm(a))


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def sq_l2(a: Column | str, b: Column | str) -> Column:
    """Σ (aᵢ − bᵢ)² in double precision."""

    def term(x: Column, y: Column) -> Column:
        d = x.cast("double") - y.cast("double")
        return d * d

    return _sum(F.zip_with(a, b, term))


def centroid_ord(dist: Column, k: int, cid: Column | str) -> Column:
    """(dist, cid) argmin as ONE integer ordinal: floor(d·1e6 + .505) is
    the 6-dp rounding scaled to an integer, so ``min``/``min_by`` over it
    picks the nearest of ``k`` centroids with a cid tie-break — the order
    DuckDB's ``min_by`` gives (structs don't order portably)."""
    cid = F.col(cid) if isinstance(cid, str) else cid
    return (
        F.floor(dist * F.lit(1000000.0) + F.lit(0.505)).cast("long") * F.lit(k)
        + cid
    )


def sign_bits(col: str, lo: int, hi: int) -> Column:
    """Bits ``lo..hi`` (1-based) of ``col``'s sign signature packed into a
    BIGINT: bit i−lo is set iff element i is > 0."""
    return F.expr(
        f"aggregate(sequence({lo}, {hi}), 0L, (acc, i) -> "
        f"acc + IF(element_at({col}, i) > 0, shiftleft(1L, i - {lo}), 0L))"
    )


def guarded_cos(dot: Column, na: Column, nb: Column) -> Column:
    """dot / (na·nb), 0.0 when a norm is zero (no ANSI divide-by-zero)."""
    return F.when(na * nb == 0, F.lit(0.0)).otherwise(dot / (na * nb))


def sql_guarded_cos(dot: str, na: str, nb: str) -> str:
    return f"CASE WHEN {na} * {nb} = 0 THEN 0 ELSE {dot} / ({na} * {nb}) END"

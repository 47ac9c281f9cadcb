"""The shared vector kernels (functions/vectors.py) on a tiny frame.

Every kernel folds in index order in double precision, so on float32
inputs it must equal a float64 NumPy reference that sums the same terms
in the same order — bit for bit, not within a tolerance.
"""

from __future__ import annotations

import math
import pathlib
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from python_kinesis_streaming_spark.functions.vectors import (
    centroid_ord,
    cosine,
    dot,
    guarded_cos,
    l2norm,
    sign_bits,
    sq_l2,
    sq_norm,
)

PKG = pathlib.Path(__file__).resolve().parents[1] / "python_kinesis_streaming_spark"

_RNG = np.random.default_rng(7)
A = _RNG.standard_normal((6, 64)).astype(np.float32)
B = _RNG.standard_normal((6, 64)).astype(np.float32)
A[0] = 0.0  # a zero vector: its norm is 0


def _frame(spark):
    rows = [(i, A[i].tolist(), B[i].tolist()) for i in range(len(A))]
    return spark.createDataFrame(rows, "id int, a array<float>, b array<float>")


def _fold(terms: np.ndarray) -> float:
    """Left-to-right sum from 0.0 — the order ``aggregate`` folds in."""
    return float(np.add.accumulate(np.concatenate([[0.0], terms]))[-1])


def test_kernels_match_float64_reference(spark):
    got = (
        _frame(spark)
        .select(
            "id",
            dot("a", "b").alias("dot"),
            sq_norm("a").alias("sq_norm"),
            l2norm("b").alias("l2norm"),
            sq_l2("a", "b").alias("sq_l2"),
            centroid_ord(sq_l2("a", "b"), 8, F.col("id")).alias("ord"),
        )
        .orderBy("id")
        .collect()
    )
    assert len(got) == len(A)
    for r in got:
        a, b = A[r.id].astype(np.float64), B[r.id].astype(np.float64)
        d2 = _fold((a - b) * (a - b))
        assert r.dot == _fold(a * b)
        assert r.sq_norm == _fold(a * a)
        assert r.l2norm == float(np.sqrt(_fold(b * b)))
        assert r.sq_l2 == d2
        assert r.ord == math.floor(d2 * 1000000.0 + 0.505) * 8 + r.id
    # cosine on rows with non-zero norms (row 0 is the zero vector)
    cos = (
        _frame(spark)
        .where(F.col("id") > 0)
        .select("id", cosine("a", "b").alias("cos"))
        .collect()
    )
    for r in cos:
        a, b = A[r.id].astype(np.float64), B[r.id].astype(np.float64)
        ref = _fold(a * b) / (np.sqrt(_fold(a * a)) * np.sqrt(_fold(b * b)))
        assert r.cos == float(ref)


def test_guarded_cos_is_zero_on_a_zero_norm_under_ansi(spark):
    key = "spark.sql.ansi.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        df = _frame(spark).select(
            "id",
            dot("a", "b").alias("d"),
            l2norm("a").alias("na"),
            l2norm("b").alias("nb"),
        )
        got = dict(
            df.select(
                "id", guarded_cos(F.col("d"), F.col("na"), F.col("nb")).alias("c")
            ).collect()
        )
        assert got[0] == 0.0
        assert all(got[i] != 0.0 for i in range(1, len(A)))
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            df.select(F.col("d") / (F.col("na") * F.col("nb"))).collect()
    finally:
        spark.conf.set(key, prev)


def test_sign_bits_match_python_reference(spark):
    got = (
        _frame(spark)
        .select(
            "id",
            sign_bits("b", 1, 32).alias("lo"),
            sign_bits("b", 33, 64).alias("hi"),
        )
        .collect()
    )
    for r in got:
        v = B[r.id]
        assert r.lo == sum(1 << (i - 1) for i in range(1, 33) if v[i - 1] > 0)
        assert r.hi == sum(1 << (i - 33) for i in range(33, 65) if v[i - 1] > 0)


#: zip_with folds allowed outside functions/vectors.py, with their count:
#: families.py is the array-function showcase, similarity.py's one is the
#: int8 coarse dot (long accumulator), text.py's and classifier.py's are
#: run-length and token-bigram folds, not vector arithmetic.
ZIP_WITH_EXCEPTIONS = {
    "functions/vectors.py": None,
    "functions/families.py": None,
    "llm/similarity.py": 1,
    "llm/text.py": 1,
    "llm/classifier.py": 1,
}


def test_no_hand_rolled_zip_with_outside_the_kernel_module():
    found = {}
    for p in PKG.rglob("*.py"):
        n = len(re.findall(r"zip_with\(", p.read_text()))
        if n:
            found[p.relative_to(PKG).as_posix()] = n
    stray = {
        f: n
        for f, n in found.items()
        if f not in ZIP_WITH_EXCEPTIONS
        or (ZIP_WITH_EXCEPTIONS[f] is not None and n > ZIP_WITH_EXCEPTIONS[f])
    }
    assert not stray, f"write vector folds in functions/vectors.py: {stray}"

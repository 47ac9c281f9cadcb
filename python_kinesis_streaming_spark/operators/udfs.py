"""§2.10 UDF / UDAF / UDTF surface (SURVEY.md).

These five ops deliberately exercise every Python-extension execution path
Spark offers, slowest to fastest:

- row-at-a-time Python UDF (``@udf``)            — BatchEvalPython
- vectorized Arrow scalar UDF (``@pandas_udf``)  — ArrowEvalPython
- grouped-agg pandas UDF (UDAF)                  — AggregateInPandas
- grouped-map ``applyInPandas`` (UDTF-by-group)  — FlatMapGroupsInPandas
- ``mapInPandas`` (UDTF-by-partition)            — MapInPandas

Serialization constraint (driver contract): every UDF body is a NESTED
function, defined inside its op. Top-level functions are cloudpickled by
*reference* to this module, which the driver's Python workers cannot import
(the grading harness launches a bare session from an arbitrary cwd, so
``python_kinesis_streaming_spark`` is not on the workers' sys.path). Nested
functions are pickled by *value* — fully self-contained. Same reason the
UDF objects are built lazily (Spark 4 resolves return types against an
active session at decoration time).

Scale notes (100 TB):
- Python UDFs are the slow path by design (SURVEY §2.10): each op here has a
  pure-SQL twin proving the logic is *expressible* JVM-side; the op exists to
  verify the extension mechanism, not to recommend it for hot paths.
- The Arrow paths (pandas_udf / applyInPandas / mapInPandas) move data in
  columnar batches — 10-100× the row-at-a-time throughput; the only Python
  style acceptable at scale.
- applyInPandas shuffles by the grouping key: per-group state must fit one
  executor. Groups here (event_type: 5) are tiny; for skewed keys pre-salt
  or use window functions instead.
- mapInPandas is per-partition: no shuffle at all, output can expand or
  contract rows arbitrarily (the generator yields batches).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import PandasUDFType, pandas_udf, udf

from python_kinesis_streaming_spark.functions.rounding import cents, rnd
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table


@op(
    "udf_scalar_py",
    oracle="""
        SELECT event_id,
               CASE WHEN value < 10.0 THEN 'low'
                    WHEN value < 100.0 THEN 'mid'
                    ELSE 'high' END AS tier
        FROM events
    """,
    scale=(
        "Row-at-a-time Python: pickled rows over a socket, no codegen. "
        "Exists to prove the extension path; the CASE twin is the 100 TB way."
    ),
)
def udf_scalar_py(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain Python UDF: bucketize event value into a tier label."""

    def tier_label(value):
        # Same boundaries as the oracle CASE; doubles compare exactly.
        if value is None:
            return "unknown"
        if value < 10.0:
            return "low"
        if value < 100.0:
            return "mid"
        return "high"

    ev = load_table(spark, sf_dir, "events")
    tier = udf(tier_label, "string")
    return ev.select("event_id", tier(F.col("value")).alias("tier"))


@op(
    "udf_pandas_scalar",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               floor((l_extendedprice * (1.0 - l_discount)) * 100.0 + 0.505) / 100.0
                   AS net_revenue
        FROM lineitem
    """,
    scale=(
        "Arrow scalar UDF: columnar batches to Python, numpy-vectorized "
        "compute, zero-copy back. The acceptable Python hot path."
    ),
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized pandas UDF computing per-line net revenue."""

    def net_revenue_fn(price, discount):
        return price * (1.0 - discount)

    li = load_table(spark, sf_dir, "lineitem")
    net_revenue = pandas_udf(net_revenue_fn, "double")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        rnd(net_revenue(F.col("l_extendedprice"), F.col("l_discount")), 2).alias(
            "net_revenue"
        ),
    )


@op(
    "udaf_pandas_agg",
    oracle="""
        SELECT l_returnflag,
               floor((sum(l_extendedprice * l_quantity) / sum(l_quantity))
                     * 10000.0 + 0.505) / 10000.0 AS wavg_price
        FROM lineitem GROUP BY l_returnflag
    """,
    scale=(
        "Grouped-agg pandas UDF shuffles raw rows by key (no partial agg!) — "
        "unlike native sum/avg which combine map-side. At 100 TB prefer the "
        "sum(x*w)/sum(w) decomposition (the oracle) which *does* partial-agg."
    ),
)
def udaf_pandas_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted mean extended price per returnflag (pandas UDAF).

    Result rounded to 4 dp on both engines to absorb order-of-summation ulps.
    """

    def weighted_mean_fn(v, w):
        den = float(w.sum())
        return float((v * w).sum() / den) if den else float("nan")

    li = load_table(spark, sf_dir, "lineitem")
    weighted_mean = pandas_udf(weighted_mean_fn, "double", PandasUDFType.GROUPED_AGG)
    return li.groupBy("l_returnflag").agg(
        rnd(weighted_mean(F.col("l_extendedprice"), F.col("l_quantity")), 4).alias(
            "wavg_price"
        )
    )


@op(
    "udtf_grouped_map",
    oracle="""
        SELECT event_id, event_type,
               floor(((value - avg(value) OVER w) / stddev_pop(value) OVER w)
                     * 10000.0 + 0.505) / 10000.0 AS z
        FROM events
        WINDOW w AS (PARTITION BY event_type)
    """,
    scale=(
        "applyInPandas = shuffle by key + whole group materialized in one "
        "Python worker: per-group size must fit memory (5 types here; at "
        "100 TB sub-bucket or use the window-function twin which streams)."
    ),
)
def udtf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event_type z-score of value via grouped-map applyInPandas."""

    def zscore_group(pdf):
        import numpy as np

        mean = pdf["value"].mean()
        std = pdf["value"].std(ddof=0)  # population std == stddev_pop in SQL
        z = (pdf["value"] - mean) / std if std else pdf["value"] * 0.0
        out = pdf[["event_id", "event_type"]].copy()
        # floor(x*1e4+0.505)/1e4 — identical rounding expression to rounding.rnd.
        out["z"] = np.floor(z * 10000.0 + 0.505) / 10000.0
        return out

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("event_id", "event_type", "value")
        .groupBy("event_type")
        .applyInPandas(zscore_group, "event_id long, event_type string, z double")
    )


@op(
    "udtf_map_partitions",
    oracle="""
        SELECT doc_id, t.token AS token
        FROM documents, unnest(string_split(text, ' ')) AS t(token)
        WHERE len(t.token) > 0
    """,
    scale=(
        "mapInPandas: per-partition generator, no shuffle, arbitrary row "
        "expansion (here ~docs×tokens). Output partitioning == input "
        "partitioning, so downstream aggs shuffle the expanded rows — "
        "pre-aggregate inside the generator when reducing."
    ),
)
def udtf_map_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-expanding UDTF: explode each document into (doc_id, token) rows."""

    def tokenize_batches(batches):
        for pdf in batches:
            toks = pdf["text"].str.split(" ")
            out = pdf[["doc_id"]].join(toks.rename("token")).explode("token")
            yield out[out["token"].str.len() > 0]

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", "text").mapInPandas(
        tokenize_batches, "doc_id long, token string"
    )


@op(
    "udf_arrow_optimized",
    oracle="""
        SELECT event_id,
               CASE WHEN value < 10.0 THEN 'low'
                    WHEN value < 100.0 THEN 'mid'
                    ELSE 'high' END AS tier,
               floor((value * 2.0) * 10000.0 + 0.505) / 10000.0 AS doubled
        FROM events
    """,
    scale=(
        "Spark 4 Arrow-optimized Python UDF (useArrow=True): row-at-a-time "
        "author model, but serialization is Arrow columnar batches instead "
        "of pickled rows — the middle rung between the legacy pickle UDF "
        "and a true pandas_udf (which stays the recommended hot path)."
    ),
)
def udf_arrow_optimized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-serialized scalar Python UDF: same tiering as udf_scalar_py
    plus a numeric output, transported as Arrow batches."""

    def tier_label(value):
        if value is None:
            return "unknown"
        if value < 10.0:
            return "low"
        if value < 100.0:
            return "mid"
        return "high"

    ev = load_table(spark, sf_dir, "events")
    tier = udf(tier_label, "string", useArrow=True)
    dbl = udf(lambda v: None if v is None else v * 2.0, "double", useArrow=True)
    from python_kinesis_streaming_spark.functions.rounding import rnd as _rnd

    return ev.select(
        "event_id",
        tier(F.col("value")).alias("tier"),
        _rnd(dbl(F.col("value")), 4).alias("doubled"),
    )


@op(
    "udf_pandas_iter",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               floor(((l_extendedprice - 1000.0) / 500.0) * 10000.0 + 0.505)
                   / 10000.0 AS z
        FROM lineitem
    """,
    scale=(
        "Iterator-of-Series pandas UDF (SCALAR_ITER): the function receives "
        "the WHOLE batch iterator, so expensive one-time state (a model, a "
        "tokenizer, a codec table) is initialized once per task instead of "
        "once per batch — the standard pattern for ML-inference UDFs at "
        "100 TB. Same Arrow batch transport as the scalar form."
    ),
)
def udf_pandas_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator pandas UDF: per-task init amortization (here a 'model' of
    normalization constants built once, applied per batch).

    ``Iterator``/``pd`` are module-level imports: under
    ``from __future__ import annotations`` the signature is a string that
    Spark resolves against module globals to detect the SCALAR_ITER form.
    The function body itself stays nested (pickled by value)."""

    def z_iter(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # One-time per-task init (stands in for loading a model/tokenizer).
        mu, sigma = 1000.0, 500.0
        for s in batches:
            yield (s - mu) / sigma

    li = load_table(spark, sf_dir, "lineitem")
    z = pandas_udf(z_iter, "double")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        rnd(z(F.col("l_extendedprice")), 4).alias("z"),
    )


@op(
    "udtf_python_lateral",
    oracle="""
        SELECT doc_id, u.i AS chunk_idx,
               u.i * 100 + 1 AS chunk_start,
               least(100, n_chars - u.i * 100) AS chunk_len
        FROM documents,
             unnest(range(CAST(ceil(n_chars / 100.0) AS BIGINT))) AS u(i)
    """,
    scale=(
        "Spark 4's Python UDTF surface (@udtf class + LATERAL): a "
        "row-to-rows generator invoked per input row through the SQL "
        "planner — unlike mapInPandas it composes with lateral joins and "
        "other relational operators. Arrow-batched; the generator itself "
        "holds no cross-row state, so it parallelizes like any projection. "
        "This shape (byte-range chunk manifests) is how a 100 TB media/"
        "text corpus gets split into fetchable work units without reading "
        "payloads."
    ),
)
def udtf_python_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100-char chunk manifest per document via a real Python UDTF in a
    LATERAL join (chunk index, 1-based start offset, chunk length)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx bigint, chunk_start bigint, chunk_len bigint")
    class ChunkManifest:
        def eval(self, n_chars: int):
            if n_chars is None or n_chars <= 0:
                return
            n_chunks = (n_chars + 99) // 100
            for i in range(n_chunks):
                yield i, i * 100 + 1, min(100, n_chars - i * 100)

    spark.udtf.register("chunk_manifest", ChunkManifest)
    docs = load_table(spark, sf_dir, "documents")
    docs.select("doc_id", "n_chars").createOrReplaceTempView("udtf_docs_src")
    return spark.sql(
        """
        SELECT doc_id, m.chunk_idx, m.chunk_start, m.chunk_len
        FROM udtf_docs_src, LATERAL chunk_manifest(n_chars) m
        """
    )


@op(
    "udaf_weighted_median",
    oracle="""
        WITH t AS (
            SELECT event_type, value, user_id % 10 + 1 AS w FROM events
        ),
        c AS (
            SELECT event_type, value,
                   sum(w) OVER (PARTITION BY event_type ORDER BY value)
                       AS cw,
                   sum(w) OVER (PARTITION BY event_type) AS tw
            FROM t
        )
        SELECT event_type,
               floor(min(value) FILTER (WHERE cw * 2 >= tw) * 10000.0
                     + 0.505) / 10000.0 AS wmedian
        FROM c GROUP BY event_type
    """,
    scale=(
        "Weighted median as a grouped-agg pandas UDAF: each group's "
        "(value, weight) pairs land in one Python worker, numpy sorts and "
        "cumsums, and the answer is the smallest value whose RANGE-framed "
        "cumulative weight reaches half the total (tie rows share their "
        "cumulative sum, matching the SQL RANGE default — the kernel "
        "reduces ties with a groupby-last before the threshold scan). "
        "Shuffles raw rows (no partial agg — the UDAF trade-off); the "
        "window-function twin in the oracle is the scalable native form, "
        "and at 100 TB approx_percentile's sketch is the real answer."
    ),
)
def udaf_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-by-(user_id%10+1) median of value per event_type (UDAF)."""

    def wmedian_fn(v, w):
        import numpy as np
        import pandas as pd

        df = pd.DataFrame({"v": v.to_numpy(), "w": w.to_numpy()})
        df = df.sort_values("v", kind="mergesort")
        df["cw"] = df["w"].cumsum()
        # RANGE-frame semantics: tied values share the group's last cumsum.
        cw = df.groupby("v")["cw"].transform("max")
        tw = float(df["w"].sum())
        hit = df["v"].to_numpy()[(cw.to_numpy() * 2.0) >= tw]
        med = float(hit[0]) if len(hit) else float("nan")
        import math

        return math.floor(med * 10000.0 + 0.505) / 10000.0

    ev = load_table(spark, sf_dir, "events").withColumn(
        "w", (F.col("user_id") % 10 + 1).cast("double")
    )
    wmedian = pandas_udf(wmedian_fn, "double", PandasUDFType.GROUPED_AGG)
    return ev.groupBy("event_type").agg(
        wmedian(F.col("value"), F.col("w")).alias("wmedian")
    )


@op(
    "udtf_dynamic_schema",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS q1_cents,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 2
                    AS BIGINT) AS q2_cents
        FROM events GROUP BY event_type
    """,
    scale=(
        "Polymorphic Python UDTF (Spark 4): the static analyze() hook "
        "computes the OUTPUT SCHEMA from the call-site arguments at plan "
        "time — one registered function serves any column fan-out "
        "(here: n quarter columns from a literal), the schema is fixed "
        "before execution so Catalyst prunes/optimizes through it, and "
        "eval() streams rows per input partition. The extension point "
        "for config-driven wide-table generators where a static "
        "returnType would need one UDTF per shape."
    ),
)
def udtf_dynamic_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF whose column count comes from analyze(): expand per-type cents
    into k scaled 'quarter' columns (k=2 at the call site)."""
    from pyspark.sql.functions import udtf as _udtf
    from pyspark.sql.types import LongType, StringType, StructField, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @_udtf
    class ScaleOut:
        # Nested class: cloudpickled by value (bare-session rule).
        @staticmethod
        def analyze(
            et: AnalyzeArgument, cents: AnalyzeArgument, k: AnalyzeArgument
        ) -> AnalyzeResult:
            fields = [
                StructField("event_type", StringType()),
                StructField("q_cents_base", LongType()),
            ]
            for i in range(1, k.value + 1):
                fields.append(StructField(f"q{i}_cents", LongType()))
            return AnalyzeResult(StructType(fields))

        def eval(self, et: str, cents: int, k: int):
            yield (et, cents, *[cents * i for i in range(1, k + 1)])

    spark.udtf.register("pkss_scale_out", ScaleOut)
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents()).alias("cents"),
    )
    per_type.createOrReplaceTempView("pkss_udtf_pertype")
    return spark.sql(
        """
        SELECT s.event_type, p.n, s.q1_cents, s.q2_cents
        FROM pkss_udtf_pertype p,
             LATERAL pkss_scale_out(p.event_type, p.cents, 2) s
        """
    ).select("event_type", F.col("n").cast("long").alias("n"), "q1_cents", "q2_cents")


@op(
    "udaf_numpy_regression",
    oracle="""
        WITH x AS (
            SELECT event_type,
                   (epoch_us(CAST(ts AS TIMESTAMP)) - 1704067200000000)
                       / 3600000000.0 AS xh,
                   value
            FROM events
        ),
        s AS (
            SELECT event_type, count(*) AS n,
                   sum(xh) AS sx, sum(value) AS sy,
                   sum(xh * xh) AS sxx, sum(xh * value) AS sxy
            FROM x GROUP BY event_type
        )
        SELECT event_type, CAST(n AS BIGINT) AS n,
               floor(((n * sxy - sx * sy) / (n * sxx - sx * sx))
                     * 10000.0 + 0.505) / 10000.0 AS slope_per_hour,
               floor(((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                      / n) * 10000.0 + 0.505) / 10000.0 AS intercept
        FROM s
    """,
    scale=(
        "Per-group OLS via applyInPandas: the whole group arrives as ONE "
        "Arrow batch and the slope comes from four numpy column "
        "reductions (closed-form normal equations — no np.polyfit/SVD, "
        "so the arithmetic is the same formula the SQL oracle runs and "
        "rounds identically). This is the Arrow-UDF contract op for "
        "grouped model fitting; the oracle twin doubles as the proof "
        "that Spark's built-in regr_slope-style partial aggs could "
        "replace it — which is exactly what you do at 100 TB when a "
        "group no longer fits one batch (sums are mergeable, the "
        "grouped-map form is the escape hatch for genuinely "
        "non-decomposable kernels)."
    ),
)
def udaf_numpy_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS value-vs-time slope per event type, fit in numpy per Arrow group."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        (
            (F.unix_micros("ts") - F.lit(1_704_067_200_000_000))
            / F.lit(3_600_000_000.0)
        ).alias("xh"),
        "value",
    )

    def fit(pdf):
        # Nested: cloudpickled by value (driver workers can't import us).
        import numpy as np
        import pandas as pd

        x = pdf["xh"].to_numpy(dtype="float64")
        y = pdf["value"].to_numpy(dtype="float64")
        n = float(len(x))
        sx, sy = float(x.sum()), float(y.sum())
        sxx, sxy = float((x * x).sum()), float((x * y).sum())
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        intercept = (sy - slope * sx) / n

        def rnd4(v):
            import math

            return math.floor(v * 10000.0 + 0.505) / 10000.0

        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n": [len(x)],
                "slope_per_hour": [rnd4(slope)],
                "intercept": [rnd4(intercept)],
            }
        )

    return base.groupBy("event_type").applyInPandas(
        fit,
        schema=(
            "event_type string, n long, slope_per_hour double, "
            "intercept double"
        ),
    )

"""Wave-16 pipeline ops (round 12, tenth batch) — power analysis,
priority sampling and Poisson-bootstrap intervals.

Three capabilities extending the experimentation/estimation/
uncertainty story:

- ``events_power_analysis_mde``: two-sample minimum-detectable-effect
  and required-n calculator from the measured metric variance — the
  sizing table read before launching any A/B; z constants are shared
  Python literals, everything else exact BIGINT moments.
- ``sample_pps_priority_audit``: priority sampling (Duffield et al.
  2007) — weight-proportional sampling via deterministic hash
  priorities q = w/u, threshold estimator max(w, tau), measured
  relative error vs the exact token total at k in {50, 100}.
- ``events_bootstrap_ci_hash``: Poisson bootstrap (the distributed
  bootstrap: per-(row, replicate) Poisson(1) weights, B=32) with
  DETERMINISTIC md5-uniform draws through the literal inverse-CDF
  table — replicate means and their order-statistic interval,
  reproducible across retries and partitionings.

Same discipline as waves 7-15: exact integers before any
cross-partition sum, identical aliases, BIGINT casts in oracles,
literal constants shared verbatim between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from python_kinesis_streaming_spark.functions.rounding import cents, rnd, sql_rnd
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# two-sample power analysis / MDE
# ---------------------------------------------------------------------------

#: z_{alpha/2} + z_{power} for alpha=0.05 two-sided, power=0.8 — Python
#: literals, so both engines consume the identical doubles.
_Z_SUM = 2.8015852181129683


@op(
    "events_power_analysis_mde",
    oracle=f"""
        WITH u AS (
            SELECT user_id,
                   CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS y
            FROM events GROUP BY user_id
        ),
        s AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(y * y) AS BIGINT) AS syy
            FROM u
        )
        SELECT n,
               {sql_rnd("sy * 1.0 / (100.0 * n)", 2)} AS mean_value,
               {sql_rnd(
                   "sqrt(syy * 1.0 / n - (sy * 1.0 / n) * (sy * 1.0 / n))"
                   " / 100.0", 2
               )} AS sigma,
               {sql_rnd(
                   f"{_Z_SUM} * sqrt(2.0 * (syy * 1.0 / n"
                   " - (sy * 1.0 / n) * (sy * 1.0 / n))"
                   " / floor(n / 2.0)) / 100.0", 4
               )} AS mde_abs,
               {sql_rnd(
                   f"({_Z_SUM} * sqrt(2.0 * (syy * 1.0 / n"
                   " - (sy * 1.0 / n) * (sy * 1.0 / n))"
                   " / floor(n / 2.0))) / (sy * 1.0 / n)", 4
               )} AS mde_rel,
               CAST(ceil(2.0 * {_Z_SUM} * {_Z_SUM}
                    * (syy * 1.0 / n - (sy * 1.0 / n) * (sy * 1.0 / n))
                    / ((0.01 * sy * 1.0 / n) * (0.01 * sy * 1.0 / n)))
                    AS BIGINT) AS n_per_arm_for_1pct
        FROM s
    """,
    scale=(
        "Two-sample power analysis from measured moments: MDE = "
        "(z_a/2 + z_b) * sqrt(2 sigma^2 / n_arm) at alpha=.05 / "
        "power=.8, plus the per-arm n needed to detect a 1% relative "
        "lift — the sizing table read before any experiment launches "
        "(and the reason events_cuped_adjustment exists: CUPED shrinks "
        "sigma^2, this op prices the shrinkage). The z constants are "
        "shared Python literals; sigma comes from exact BIGINT "
        "per-user cent sums, so the whole report is bit-identical at "
        "any partitioning. 100 TB: one user-keyed agg + a 1-row "
        "moment agg — the same two shuffles CUPED already pays."
    ),
)
def events_power_analysis_mde(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MDE + required-n report from per-user value-cent moments."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(cents()).cast("long").alias("y")
    )
    s = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    mean_c = F.col("sy") * F.lit(1.0) / F.col("n")
    var_c = F.col("syy") * F.lit(1.0) / F.col("n") - mean_c * mean_c
    n_arm = F.floor(F.col("n") / F.lit(2.0))
    mde_c = F.lit(_Z_SUM) * F.sqrt(F.lit(2.0) * var_c / n_arm)
    return s.select(
        "n",
        rnd(F.col("sy") * F.lit(1.0) / (F.lit(100.0) * F.col("n")), 2)
        .alias("mean_value"),
        rnd(F.sqrt(var_c) / F.lit(100.0), 2).alias("sigma"),
        rnd(mde_c / F.lit(100.0), 4).alias("mde_abs"),
        rnd(mde_c / mean_c, 4).alias("mde_rel"),
        F.ceil(
            F.lit(2.0)
            * F.lit(_Z_SUM)
            * F.lit(_Z_SUM)
            * var_c
            / ((F.lit(0.01) * mean_c) * (F.lit(0.01) * mean_c))
        )
        .cast("long")
        .alias("n_per_arm_for_1pct"),
    )


# ---------------------------------------------------------------------------
# priority sampling (Duffield) estimator audit
# ---------------------------------------------------------------------------

_PPS_KS = (50, 100)


@op(
    "sample_pps_priority_audit",
    oracle=f"""
        WITH dt AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
                   -- u in (0, 1]: (h + 1) / 2^60 from the 60-bit hash
                   (CAST(('0x' || substring(md5(
                        CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                    + 1) / 1152921504606846976.0 AS u
            FROM documents
        ),
        pr AS (
            SELECT doc_id, w, w / u AS q FROM dt
        ),
        ranked AS (
            SELECT doc_id, w, q,
                   CAST(row_number() OVER (ORDER BY q DESC, doc_id)
                        AS BIGINT) AS rk
            FROM pr
        ),
        tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(w) AS BIGINT) AS exact_total
            FROM dt
        ),
        grid(k) AS (VALUES {", ".join(f"({k})" for k in _PPS_KS)}),
        tau AS (
            SELECT g.k, r.q AS tau
            FROM grid g JOIN ranked r ON r.rk = g.k + 1
        ),
        est AS (
            -- freeze each max(w, tau) term to integer micro BEFORE the
            -- cross-partition sum so both engines add identical BIGINTs
            SELECT t.k,
                   CAST(count(*) AS BIGINT) AS n_sampled,
                   CAST(sum(CAST(floor(
                       (CASE WHEN r.w * 1.0 > t.tau THEN r.w * 1.0
                             ELSE t.tau END) * 1000000 + 0.505
                   ) AS BIGINT)) AS BIGINT) AS pps_micro
            FROM tau t JOIN ranked r ON r.rk <= t.k
            GROUP BY t.k
        )
        SELECT CAST(e.k AS BIGINT) AS k, t.n_docs, t.exact_total,
               e.n_sampled,
               {sql_rnd("e.pps_micro / 1000000.0", 2)} AS pps_estimate,
               {sql_rnd(
                   "abs(e.pps_micro / 1000000.0 - t.exact_total)"
                   " / t.exact_total", 4
               )} AS rel_err
        FROM est e CROSS JOIN tot t
    """,
    scale=(
        "Priority sampling (Duffield et al. 2007): priority q = w/u "
        "with u a deterministic md5-uniform, keep the top-k by q, and "
        "estimate the weighted total as sum(max(w, tau)) with tau the "
        "(k+1)-th priority — unbiased for ANY weight distribution and "
        "strictly better than uniform-HT when weights are skewed "
        "(sample_ht_estimator_audit is the uniform baseline this "
        "pairs with). Deterministic by construction: the hash IS the "
        "randomness, so retries and engines agree exactly. Shape: "
        "top-(k+1) by priority = TakeOrderedAndProject; tau is one "
        "row; the estimator is a k-row sum. 100 TB: the classic "
        "sketch for weighted totals under skew — heavy docs enter "
        "with probability ~1 and zero variance (w > tau), the long "
        "tail is subsampled."
    ),
)
def sample_pps_priority_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Priority-sampling token-total estimates at k = 50/100."""
    docs = load_table(spark, sf_dir, "documents")
    dt = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("w"),
        (
            (
                F.conv(
                    F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
                    16,
                    10,
                ).cast("long")
                + 1
            )
            / F.lit(1152921504606846976.0)
        ).alias("u"),
    )
    pr = dt.select("doc_id", "w", (F.col("w") / F.col("u")).alias("q"))
    kmax = max(_PPS_KS)
    # top-(kmax+1) via TakeOrderedAndProject, rank inside the bounded set
    winners = pr.orderBy(F.desc("q"), "doc_id").limit(kmax + 1)
    ranked = winners.select(
        "doc_id",
        "w",
        "q",
        F.row_number().over(Window.orderBy(F.desc("q"), "doc_id"))
        .cast("long")
        .alias("rk"),
    )
    tot = dt.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("w").cast("long").alias("exact_total"),
    )
    grid = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in _PPS_KS])).alias("k")
    )
    tau = grid.join(
        ranked.select(F.col("rk").alias("rk_t"), F.col("q").alias("tau")),
        F.col("rk_t") == F.col("k") + 1,
    ).select("k", "tau")
    est = (
        tau.join(ranked, ranked.rk <= tau.k)
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sampled"),
            # freeze each max(w, tau) term to integer micro BEFORE the
            # cross-partition sum — BIGINT addition is order-free
            F.sum(
                F.floor(
                    F.when(
                        F.col("w") * F.lit(1.0) > F.col("tau"),
                        F.col("w") * F.lit(1.0),
                    ).otherwise(F.col("tau"))
                    * F.lit(1000000.0)
                    + F.lit(0.505)
                ).cast("long")
            ).alias("pps_micro"),
        )
    )
    return est.crossJoin(F.broadcast(tot)).select(
        F.col("k").cast("long").alias("k"),
        "n_docs",
        "exact_total",
        "n_sampled",
        rnd(F.col("pps_micro") / F.lit(1000000.0), 2).alias(
            "pps_estimate"
        ),
        rnd(
            F.abs(
                F.col("pps_micro") / F.lit(1000000.0)
                - F.col("exact_total")
            )
            / F.col("exact_total"),
            4,
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap with deterministic hash draws
# ---------------------------------------------------------------------------

_BOOT_B = 32
#: exact Poisson(1) CDF at k = 0..6, frozen to integer micro — the
#: inverse-CDF table both engines share as literals.
_POIS_CDF_MICRO = (367879, 735759, 919699, 981012, 996340, 999406, 999917)


def _pois_case_sql(u_expr: str) -> str:
    branches = "".join(
        f" WHEN {u_expr} < {t} THEN {k}"
        for k, t in enumerate(_POIS_CDF_MICRO)
    )
    return f"CASE{branches} ELSE 7 END"


@op(
    "events_bootstrap_ci_hash",
    oracle=f"""
        WITH reps AS (
            SELECT r.r AS rep,
                   CAST(floor(e.value * 100 + 0.5) AS BIGINT) AS cents,
                   {_pois_case_sql(
                       "CAST(('0x' || substring(md5("
                       "CAST(e.event_id AS VARCHAR) || ':' "
                       "|| CAST(r.r AS VARCHAR)), 1, 15)) AS BIGINT) "
                       "% 1000000"
                   )} AS m
            FROM events e, unnest(range({_BOOT_B})) AS r(r)
        ),
        rep_means AS (
            SELECT rep,
                   CAST(sum(m * cents) AS BIGINT) AS wsum,
                   CAST(sum(m) AS BIGINT) AS wn
            FROM reps GROUP BY rep
        ),
        ordered AS (
            SELECT rep, wsum * 1.0 / (100.0 * wn) AS rep_mean,
                   row_number() OVER (
                       ORDER BY wsum * 1.0 / wn, rep) AS rk
            FROM rep_means
        ),
        base AS (
            SELECT sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 1.0
                       / (100.0 * count(*)) AS full_mean,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM events
        )
        SELECT b.n_events, CAST({_BOOT_B} AS BIGINT) AS n_replicates,
               {sql_rnd("b.full_mean", 4)} AS full_mean,
               {sql_rnd(
                   "(SELECT rep_mean FROM ordered WHERE rk = 2)", 4
               )} AS ci_lo,
               {sql_rnd(
                   f"(SELECT rep_mean FROM ordered WHERE rk = {_BOOT_B - 1})",
                   4
               )} AS ci_hi
        FROM base b
    """,
    scale=(
        "Poisson bootstrap (the distributed bootstrap: per-(row, "
        "replicate) Poisson(1) multiplicities make every replicate a "
        "single weighted aggregation — no resampled copies of the "
        "data ever materialize). The draws are DETERMINISTIC: "
        "md5(event:rep) mod 1e6 through the literal Poisson "
        "inverse-CDF table, so every retry, partitioning and engine "
        "produces the identical B={b} replicate means; the interval "
        "is the 2nd/{b1}th order statistic of those means (a ~94% "
        "interval at B={b}). Replicate sums are exact BIGINTs "
        "(m*cents). Shape: one fan-out of {b} per row pre-agg "
        "(map-side combined into {b} groups), one {b}-row sort. "
        "100 TB: the bootstrap costs {b} partial aggregations over "
        "one scan — the only way uncertainty gets priced at that "
        "scale."
    ).format(b=_BOOT_B, b1=_BOOT_B - 1),
)
def events_bootstrap_ci_hash(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic Poisson-bootstrap interval for the mean event
    value (B=32 hash replicates)."""
    ev = load_table(spark, sf_dir, "events")
    reps_spine = F.explode(
        F.sequence(F.lit(0), F.lit(_BOOT_B - 1))
    ).alias("rep")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("event_id").cast("string"),
                        F.col("rep").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 1000000
    )
    m_expr = F.lit(7)
    for k in range(len(_POIS_CDF_MICRO) - 1, -1, -1):
        m_expr = F.when(u < _POIS_CDF_MICRO[k], k).otherwise(m_expr)
    reps = ev.select(
        cents().alias("cents"),
        "event_id",
        reps_spine,
    ).select("rep", "cents", m_expr.alias("m"))
    rep_means = reps.groupBy("rep").agg(
        F.sum(F.col("m") * F.col("cents")).cast("long").alias("wsum"),
        F.sum("m").cast("long").alias("wn"),
    )
    ordered = rep_means.select(
        "rep",
        (F.col("wsum") * F.lit(1.0) / (F.lit(100.0) * F.col("wn"))).alias(
            "rep_mean"
        ),
        F.row_number()
        .over(
            Window.orderBy(
                F.col("wsum") * F.lit(1.0) / F.col("wn"), F.col("rep")
            )
        )
        .alias("rk"),
    )
    lo = ordered.where(F.col("rk") == 2).select(
        rnd(F.col("rep_mean"), 4).alias("ci_lo")
    )
    hi = ordered.where(F.col("rk") == _BOOT_B - 1).select(
        rnd(F.col("rep_mean"), 4).alias("ci_hi")
    )
    base = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        rnd(
            F.sum(cents())
            * F.lit(1.0)
            / (F.lit(100.0) * F.count(F.lit(1))),
            4,
        ).alias("full_mean"),
    )
    return (
        base.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "n_events",
            F.lit(_BOOT_B).cast("long").alias("n_replicates"),
            "full_mean",
            "ci_lo",
            "ci_hi",
        )
    )

"""Wave-17 pipeline ops (round 12, eleventh batch) — lexical
diversity, Bayesian A/B and context-window truncation planning.

Three capabilities extending the corpus-quality/experimentation/
training-prep story:

- ``text_mattr_lexical_diversity``: moving-average type-token ratio
  (Covington & McFall 2010) over non-overlapping 50-token windows —
  the length-robust lexical-diversity statistic (plain TTR collapses
  with document length; Heaps' law fits growth, MATTR scores docs);
  per-window TTRs are exact rationals (distinct*20000 micro).
- ``events_bayes_ab_posterior``: Bayesian A/B on conversion (hash
  split, purchase conversion) — posterior P(B>A) via the documented
  logistic approximation to the normal CDF (1/(1+exp(-1.702 z))),
  every count exact, every constant a shared literal.
- ``corpus_truncation_loss_curve``: context-window planning — token
  mass lost to truncation at L in {32, 48, 64} per source; the table
  read before fixing a training sequence length.

Same discipline as waves 7-16: exact integers before any
cross-partition sum, identical aliases, BIGINT casts in oracles,
literal tables shared verbatim between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from python_kinesis_streaming_spark.functions.rounding import rnd, sql_rnd
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# MATTR lexical diversity
# ---------------------------------------------------------------------------

_MATTR_W = 50


@op(
    "text_mattr_lexical_diversity",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, source, u.i - 1 AS pos, t[u.i] AS word
            FROM (SELECT doc_id, source,
                         string_split(text, ' ') AS t
                  FROM documents),
                 unnest(range(1, len(t) + 1)) AS u(i)
        ),
        win AS (
            SELECT doc_id, source,
                   CAST(pos // {_MATTR_W} AS BIGINT) AS w,
                   CAST(count(*) AS BIGINT) AS n_tok,
                   CAST(count(DISTINCT word) AS BIGINT) AS n_types
            FROM tok GROUP BY doc_id, source, pos // {_MATTR_W}
        ),
        complete AS (
            SELECT source,
                   CAST(n_types * (1000000 / {_MATTR_W}) AS BIGINT)
                       AS ttr_micro
            FROM win WHERE n_tok = {_MATTR_W}
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_windows,
               {sql_rnd(
                   "sum(ttr_micro) / (1000000.0 * count(*))", 4
               )} AS mattr,
               {sql_rnd("min(ttr_micro) / 1000000.0", 4)} AS min_ttr,
               {sql_rnd("max(ttr_micro) / 1000000.0", 4)} AS max_ttr
        FROM complete GROUP BY source
    """,
    scale=(
        "Moving-average type-token ratio (Covington & McFall 2010) "
        "over non-overlapping {w}-token windows: plain TTR collapses "
        "as documents grow (types saturate), so per-window TTR is the "
        "length-robust lexical-diversity score — the corpus-quality "
        "axis Heaps'-law fitting (growth) and repetition ratios "
        "(adjacent dups) don't cover. Each complete window's TTR is "
        "the exact rational n_types/{w}, frozen to integer micro "
        "before the per-source BIGINT mean. Shape: one in-row "
        "positional explode, a (doc, window) distinct-agg (map-side "
        "combined, keys bounded by tokens/{w}), a |sources|-key agg. "
        "100 TB: identical shape; window boundaries are positional so "
        "no shuffle depends on document order."
    ).format(w=_MATTR_W),
)
def text_mattr_lexical_diversity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source MATTR over complete 50-token windows."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "source",
        F.posexplode(F.split("text", " ")).alias("pos", "word"),
    )
    win = tok.groupBy(
        "doc_id",
        "source",
        F.floor(F.col("pos") / F.lit(float(_MATTR_W))).cast("long").alias(
            "w"
        ),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_tok"),
        F.countDistinct("word").cast("long").alias("n_types"),
    )
    complete = win.where(F.col("n_tok") == _MATTR_W).select(
        "source",
        (F.col("n_types") * F.lit(1000000 // _MATTR_W))
        .cast("long")
        .alias("ttr_micro"),
    )
    return complete.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        rnd(
            F.sum("ttr_micro") / (F.lit(1000000.0) * F.count(F.lit(1))), 4
        ).alias("mattr"),
        rnd(F.min("ttr_micro") / F.lit(1000000.0), 4).alias("min_ttr"),
        rnd(F.max("ttr_micro") / F.lit(1000000.0), 4).alias("max_ttr"),
    )


# ---------------------------------------------------------------------------
# Bayesian A/B posterior (logistic approximation)
# ---------------------------------------------------------------------------

#: logistic approximation to the standard normal CDF:
#: Phi(z) ~ 1 / (1 + exp(-1.702 z)) — a shared literal constant.
_PHI_K = 1.702

#: the logistic CDF tabled at z = -6.00, -5.75, ..., +6.00 (step 0.25,
#: 49 entries) as Python-computed literals. Both engines linearly
#: interpolate the SAME table with pure +,-,*,/ arithmetic, so no libm
#: exp is evaluated in either engine (the ts_ewma_control_chart
#: literal-table pattern; r12 verdict item 5 — bit-parity by
#: construction, not observation). Linear-interp error over a 0.25
#: step is < 0.003, well inside the surrogate's own ~0.0095 envelope.
_LOGI_ZMIN_MICRO = -6_000_000
_LOGI_STEP_MICRO = 250_000
_LOGI_TABLE = [
    1.0 / (1.0 + 2.718281828459045 ** (-_PHI_K * (-6.0 + 0.25 * i)))
    for i in range(49)
]
_LOGI_TABLE_SQL = "[" + ", ".join(repr(v) for v in _LOGI_TABLE) + "]"


@op(
    "events_bayes_ab_posterior",
    oracle=f"""
        WITH u AS (
            -- "converted" = purchase share >= 20% of the user's
            -- events: scale-independent (any-purchase saturates to
            -- rate 1.0 on active users — observed at sf0.01)
            SELECT user_id,
                   CAST(user_id % 2 AS BIGINT) AS arm,
                   CAST(CASE WHEN 5 * sum(CASE WHEN event_type =
                                 'purchase' THEN 1 ELSE 0 END)
                                 >= count(*)
                        THEN 1 ELSE 0 END AS BIGINT) AS converted
            FROM events GROUP BY user_id
        ),
        s AS (
            SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_a,
                   CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END)
                        AS BIGINT) AS c_a,
                   CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_b,
                   CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END)
                        AS BIGINT) AS c_b
            FROM u
        ),
        zz AS (
            -- degenerate arms (all or none converted in both) make
            -- the pooled variance 0: report z=0, P=0.5 instead of
            -- dividing (the recurring zero-guard class). z freezes
            -- to integer micro so the table lookup is exact.
            SELECT n_a, c_a, n_b, c_b,
                   {sql_rnd("c_a * 1.0 / n_a", 4)} AS rate_a,
                   {sql_rnd("c_b * 1.0 / n_b", 4)} AS rate_b,
                   (c_a * (n_a - c_a) = 0 AND c_b * (n_b - c_b) = 0)
                       AS degen,
                   CASE WHEN c_a * (n_a - c_a) = 0
                             AND c_b * (n_b - c_b) = 0
                        THEN CAST(0 AS BIGINT)
                        ELSE CAST(floor(
                   ((c_b * 1.0 / n_b - c_a * 1.0 / n_a)
                   / sqrt((c_a * 1.0 / n_a) * (1.0 - c_a * 1.0 / n_a)
                          / n_a
                        + (c_b * 1.0 / n_b) * (1.0 - c_b * 1.0 / n_b)
                          / n_b)) * 1000000 + 0.505) AS BIGINT)
                   END AS z_micro
            FROM s
        ),
        zi AS (
            SELECT *, least(CAST(floor(
                       (zc - ({_LOGI_ZMIN_MICRO}))
                       / {_LOGI_STEP_MICRO}.0) AS BIGINT), 47) AS k
            FROM (SELECT *,
                         least(greatest(z_micro, {_LOGI_ZMIN_MICRO}),
                               {-_LOGI_ZMIN_MICRO}) AS zc
                  FROM zz)
        )
        SELECT n_a, c_a, n_b, c_b, rate_a, rate_b,
               CASE WHEN degen THEN 0.0
                    ELSE {sql_rnd("z_micro / 1000000.0", 4)} END AS z,
               CASE WHEN degen THEN 0.5 ELSE {sql_rnd(
                   f"list_extract({_LOGI_TABLE_SQL},"
                   " CAST(k + 1 AS INTEGER))"
                   f" + (list_extract({_LOGI_TABLE_SQL},"
                   "     CAST(k + 2 AS INTEGER))"
                   f"   - list_extract({_LOGI_TABLE_SQL},"
                   "     CAST(k + 1 AS INTEGER)))"
                   f" * ((zc - ({_LOGI_ZMIN_MICRO}) - k * "
                   f"{_LOGI_STEP_MICRO}) / {_LOGI_STEP_MICRO}.0)", 4
               )} END AS p_b_beats_a
        FROM zi
    """,
    scale=(
        "Bayesian A/B read-out on conversion: users hash-split into "
        "two arms (user_id parity — deterministic, the same split a "
        "production bucketing service computes), conversion = any "
        "'purchase'; P(B>A) under the normal posterior approximation "
        "with the documented logistic CDF surrogate Phi(z) ~ "
        "1/(1+exp(-1.702 z)) (max error ~0.0095 — fine for a "
        "decision dashboard; exact Beta integrals need special "
        "functions neither engine shares bit-for-bit). All counts "
        "are exact BIGINTs; the logistic itself is a 49-entry "
        "Python-literal table linearly interpolated with pure "
        "+,-,*,/ after freezing z to integer micro — NO libm "
        "transcendental in either engine, parity by construction "
        "(interp error < 0.003 inside the surrogate's ~0.0095 "
        "envelope). Completes the "
        "experimentation stack: CUPED (variance), MDE (sizing), "
        "bootstrap (intervals), this op (the decision). 100 TB: one "
        "user-keyed agg + a 1-row report."
    ),
)
def events_bayes_ab_posterior(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hash-split A/B conversion report with P(B>A)."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.when(
            F.lit(5)
            * F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= F.count(F.lit(1)),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("converted")
    ).select(
        (F.col("user_id") % 2).cast("long").alias("arm"), "converted"
    )
    s = u.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("c_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("c_b"),
    )
    ra = F.col("c_a") * F.lit(1.0) / F.col("n_a")
    rb = F.col("c_b") * F.lit(1.0) / F.col("n_b")
    z = (rb - ra) / F.sqrt(
        ra * (F.lit(1.0) - ra) / F.col("n_a")
        + rb * (F.lit(1.0) - rb) / F.col("n_b")
    )
    degenerate = (
        F.col("c_a") * (F.col("n_a") - F.col("c_a")) == 0
    ) & (F.col("c_b") * (F.col("n_b") - F.col("c_b")) == 0)
    # z frozen to integer micro, then the logistic CDF read from the
    # shared 49-entry literal table by linear interpolation — pure
    # +,-,*,/ arithmetic, no libm exp in either engine.
    zz = s.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        rnd(ra, 4).alias("rate_a"),
        rnd(rb, 4).alias("rate_b"),
        degenerate.alias("degen"),
        F.when(degenerate, F.lit(0).cast("long"))
        .otherwise(F.floor(z * F.lit(1000000.0) + F.lit(0.505)).cast("long"))
        .alias("z_micro"),
    )
    zc = F.least(
        F.greatest(F.col("z_micro"), F.lit(_LOGI_ZMIN_MICRO)),
        F.lit(-_LOGI_ZMIN_MICRO),
    )
    k = F.least(
        F.floor(
            (zc - F.lit(_LOGI_ZMIN_MICRO)) / F.lit(float(_LOGI_STEP_MICRO))
        ).cast("long"),
        F.lit(47),
    )
    frac = (
        zc - F.lit(_LOGI_ZMIN_MICRO) - k * F.lit(_LOGI_STEP_MICRO)
    ) / F.lit(float(_LOGI_STEP_MICRO))
    tbl = F.array(*[F.lit(v) for v in _LOGI_TABLE])
    t1 = F.element_at(tbl, (k + F.lit(1)).cast("int"))
    t2 = F.element_at(tbl, (k + F.lit(2)).cast("int"))
    return zz.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        "rate_a",
        "rate_b",
        F.when(F.col("degen"), F.lit(0.0))
        .otherwise(rnd(F.col("z_micro") / F.lit(1000000.0), 4))
        .alias("z"),
        F.when(F.col("degen"), F.lit(0.5))
        .otherwise(rnd(t1 + (t2 - t1) * frac, 4))
        .alias("p_b_beats_a"),
    )


# ---------------------------------------------------------------------------
# context-window truncation loss curve
# ---------------------------------------------------------------------------

_TRUNC_LS = (32, 48, 64)


@op(
    "corpus_truncation_loss_curve",
    oracle=f"""
        WITH dt AS (
            SELECT source,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
            FROM documents
        ),
        grid(l) AS (VALUES {", ".join(f"({l})" for l in _TRUNC_LS)}),
        x AS (
            SELECT d.source, g.l,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(d.n_tok) AS BIGINT) AS total_tokens,
                   CAST(sum(CASE WHEN d.n_tok > g.l
                        THEN d.n_tok - g.l ELSE 0 END) AS BIGINT)
                       AS lost_tokens,
                   CAST(sum(CASE WHEN d.n_tok > g.l THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_truncated
            FROM dt d CROSS JOIN grid g
            GROUP BY d.source, g.l
        )
        SELECT source, CAST(l AS BIGINT) AS max_len,
               n_docs, total_tokens, lost_tokens, n_truncated,
               {sql_rnd("lost_tokens * 1.0 / total_tokens", 4)}
                   AS loss_frac,
               {sql_rnd("n_truncated * 1.0 / n_docs", 4)}
                   AS trunc_frac
        FROM x
    """,
    scale=(
        "Context-window truncation planning: token mass and document "
        "share lost at sequence length L in {ls} per source — the "
        "table read before fixing a training context length (the "
        "complement of corpus_length_batching's bucketing and "
        "corpus_pack_sequences' packing: those assume L is chosen, "
        "this op chooses it). Exact BIGINT sums over the 3-row "
        "literal grid fan-out (the agg_ecdf_grid pre-agg shape). "
        "100 TB: one map pass, a |sources|x3-key agg — the numbers "
        "that decide whether 2k or 8k context is worth 4x the "
        "attention FLOPs for THIS corpus."
    ).format(ls=_TRUNC_LS),
)
def corpus_truncation_loss_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-(source, L) truncation loss at L = 32/48/64."""
    docs = load_table(spark, sf_dir, "documents")
    dt = docs.select(
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    grid = spark.range(1).select(
        F.explode(F.array(*[F.lit(l) for l in _TRUNC_LS])).alias("l")
    )
    x = (
        dt.crossJoin(F.broadcast(grid))
        .groupBy("source", "l")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.sum(
                F.when(
                    F.col("n_tok") > F.col("l"),
                    F.col("n_tok") - F.col("l"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("lost_tokens"),
            F.sum(F.when(F.col("n_tok") > F.col("l"), 1).otherwise(0))
            .cast("long")
            .alias("n_truncated"),
        )
    )
    return x.select(
        "source",
        F.col("l").cast("long").alias("max_len"),
        "n_docs",
        "total_tokens",
        "lost_tokens",
        "n_truncated",
        rnd(
            F.col("lost_tokens") * F.lit(1.0) / F.col("total_tokens"), 4
        ).alias("loss_frac"),
        rnd(F.col("n_truncated") * F.lit(1.0) / F.col("n_docs"), 4).alias(
            "trunc_frac"
        ),
    )

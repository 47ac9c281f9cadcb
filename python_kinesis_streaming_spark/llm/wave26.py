"""Round-14 wave-26 ops (SURVEY §2.38): multi-touch attribution,
metric-space labels, budget planning.

- ``events_attribution_position``: U-shaped (40/20/40) position-based
  credit per touch type — the multi-touch member of the attribution
  family (first_touch and time_decay exist); credits are EXACT
  integer micros with a deterministic remainder rule, so the 1.0 per
  user conservation is an identity, not an approximation.
- ``emb_triplet_margin_audit``: per sign-bit cell, sampled anchors'
  best same-label vs best other-label cosine — the margin that tells
  whether labels are metrically separable BEFORE anyone trains a
  probe (in-cell bounded, never all-pairs).
- ``corpus_token_budget_plan``: greedy half-budget source selection
  by integer-frozen quality rank with running token cost — the
  knapsack-lite plan corpus_mixture_temperature's weights feed into.

Same discipline as waves 7-25: exact integers before any
cross-partition sum, identical aliases both engines, BIGINT casts in
oracles, 1.0::DOUBLE where sums multiply, literal grids, bounded
windows (value-grouped / per-key only), broadcast-bounded joins; no
exp/pow, ln only on identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from python_kinesis_streaming_spark.functions.rounding import rnd, sql_rnd
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# U-shaped position-based attribution
# ---------------------------------------------------------------------------

#: touch event types credited by the U-shaped model
_AT_TOUCHES = ("click", "view")


@op(
    "events_attribution_position",
    oracle=f"""
        WITH t AS (
            SELECT user_id, event_type,
                   CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
                       AS ts_us,
                   event_id
            FROM events
            WHERE event_type IN ('click', 'view')
        ),
        o AS (
            SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                       ORDER BY ts_us, event_id) AS rn,
                   CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
                       AS k
            FROM t
        ),
        c AS (
            -- EXACT integer micro credits: 1 touch -> 1.0; 2 -> 0.5
            -- each; k>2 -> 0.4 first, 0.4 last, 0.2 split over the
            -- middles with the remainder going to the earliest
            -- middles (deterministic, conserves 1.0 per user)
            SELECT user_id, event_type,
                   CASE
                     WHEN k = 1 THEN 1000000
                     WHEN k = 2 THEN 500000
                     WHEN rn = 1 OR rn = k THEN 400000
                     ELSE 200000 // (k - 2)
                          + CASE WHEN rn - 1 <= 200000 % (k - 2)
                                 THEN 1 ELSE 0 END
                   END AS credit_micro
            FROM o
        ),
        agg AS (
            SELECT event_type,
                   CAST(sum(credit_micro) AS BIGINT) AS credit_micro,
                   CAST(count(*) AS BIGINT) AS n_touches
            FROM c GROUP BY event_type
        ),
        tot AS (
            SELECT CAST(sum(credit_micro) AS BIGINT) AS total_micro,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
            FROM c
        )
        SELECT a.event_type, a.n_touches, a.credit_micro,
               {sql_rnd("a.credit_micro / 1000000.0", 2)}
                   AS credit_users,
               {sql_rnd(
                   "a.credit_micro * 1.0 / t.total_micro", 4
               )} AS credit_share,
               t.n_users,
               (t.total_micro = t.n_users * 1000000)
                   AS conservation_ok
        FROM agg a CROSS JOIN tot t
    """,
    scale=(
        "U-shaped (position-based 40/20/40) multi-touch attribution — "
        "the third member of the attribution family (first_touch, "
        "time_decay). Credits are exact integer micros with a "
        "deterministic remainder rule (200000 div (k-2) plus one "
        "extra micro to the earliest middles), so sum(credit) = "
        "1000000 per user is an IDENTITY — emitted as the "
        "conservation_ok boolean, which both engines must derive "
        "from their own sums. Shape: one filtered scan, one per-user "
        "window pair (row_number + count — the sessionize sort), a "
        "|touch-types|-key agg, 1-row total. 100 TB: identical "
        "shuffle to sessionization; attribution models differ only "
        "in the per-row credit expression."
    ),
)
def events_attribution_position(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """U-shaped touch credit per type, exact micro conservation."""
    ev = load_table(spark, sf_dir, "events")
    t = ev.where(F.col("event_type").isin(*_AT_TOUCHES)).select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_id",
    )
    wu = Window.partitionBy("user_id")
    o = t.select(
        "user_id",
        "event_type",
        F.row_number()
        .over(wu.orderBy("ts_us", "event_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(wu).cast("long").alias("k"),
    )
    credit = (
        F.when(F.col("k") == 1, F.lit(1000000))
        .when(F.col("k") == 2, F.lit(500000))
        .when(
            (F.col("rn") == 1) | (F.col("rn") == F.col("k")),
            F.lit(400000),
        )
        .otherwise(
            F.expr("200000 div (k - 2)")
            + F.when(
                F.col("rn") - 1 <= F.expr("200000 % (k - 2)"), 1
            ).otherwise(0)
        )
    )
    c = o.select("user_id", "event_type", credit.alias("credit_micro"))
    agg = c.groupBy("event_type").agg(
        F.sum("credit_micro").cast("long").alias("credit_micro"),
        F.count(F.lit(1)).cast("long").alias("n_touches"),
    )
    tot = c.agg(
        F.sum("credit_micro").cast("long").alias("total_micro"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_touches",
        "credit_micro",
        rnd(F.col("credit_micro") / F.lit(1000000.0), 2).alias(
            "credit_users"
        ),
        rnd(
            F.col("credit_micro") * F.lit(1.0) / F.col("total_micro"),
            4,
        ).alias("credit_share"),
        "n_users",
        (F.col("total_micro") == F.col("n_users") * 1000000).alias(
            "conservation_ok"
        ),
    )


# ---------------------------------------------------------------------------
# in-cell triplet margin audit (label separability)
# ---------------------------------------------------------------------------


@op(
    "emb_triplet_margin_audit",
    oracle="""
        WITH e AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS v
            FROM embeddings
        ),
        cell AS (
            -- 16 cells from the first four sign bits (deterministic,
            -- index-free); anchors are the 1-in-10 sample
            SELECT vec_id, label, v,
                   CAST((CASE WHEN v[1] >= 0 THEN 8 ELSE 0 END)
                      + (CASE WHEN v[2] >= 0 THEN 4 ELSE 0 END)
                      + (CASE WHEN v[3] >= 0 THEN 2 ELSE 0 END)
                      + (CASE WHEN v[4] >= 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS cid
            FROM e
        ),
        anch AS (SELECT * FROM cell WHERE vec_id % 10 = 0),
        pair AS (
            SELECT a.vec_id AS aid, a.cid, a.label AS alabel,
                   c.label AS clabel,
                   floor(list_cosine_similarity(a.v, c.v) * 10000.0
                         + 0.505) / 10000.0 AS sim
            FROM anch a JOIN cell c
              ON c.cid = a.cid AND c.vec_id <> a.vec_id
        ),
        best AS (
            SELECT aid, cid,
                   max(CASE WHEN clabel = alabel THEN sim END)
                       AS pos_sim,
                   max(CASE WHEN clabel <> alabel THEN sim END)
                       AS neg_sim
            FROM pair GROUP BY aid, cid
        ),
        ok AS (
            SELECT cid,
                   CAST(count(*) AS BIGINT) AS n_anchors,
                   CAST(sum(CASE WHEN pos_sim > neg_sim
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
                   CAST(sum(CAST(floor((pos_sim - neg_sim)
                       * 1000000.0 + 0.505) AS BIGINT)) AS BIGINT)
                       AS margin_micro
            FROM best
            WHERE pos_sim IS NOT NULL AND neg_sim IS NOT NULL
            GROUP BY cid
        )
        SELECT cid AS cell, n_anchors, n_pos,
               floor(n_pos * 1.0 / n_anchors * 10000.0 + 0.505)
                   / 10000.0 AS pos_margin_share,
               floor(margin_micro / (1000000.0 * n_anchors)
                     * 10000.0 + 0.505) / 10000.0 AS mean_margin
        FROM ok
    """,
    scale=(
        "Label separability in embedding space BEFORE training any "
        "probe: per sign-bit cell (16 deterministic cells from the "
        "first four sign bits — bounded, index-free), each sampled "
        "anchor's best same-label cosine vs best other-label cosine; "
        "a positive margin means the nearest neighbor of the right "
        "class beats every impostor (the triplet-loss quantity, "
        "audited not trained). Sims are rnd-frozen per pair BEFORE "
        "the max (max of frozen values is order-free); margins "
        "micro-frozen before the per-cell BIGINT sum. Shape: in-cell "
        "anchor-sample join (|anchors| x cell size, never all-"
        "pairs), one agg. 100 TB: cells shard the pair space exactly "
        "like SemDeDup's; the anchor rate bounds the cost linearly."
    ),
)
def emb_triplet_margin_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-cell best-pos vs best-neg cosine margins for anchors."""
    from python_kinesis_streaming_spark.functions.vectors import dot, l2norm

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    cid = (
        F.when(F.element_at("v", 1) >= 0, 8).otherwise(0)
        + F.when(F.element_at("v", 2) >= 0, 4).otherwise(0)
        + F.when(F.element_at("v", 3) >= 0, 2).otherwise(0)
        + F.when(F.element_at("v", 4) >= 0, 1).otherwise(0)
    ).cast("long")
    cell = emb.select(
        "vec_id", "label", "v", cid.alias("cid"), l2norm("v").alias("nrm")
    )
    anch = cell.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("aid"),
        F.col("label").alias("alabel"),
        F.col("v").alias("av"),
        F.col("cid").alias("acid"),
        F.col("nrm").alias("anrm"),
    )
    pair = cell.join(
        F.broadcast(anch),
        (F.col("cid") == F.col("acid"))
        & (F.col("vec_id") != F.col("aid")),
    ).select(
        "aid",
        F.col("acid").alias("pcid"),
        "alabel",
        F.col("label").alias("clabel"),
        rnd(
            dot(F.col("av"), F.col("v"))
            / (F.col("anrm") * F.col("nrm")),
            4,
        ).alias("sim"),
    )
    best = pair.groupBy("aid", "pcid").agg(
        F.max(
            F.when(F.col("clabel") == F.col("alabel"), F.col("sim"))
        ).alias("pos_sim"),
        F.max(
            F.when(F.col("clabel") != F.col("alabel"), F.col("sim"))
        ).alias("neg_sim"),
    )
    ok = (
        best.where(
            F.col("pos_sim").isNotNull() & F.col("neg_sim").isNotNull()
        )
        .groupBy(F.col("pcid").alias("cell"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_anchors"),
            F.sum(
                F.when(
                    F.col("pos_sim") > F.col("neg_sim"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_pos"),
            F.sum(
                F.floor(
                    (F.col("pos_sim") - F.col("neg_sim"))
                    * F.lit(1000000.0)
                    + F.lit(0.505)
                ).cast("long")
            )
            .cast("long")
            .alias("margin_micro"),
        )
    )
    return ok.select(
        "cell",
        "n_anchors",
        "n_pos",
        rnd(F.col("n_pos") * F.lit(1.0) / F.col("n_anchors"), 4).alias(
            "pos_margin_share"
        ),
        rnd(
            F.col("margin_micro")
            / (F.lit(1000000.0) * F.col("n_anchors")),
            4,
        ).alias("mean_margin"),
    )


# ---------------------------------------------------------------------------
# greedy token budget plan
# ---------------------------------------------------------------------------


@op(
    "corpus_token_budget_plan",
    oracle=f"""
        WITH d AS (
            SELECT source,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en
            FROM documents
        ),
        per AS (
            SELECT source,
                   CAST(count(*) AS BIGINT) AS docs_s,
                   CAST(sum(toks) AS BIGINT) AS toks_s,
                   CAST(sum(is_en) AS BIGINT) AS en_s
            FROM d GROUP BY source
        ),
        q AS (
            -- integer-frozen quality key: micro en-share (exact
            -- integer division — identical rank both engines)
            SELECT source, docs_s, toks_s,
                   en_s * 1000000 // docs_s AS quality_micro
            FROM per
        ),
        r AS (
            SELECT *,
                   row_number() OVER (ORDER BY quality_micro DESC,
                                      source) AS rk,
                   CAST(sum(toks_s) OVER (ORDER BY quality_micro DESC,
                        source ROWS BETWEEN UNBOUNDED PRECEDING AND
                        CURRENT ROW) AS BIGINT) AS cum_toks
            FROM q
        ),
        b AS (
            SELECT CAST(sum(toks_s) AS BIGINT) AS total,
                   CAST(sum(toks_s) // 2 AS BIGINT) AS budget
            FROM per
        )
        SELECT r.rk, r.source, r.quality_micro, r.toks_s, r.cum_toks,
               b.budget, b.total,
               (r.cum_toks <= b.budget) AS selected,
               {sql_rnd("r.cum_toks * 1.0 / b.total", 4)}
                   AS cum_share
        FROM r CROSS JOIN b
    """,
    scale=(
        "Greedy half-budget selection: rank sources by an "
        "integer-frozen quality key (micro en-share — exact integer "
        "division, identical rank both engines, totally tie-broken "
        "by source), take them in order while the running token cost "
        "fits the budget (= half the corpus). The knapsack-lite plan "
        "whose complement is exactly what corpus_mixture_temperature "
        "re-weights and corpus_source_ablation_matrix prices "
        "removing. All tokens and ranks exact BIGINTs; the rank and "
        "cumulative windows run over the |sources|-row AGGREGATE "
        "(value-grouped, bounded). Shape: one source agg, two "
        "bounded 20-row windows, a 1-row budget scalar. 100 TB: the "
        "plan is arithmetic on the datasheet aggregate — free."
    ),
)
def corpus_token_budget_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Greedy quality-ranked source selection under a half budget."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        F.size(F.split("text", " ")).cast("long").alias("toks"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("is_en"),
    )
    # per feeds the quality rank AND the budget scalar — cached
    per = (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs_s"),
            F.sum("toks").cast("long").alias("toks_s"),
            F.sum("is_en").cast("long").alias("en_s"),
        )
        .cache()
    )
    q = per.select(
        "source",
        "docs_s",
        "toks_s",
        F.expr("en_s * 1000000 div docs_s").alias("quality_micro"),
    )
    wq = Window.orderBy(F.desc("quality_micro"), "source")
    r = q.select(
        F.row_number().over(wq).alias("rk"),
        "source",
        "quality_micro",
        "toks_s",
        F.sum("toks_s")
        .over(
            wq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .cast("long")
        .alias("cum_toks"),
    )
    b = per.agg(
        F.sum("toks_s").cast("long").alias("total"),
        (F.sum("toks_s") / 2).cast("long").alias("budget"),
    )
    return r.crossJoin(F.broadcast(b)).select(
        "rk",
        "source",
        "quality_micro",
        "toks_s",
        "cum_toks",
        "budget",
        "total",
        (F.col("cum_toks") <= F.col("budget")).alias("selected"),
        rnd(F.col("cum_toks") * F.lit(1.0) / F.col("total"), 4).alias(
            "cum_share"
        ),
    )

"""Round-14 wave-23 ops (SURVEY §2.35): mergeable quantile summaries,
tokenizer-planning vocab overlap, watermark lateness, snapshot time
travel, survey-grade sampling allocation.

- ``agg_mergeable_quantile_audit``: the third mergeable-summary family
  (after Misra-Gries heavy hitters and count-min): per-shard exact
  order-statistic summaries merged into one weighted summary, quantile
  estimates priced against the exact global quantile with the rank
  error PROVEN inside its additive merge bound (booleans, the MG/CM
  pattern applied to quantiles — the r13 verdict's item (a)).
- ``text_vocab_overlap_matrix``: pairwise source top-V vocabulary
  Jaccard + cross-OOV token share — the tokenizer-choice table for a
  multi-source mixture (pairs text_tokenizer_fertility with
  text_js_divergence_sources; the r13 verdict's item (b)).
- ``events_watermark_lateness_audit``: per-shard (user) watermark
  lateness distribution under hash-deterministic network jitter +
  dropped-late mass per literal watermark-delay grid — what
  ``withWatermark(delay)`` would drop, quantified before deploying
  (the r13 verdict's item (c); first new streaming-family audit
  since r11).
- ``lakehouse_time_travel_diff``: writes TWO real versions through
  sources/snapshots.py (O_EXCL commit log), time-travel-reads both,
  and grades the incremental diff — the versioned-read audit the r13
  verdict's item (d) asked for (snapshot_diff_audit diffs synthetic
  DataFrames; THIS one exercises the actual commit/replay machinery).
- ``sample_neyman_allocation_audit``: Neyman vs proportional
  stratified allocation from exact BIGINT moments with the
  variance-reduction theorem checked as a boolean — the allocation
  design step upstream of sample_ht_estimator_audit / PPS.

Same discipline as waves 7-22: exact integers before any
cross-partition sum, identical aliases both engines, BIGINT casts in
oracles, 1.0::DOUBLE where sums multiply, literal grids, bounded
windows (value-grouped aggregates only), broadcast-bounded joins.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from python_kinesis_streaming_spark.functions.rounding import cents, rnd, sql_rnd
from python_kinesis_streaming_spark.llm.dedup import md5_hash64, _sql_hash64
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table, sf_tag


# ---------------------------------------------------------------------------
# mergeable quantile-summary audit (the KLL/GK pattern, deterministic)
# ---------------------------------------------------------------------------

#: shards the fact stream is hash-split into (mergeability is ACROSS these)
_QS_SHARDS = 8
#: summary points kept per shard (exact order statistics at evenly
#: spaced target ranks) — rank error per shard is bounded by the max
#: gap between consecutive target ranks, ~n_s/_QS_K
_QS_K = 32
#: quantiles priced, as integer percents (exact rank arithmetic)
_QS_PHIS = (10, 50, 90, 99)


@op(
    "agg_mergeable_quantile_audit",
    oracle=f"""
        WITH ev AS (
            SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
                   {_sql_hash64("CAST(event_id AS VARCHAR)")}
                       % {_QS_SHARDS} AS shard
            FROM events
        ),
        vc AS (
            SELECT shard, cents, CAST(count(*) AS BIGINT) AS cnt
            FROM ev GROUP BY shard, cents
        ),
        sc AS (
            -- value-grouped per-shard cumulative rank (windows only
            -- over the value aggregate, never the raw facts)
            SELECT shard, cents, cnt,
                   CAST(sum(cnt) OVER (PARTITION BY shard ORDER BY cents
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum
            FROM vc
        ),
        ns AS (
            SELECT shard, CAST(sum(cnt) AS BIGINT) AS n_s
            FROM vc GROUP BY shard
        ),
        grid AS (SELECT CAST(u.i AS BIGINT) AS i
                 FROM unnest(range(1, {_QS_K + 1})) AS u(i)),
        tgt AS (
            -- evenly spaced target ranks r_i = ceil(i*n_s/k); the
            -- summary point i carries weight r_i - r_(i-1)
            SELECT ns.shard, g.i,
                   (g.i * ns.n_s + {_QS_K - 1}) // {_QS_K} AS r,
                   (g.i * ns.n_s + {_QS_K - 1}) // {_QS_K}
                     - ((g.i - 1) * ns.n_s + {_QS_K - 1}) // {_QS_K} AS w
            FROM ns CROSS JOIN grid g
        ),
        summ AS (
            -- exact in-shard order statistic at each target rank
            SELECT t.shard, t.i, t.w, min(sc.cents) AS v
            FROM tgt t JOIN sc ON sc.shard = t.shard AND sc.cum >= t.r
            GROUP BY t.shard, t.i, t.w
        ),
        merged AS (
            SELECT v, shard, i, w,
                   CAST(sum(w) OVER (ORDER BY v, shard, i
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cumw
            FROM summ
        ),
        tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n FROM ns),
        bnd AS (
            -- additive merge bound: sum over shards of the max rank
            -- gap, plus one max gap for the crossing point
            SELECT CAST(sum(mg) + max(mg) AS BIGINT) AS bound
            FROM (SELECT shard, max(w) AS mg FROM tgt GROUP BY shard)
        ),
        phis AS (SELECT CAST(u.p AS BIGINT) AS p
                 FROM unnest([{", ".join(str(p) for p in _QS_PHIS)}])
                      AS u(p)),
        want AS (
            SELECT p.p, (p.p * t.n + 99) // 100 AS target_rank, t.n
            FROM phis p CROSS JOIN tot t
        ),
        est AS (
            SELECT w.p, w.target_rank, w.n, min(m.v) AS est_cents
            FROM want w JOIN merged m ON m.cumw >= w.target_rank
            GROUP BY w.p, w.target_rank, w.n
        ),
        gc AS (
            SELECT cents,
                   CAST(sum(cnt) OVER (ORDER BY cents
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum
            FROM (SELECT cents, CAST(sum(cnt) AS BIGINT) AS cnt
                  FROM vc GROUP BY cents)
        ),
        exact AS (
            SELECT w.p, min(g.cents) AS exact_cents
            FROM want w JOIN gc g ON g.cum >= w.target_rank
            GROUP BY w.p
        ),
        est_rank AS (
            SELECT e.p, max(g.cum) AS est_rank
            FROM est e JOIN gc g ON g.cents <= e.est_cents
            GROUP BY e.p
        )
        SELECT {sql_rnd("e.p / 100.0", 2)} AS phi,
               e.n, e.target_rank, e.est_cents, x.exact_cents,
               r.est_rank,
               CAST(r.est_rank - e.target_rank AS BIGINT) AS rank_err,
               b.bound,
               (r.est_rank - e.target_rank >= 0
                AND r.est_rank - e.target_rank <= b.bound)
                   AS within_bound
        FROM est e
        JOIN exact x ON x.p = e.p
        JOIN est_rank r ON r.p = e.p
        CROSS JOIN bnd b
    """,
    scale=(
        "The third mergeable-summary family (Misra-Gries counts -> "
        "count-min -> THIS for quantiles): each of 8 hash shards keeps "
        "an exact order-statistic summary at k=32 evenly spaced target "
        "ranks (weight of point i = r_i - r_(i-1)); merging is a "
        "weighted union; a quantile estimate is the first merged point "
        "whose cumulative weight reaches ceil(phi*n). Proven bound, "
        "checked per phi as a boolean: within each shard the true rank "
        "of any value v sits in [cumweight_s(v), cumweight_s(v) + "
        "maxgap_s - 1] (the summary brackets every value between "
        "consecutive target ranks), so the merged estimate's true rank "
        "overshoots its target by at most sum_s(maxgap_s) plus one "
        "crossing-point gap. All ranks are exact BIGINTs from "
        "value-grouped cumulative windows (rank windows only over the "
        "cents aggregate, never raw facts). Shape: one (shard,cents) "
        "agg, bounded per-shard windows, a 256-point merged summary, "
        "literal phi grid. 100 TB: this IS how distributed quantiles "
        "work — per-partition summaries (k points each) merge "
        "associatively at the driver; the audit prices the rank error "
        "of that merge against exact truth while the data is small "
        "enough to afford the exact side."
    ),
)
def agg_mergeable_quantile_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Merged per-shard quantile summaries vs exact ranks + bound."""
    ev = load_table(spark, sf_dir, "events").select(
        cents().alias("cents"),
        (md5_hash64(F.col("event_id").cast("string")) % _QS_SHARDS).alias(
            "shard"
        ),
    )
    # vc feeds the per-shard cumulative, shard totals AND the global
    # cumulative — cached, the diamond plans the (shard,cents) agg once
    # (the wave-22 Exchange-count precedent; ~|distinct cents|*8 rows)
    vc = (
        ev.groupBy("shard", "cents")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .cache()
    )
    sc = vc.withColumn(
        "cum",
        F.sum("cnt")
        .over(
            Window.partitionBy("shard")
            .orderBy("cents")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .cast("long"),
    )
    ns = vc.groupBy("shard").agg(F.sum("cnt").cast("long").alias("n_s"))
    grid = spark.range(1, _QS_K + 1).select(F.col("id").alias("i"))
    tgt = ns.crossJoin(F.broadcast(grid)).select(
        "shard",
        "i",
        F.expr(f"(i * n_s + {_QS_K - 1}) div {_QS_K}").alias("r"),
        F.expr(
            f"(i * n_s + {_QS_K - 1}) div {_QS_K}"
            f" - ((i - 1) * n_s + {_QS_K - 1}) div {_QS_K}"
        ).alias("w"),
    ).cache()  # 256 rows; feeds the summary join AND the merge bound
    summ = (
        F.broadcast(tgt)
        .alias("t")
        .join(
            sc.alias("s"),
            (F.col("s.shard") == F.col("t.shard"))
            & (F.col("s.cum") >= F.col("t.r")),
        )
        .groupBy("t.shard", "t.i", "t.w")
        .agg(F.min("s.cents").alias("v"))
    )
    merged = summ.withColumn(
        "cumw",
        F.sum("w")
        .over(
            Window.orderBy("v", "shard", "i").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .cast("long"),
    ).cache()  # 256-row merged summary; probed once per phi
    tot = ns.agg(F.sum("n_s").cast("long").alias("n"))
    bnd = (
        tgt.groupBy("shard")
        .agg(F.max("w").alias("mg"))
        .agg((F.sum("mg") + F.max("mg")).cast("long").alias("bound"))
    )
    phis = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(int(p)) for p in _QS_PHIS])
        ).alias("p")
    )
    want = phis.crossJoin(F.broadcast(tot)).select(
        F.col("p").cast("long").alias("p"),
        F.expr("(p * n + 99) div 100").alias("target_rank"),
        "n",
    ).cache()  # 4-row phi grid; probed by est, exact and the report
    est = (
        F.broadcast(want)
        .alias("w")
        .join(merged.alias("m"), F.col("m.cumw") >= F.col("w.target_rank"))
        .groupBy("w.p", "w.target_rank", "w.n")
        .agg(F.min("m.v").alias("est_cents"))
    ).cache()  # 4 rows; feeds est_rank and the final report
    # gc backs both the exact quantile and the est-rank probe — cached
    gc = (
        vc.groupBy("cents")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
        .withColumn(
            "cum",
            F.sum("cnt")
            .over(
                Window.orderBy("cents").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            .cast("long"),
        )
        .cache()
    )
    exact = (
        F.broadcast(want.select("p", "target_rank"))
        .alias("w")
        .join(gc.alias("g"), F.col("g.cum") >= F.col("w.target_rank"))
        .groupBy("w.p")
        .agg(F.min("g.cents").alias("exact_cents"))
    )
    est_rank = (
        F.broadcast(est.select("p", "est_cents"))
        .alias("e")
        .join(gc.alias("g"), F.col("g.cents") <= F.col("e.est_cents"))
        .groupBy("e.p")
        .agg(F.max("g.cum").alias("est_rank"))
    )
    return (
        est.alias("e")
        .join(F.broadcast(exact).alias("x"), F.col("x.p") == F.col("e.p"))
        .join(
            F.broadcast(est_rank).alias("r"), F.col("r.p") == F.col("e.p")
        )
        .crossJoin(F.broadcast(bnd))
        .select(
            rnd(F.col("e.p") / F.lit(100.0), 2).alias("phi"),
            "e.n",
            "e.target_rank",
            "e.est_cents",
            "x.exact_cents",
            "r.est_rank",
            (F.col("r.est_rank") - F.col("e.target_rank"))
            .cast("long")
            .alias("rank_err"),
            F.col("bound"),
            (
                (F.col("r.est_rank") - F.col("e.target_rank") >= 0)
                & (
                    F.col("r.est_rank") - F.col("e.target_rank")
                    <= F.col("bound")
                )
            ).alias("within_bound"),
        )
    )


# ---------------------------------------------------------------------------
# pairwise source vocabulary overlap (tokenizer planning)
# ---------------------------------------------------------------------------

#: top-V vocabulary size per source (literal; rank by count desc, word)
_VO_TOPV = 200


@op(
    "text_vocab_overlap_matrix",
    oracle=f"""
        WITH tok AS (
            SELECT source, unnest(string_split(text, ' ')) AS w
            FROM documents
        ),
        wc AS (
            SELECT source, w, CAST(count(*) AS BIGINT) AS c
            FROM tok GROUP BY source, w
        ),
        n AS (
            SELECT source, CAST(sum(c) AS BIGINT) AS n_tok
            FROM wc GROUP BY source
        ),
        top AS (
            SELECT source, w FROM (
                SELECT source, w,
                       row_number() OVER (PARTITION BY source
                           ORDER BY c DESC, w) AS rk
                FROM wc) WHERE rk <= {_VO_TOPV}
        ),
        tsz AS (
            SELECT source, CAST(count(*) AS BIGINT) AS sz
            FROM top GROUP BY source
        ),
        pairs AS (
            SELECT a.source AS src_a, b.source AS src_b,
                   a.sz AS sz_a, b.sz AS sz_b
            FROM tsz a JOIN tsz b ON a.source < b.source
        ),
        inter AS (
            SELECT ta.source AS src_a, tb.source AS src_b,
                   CAST(count(*) AS BIGINT) AS inter_sz
            FROM top ta JOIN top tb
                 ON tb.w = ta.w AND ta.source < tb.source
            GROUP BY ta.source, tb.source
        ),
        oov AS (
            -- token mass of src_b NOT covered by src_a's top-V (and
            -- vice versa): the cross-tokenizer OOV rate
            SELECT p.src_a, p.src_b,
                   CAST(sum(CASE WHEN wb.source = p.src_b
                                  AND ta.w IS NULL
                            THEN wb.c ELSE 0 END) AS BIGINT) AS miss_b,
                   CAST(sum(CASE WHEN wb.source = p.src_a
                                  AND tb.w IS NULL
                            THEN wb.c ELSE 0 END) AS BIGINT) AS miss_a
            FROM pairs p
            JOIN wc wb ON wb.source IN (p.src_a, p.src_b)
            LEFT JOIN top ta ON ta.source = p.src_a AND ta.w = wb.w
            LEFT JOIN top tb ON tb.source = p.src_b AND tb.w = wb.w
            GROUP BY p.src_a, p.src_b
        )
        SELECT p.src_a, p.src_b, p.sz_a, p.sz_b,
               COALESCE(i.inter_sz, 0) AS inter_sz,
               {sql_rnd(
                   "COALESCE(i.inter_sz, 0) * 1.0"
                   " / (p.sz_a + p.sz_b - COALESCE(i.inter_sz, 0))", 4
               )} AS jaccard_topv,
               {sql_rnd("o.miss_b * 1.0 / nb.n_tok", 4)}
                   AS oov_b_under_a,
               {sql_rnd("o.miss_a * 1.0 / na.n_tok", 4)}
                   AS oov_a_under_b
        FROM pairs p
        LEFT JOIN inter i ON i.src_a = p.src_a AND i.src_b = p.src_b
        JOIN oov o ON o.src_a = p.src_a AND o.src_b = p.src_b
        JOIN n na ON na.source = p.src_a
        JOIN n nb ON nb.source = p.src_b
    """,
    scale=(
        "The tokenizer-choice table for a multi-source mixture: for "
        "every source pair, (1) Jaccard of the two top-V vocabularies "
        "(V=200, rank totally tie-broken by count desc then word) and "
        "(2) the cross-OOV token mass — what share of B's tokens a "
        "tokenizer trained on A's top-V would miss, and vice versa. "
        "High Jaccard + low cross-OOV means one shared tokenizer "
        "suffices (pairs with text_tokenizer_fertility's length view "
        "and text_js_divergence_sources' distribution view). All "
        "counts exact BIGINTs; ratios are single rationals frozen at "
        "1e-4. Shape: one vocab-keyed count, per-source bounded rank "
        "windows over the count aggregate, then |sources|^2/2 joins "
        "over V-bounded sets — broadcast scale throughout. 100 TB: "
        "the wc table is the corpus sufficient statistic; nothing "
        "rescans documents."
    ),
)
def text_vocab_overlap_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise source top-V vocab Jaccard + cross-OOV token shares."""
    docs = load_table(spark, sf_dir, "documents")
    # wc feeds totals, the top-V ranking AND the OOV mass scan; top
    # feeds sizes, the intersection self-join and two OOV probes —
    # both cached so each diamond subtree plans once (wave-22 pattern)
    wc = (
        docs.select(
            "source", F.explode(F.split("text", " ")).alias("w")
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .cache()
    )
    n = wc.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tok")
    )
    top = (
        wc.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("source").orderBy(F.desc("c"), "w")
            ),
        )
        .where(F.col("rk") <= _VO_TOPV)
        .select("source", "w")
        .cache()
    )
    tsz = top.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    a, b = tsz.alias("a"), tsz.alias("b")
    pairs = a.join(b, F.col("a.source") < F.col("b.source")).select(
        F.col("a.source").alias("src_a"),
        F.col("b.source").alias("src_b"),
        F.col("a.sz").alias("sz_a"),
        F.col("b.sz").alias("sz_b"),
    )
    ta, tb = top.alias("ta"), top.alias("tb")
    inter = (
        ta.join(
            tb,
            (F.col("tb.w") == F.col("ta.w"))
            & (F.col("ta.source") < F.col("tb.source")),
        )
        .groupBy(
            F.col("ta.source").alias("src_a"),
            F.col("tb.source").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("inter_sz"))
    )
    wb = wc.select(
        F.col("source").alias("wsrc"),
        F.col("w").alias("ww"),
        F.col("c").alias("wcnt"),
    )
    oov = (
        F.broadcast(pairs.select("src_a", "src_b"))
        .join(
            wb,
            (F.col("wsrc") == F.col("src_a"))
            | (F.col("wsrc") == F.col("src_b")),
        )
        .join(
            F.broadcast(
                top.select(
                    F.col("source").alias("tasrc"),
                    F.col("w").alias("taw"),
                )
            ),
            (F.col("tasrc") == F.col("src_a"))
            & (F.col("taw") == F.col("ww")),
            "left",
        )
        .join(
            F.broadcast(
                top.select(
                    F.col("source").alias("tbsrc"),
                    F.col("w").alias("tbw"),
                )
            ),
            (F.col("tbsrc") == F.col("src_b"))
            & (F.col("tbw") == F.col("ww")),
            "left",
        )
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(
                F.when(
                    (F.col("wsrc") == F.col("src_b"))
                    & F.col("taw").isNull(),
                    F.col("wcnt"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("miss_b"),
            F.sum(
                F.when(
                    (F.col("wsrc") == F.col("src_a"))
                    & F.col("tbw").isNull(),
                    F.col("wcnt"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("miss_a"),
        )
    )
    na = n.select(
        F.col("source").alias("nasrc"), F.col("n_tok").alias("na_tok")
    )
    nb = n.select(
        F.col("source").alias("nbsrc"), F.col("n_tok").alias("nb_tok")
    )
    return (
        pairs.join(
            inter.withColumnRenamed("src_a", "isrc_a").withColumnRenamed(
                "src_b", "isrc_b"
            ),
            (F.col("isrc_a") == F.col("src_a"))
            & (F.col("isrc_b") == F.col("src_b")),
            "left",
        )
        .join(
            oov.withColumnRenamed("src_a", "osrc_a").withColumnRenamed(
                "src_b", "osrc_b"
            ),
            (F.col("osrc_a") == F.col("src_a"))
            & (F.col("osrc_b") == F.col("src_b")),
        )
        .join(F.broadcast(na), F.col("nasrc") == F.col("src_a"))
        .join(F.broadcast(nb), F.col("nbsrc") == F.col("src_b"))
        .select(
            "src_a",
            "src_b",
            "sz_a",
            "sz_b",
            F.coalesce(F.col("inter_sz"), F.lit(0))
            .cast("long")
            .alias("inter_sz"),
            rnd(
                F.coalesce(F.col("inter_sz"), F.lit(0))
                * F.lit(1.0)
                / (
                    F.col("sz_a")
                    + F.col("sz_b")
                    - F.coalesce(F.col("inter_sz"), F.lit(0))
                ),
                4,
            ).alias("jaccard_topv"),
            rnd(
                F.col("miss_b") * F.lit(1.0) / F.col("nb_tok"), 4
            ).alias("oov_b_under_a"),
            rnd(
                F.col("miss_a") * F.lit(1.0) / F.col("na_tok"), 4
            ).alias("oov_a_under_b"),
        )
    )


# ---------------------------------------------------------------------------
# watermark lateness distribution (per-shard stream, jittered arrivals)
# ---------------------------------------------------------------------------

#: max hash-jitter network delay, seconds (arrival = event time + jitter)
_WL_JMAX = 300
#: literal candidate watermark delays priced, seconds
_WL_DELAYS = (0, 10, 30, 60, 120, 300)


@op(
    "events_watermark_lateness_audit",
    oracle=f"""
        WITH e AS (
            SELECT user_id,
                   CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
                       AS ts_us,
                   CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
                     + ({_sql_hash64("CAST(event_id AS VARCHAR)")}
                        % {_WL_JMAX}) * 1000000 AS arr_us,
                   event_id
            FROM events
        ),
        lat AS (
            -- per-shard (user) watermark = running max event time in
            -- ARRIVAL order; lateness = how far behind it this event's
            -- own timestamp is on arrival
            SELECT greatest(CAST(0 AS BIGINT), COALESCE(
                       max(ts_us) OVER (PARTITION BY user_id
                           ORDER BY arr_us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), ts_us) - ts_us)
                   AS late_us
            FROM e
        ),
        grid(delay_s) AS (VALUES {", ".join(
            f"({d})" for d in _WL_DELAYS)}),
        agg AS (
            SELECT g.delay_s,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CASE WHEN l.late_us > g.delay_s * 1000000
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
                   CAST(max(l.late_us) AS BIGINT) AS max_late_us,
                   CAST(sum(CASE WHEN l.late_us = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_on_time
            FROM lat l CROSS JOIN grid g
            GROUP BY g.delay_s
        )
        SELECT CAST(delay_s AS BIGINT) AS delay_s, n_events, n_late,
               {sql_rnd("n_late * 1.0 / n_events", 6)} AS late_share,
               n_on_time,
               {sql_rnd("max_late_us / 1000000.0", 3)} AS max_late_s
        FROM agg
    """,
    scale=(
        "What would withWatermark(delay) drop? Arrivals are modeled as "
        "event time + hash-deterministic network jitter (md5 of the "
        "event id, < 300 s — the Kinesis/KCL per-shard picture, shard "
        "= user); the per-shard watermark is the running max event "
        "time in arrival order, and an event's lateness is that "
        "watermark minus its own timestamp at arrival. The op prices "
        "the dropped-late mass at each literal candidate delay — the "
        "table a stream operator reads BEFORE choosing its watermark "
        "(the streaming family's first new audit since r11; lateness "
        "> jitter_max is impossible, so the 300 s row must read 0 — "
        "pinned). Shape: one per-user-partitioned arrival-order "
        "window (the sessionize shape — equi-keyed, never global), a "
        "6-row literal delay grid, one agg. 100 TB: keyed state "
        "partitions by shard exactly like the real stream; the window "
        "is the same sort the stateful operator would do."
    ),
)
def events_watermark_lateness_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dropped-late mass per candidate watermark delay (jittered)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        (
            F.unix_micros(F.col("ts"))
            + (md5_hash64(F.col("event_id").cast("string")) % _WL_JMAX)
            * F.lit(1000000)
        ).alias("arr_us"),
        "event_id",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("arr_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lat = ev.select(
        F.greatest(
            F.lit(0).cast("long"),
            F.coalesce(F.max("ts_us").over(w), F.col("ts_us"))
            - F.col("ts_us"),
        ).alias("late_us")
    )
    grid = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(int(d)) for d in _WL_DELAYS])
        ).alias("delay_s")
    )
    agg = (
        lat.crossJoin(F.broadcast(grid))
        .groupBy("delay_s")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(
                F.when(
                    F.col("late_us") > F.col("delay_s") * 1000000, 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_late"),
            F.max("late_us").cast("long").alias("max_late_us"),
            F.sum(F.when(F.col("late_us") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_on_time"),
        )
    )
    return agg.select(
        F.col("delay_s").cast("long").alias("delay_s"),
        "n_events",
        "n_late",
        rnd(F.col("n_late") * F.lit(1.0) / F.col("n_events"), 6).alias(
            "late_share"
        ),
        "n_on_time",
        rnd(F.col("max_late_us") / F.lit(1000000.0), 3).alias(
            "max_late_s"
        ),
    )


# ---------------------------------------------------------------------------
# snapshot time-travel diff (REAL sources/snapshots.py machinery)
# ---------------------------------------------------------------------------

#: literal day cut between snapshot v0 (early orders) and the v1 upsert
_TT_CUT = "1998-06-01"


@op(
    "lakehouse_time_travel_diff",
    oracle=f"""
        WITH s1 AS (
            SELECT o_orderkey AS key,
                   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                       AS cents
            FROM orders
            WHERE CAST(o_orderdate AS TIMESTAMP)
                  < TIMESTAMP '{_TT_CUT} 00:00:00'
        ),
        s2 AS (
            -- v1 = the full table with even early keys repriced +5%
            -- (integer cents, exact)
            SELECT o_orderkey AS key,
                   CASE WHEN CAST(o_orderdate AS TIMESTAMP)
                             < TIMESTAMP '{_TT_CUT} 00:00:00'
                         AND o_orderkey % 2 = 0
                        THEN CAST(floor(o_totalprice * 100 + 0.5)
                                  AS BIGINT)
                             + CAST(floor(o_totalprice * 100 + 0.5)
                                    AS BIGINT) // 20
                        ELSE CAST(floor(o_totalprice * 100 + 0.5)
                                  AS BIGINT) END AS cents
            FROM orders
        ),
        d AS (
            SELECT CASE
                     WHEN s1.key IS NULL THEN 'added'
                     WHEN s2.key IS NULL THEN 'removed'
                     WHEN s1.cents != s2.cents THEN 'changed'
                     ELSE 'unchanged'
                   END AS status
            FROM s1 FULL JOIN s2 ON s1.key = s2.key
        )
        SELECT status, CAST(count(*) AS BIGINT) AS n,
               CAST(2 AS BIGINT) AS n_versions
        FROM d GROUP BY status
    """,
    scale=(
        "Incremental diff between two REAL snapshot versions: v0 = "
        "early orders written through sources/snapshots.py's O_EXCL "
        "commit log, v1 = the late-order upsert plus a deterministic "
        "5%-reprice of even early keys, committed as a second "
        "version; both versions then TIME-TRAVEL-READ back "
        "(read_snapshot(version=...)) and full-outer-diffed on the "
        "key into the added/removed/changed/unchanged histogram "
        "(snapshot_diff_audit diffs synthetic DataFrames — THIS one "
        "grades the actual commit/replay machinery, including that "
        "the v0 read is immune to the v1 commit). n_versions comes "
        "from history(). 100 TB: the diff co-partitions both "
        "versions by key (bucketed layout), manifest stats "
        "short-circuit untouched files, and time travel is O(log) "
        "replay of the commit log — never a data copy."
    ),
)
def lakehouse_time_travel_diff(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Diff two real snapshots.py versions via time-travel reads."""
    from python_kinesis_streaming_spark.operators.scans import SCRATCH
    from python_kinesis_streaming_spark.sources import snapshots

    tdir = os.path.join(SCRATCH, f"w23_timetravel_{sf_tag(sf_dir)}")
    shutil.rmtree(tdir, ignore_errors=True)
    os.makedirs(tdir, exist_ok=True)

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.col("o_orderdate").alias("odate"),
    )
    cut = F.lit(_TT_CUT).cast("timestamp")
    early = orders.where(F.col("odate") < cut).select("key", "cents")
    v0 = snapshots.write_snapshot(
        early.coalesce(4), tdir, message="v0 early orders"
    )
    repriced = orders.select(
        "key",
        F.when(
            (F.col("odate") < cut) & (F.col("key") % 2 == 0),
            F.col("cents") + F.expr("cents div 20"),
        )
        .otherwise(F.col("cents"))
        .alias("cents"),
    )
    v1 = snapshots.write_snapshot(
        repriced.coalesce(4), tdir, message="v1 upsert + reprice"
    )
    n_versions = len(snapshots.history(tdir))

    s1 = snapshots.read_snapshot(spark, tdir, v0).alias("a")
    s2 = snapshots.read_snapshot(spark, tdir, v1).alias("b")
    d = s1.join(s2, F.col("a.key") == F.col("b.key"), "full_outer").select(
        F.when(F.col("a.key").isNull(), "added")
        .when(F.col("b.key").isNull(), "removed")
        .when(F.col("a.cents") != F.col("b.cents"), "changed")
        .otherwise("unchanged")
        .alias("status")
    )
    return d.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.lit(int(n_versions)).cast("long").alias("n_versions"),
    )


# ---------------------------------------------------------------------------
# Neyman vs proportional stratified allocation
# ---------------------------------------------------------------------------

#: total sample budget allocated across strata (literal)
_NA_BUDGET = 10000


@op(
    "sample_neyman_allocation_audit",
    oracle=f"""
        WITH t AS (
            SELECT event_type,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM events
        ),
        mom AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_h,
                   CAST(sum(cents) AS BIGINT) AS s1,
                   CAST(sum(cents * cents) AS BIGINT) AS s2
            FROM t GROUP BY event_type
        ),
        der AS (
            -- S_h from BIGINT moments, identical operand order; the
            -- N_h*S_h product is micro-frozen BEFORE the cross-stratum
            -- sum (order-free)
            SELECT event_type, n_h, s1, s2,
                   CAST(floor(n_h * sqrt(
                       (n_h * 1.0::DOUBLE * s2 - s1 * 1.0::DOUBLE * s1)
                       / (n_h * 1.0::DOUBLE * n_h))
                       * 1000000.0 + 0.505) AS BIGINT) AS w_micro
            FROM mom
        ),
        tot AS (
            SELECT CAST(sum(n_h) AS BIGINT) AS n_total,
                   CAST(sum(w_micro) AS BIGINT) AS w_total
            FROM der
        ),
        alloc AS (
            SELECT d.event_type, d.n_h, d.s1, d.s2, d.w_micro,
                   t.n_total, t.w_total,
                   {_NA_BUDGET} * (d.n_h * 1.0::DOUBLE / t.n_total)
                       AS a_prop,
                   {_NA_BUDGET} * (d.w_micro * 1.0::DOUBLE / t.w_total)
                       AS a_ney
            FROM der d CROSS JOIN tot t
        ),
        vterm AS (
            -- per-stratum variance contribution (N_h/N)^2 * S_h^2 /
            -- n_h(alloc), nano-frozen before the cross-stratum sum
            SELECT event_type,
                   CAST(floor(
                       (n_h * 1.0::DOUBLE / n_total)
                     * (n_h * 1.0::DOUBLE / n_total)
                     * ((n_h * 1.0::DOUBLE * s2 - s1 * 1.0::DOUBLE * s1)
                        / (n_h * 1.0::DOUBLE * n_h))
                     / a_prop * 1000000000.0 + 0.505) AS BIGINT)
                       AS vp_nano,
                   CAST(floor(
                       (n_h * 1.0::DOUBLE / n_total)
                     * (n_h * 1.0::DOUBLE / n_total)
                     * ((n_h * 1.0::DOUBLE * s2 - s1 * 1.0::DOUBLE * s1)
                        / (n_h * 1.0::DOUBLE * n_h))
                     / a_ney * 1000000000.0 + 0.505) AS BIGINT)
                       AS vn_nano
            FROM alloc
        ),
        vtot AS (
            SELECT CAST(sum(vp_nano) AS BIGINT) AS vprop_nano,
                   CAST(sum(vn_nano) AS BIGINT) AS vney_nano
            FROM vterm
        )
        SELECT a.event_type, a.n_h,
               {sql_rnd("a.s1 * 1.0 / a.n_h", 2)} AS mean_cents,
               {sql_rnd("a.w_micro / (1000000.0 * a.n_h)", 2)}
                   AS sd_cents,
               {sql_rnd("a.a_prop", 2)} AS alloc_prop,
               {sql_rnd("a.a_ney", 2)} AS alloc_neyman,
               {sql_rnd("v.vprop_nano / 1000000000.0", 4)}
                   AS var_prop,
               {sql_rnd("v.vney_nano / 1000000000.0", 4)}
                   AS var_neyman,
               (v.vney_nano <= v.vprop_nano) AS neyman_no_worse
        FROM alloc a CROSS JOIN vtot v
    """,
    scale=(
        "Survey-grade allocation design (the step BEFORE "
        "sample_ht_estimator_audit / PPS run): per stratum "
        "(event_type), Neyman allocation n_h proportional to N_h*S_h "
        "vs plain proportional allocation, and the stratified-mean "
        "variance each would buy at a literal 10k budget. The "
        "Cauchy-Schwarz theorem (Neyman variance <= proportional "
        "variance) is checked as a boolean on nano-frozen variance "
        "sums — a mixture plan that fails it has a broken moment "
        "pipeline. All moments exact BIGINTs (cents, cents^2); S_h "
        "derived in identical operand order both engines and "
        "micro-frozen before the only cross-stratum sums. Shape: one "
        "map-side-combinable 5-key agg, two 1-row scalars, 5-row "
        "report. 100 TB: the moment agg is the whole cost — "
        "allocation itself is arithmetic on k rows."
    ),
)
def sample_neyman_allocation_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Neyman vs proportional allocation + variance-reduction boolean."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        cents().alias("cents"),
    )
    mom = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum("cents").cast("long").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("s2"),
    )
    var_h = (
        F.col("n_h") * F.lit(1.0) * F.col("s2")
        - F.col("s1") * F.lit(1.0) * F.col("s1")
    ) / (F.col("n_h") * F.lit(1.0) * F.col("n_h"))
    der = mom.select(
        "event_type",
        "n_h",
        "s1",
        "s2",
        F.floor(
            F.col("n_h") * F.sqrt(var_h) * F.lit(1000000.0) + F.lit(0.505)
        )
        .cast("long")
        .alias("w_micro"),
    )
    tot = der.agg(
        F.sum("n_h").cast("long").alias("n_total"),
        F.sum("w_micro").cast("long").alias("w_total"),
    )
    alloc = der.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_h",
        "s1",
        "s2",
        "w_micro",
        "n_total",
        "w_total",
        (
            F.lit(_NA_BUDGET)
            * (F.col("n_h") * F.lit(1.0) / F.col("n_total"))
        ).alias("a_prop"),
        (
            F.lit(_NA_BUDGET)
            * (F.col("w_micro") * F.lit(1.0) / F.col("w_total"))
        ).alias("a_ney"),
    )
    svar = (
        F.col("n_h") * F.lit(1.0) * F.col("s2")
        - F.col("s1") * F.lit(1.0) * F.col("s1")
    ) / (F.col("n_h") * F.lit(1.0) * F.col("n_h"))
    share = F.col("n_h") * F.lit(1.0) / F.col("n_total")
    vterm = alloc.select(
        "event_type",
        F.floor(
            share * share * svar / F.col("a_prop") * F.lit(1000000000.0)
            + F.lit(0.505)
        )
        .cast("long")
        .alias("vp_nano"),
        F.floor(
            share * share * svar / F.col("a_ney") * F.lit(1000000000.0)
            + F.lit(0.505)
        )
        .cast("long")
        .alias("vn_nano"),
    )
    vtot = vterm.agg(
        F.sum("vp_nano").cast("long").alias("vprop_nano"),
        F.sum("vn_nano").cast("long").alias("vney_nano"),
    )
    return alloc.crossJoin(F.broadcast(vtot)).select(
        "event_type",
        "n_h",
        rnd(F.col("s1") * F.lit(1.0) / F.col("n_h"), 2).alias(
            "mean_cents"
        ),
        rnd(
            F.col("w_micro") / (F.lit(1000000.0) * F.col("n_h")), 2
        ).alias("sd_cents"),
        rnd(F.col("a_prop"), 2).alias("alloc_prop"),
        rnd(F.col("a_ney"), 2).alias("alloc_neyman"),
        rnd(F.col("vprop_nano") / F.lit(1000000000.0), 4).alias(
            "var_prop"
        ),
        rnd(F.col("vney_nano") / F.lit(1000000000.0), 4).alias(
            "var_neyman"
        ),
        (F.col("vney_nano") <= F.col("vprop_nano")).alias(
            "neyman_no_worse"
        ),
    )

"""Advanced composite operators: iterative graph ranking, robust anomaly
detection, Pareto concentration, point-in-time dimension joins, and
nearest-event attribution (SURVEY §2.12).

Scale notes (100 TB):
- PageRank runs the standard DataFrame-iteration shape (like
  dedup_clusters): the rank state is |nodes|-sized, edges are the only big
  table, and each round is one join + one partial agg. Rounds are
  persisted, never recursive SQL.
- The MAD pass is two grouped exact-percentile passes over ONE user_id
  shuffle each; at 100 TB swap `percentile` for `percentile_approx`
  (mergeable sketch) without changing the plan shape.
- Pareto/cumulative-share works in integer cents end-to-end: rank + one
  running int sum per segment — float-free, so the 80% cut is exact and
  engine-independent.
- The point-in-time join is declared as equi(user) + range residual; at
  100 TB realize it as the union-window as-of (join_asof) or the
  bucketized range join (join_range_bucketed) — both already in the
  registry; semantics stay identical.
- Nearest-event is two window passes (backward last + forward first) on
  one user_id sort — never a pairwise distance join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from python_kinesis_streaming_spark.functions.rounding import rnd, sql_rnd
from python_kinesis_streaming_spark.operators.timeseries import (
    _ORD_SQL as _TS_ORD,
    _ord_col,
)
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table

_TS = "CAST(ts AS TIMESTAMP)"


@op(
    "graph_pagerank_lite",
    oracle="""
        WITH edges AS (
            SELECT event_type AS src,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY CAST(ts AS TIMESTAMP), event_id)
                       AS dst
            FROM events
        ),
        e AS (
            SELECT src, dst, count(*) AS n FROM edges
            WHERE dst IS NOT NULL GROUP BY src, dst
        ),
        outw AS (SELECT src, sum(n) AS tot FROM e GROUP BY src),
        nodes AS (SELECT DISTINCT event_type AS node FROM events),
        nn AS (SELECT count(*) AS n_nodes FROM nodes),
        ew AS (
            SELECT e.src, e.dst, e.n * 1.0 / outw.tot AS wgt
            FROM e JOIN outw ON outw.src = e.src
        ),
        r0 AS (SELECT node, 1.0 / (SELECT n_nodes FROM nn) AS rank FROM nodes),
        r1 AS (
            SELECT n.node,
                   0.15 / (SELECT n_nodes FROM nn) + 0.85 * coalesce(c.c, 0) AS rank
            FROM nodes n LEFT JOIN (
                SELECT ew.dst, sum(r0.rank * ew.wgt) AS c
                FROM ew JOIN r0 ON r0.node = ew.src GROUP BY ew.dst
            ) c ON c.dst = n.node
        ),
        r2 AS (
            SELECT n.node,
                   0.15 / (SELECT n_nodes FROM nn) + 0.85 * coalesce(c.c, 0) AS rank
            FROM nodes n LEFT JOIN (
                SELECT ew.dst, sum(r1.rank * ew.wgt) AS c
                FROM ew JOIN r1 ON r1.node = ew.src GROUP BY ew.dst
            ) c ON c.dst = n.node
        ),
        r3 AS (
            SELECT n.node,
                   0.15 / (SELECT n_nodes FROM nn) + 0.85 * coalesce(c.c, 0) AS rank
            FROM nodes n LEFT JOIN (
                SELECT ew.dst, sum(r2.rank * ew.wgt) AS c
                FROM ew JOIN r2 ON r2.node = ew.src GROUP BY ew.dst
            ) c ON c.dst = n.node
        )
        SELECT node, floor(rank * 1000000.0 + 0.505) / 1000000.0 AS rank
        FROM r3
    """,
    scale=(
        "Weighted PageRank, 3 fixed rounds over the event-type transition "
        "graph. The iterative-DataFrame shape: per round one broadcast join "
        "of the tiny rank state against the edge list + one partial agg; "
        "edge list is computed ONCE. At web scale the same loop runs with "
        "checkpointed rank state and the edge table pre-bucketed on src — "
        "round cost is a single co-partitioned join. Ranks are summed in "
        "double; only the emitted value is rounded (6 dp, eps-floor), so "
        "sub-ulp association differences between engines cannot flip it."
    ),
)
def graph_pagerank_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration weighted PageRank over the event_type transition graph."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = (
        ev.select("event_type", F.lead("event_type").over(w).alias("dst"))
        .where(F.col("dst").isNotNull())
        .groupBy(F.col("event_type").alias("src"), "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    outw = e.groupBy("src").agg(F.sum("n").alias("tot"))
    nodes = ev.select(F.col("event_type").alias("node")).distinct()
    n_nodes = nodes.count()
    # weight = n / out_total, fixed across rounds: precompute once.
    ew = e.join(outw, "src").select(
        "src", "dst", (F.col("n") / F.col("tot")).alias("wgt")
    )
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    for _ in range(3):
        contrib = (
            F.broadcast(ranks)
            .join(ew, F.col("node") == F.col("src"))
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("wgt")).alias("c"))
        )
        ranks = (
            nodes.join(F.broadcast(contrib), F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                (
                    F.lit(0.15 / n_nodes)
                    + F.lit(0.85) * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks.select("node", rnd(F.col("rank"), 6).alias("rank"))


@op(
    "events_anomaly_mad",
    oracle=f"""
        WITH med AS (
            SELECT user_id,
                   {sql_rnd("quantile_cont(value, 0.5)", 4)} AS med
            FROM events GROUP BY user_id
        ),
        dev AS (
            SELECT e.user_id, med.med,
                   {sql_rnd("abs(e.value - med.med)", 4)} AS dev
            FROM events e JOIN med ON e.user_id = med.user_id
        ),
        mad AS (
            SELECT user_id, any_value(med) AS med,
                   {sql_rnd("quantile_cont(dev, 0.5)", 4)} AS mad
            FROM dev GROUP BY user_id
        )
        SELECT d.user_id, m.med, m.mad,
               count(*) AS n_events,
               CAST(sum(CASE WHEN d.dev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM dev d JOIN mad m ON d.user_id = m.user_id
        GROUP BY d.user_id, m.med, m.mad
    """,
    scale=(
        "Median-absolute-deviation outlier gate: two grouped exact-"
        "percentile passes + one counting agg, all shuffled on user_id "
        "(AQE reuses the partitioning). Every comparison operates on "
        "4 dp eps-floor-rounded deviations, so the 3×MAD threshold is "
        "engine-exact. At 100 TB replace percentile with percentile_approx "
        "(mergeable) — same plan, sketch state instead of sorted arrays."
    ),
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user robust outlier counts: |value − median| > 3 × MAD."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("user_id").agg(
        rnd(F.expr("percentile(value, 0.5)"), 4).alias("med")
    )
    dev = ev.join(med, "user_id").select(
        "user_id", "med", rnd(F.abs(F.col("value") - F.col("med")), 4).alias("dev")
    )
    mad = dev.groupBy("user_id").agg(
        F.first("med").alias("med"),
        rnd(F.expr("percentile(dev, 0.5)"), 4).alias("mad"),
    )
    return (
        dev.drop("med")
        .join(mad, "user_id")
        .groupBy("user_id", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(F.col("dev") > F.lit(3) * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
    )


@op(
    "pareto_share",
    oracle="""
        WITH rev AS (
            SELECT c.c_mktsegment, c.c_custkey,
                   sum(CAST(floor(o.o_totalprice * 100.0 + 0.505) AS BIGINT))
                       AS rev_cents
            FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
            GROUP BY c.c_mktsegment, c.c_custkey
        ),
        ranked AS (
            SELECT c_mktsegment, rev_cents,
                   sum(rev_cents) OVER (
                       PARTITION BY c_mktsegment
                       ORDER BY rev_cents DESC, c_custkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum_cents,
                   sum(rev_cents) OVER (PARTITION BY c_mktsegment) AS total_cents
            FROM rev
        )
        SELECT c_mktsegment,
               count(*) AS n_cust,
               CAST(any_value(total_cents) AS BIGINT) AS total_cents,
               CAST(sum(CASE WHEN 5 * (cum_cents - rev_cents) < 4 * total_cents
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_cust_80pct,
               floor((100.0 * max(rev_cents) / any_value(total_cents))
                     * 10000.0 + 0.505) / 10000.0 AS top_share_pct
        FROM ranked GROUP BY c_mktsegment
    """,
    scale=(
        "Pareto concentration in integer cents end-to-end: per-order "
        "prices fixed to cents BEFORE summing, so cumulative sums and the "
        "80% cut are exact integer arithmetic — no float boundary can flip "
        "membership. One shuffle to customer grain, one window sort per "
        "segment; at 100 TB the segment partitions sort independently."
    ),
)
def pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration per market segment: how many customers cover
    80% of revenue, and the top customer's share."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.505)).cast("long")
    rev = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_mktsegment", "c_custkey")
        .agg(F.sum(cents).alias("rev_cents"))
    )
    w_cum = (
        Window.partitionBy("c_mktsegment")
        .orderBy(F.desc("rev_cents"), F.asc("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("c_mktsegment")
    ranked = rev.select(
        "c_mktsegment",
        "rev_cents",
        F.sum("rev_cents").over(w_cum).alias("cum_cents"),
        F.sum("rev_cents").over(w_tot).alias("total_cents"),
    )
    return ranked.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.first("total_cents").alias("total_cents"),
        F.sum(
            F.when(
                F.lit(5) * (F.col("cum_cents") - F.col("rev_cents"))
                < F.lit(4) * F.col("total_cents"),
                1,
            ).otherwise(0)
        ).alias("n_cust_80pct"),
        rnd(F.lit(100.0) * F.max("rev_cents") / F.first("total_cents"), 4).alias(
            "top_share_pct"
        ),
    )


@op(
    "join_dim_snapshot",
    oracle=f"""
        WITH ordered AS (
            SELECT user_id, event_type, {_TS} AS ts_us,
                   CAST(floor((epoch_us({_TS}) - 1704067200000000)
                              / 1000.0) AS BIGINT) * 3500000 + event_id AS ord,
                   lag(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(floor((epoch_us({_TS}) - 1704067200000000)
                                           / 1000.0) AS BIGINT) * 3500000 + event_id
                   ) AS prev_type
            FROM events
        ),
        dim AS (
            SELECT user_id, event_type AS state, ts_us AS valid_from,
                   coalesce(lead(ts_us) OVER (PARTITION BY user_id ORDER BY ord),
                            TIMESTAMP '9999-01-01') AS valid_to
            FROM ordered WHERE prev_type IS NULL OR event_type <> prev_type
        )
        SELECT d.state, count(*) AS n_events, count(DISTINCT e.user_id) AS n_users
        FROM events e
        JOIN dim d ON e.user_id = d.user_id
                  AND d.valid_from <= {_TS} AND {_TS} < d.valid_to
        GROUP BY d.state
    """,
    scale=(
        "Point-in-time (SCD2 snapshot) join: equi key on user_id with the "
        "validity range as a residual — every event matches exactly one "
        "dimension version, the feature-store correctness primitive. "
        "Declared as equi+residual here; at 100 TB realize via the "
        "union-window as-of (join_asof) or bucketized range join "
        "(join_range_bucketed) to bound per-key probe cost. Change rows "
        "are ordered by the shared changelog ordinal, so version "
        "boundaries are identical on both engines."
    ),
)
def join_dim_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join each event to the dimension version (state) valid at its
    timestamp; distribution of events over point-in-time states."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ord")
    changes = (
        ev.select("user_id", "event_type", F.col("ts").alias("ts_us"),
                  _ord_col().alias("ord"))
        .withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNull()
               | (F.col("event_type") != F.col("prev_type")))
    )
    wv = Window.partitionBy("user_id").orderBy("ord")
    dim = changes.select(
        F.col("user_id").alias("d_user_id"),
        F.col("event_type").alias("state"),
        F.col("ts_us").alias("valid_from"),
        F.coalesce(
            F.lead("ts_us").over(wv),
            F.lit("9999-01-01").cast("timestamp"),
        ).alias("valid_to"),
    )
    return (
        ev.join(
            dim,
            (F.col("user_id") == F.col("d_user_id"))
            & (F.col("valid_from") <= F.col("ts"))
            & (F.col("ts") < F.col("valid_to")),
        )
        .groupBy("state")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@op(
    "join_asof_nearest",
    oracle=f"""
        WITH merged AS (
            SELECT user_id, {_TS} AS ts, event_id,
                   CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS kind,
                   CASE WHEN event_type = 'purchase' THEN {_TS} END AS p_ts,
                   CASE WHEN event_type = 'click' THEN event_id END AS click_id
            FROM events WHERE event_type IN ('click', 'purchase')
        ),
        scanned AS (
            SELECT user_id, ts, click_id, kind,
                   last_value(p_ts IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, kind
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS back_ts,
                   first_value(p_ts IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, kind
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                   ) AS fwd_ts
            FROM merged
        )
        SELECT click_id, user_id, ts AS click_ts,
               CASE
                 WHEN back_ts IS NULL AND fwd_ts IS NULL THEN NULL
                 WHEN fwd_ts IS NULL THEN back_ts
                 WHEN back_ts IS NULL THEN fwd_ts
                 WHEN epoch_us(ts) - epoch_us(back_ts)
                      <= epoch_us(fwd_ts) - epoch_us(ts) THEN back_ts
                 ELSE fwd_ts
               END AS nearest_purchase_ts
        FROM scanned WHERE kind = 1
    """,
    scale=(
        "Nearest-event attribution in BOTH directions: one user_id sort, "
        "two linear window scans (backward last + forward first), then a "
        "constant-time pick — never a pairwise |clicks|×|purchases| "
        "distance join. Purchases sort before clicks at equal ts (kind "
        "key), so 'at-or-before' vs 'strictly-after' is well-defined and "
        "identical on both engines; ties choose the backward purchase."
    ),
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each click, the nearest purchase by the same user in either
    time direction (ties → the earlier purchase)."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    merged = ev.select(
        "user_id",
        "ts",
        F.when(F.col("event_type") == "purchase", 0).otherwise(1).alias("kind"),
        F.when(F.col("event_type") == "purchase", F.col("ts")).alias("p_ts"),
        F.when(F.col("event_type") == "click", F.col("event_id")).alias("click_id"),
    )
    w_back = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    scanned = merged.select(
        "user_id",
        "ts",
        "click_id",
        "kind",
        F.last("p_ts", ignorenulls=True).over(w_back).alias("back_ts"),
        F.first("p_ts", ignorenulls=True).over(w_fwd).alias("fwd_ts"),
    )
    back_us = F.unix_micros("ts") - F.unix_micros("back_ts")
    fwd_us = F.unix_micros("fwd_ts") - F.unix_micros("ts")
    return scanned.where(F.col("kind") == 1).select(
        "click_id",
        "user_id",
        F.col("ts").alias("click_ts"),
        F.when(F.col("back_ts").isNull() & F.col("fwd_ts").isNull(), F.lit(None).cast("timestamp"))
        .when(F.col("fwd_ts").isNull(), F.col("back_ts"))
        .when(F.col("back_ts").isNull(), F.col("fwd_ts"))
        .when(back_us <= fwd_us, F.col("back_ts"))
        .otherwise(F.col("fwd_ts"))
        .alias("nearest_purchase_ts"),
    )


@op(
    "market_basket_pairs",
    oracle="""
        WITH items AS (
            SELECT DISTINCT l.l_orderkey, p.p_brand
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        )
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, count(*) AS n_orders
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY a.p_brand, b.p_brand
        ORDER BY n_orders DESC, brand_a, brand_b
        LIMIT 20
    """,
    scale=(
        "Market-basket co-occurrence: the self-join is keyed on l_orderkey, "
        "so pair expansion is bounded by basket_size² PER ORDER (~4 items → "
        "6 pairs), never corpus-wide; the distinct collapses to brand grain "
        "first (|order|×|brands| rows max). Count agg partial-combines; "
        "top-20 is TakeOrdered with full (n, a, b) tie-break."
    ),
)
def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 brand pairs most often bought in the same order."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    items = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a = items.select(
        F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand_a")
    )
    b = items.select(
        F.col("l_orderkey").alias("ok2"), F.col("p_brand").alias("brand_b")
    )
    return (
        a.join(b, (F.col("ok") == F.col("ok2")) & (F.col("brand_a") < F.col("brand_b")))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), F.asc("brand_a"), F.asc("brand_b"))
        .limit(20)
    )


@op(
    "events_dau_wau",
    oracle="""
        WITH du AS (
            SELECT DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
                   user_id
            FROM events
        ),
        days AS (SELECT DISTINCT d FROM du)
        SELECT days.d,
               (SELECT count(*) FROM du WHERE du.d = days.d) AS dau,
               count(DISTINCT du.user_id) AS wau
        FROM days JOIN du
          ON du.d <= days.d AND du.d > days.d - INTERVAL 7 DAY
        GROUP BY days.d
    """,
    scale=(
        "DAU/WAU: dedupe to (day, user) grain FIRST, then EXPLODE each "
        "(day, user) row into the ≤7 spine days it contributes to — the "
        "rolling window becomes a plain equi-join/groupBy on the spine day "
        "(no range join, no nested loop), with fan-out bounded by the "
        "window width. At 100 TB replace the exact rolling distinct with "
        "per-day HLL sketches merged over the window (agg_sketch_merge "
        "shows the mergeable-sketch path) — same output shape."
    ),
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users and trailing-7-day weekly active users."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", "ts").alias("d"), "user_id"
    ).distinct()
    days = du.select("d").distinct()
    dau = du.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    # (d, user) contributes to spine days d..d+6; equi-semi-join against the
    # observed-day spine drops offsets past the data's end.
    contrib = du.select(
        "user_id",
        F.explode(F.expr("sequence(0, 6)")).alias("off"),
        "d",
    ).select(
        "user_id", F.date_add(F.col("d"), F.col("off")).cast("timestamp").alias("spine_d")
    )
    wau = (
        contrib.join(
            days.withColumnRenamed("d", "spine_d"), "spine_d", "left_semi"
        )
        .groupBy("spine_d")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, F.col("d") == F.col("spine_d"))
        .select("d", "dau", "wau")
    )


@op(
    "events_rfm_segmentation",
    oracle="""
        WITH rfm AS (
            SELECT user_id,
                   date_diff('day', CAST(max(ts) AS DATE), DATE '2024-02-01')
                       AS r_days,
                   count(*) AS freq,
                   floor((sum(value)) * 100.0 + 0.505) / 100.0 AS monetary
            FROM events GROUP BY user_id
        )
        SELECT user_id, CAST(r_days AS INTEGER) AS r_days, freq, monetary,
               ntile(4) OVER (ORDER BY r_days, user_id)           AS r_q,
               ntile(4) OVER (ORDER BY freq DESC, user_id)        AS f_q,
               ntile(4) OVER (ORDER BY monetary DESC, user_id)    AS m_q
        FROM rfm
    """,
    scale=(
        "RFM scoring: one partial agg collapses events to |users| rows; the "
        "three ntile windows run over that aggregate (global sort of |users| "
        "rows, NOT events — at 100 TB use approx percentile cut points "
        "instead of exact ntile to avoid the single-partition global "
        "window). Quartile orderings carry user_id tie-breaks so both "
        "engines assign identical buckets."
    ),
)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency/frequency/monetary quartile scores per user."""
    ev = load_table(spark, sf_dir, "events")
    rfm = ev.groupBy("user_id").agg(
        F.datediff(
            F.lit("2024-02-01").cast("date"), F.max("ts").cast("date")
        ).alias("r_days"),
        F.count(F.lit(1)).alias("freq"),
        rnd(F.sum("value")).alias("monetary"),
    )
    return rfm.select(
        "user_id",
        "r_days",
        "freq",
        "monetary",
        F.ntile(4).over(Window.orderBy("r_days", "user_id")).alias("r_q"),
        F.ntile(4).over(Window.orderBy(F.desc("freq"), F.asc("user_id"))).alias("f_q"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("monetary"), F.asc("user_id")))
        .alias("m_q"),
    )


@op(
    "events_session_path",
    oracle=f"""
        WITH ordered AS (
            SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
                   {_TS_ORD} AS ord,
                   lag(CAST(ts AS TIMESTAMP)) OVER (
                       PARTITION BY user_id ORDER BY {_TS_ORD}
                   ) AS prev_ts
            FROM events
        ),
        flagged AS (
            SELECT *, CASE WHEN prev_ts IS NULL
                           OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                      THEN 1 ELSE 0 END AS new_s
            FROM ordered
        ),
        sess AS (
            SELECT *, sum(new_s) OVER (
                PARTITION BY user_id ORDER BY ord
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS sid
            FROM flagged
        )
        SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
               arg_min(event_type, ord) || '>' || arg_max(event_type, ord)
                   AS path
        FROM sess GROUP BY user_id, sid
    """,
    scale=(
        "Session entry/exit paths: lag-gap sessionization (one user_id "
        "window pass) + per-session arg extrema on the int64 changelog "
        "ordinal — mergeable (ordinal, value) partial-agg state, so the "
        "final agg combines map-side. The path string is built from two "
        "scalars, never a per-session collect_list."
    ),
)
def events_session_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per 30-min session: start, size, and 'entry>exit' event-type path."""
    ev = load_table(spark, sf_dir, "events").withColumn("ord", _ord_col())
    w = Window.partitionBy("user_id").orderBy("ord")
    flagged = ev.select(
        "user_id", "event_type", "ts", "ord",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) > 1800000000),
            1,
        ).otherwise(0).alias("new_s"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = flagged.withColumn("sid", F.sum("new_s").over(w_run))
    return (
        sess.groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            F.concat(
                F.min_by("event_type", "ord"), F.lit(">"), F.max_by("event_type", "ord")
            ).alias("path"),
        )
        .drop("sid")
    )


@op(
    "q2_min_cost_supplier",
    oracle="""
        WITH ps AS (
            SELECT DISTINCT l_partkey AS partkey, l_suppkey AS suppkey
            FROM lineitem
        ),
        costed AS (
            SELECT ps.partkey, ps.suppkey, s.s_acctbal, s.s_name
            FROM ps JOIN supplier s ON ps.suppkey = s.s_suppkey
        ),
        mins AS (
            SELECT partkey, min(s_acctbal) AS min_bal FROM costed
            GROUP BY partkey
        )
        SELECT p.p_partkey, p.p_brand, c.s_name, c.s_acctbal
        FROM part p
        JOIN mins m  ON p.p_partkey = m.partkey
        JOIN costed c ON c.partkey = m.partkey AND c.s_acctbal = m.min_bal
        WHERE p.p_size = 10
    """,
    scale=(
        "TPC-H Q2 shape (min-cost supplier per part; acctbal proxies the "
        "missing ps_supplycost): the part-supplier relation is DISTINCT'd "
        "from lineitem FIRST (collapses the fact table to relation grain), "
        "the per-part min is a partial agg over that, and the winner "
        "join-back is an equi join on (partkey, exact min value) — raw "
        "doubles compared only against themselves, so no rounding needed. "
        "p_size prunes the part scan."
    ),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest supplier(s) of each size-10 part (Q2 shape, acctbal cost)."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").where(F.col("p_size") == 10)
    ps = li.select(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).distinct()
    costed = ps.join(
        F.broadcast(s), F.col("suppkey") == F.col("s_suppkey")
    ).select("partkey", "suppkey", "s_acctbal", "s_name")
    mins = costed.groupBy("partkey").agg(F.min("s_acctbal").alias("min_bal"))
    return (
        F.broadcast(p)
        .join(mins, F.col("p_partkey") == F.col("partkey"))
        .join(
            costed.withColumnRenamed("partkey", "c_partkey"),
            (F.col("c_partkey") == F.col("p_partkey"))
            & (F.col("s_acctbal") == F.col("min_bal")),
        )
        .select("p_partkey", "p_brand", "s_name", "s_acctbal")
    )


@op(
    "market_basket_lift",
    oracle="""
        WITH items AS (
            SELECT DISTINCT l.l_orderkey, p.p_brand
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ),
        n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM items),
        brand_n AS (SELECT p_brand, count(*) AS bn FROM items GROUP BY p_brand),
        pair_n AS (
            SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
                   count(*) AS ab_n
            FROM items a JOIN items b
              ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
            GROUP BY 1, 2
        )
        SELECT brand_a, brand_b, ab_n,
               floor((CAST(ab_n AS DOUBLE) / ba.bn) * 1000000.0 + 0.505)
                   / 1000000.0 AS confidence,
               floor((CAST(ab_n AS DOUBLE) * n.n / (ba.bn * bb.bn))
                     * 1000000.0 + 0.505) / 1000000.0 AS lift
        FROM pair_n
        JOIN brand_n ba ON ba.p_brand = brand_a
        JOIN brand_n bb ON bb.p_brand = brand_b
        CROSS JOIN n_orders n
        ORDER BY lift DESC, brand_a, brand_b LIMIT 20
    """,
    scale=(
        "Association rules on top of the bounded basket join: support "
        "counts are the only pass over orders; confidence and lift are "
        "arithmetic over three BROADCAST-sized aggregates (|brands|, "
        "|brand-pairs|, one grand total). The lift ratio is computed on "
        "exact integer counts and rounded once — no float-boundary "
        "ordering hazard in the top-20 cut."
    ),
)
def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 brand pairs by lift (with confidence), from per-order
    distinct-brand baskets."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    items = (
        li.join(F.broadcast(p.select("p_partkey", "p_brand")),
                li["l_partkey"] == p["p_partkey"])
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    n_orders = items.select("l_orderkey").distinct().count()
    brand_n = items.groupBy("p_brand").agg(F.count(F.lit(1)).alias("bn"))
    a = items.alias("a")
    b = items.alias("b")
    pair_n = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("brand_a"), F.col("b.p_brand").alias("brand_b")
        )
        .agg(F.count(F.lit(1)).alias("ab_n"))
    )
    ba = brand_n.select(F.col("p_brand").alias("brand_a"), F.col("bn").alias("a_n"))
    bb = brand_n.select(F.col("p_brand").alias("brand_b"), F.col("bn").alias("b_n"))
    return (
        pair_n.join(F.broadcast(ba), "brand_a")
        .join(F.broadcast(bb), "brand_b")
        .select(
            "brand_a",
            "brand_b",
            "ab_n",
            rnd(F.col("ab_n").cast("double") / F.col("a_n"), 6).alias("confidence"),
            rnd(
                F.col("ab_n").cast("double")
                * F.lit(float(n_orders))
                / (F.col("a_n") * F.col("b_n")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("brand_a"), F.asc("brand_b"))
        .limit(20)
    )


@op(
    "agg_gini_revenue",
    oracle=f"""
        WITH rev AS (
            SELECT o_custkey,
                   CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.505)
                                 AS BIGINT)) AS BIGINT) AS cents
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT cents,
                   row_number() OVER (ORDER BY cents, o_custkey) AS i,
                   count(*) OVER () AS n,
                   CAST(sum(cents) OVER () AS BIGINT) AS tot
            FROM rev
        )
        SELECT CAST(any_value(n) AS BIGINT) AS n_customers,
               CAST(any_value(tot) AS BIGINT) AS total_cents,
               {sql_rnd(
                   "2.0 * sum(CAST(i AS DOUBLE) * cents) / "
                   "(any_value(n) * any_value(tot)) "
                   "- (any_value(n) + 1.0) / any_value(n)", 6)} AS gini
        FROM ranked
    """,
    scale=(
        "Gini concentration of customer revenue — ALL in integer cents "
        "until the final ratio: per-customer sums are exact, the rank is "
        "totally ordered (cents, custkey), and Σ i·xᵢ is an integer-"
        "weighted sum — no accumulation-order hazard can move the rank "
        "cut. The global sort is over |customers| (post-agg) rows, not "
        "orders; at 100 TB that's the already-reduced side."
    ),
)
def agg_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer order revenue (integer cents,
    rank-weighted closed form)."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.505)).cast("long")
    rev = orders.groupBy("o_custkey").agg(F.sum(cents).alias("cents"))
    w_rank = Window.orderBy("cents", "o_custkey")
    w_all = Window.partitionBy()
    ranked = rev.select(
        "cents",
        F.row_number().over(w_rank).alias("i"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum("cents").over(w_all).alias("tot"),
    )
    return ranked.agg(
        F.first("n").cast("long").alias("n_customers"),
        F.first("tot").cast("long").alias("total_cents"),
        rnd(
            F.lit(2.0)
            * F.sum(F.col("i").cast("double") * F.col("cents"))
            / (F.first("n") * F.first("tot"))
            - (F.first("n") + F.lit(1.0)) / F.first("n"),
            6,
        ).alias("gini"),
    )


@op(
    "merge_into_upsert",
    oracle="""
        WITH tgt AS (
            SELECT c_custkey AS key,
                   CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
            FROM customer
        ),
        src AS (
            SELECT CASE WHEN o_custkey % 3 = 0 THEN o_custkey + 1000000
                        ELSE o_custkey END AS key,
                   CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS delta,
                   CAST(count(*) AS BIGINT) AS n_orders
            FROM orders GROUP BY 1
        ),
        merged AS (
            SELECT coalesce(t.key, s.key) AS key,
                   CASE
                     WHEN s.key IS NULL THEN 'keep'
                     WHEN t.key IS NULL THEN 'insert'
                     WHEN s.n_orders >= 15 THEN 'delete'
                     ELSE 'update'
                   END AS action,
                   CASE
                     WHEN s.key IS NULL THEN t.cents
                     WHEN t.key IS NULL THEN s.delta
                     ELSE t.cents + s.delta
                   END AS balance_cents
            FROM tgt t FULL JOIN src s ON t.key = s.key
        )
        SELECT key, action, CAST(balance_cents AS BIGINT) AS balance_cents
        FROM merged WHERE action != 'delete'
    """,
    scale=(
        "MERGE INTO executed the way engines without a table format run "
        "it: one full-outer join on the merge key resolves all three "
        "clauses (WHEN MATCHED [AND cond] THEN UPDATE/DELETE, WHEN NOT "
        "MATCHED THEN INSERT) in a single pass — never one pass per "
        "clause. At 100 TB the join shuffles on the merge key (or zero "
        "shuffle against a bucketed target / broadcast change set); with "
        "a partitioned target, join the change set's distinct partition "
        "values first so copy-on-write rewrites ONLY touched partitions. "
        "Integer-cents balances keep the upsert arithmetic engine-exact."
    ),
)
def merge_into_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE a per-customer order-total change set into the balance snapshot:
    matched+big→delete, matched→update, unmatched→insert, untouched→keep."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    tgt = cust.select(
        F.col("c_custkey").alias("t_key"),
        F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long").alias("cents"),
    )
    src = (
        orders.groupBy(
            F.when(
                F.col("o_custkey") % 3 == 0, F.col("o_custkey") + 1000000
            )
            .otherwise(F.col("o_custkey"))
            .alias("s_key")
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("delta"),
            F.count("*").alias("n_orders"),
        )
    )
    merged = tgt.join(src, tgt.t_key == src.s_key, "full_outer").select(
        F.coalesce("t_key", "s_key").alias("key"),
        F.when(F.col("s_key").isNull(), "keep")
        .when(F.col("t_key").isNull(), "insert")
        .when(F.col("n_orders") >= 15, "delete")
        .otherwise("update")
        .alias("action"),
        F.when(F.col("s_key").isNull(), F.col("cents"))
        .when(F.col("t_key").isNull(), F.col("delta"))
        .otherwise(F.col("cents") + F.col("delta"))
        .alias("balance_cents"),
    )
    return merged.where(F.col("action") != "delete")


@op(
    "dedup_transactions_fuzzy",
    oracle="""
        WITH inj AS (
            SELECT o_orderkey, o_custkey, o_totalprice,
                   CAST(o_orderdate AS TIMESTAMP) AS d
            FROM orders
            UNION ALL
            SELECT o_orderkey + 10000000, o_custkey, o_totalprice,
                   CAST(o_orderdate AS TIMESTAMP) + INTERVAL 1 DAY
            FROM orders WHERE o_orderkey % 50 = 0
        ),
        o AS (
            SELECT o_orderkey AS k, o_custkey AS c,
                   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
                   CAST(d AS DATE) AS dd
            FROM inj
        )
        SELECT a.k AS order_a, b.k AS order_b, a.c AS o_custkey,
               a.cents AS amount_cents
        FROM o a JOIN o b
          ON a.c = b.c AND a.cents = b.cents AND a.k < b.k
             AND abs(date_diff('day', a.dd, b.dd)) <= 1
    """,
    scale=(
        "Duplicate-invoice detection — transaction near-dup with a "
        "blocked equi join: (customer, exact amount-cents) is the "
        "blocking key, the ±1-day window is a residual predicate on the "
        "block, so the pair space is bounded by per-(customer, amount) "
        "multiplicity — never an all-pairs or time-range-only join. "
        "Self-demonstrating: duplicates every 50th order one day later "
        "(the fixture has no natural double-charges) and surfaces "
        "exactly those pairs. At 100 TB widen the block to rounded "
        "amount buckets and keep the exact test as the residual."
    ),
)
def dedup_transactions_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-charge candidates: same customer + same cents within ±1 day
    (with injected duplicates of every 50th order)."""
    o = load_table(spark, sf_dir, "orders")
    dups = o.where(F.col("o_orderkey") % 50 == 0).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        "o_custkey",
        "o_totalprice",
        (F.col("o_orderdate") + F.expr("INTERVAL 1 DAY")).alias("o_orderdate"),
    )
    inj = o.select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    ).unionAll(dups)
    keyed = inj.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("c"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
        F.to_date("o_orderdate").alias("dd"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    return a.join(
        b,
        (F.col("a.c") == F.col("b.c"))
        & (F.col("a.cents") == F.col("b.cents"))
        & (F.col("a.k") < F.col("b.k"))
        & (
            F.abs(F.datediff(F.col("b.dd"), F.col("a.dd"))) <= 1
        ),
    ).select(
        F.col("a.k").alias("order_a"),
        F.col("b.k").alias("order_b"),
        F.col("a.c").alias("o_custkey"),
        F.col("a.cents").alias("amount_cents"),
    )


@op(
    "snapshot_diff_audit",
    oracle="""
        WITH s1 AS (
            SELECT c_custkey AS key,
                   CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
            FROM customer
        ),
        s2 AS (
            SELECT key,
                   CASE WHEN key % 2 = 0 THEN cents + 1000 ELSE cents END
                       AS cents
            FROM s1 WHERE key % 97 != 0
            UNION ALL
            SELECT key + 1000000, cents FROM s1 WHERE key % 89 = 0
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
        SELECT status, CAST(count(*) AS BIGINT) AS n
        FROM d GROUP BY status
    """,
    scale=(
        "Snapshot diff — the audit between two published versions of a "
        "table (yesterday's dim vs today's): ONE full-outer join on the "
        "key classifies every row added/removed/changed/unchanged; at "
        "100 TB both snapshots co-partition (bucketed by key) so the "
        "diff is shuffle-free, and a partition-level content hash "
        "short-circuits untouched partitions before any row compare. "
        "The 4-row status histogram is the publish gate (e.g. refuse "
        "when removed > 0.1% of rows)."
    ),
)
def snapshot_diff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level diff between a snapshot and its deterministic successor
    (even keys changed, every-97th removed, every-89th cloned as added)."""
    cust = load_table(spark, sf_dir, "customer")
    s1 = cust.select(
        F.col("c_custkey").alias("key"),
        F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long").alias("cents"),
    )
    changed = s1.where(F.col("key") % 97 != 0).select(
        "key",
        F.when(F.col("key") % 2 == 0, F.col("cents") + 1000)
        .otherwise(F.col("cents"))
        .alias("cents"),
    )
    added = s1.where(F.col("key") % 89 == 0).select(
        (F.col("key") + 1000000).alias("key"), "cents"
    )
    s2 = changed.unionAll(added)
    a = s1.alias("a")
    b = s2.alias("b")
    d = a.join(b, F.col("a.key") == F.col("b.key"), "full_outer").select(
        F.when(F.col("a.key").isNull(), "added")
        .when(F.col("b.key").isNull(), "removed")
        .when(F.col("a.cents") != F.col("b.cents"), "changed")
        .otherwise("unchanged")
        .alias("status")
    )
    return d.groupBy("status").agg(F.count(F.lit(1)).alias("n"))

"""Analytical SQL surface: subqueries, pivot, cube, statistical aggregates.

Subquery ops deliberately run through ``spark.sql`` (entry point E2,
SURVEY §3.2) over temp views — exercising the parser + Catalyst subquery
decorrelation, not just the DataFrame builder path.

Scale notes (100 TB):
- The scalar subquery executes once (its own tiny job) and is inlined as a
  literal into the main scan's filter — full pushdown applies.
- The correlated EXISTS decorrelates to a LeftSemi hash join on the
  correlation key — never a per-row re-execution.
- pivot with an EXPLICIT value list compiles to one pass of conditional
  aggregates (no distinct-values pre-query, no second shuffle).
- cube = Expand×4 + one partial-agg pass; output cardinality is the sum of
  the grouping-set cardinalities, not their product.
- corr/covar/stddev are single-pass mergeable moments (sum, sum², sum·xy) —
  partial-agg friendly like plain sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from python_kinesis_streaming_spark.functions.rounding import cents, rnd, sql_rnd
from python_kinesis_streaming_spark.operators.timeseries import _ord_col
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table, table_view


@op(
    "subquery_scalar",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_quantity
        FROM lineitem
        WHERE l_quantity > (
            SELECT floor((avg(l_quantity)) * 1000000.0 + 0.505) / 1000000.0
            FROM lineitem
        )
    """,
    scale=(
        "Scalar subquery → one tiny agg job, result inlined as a literal "
        "into the main filter → parquet pushdown still applies. The avg is "
        "rounded on both engines so the comparison boundary is identical."
    ),
)
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows above the (scalar-subquery) global average quantity — via
    spark.sql, exercising the parser entry point."""
    v = table_view(spark, sf_dir, "lineitem")
    return spark.sql(f"""
        SELECT l_orderkey, l_linenumber, l_quantity
        FROM {v}
        WHERE l_quantity > (
            SELECT floor((avg(l_quantity)) * 1000000.0 + 0.505) / 1000000.0
            FROM {v}
        )
    """)


@op(
    "subquery_exists_correlated",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0
        )
    """,
    scale=(
        "Correlated EXISTS decorrelates to a LeftSemi join on o_custkey — "
        "one shuffle, no per-row subquery re-execution (Catalyst rewrite; "
        "same rewrite the semi-join op uses directly)."
    ),
)
def subquery_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with at least one >400k order, written as correlated
    EXISTS through the SQL parser."""
    vc = table_view(spark, sf_dir, "customer")
    vo = table_view(spark, sf_dir, "orders")
    return spark.sql(f"""
        SELECT c_custkey, c_name
        FROM {vc} c
        WHERE EXISTS (
            SELECT 1 FROM {vo} o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0
        )
    """)


EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


@op(
    "pivot_wide",
    oracle=f"""
        SELECT user_id,
               {", ".join(
                   f"count(*) FILTER (WHERE event_type = '{t}') AS {t}"
                   for t in EVENT_TYPES
               )}
        FROM events GROUP BY user_id
    """,
    scale=(
        "Explicit pivot value list → ONE aggregation pass of conditional "
        "counts (no distinct-values discovery job, no extra shuffle); "
        "output width is fixed at plan time."
    ),
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide: per-user event counts, one column per event type."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
    )


@op(
    "agg_cube",
    oracle=f"""
        SELECT c_mktsegment, o_orderstatus,
               {sql_rnd("sum(o_totalprice)")} AS revenue,
               count(*) AS n
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY CUBE(c_mktsegment, o_orderstatus)
    """,
    scale="Cube = Expand(4 grouping sets) + one partial-agg pass; dims broadcast.",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by every subset of (mktsegment, orderstatus) via CUBE."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    j = orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
    return j.cube("c_mktsegment", "o_orderstatus").agg(
        rnd(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@op(
    "agg_stats_moments",
    oracle="""
        SELECT event_type,
               floor((corr(value, CAST(json_extract_string(props, '$.k') AS INTEGER)))
                     * 10000.0 + 0.505) / 10000.0 AS corr_vk,
               floor((covar_samp(value, CAST(json_extract_string(props, '$.k') AS INTEGER)))
                     * 10000.0 + 0.505) / 10000.0 AS covar_vk,
               floor((stddev_samp(value)) * 10000.0 + 0.505) / 10000.0 AS std_v
        FROM events GROUP BY event_type
    """,
    scale=(
        "corr/covar/stddev are mergeable moment sketches (Σx, Σx², Σxy, n): "
        "partial-agg + tiny shuffle state, exactly like plain sums — the "
        "statistical profile pass of a data-quality pipeline."
    ),
)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type correlation/covariance of value vs the JSON payload's k,
    plus stddev — single-pass moment aggregates."""
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json("props", "k INT").getField("k")
    return (
        ev.select("event_type", "value", k.alias("k"))
        .groupBy("event_type")
        .agg(
            rnd(F.corr("value", "k"), 4).alias("corr_vk"),
            rnd(F.covar_samp("value", "k"), 4).alias("covar_vk"),
            rnd(F.stddev_samp("value"), 4).alias("std_v"),
        )
    )


@op(
    "q17_correlated_avg",
    oracle="""
        SELECT floor((sum(l_extendedprice) / 7.0) * 100.0 + 0.505) / 100.0
                   AS avg_yearly
        FROM lineitem l1
        WHERE l_quantity < (
            SELECT 0.5 * avg(l_quantity) FROM lineitem l2
            WHERE l2.l_partkey = l1.l_partkey
        )
    """,
    scale=(
        "TPC-H Q17 shape: per-group correlated scalar subquery. Catalyst "
        "decorrelates to [per-part avg agg] JOIN [lineitem] - one agg + one "
        "equi join on l_partkey instead of a per-row subquery; AQE picks "
        "broadcast for the agg side when small."
    ),
)
def q17_correlated_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity revenue vs the per-part average (correlated scalar
    subquery through the SQL parser, decorrelated by Catalyst)."""
    v = table_view(spark, sf_dir, "lineitem")
    # CAST to double: Spark parses `100.0` literals as DECIMAL, and
    # bigint(floor)/decimal would yield a Decimal result vs DuckDB's double.
    return spark.sql(f"""
        SELECT CAST(floor((sum(l_extendedprice) / 7.0) * 100.0 + 0.505) / 100.0
                    AS DOUBLE) AS avg_yearly
        FROM {v} l1
        WHERE l_quantity < (
            SELECT 0.5 * avg(l_quantity) FROM {v} l2
            WHERE l2.l_partkey = l1.l_partkey
        )
    """)


@op(
    "q13_count_distribution",
    oracle="""
        SELECT c_count, count(*) AS custdist
        FROM (
            SELECT c.c_custkey, count(o.o_orderkey) AS c_count
            FROM customer c LEFT JOIN orders o
              ON c.c_custkey = o.o_custkey
             AND o.o_orderpriority <> '1-URGENT'
            GROUP BY c.c_custkey
        )
        GROUP BY c_count
    """,
    scale=(
        "TPC-H Q13 shape: left join preserving customers with zero orders, "
        "then a two-level count-of-counts. Both aggs partial-combine; the "
        "second agg's key (c_count) is tiny-cardinality - near-total "
        "map-side reduction."
    ),
)
def q13_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-order-count histogram (zero-order customers included)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@op(
    "win_percent_rank",
    oracle="""
        SELECT s_suppkey,
               floor((percent_rank() OVER (ORDER BY s_acctbal, s_suppkey))
                     * 1000000.0 + 0.505) / 1000000.0 AS pr,
               floor((cume_dist() OVER (ORDER BY s_acctbal, s_suppkey))
                     * 1000000.0 + 0.505) / 1000000.0 AS cd
        FROM supplier
    """,
    scale=(
        "Global-ORDER window = single-partition sort: fine for dims "
        "(suppliers); for facts PARTITION the window or pre-bucket - a "
        "global percent_rank over 100 TB is a design smell."
    ),
)
def win_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist over suppliers by account balance."""
    from pyspark.sql.window import Window

    sup = load_table(spark, sf_dir, "supplier")
    w = Window.orderBy("s_acctbal", "s_suppkey")
    return sup.select(
        "s_suppkey",
        rnd(F.percent_rank().over(w), 6).alias("pr"),
        rnd(F.cume_dist().over(w), 6).alias("cd"),
    )


@op(
    "fn_conditional",
    oracle="""
        SELECT event_id,
               coalesce(nullif(event_type, 'error'), 'recovered') AS et,
               least(value, 100.0) AS capped,
               greatest(value, 1.0) AS floored,
               CASE WHEN value IS NULL THEN 'null' ELSE 'set' END AS nullness
        FROM events
    """,
    scale="Pure per-row conditionals: folded into the scan stage, no shuffle.",
)
def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional scalar family: coalesce / nullif / least / greatest."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.coalesce(F.nullif("event_type", F.lit("error")), F.lit("recovered")).alias("et"),
        F.least("value", F.lit(100.0)).alias("capped"),
        F.greatest("value", F.lit(1.0)).alias("floored"),
        F.when(F.col("value").isNull(), "null").otherwise("set").alias("nullness"),
    )


@op(
    "agg_max_by",
    oracle="""
        SELECT o_custkey,
               arg_max(o_orderkey,
                       floor(o_totalprice * 100.0 + 0.505)::BIGINT * 100000000
                       + o_orderkey) AS best_order,
               arg_min(o_orderkey,
                       floor(o_totalprice * 100.0 + 0.505)::BIGINT * 100000000
                       + o_orderkey) AS worst_order
        FROM orders GROUP BY o_custkey
    """,
    scale=(
        "max_by/min_by carry (arg, ord) pairs through partial agg - one "
        "pass, no join-back. Tie-break: (price, orderkey) encoded into one "
        "BIGINT (price has 2dp; orderkey < 1e8) because DuckDB's arg_max "
        "can't order by structs - determinism without engine-specific ties."
    ),
)
def agg_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per customer: the orderkey of their most/least expensive order."""
    orders = load_table(spark, sf_dir, "orders")
    ordv = (
        F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.505)).cast("long")
        * F.lit(100000000)
        + F.col("o_orderkey")
    )
    return orders.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", ordv).alias("best_order"),
        F.min_by("o_orderkey", ordv).alias("worst_order"),
    )


@op(
    "join_cross_bounded",
    oracle="""
        SELECT r.r_name, n.n_name,
               CASE WHEN n.n_regionkey = r.r_regionkey THEN 1 ELSE 0 END AS member
        FROM region r CROSS JOIN nation n
    """,
    scale=(
        "Explicit cartesian - legal ONLY between bounded dims (5x25 here). "
        "Spark requires crossJoin() to be deliberate; any fact-side "
        "cartesian at scale is a bug the optimizer should never pick."
    ),
)
def join_cross_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded dim x dim cartesian with a derived membership flag."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    return region.crossJoin(nation).select(
        "r_name",
        "n_name",
        F.when(F.col("n_regionkey") == F.col("r_regionkey"), 1).otherwise(0).alias("member"),
    )


@op(
    "cdc_upsert_compact",
    oracle="""
        SELECT user_id,
               arg_max(event_id,
                       CAST(floor((epoch_us(CAST(ts AS TIMESTAMP)) - 1704067200000000) / 1000.0) AS BIGINT)
                       * 3500000 + event_id) AS last_event_id,
               arg_max(event_type,
                       CAST(floor((epoch_us(CAST(ts AS TIMESTAMP)) - 1704067200000000) / 1000.0) AS BIGINT)
                       * 3500000 + event_id) AS last_type,
               count(*) AS n_versions
        FROM events GROUP BY user_id
    """,
    scale=(
        "Changelog compaction (CDC upsert): keep the newest version per "
        "key. max_by with a (ts, id)-encoded ordinal does it in ONE "
        "partial-agg pass - no window sort, no rn=1 filter; the agg state "
        "per key is a single row. THE pattern for compacting a 100 TB "
        "append log into current-state."
    ),
)
def cdc_upsert_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Treat events as a changelog keyed by user_id: latest event wins.

    Determinism: ordinal = (ms since 2024-01-01)·3.5e6 + event_id — unique
    (event_id < 3.5e6 breaks same-ms ties identically on both engines) and
    int64-safe for ~83 years of ms (9.22e18 / 3.5e6 ≈ 2.6e12 ms); µs would
    cap out at ~30.5 days, too close to the ~29-day fixture span. The
    rebased value stays < 2^53 so the floor(/1000) round-trip through
    double is exact in both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    ord_ms = F.floor(
        (F.unix_micros("ts") - F.lit(1_704_067_200_000_000)) / F.lit(1000)
    )
    ordv = ord_ms * F.lit(3_500_000) + F.col("event_id")
    return ev.groupBy("user_id").agg(
        F.max_by("event_id", ordv).alias("last_event_id"),
        F.max_by("event_type", ordv).alias("last_type"),
        F.count(F.lit(1)).alias("n_versions"),
    )


@op(
    "agg_histogram",
    oracle="""
        SELECT CAST(floor(value / 50.0) AS BIGINT) AS bucket,
               count(*) AS n,
               floor((min(value)) * 10000.0 + 0.505) / 10000.0 AS lo,
               floor((max(value)) * 10000.0 + 0.505) / 10000.0 AS hi
        FROM events GROUP BY 1
    """,
    scale=(
        "Fixed-width histogram = integer bucket key + partial-agg count: "
        "one pass, shuffle carries |buckets| rows. The data-profiling "
        "primitive (distribution sketches before choosing partitioning/"
        "filters); for unknown ranges pair with approx_percentile."
    ),
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width (50-unit) histogram of event values with bin extrema."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.floor(F.col("value") / 50.0).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            rnd(F.min("value"), 4).alias("lo"),
            rnd(F.max("value"), 4).alias("hi"),
        )
    )


@op(
    "unpivot_melt",
    oracle="""
        WITH wide AS (
            SELECT user_id,
                   count(*) FILTER (WHERE event_type = 'click') AS click,
                   count(*) FILTER (WHERE event_type = 'view') AS view
            FROM events GROUP BY user_id
        )
        SELECT user_id, 'click' AS etype, click AS n FROM wide
        UNION ALL
        SELECT user_id, 'view' AS etype, view AS n FROM wide
    """,
    scale=(
        "unpivot/melt is a zero-shuffle row expansion (Expand node, xK "
        "columns -> rows) - the inverse of pivot_wide; long form feeds "
        "groupBy/window ops that wide form cannot."
    ),
)
def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide per-user counts melted back to (user_id, etype, n) long form."""
    ev = load_table(spark, sf_dir, "events")
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["click", "view"])
    )
    return wide.unpivot("user_id", ["click", "view"], "etype", "n")


@op(
    "batch_sessionize",
    oracle="""
        WITH e AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                   CASE WHEN CAST(ts AS TIMESTAMP)
                             - lag(CAST(ts AS TIMESTAMP))
                               OVER (PARTITION BY user_id
                                     ORDER BY CAST(ts AS TIMESTAMP), event_id)
                             > INTERVAL 30 MINUTE OR
                             lag(CAST(ts AS TIMESTAMP))
                               OVER (PARTITION BY user_id
                                     ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL
                        THEN 1 ELSE 0 END AS new_s
            FROM events
        ),
        s AS (
            SELECT user_id, ts,
                   sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM e
        )
        SELECT user_id, min(ts) AS session_start, max(ts) AS session_last,
               count(*) AS n_events
        FROM s GROUP BY user_id, sid
    """,
    scale=(
        "Native session_window in BATCH: one shuffle on user_id + "
        "per-partition interval merge (no second window pass, no re-agg "
        "like the classic lag-gap formulation — the oracle IS that "
        "formulation, pinning their equivalence). This is the bench's "
        "sessionize_30min headline query as a driver-graded op."
    ),
)
def batch_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 30-minute-gap sessions over the full batch events table."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_last"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_last", "n_events")
    )


@op(
    "sample_stratified",
    oracle="""
        SELECT event_type,
               count(*) AS n_total,
               count(*) FILTER (
                   CAST(('0x' || substring(md5('7:' || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100
                   < CASE event_type WHEN 'purchase' THEN 100
                                     WHEN 'signup'   THEN 50
                                     ELSE 10 END
               ) AS n_kept,
               floor((sum(value) FILTER (
                   CAST(('0x' || substring(md5('7:' || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100
                   < CASE event_type WHEN 'purchase' THEN 100
                                     WHEN 'signup'   THEN 50
                                     ELSE 10 END
               )) * 10000.0 + 0.505) / 10000.0 AS kept_value_sum
        FROM events GROUP BY event_type
    """,
    scale=(
        "Class-rebalancing sample for training data: rare classes kept "
        "whole (purchase 100%, signup 50%), majority classes thinned to "
        "10% — decided per row by a DETERMINISTIC portable hash of the "
        "key (md5-derived, seed 7), no RNG state, no driver round-trip; "
        "reproducible across engines, retries, and cluster sizes. Pure "
        "map-side filter → partial agg."
    ),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample of events with per-stratum rates
    (purchase 1.0 / signup 0.5 / rest 0.1); emits per-type keep counts."""
    from python_kinesis_streaming_spark.llm.dedup import md5_hash64

    ev = load_table(spark, sf_dir, "events")
    rate100 = (
        F.when(F.col("event_type") == "purchase", 100)
        .when(F.col("event_type") == "signup", 50)
        .otherwise(10)
    )
    keep = md5_hash64(F.col("event_id").cast("string"), seed=7) % 100 < rate100
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count_if(keep).alias("n_kept"),
        rnd(F.sum(F.when(keep, F.col("value"))), 4).alias("kept_value_sum"),
    )


@op(
    "funnel_conversion",
    oracle="""
        WITH c AS (
            SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS first_click
            FROM events WHERE event_type = 'click' GROUP BY user_id
        ),
        p AS (
            SELECT c.user_id, min(CAST(e.ts AS TIMESTAMP)) AS first_purchase
            FROM c JOIN events e
              ON e.user_id = c.user_id
             AND e.event_type = 'purchase'
             AND CAST(e.ts AS TIMESTAMP) > c.first_click
            GROUP BY c.user_id
        )
        SELECT c.user_id, c.first_click, p.first_purchase,
               p.first_purchase IS NOT NULL AS converted
        FROM c LEFT JOIN p ON c.user_id = p.user_id
    """,
    scale=(
        "Two-step funnel (first click → first later purchase): two "
        "partial-agg min()s + one equi-join on user_id — NOT a per-user "
        "subquery and NOT an event-pair blowup; state per user is two "
        "timestamps. Extends to k steps as k chained min-after joins."
    ),
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase funnel per user: first click, first purchase strictly
    after it, and a converted flag."""
    ev = load_table(spark, sf_dir, "events")
    first_click = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    first_purchase = (
        first_click.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") > F.col("first_click")),
        )
        .groupBy("user_id")
        .agg(F.min("p_ts").alias("first_purchase"))
    )
    return (
        first_click.join(first_purchase, "user_id", "left")
        .select(
            "user_id",
            "first_click",
            "first_purchase",
            F.col("first_purchase").isNotNull().alias("converted"),
        )
    )


@op(
    "retention_cohort",
    oracle="""
        WITH cohort AS (
            SELECT user_id,
                   CAST(date_trunc('day', min(CAST(ts AS TIMESTAMP))) AS TIMESTAMP)
                       AS cohort_day
            FROM events GROUP BY user_id
        )
        SELECT c.cohort_day,
               date_diff('day', c.cohort_day,
                         CAST(date_trunc('day', CAST(e.ts AS TIMESTAMP)) AS TIMESTAMP))
                   AS day_offset,
               count(DISTINCT e.user_id) AS n_active
        FROM events e JOIN cohort c ON e.user_id = c.user_id
        GROUP BY 1, 2
    """,
    scale=(
        "Cohort retention matrix: per-user cohort day is ONE partial-agg "
        "min, joined back on user_id (same shuffle key as the agg — one "
        "exchange reused), then distinct-count per (cohort, offset) cell. "
        "Output is |cohorts|×|offsets| cells regardless of event volume."
    ),
)
def retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort × day-offset distinct active users (retention grid)."""
    ev = load_table(spark, sf_dir, "events")
    cohort = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    return (
        ev.join(cohort, "user_id")
        .select(
            "cohort_day",
            F.datediff(F.date_trunc("day", F.col("ts")), F.col("cohort_day")).cast(
                "long"
            ).alias("day_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@op(
    "events_path_transitions",
    oracle="""
        WITH seq AS (
            SELECT event_type,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY CAST(ts AS TIMESTAMP), event_id)
                       AS next_type
            FROM events
        )
        SELECT event_type, next_type, count(*) AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY event_type, next_type
    """,
    scale=(
        "Clickstream transition matrix (Markov counts): one shuffle on "
        "user_id for the lead window, then the pair counts partial-agg "
        "down to |types|² rows. The path-analysis primitive; k-step paths "
        "are k chained leads over the SAME sorted partition (no extra "
        "shuffle)."
    ),
)
def events_path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """event_type → next event_type transition counts across all users."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select("event_type", F.lead("event_type").over(w).alias("next_type"))
        .where(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@op(
    "win_gaps_islands",
    oracle="""
        WITH days AS (
            SELECT DISTINCT user_id,
                   CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS d
            FROM events
        ),
        isl AS (
            SELECT user_id, d,
                   date_diff('day', TIMESTAMP '2024-01-01',  d)
                     - row_number() OVER (PARTITION BY user_id ORDER BY d)
                       AS grp
            FROM days
        ),
        runs AS (
            SELECT user_id, grp, count(*) AS len FROM isl GROUP BY user_id, grp
        )
        SELECT user_id, count(*) AS n_streaks, max(len) AS longest_streak
        FROM runs GROUP BY user_id
    """,
    scale=(
        "Gaps-and-islands (consecutive-active-day streaks) via the "
        "ordinal-minus-row_number trick: distinct days first (partial-agg "
        "shrinks events to |user|×|days|), ONE window pass, two cheap "
        "re-aggs. No self-join, no recursion — the streak/uptime query at "
        "any scale."
    ),
)
def win_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user count of consecutive-day activity streaks and the longest."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.select(
        "user_id",
        (
            F.datediff(F.col("d"), F.lit("2024-01-01").cast("timestamp"))
            - F.row_number().over(w)
        ).alias("grp"),
    )
    runs = isl.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    return runs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("len").alias("longest_streak"),
    )


@op(
    "q20_nested_semi",
    oracle="""
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_suppkey IN (
            SELECT l_suppkey FROM lineitem
            GROUP BY l_suppkey, l_partkey
            HAVING sum(l_quantity) > (
                SELECT 0.5 * sum(l2.l_quantity)
                FROM lineitem l2
                WHERE l2.l_partkey = lineitem.l_partkey
            ) * 0.2
        )
    """,
    scale=(
        "TPC-H Q20 shape: semi-join on a correlated-HAVING subquery. "
        "Catalyst decorrelates the inner scalar into a per-part agg joined "
        "on l_partkey, then the IN becomes a LeftSemi on s_suppkey — two "
        "partial-agg passes + two equi joins, no per-row re-execution."
    ),
)
def q20_nested_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers with any (part, supplier) shipment exceeding 20% of half
    the part's total quantity (nested correlated HAVING → semi join)."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    per_part = li.groupBy("l_partkey").agg(
        (F.sum("l_quantity") * 0.5).alias("half_total")
    )
    per_ps = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum("l_quantity").alias("qty")
    )
    qualifying = (
        per_ps.join(per_part, "l_partkey")
        .where(F.col("qty") > F.col("half_total") * 0.2)
        .select("l_suppkey")
    )
    return supplier.join(
        qualifying, supplier.s_suppkey == qualifying.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


@op(
    "events_time_to_convert",
    oracle="""
        WITH first_click AS (
            SELECT user_id, min(ts) AS c_ts
            FROM events WHERE event_type = 'click' GROUP BY user_id
        ),
        first_purch AS (
            SELECT f.user_id, f.c_ts, min(p.ts) AS p_ts
            FROM first_click f JOIN events p
              ON p.user_id = f.user_id
             AND p.event_type = 'purchase' AND p.ts >= f.c_ts
            GROUP BY f.user_id, f.c_ts
        ),
        lat AS (
            SELECT user_id,
                   (epoch_us(CAST(p_ts AS TIMESTAMP))
                    - epoch_us(CAST(c_ts AS TIMESTAMP))) // 1000000 AS lat_s
            FROM first_purch
        )
        SELECT lat_s // 600 AS bucket_10min,
               count(*) AS n_users,
               CAST(min(lat_s) AS BIGINT) AS min_lat_s,
               CAST(max(lat_s) AS BIGINT) AS max_lat_s
        FROM lat GROUP BY 1
    """,
    scale=(
        "Conversion-latency distribution: two partial aggs on the user_id "
        "partitioning (first click, then earliest qualifying purchase via "
        "a same-key equi join — the range predicate is residual, never a "
        "cross join) and an integer histogram whose shuffle carries "
        "|buckets| rows. All-integer latencies: no float boundary can "
        "move a user across buckets between engines."
    ),
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute-bucket histogram of first-click -> first-purchase latency
    per user (integer seconds end-to-end)."""
    ev = load_table(spark, sf_dir, "events")
    first_click = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    first_purch = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"))
        .join(first_click, "user_id")
        .where(F.col("p_ts") >= F.col("c_ts"))
        .groupBy("user_id", "c_ts")
        .agg(F.min("p_ts").alias("p_ts"))
    )
    lat = first_purch.select(
        "user_id",
        ((F.unix_micros("p_ts") - F.unix_micros("c_ts")) / F.lit(1000000))
        .cast("long")
        .alias("lat_s"),
    )
    return (
        lat.select((F.col("lat_s") / 600).cast("long").alias("bucket_10min"), "lat_s")
        .groupBy("bucket_10min")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.min("lat_s").alias("min_lat_s"),
            F.max("lat_s").alias("max_lat_s"),
        )
    )


@op(
    "events_sequence_mining",
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_type, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(CAST(ts AS TIMESTAMP))
                                - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP))
                                > 1800000000
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT *, sum(new_s) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM ordered
        ),
        seqs AS (
            SELECT list(event_type ORDER BY ts, event_id) AS t
            FROM sess GROUP BY user_id, sid
        ),
        trigrams AS (
            SELECT u.g AS trigram
            FROM seqs, unnest(list_transform(range(1, len(t) - 1),
                     i -> t[i] || '>' || t[i + 1] || '>' || t[i + 2])) AS u(g)
            WHERE len(t) >= 3
        )
        SELECT trigram, count(*) AS n
        FROM trigrams GROUP BY trigram
        ORDER BY n DESC, trigram LIMIT 20
    """,
    scale=(
        "Sequential-pattern mining lite: sessionize (one user_id window "
        "pass), collect each session's ordered type sequence into its OWN "
        "row, then trigram extraction is an in-row HOF — the pattern "
        "explosion happens map-side and collapses into a <=|types|^3 key "
        "space before the final KB-scale shuffle. The same shape scales to "
        "k-grams and skip-grams; for unbounded sessions cap the collected "
        "sequence with slice() and mine per chunk."
    ),
)
def events_sequence_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 within-session event-type trigrams (30-min session gap)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) > 1800000000),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    ).withColumn("sid", F.sum("new_s").over(wcum))
    seqs = (
        sess.groupBy("user_id", "sid")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(ts, event_id, event_type))),"
                " s -> s.event_type)"
            ).alias("t")
        )
        .where(F.size("t") >= 3)
    )
    trigrams = seqs.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 2), "
                "i -> concat(t[i-1], '>', t[i], '>', t[i+1]))"
            )
        ).alias("trigram")
    )
    return (
        trigrams.groupBy("trigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("trigram"))
        .limit(20)
    )


@op(
    "events_bounce_rate",
    oracle="""
        WITH ordered AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(CAST(ts AS TIMESTAMP))
                                - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP))
                                > 1800000000
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, sum(new_s) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM ordered
        ),
        per_sess AS (
            SELECT user_id, sid, count(*) AS n FROM sess GROUP BY user_id, sid
        )
        SELECT user_id,
               count(*) AS n_sessions,
               CAST(count_if(n = 1) AS BIGINT) AS n_bounces,
               floor((CAST(count_if(n = 1) AS DOUBLE) / count(*))
                     * 10000.0 + 0.505) / 10000.0 AS bounce_rate
        FROM per_sess GROUP BY user_id
    """,
    scale=(
        "Bounce rate (single-event sessions / sessions): the lag-gap "
        "sessionizer's windows and both aggs all ride ONE user_id "
        "partitioning — a single shuffle end to end. The engagement KPI "
        "every clickstream warehouse reports; swap the 30-min constant "
        "for a per-surface config column and the plan is unchanged."
    ),
)
def events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session count, single-event-session count, and bounce
    rate (30-min session gap)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) > 1800000000),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    ).withColumn("sid", F.sum("new_s").over(wcum))
    per_sess = sess.groupBy("user_id", "sid").agg(F.count(F.lit(1)).alias("n"))
    return per_sess.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count_if(F.col("n") == 1).alias("n_bounces"),
        rnd(F.count_if(F.col("n") == 1).cast("double") / F.count(F.lit(1)), 4).alias(
            "bounce_rate"
        ),
    )


@op(
    "events_peak_concurrency",
    oracle="""
        WITH ordered AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(CAST(ts AS TIMESTAMP))
                                - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP))
                                > 1800000000
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts,
                   sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM ordered
        ),
        intervals AS (
            SELECT user_id, sid, min(ts) AS s, max(ts) AS e
            FROM sess GROUP BY user_id, sid
        ),
        deltas AS (
            SELECT s AS t, 1 AS delta, user_id, sid FROM intervals
            UNION ALL
            SELECT e AS t, -1 AS delta, user_id, sid FROM intervals
        ),
        local_run AS (
            SELECT date_trunc('day', t) AS day, t, delta,
                   sum(delta) OVER (PARTITION BY date_trunc('day', t)
                       ORDER BY t, delta DESC, user_id, sid
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS running
            FROM deltas
        ),
        day_tot AS (
            SELECT day, sum(delta) AS tot
            FROM local_run GROUP BY day
        ),
        carry AS (
            SELECT day,
                   coalesce(sum(tot) OVER (ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS c
            FROM day_tot
        )
        SELECT l.day, CAST(max(c + running) AS BIGINT) AS peak_concurrency
        FROM local_run l JOIN carry USING (day)
        GROUP BY l.day
    """,
    scale=(
        "Peak concurrency WITHOUT a global sort: +1/-1 session-boundary "
        "deltas run per-DAY partitions (parallel windows), and the "
        "cross-day prefix is a carry computed over |days| rows — the "
        "two-pass prefix-sum decomposition that turns an inherently "
        "sequential sweep into a partition-parallel plan. Closed-interval "
        "tie rule (+1 sorts before -1 at the same instant) is explicit in "
        "the ordering so both engines count a back-to-back session swap "
        "as overlapping."
    ),
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily peak number of simultaneously-open 30-min-gap sessions
    (day-partitioned running sum + cross-day carry)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) > 1800000000),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    ).withColumn("sid", F.sum("new_s").over(wcum))
    intervals = sess.groupBy("user_id", "sid").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    deltas = intervals.select(
        F.col("s").alias("t"), F.lit(1).alias("delta"), "user_id", "sid"
    ).unionByName(
        intervals.select(
            F.col("e").alias("t"), F.lit(-1).alias("delta"), "user_id", "sid"
        )
    )
    day = F.date_trunc("day", "t")
    w_day = (
        Window.partitionBy(day)
        .orderBy(F.col("t"), F.desc("delta"), F.col("user_id"), F.col("sid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local_run = deltas.select(
        day.alias("day"), "delta", F.sum("delta").over(w_day).alias("running")
    )
    day_tot = local_run.groupBy("day").agg(F.sum("delta").alias("tot"))
    w_days = (
        Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = day_tot.select(
        "day", F.coalesce(F.sum("tot").over(w_days), F.lit(0)).alias("c")
    )
    return (
        local_run.join(carry, "day")
        .groupBy("day")
        .agg(F.max(F.col("c") + F.col("running")).cast("long").alias("peak_concurrency"))
    )


@op(
    "events_hourly_heatmap",
    oracle="""
        SELECT CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS INTEGER) AS dow,
               CAST(hour(CAST(ts AS TIMESTAMP)) AS INTEGER) AS hod,
               count(*) AS n,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events GROUP BY 1, 2
    """,
    scale=(
        "The activity heatmap (day-of-week × hour-of-day): a 168-cell "
        "partial agg — shuffle carries the grid, never events. The "
        "count-distinct rides the same pass; at 100 TB swap it for "
        "approx_count_distinct and the grid stays exact."
    ),
)
def events_hourly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event counts and distinct users per (day-of-week, hour-of-day)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.dayofweek("ts").alias("dow"), F.hour("ts").alias("hod")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
    )


@op(
    "events_ab_test_lift",
    oracle=f"""
        WITH assigned AS (
            SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
                   value
            FROM events WHERE event_type = 'purchase'
        ),
        per_v AS (
            SELECT variant, count(*) AS n,
                   avg(value) AS mu,
                   var_samp(value) AS v
            FROM assigned GROUP BY variant
        )
        SELECT a.n AS n_a, b.n AS n_b,
               {sql_rnd("a.mu", 4)} AS mean_a,
               {sql_rnd("b.mu", 4)} AS mean_b,
               {sql_rnd("b.mu - a.mu", 4)} AS lift,
               {sql_rnd("(b.mu - a.mu) / sqrt(a.v / a.n + b.v / b.n)", 4)}
                   AS z_score
        FROM (SELECT * FROM per_v WHERE variant = 'A') a,
             (SELECT * FROM per_v WHERE variant = 'B') b
    """,
    scale=(
        "Two-sample A/B readout: deterministic hash assignment (no "
        "sampling job, reproducible across retries/engines), per-variant "
        "moments in ONE partial-agg pass, Welch z from the two summary "
        "rows. At 100 TB the experiment readout costs one scan; CUPED or "
        "covariate adjustment adds columns to the same agg, not passes."
    ),
)
def events_ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B purchase-value comparison under deterministic user_id%2
    assignment: per-variant means, lift, and Welch z-score."""
    ev = load_table(spark, sf_dir, "events")
    assigned = ev.where(F.col("event_type") == "purchase").select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("variant"),
        "value",
    )
    per_v = assigned.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("mu"),
        F.var_samp("value").alias("v"),
    )
    a = per_v.where(F.col("variant") == "A").alias("a")
    b = per_v.where(F.col("variant") == "B").alias("b")
    j = a.crossJoin(b)
    return j.select(
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        rnd(F.col("a.mu"), 4).alias("mean_a"),
        rnd(F.col("b.mu"), 4).alias("mean_b"),
        rnd(F.col("b.mu") - F.col("a.mu"), 4).alias("lift"),
        rnd(
            (F.col("b.mu") - F.col("a.mu"))
            / F.sqrt(F.col("a.v") / F.col("a.n") + F.col("b.v") / F.col("b.n")),
            4,
        ).alias("z_score"),
    )


@op(
    "events_cohort_ltv",
    oracle=f"""
        WITH signup AS (
            SELECT user_id, min(ts) AS s_ts
            FROM events WHERE event_type = 'signup' GROUP BY user_id
        ),
        purchases AS (
            SELECT p.user_id, s.s_ts,
                   (epoch_us(CAST(p.ts AS TIMESTAMP))
                    - epoch_us(CAST(s.s_ts AS TIMESTAMP)))
                       // 604800000000 AS wk_since,
                   p.value
            FROM events p JOIN signup s USING (user_id)
            WHERE p.event_type = 'purchase' AND p.ts >= s.s_ts
        )
        SELECT date_trunc('week', CAST(s_ts AS TIMESTAMP)) AS cohort_week,
               CAST(wk_since AS BIGINT) AS weeks_since_signup,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_buyers,
               {sql_rnd("sum(value)", 4)} AS revenue
        FROM purchases
        GROUP BY 1, 2
    """,
    scale=(
        "Cohort LTV curve: first-signup per user (one partial agg), one "
        "same-key equi join attaching the cohort anchor, integer week "
        "offsets, and a (cohort × offset) grid agg — a single user_id "
        "shuffle chain end to end. THE subscription/retention-economics "
        "readout; the cumulative-LTV variant is one running-sum window "
        "over this grid (|cohorts|×|weeks| rows)."
    ),
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-cohort revenue by integer weeks since signup (buyers +
    revenue per cell)."""
    ev = load_table(spark, sf_dir, "events")
    signup = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .join(signup, "user_id")
        .where(F.col("ts") >= F.col("s_ts"))
        .select(
            "user_id",
            "s_ts",
            ((F.unix_micros("ts") - F.unix_micros("s_ts")) / F.lit(604800000000))
            .cast("long")
            .alias("wk_since"),
            "value",
        )
    )
    return purchases.groupBy(
        F.date_trunc("week", "s_ts").alias("cohort_week"),
        F.col("wk_since").alias("weeks_since_signup"),
    ).agg(
        F.countDistinct("user_id").alias("n_buyers"),
        rnd(F.sum("value"), 4).alias("revenue"),
    )


@op(
    "events_error_rate_alert",
    oracle="""
        WITH hourly AS (
            SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
                   count(*) AS n,
                   CAST(count_if(event_type = 'error') AS BIGINT) AS n_err,
                   floor((CAST(count_if(event_type = 'error') AS DOUBLE)
                          / count(*)) * 1000000.0 + 0.505) / 1000000.0 AS rate
            FROM events GROUP BY 1
        ),
        stats AS (
            SELECT floor(avg(rate) * 1000000.0 + 0.505) / 1000000.0 AS mu,
                   floor(stddev_pop(rate) * 1000000.0 + 0.505) / 1000000.0 AS sd
            FROM hourly
        )
        SELECT h AS alert_hour, n, n_err, rate
        FROM hourly, stats
        WHERE rate > mu + 2.0 * sd
    """,
    scale=(
        "Error-budget alerting: hourly rates are a partial agg (one "
        "count_if rides the count), the control band is TWO scalars from "
        "the |hours|-row series, and the breach filter compares rounded "
        "values so alert membership is bit-identical across engines. At "
        "100 TB the hourly rollup is the only full pass and is the same "
        "table the monitoring dashboard already materializes."
    ),
)
def events_error_rate_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hours whose error rate breaches mean + 2 population-stddevs of the
    hourly-rate series (rates and thresholds eps-floor-rounded)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("event_type") == "error").alias("n_err"),
    ).withColumn(
        "rate",
        rnd(F.col("n_err").cast("double") / F.col("n"), 6),
    )
    stats = hourly.agg(
        rnd(F.avg("rate"), 6).alias("mu"),
        rnd(F.stddev_pop("rate"), 6).alias("sd"),
    )
    return (
        hourly.crossJoin(F.broadcast(stats))
        .where(F.col("rate") > F.col("mu") + F.lit(2.0) * F.col("sd"))
        .select(F.col("h").alias("alert_hour"), "n", "n_err", "rate")
    )


@op(
    "agg_chi_square",
    oracle=f"""
        WITH cells AS (
            SELECT lang, source, CAST(count(*) AS BIGINT) AS n
            FROM documents GROUP BY lang, source
        ),
        m AS (
            SELECT n,
                   sum(n) OVER (PARTITION BY lang)   AS row_tot,
                   sum(n) OVER (PARTITION BY source) AS col_tot,
                   sum(n) OVER ()                    AS g_tot
            FROM cells
        ),
        d AS (
            SELECT CAST(count(DISTINCT lang) AS BIGINT) AS n_lang,
                   CAST(count(DISTINCT source) AS BIGINT) AS n_src
            FROM cells
        )
        SELECT
            {sql_rnd("any_value(g_tot) * (sum((n * n) * 1.0 / (row_tot * col_tot)) - 1)", 4)}
                AS chi2,
            (SELECT (n_lang - 1) * (n_src - 1) FROM d) AS dof
        FROM m
    """,
    scale=(
        "Chi-square independence test for lang x source using the "
        "identity chi2 = N*(SUM n_ij^2/(r_i*c_j) - 1) — only OBSERVED "
        "cells are needed, so the empty cells of the contingency table "
        "never materialize (no full-grid cross join). The contingency "
        "table is one partial agg (|langs|x|sources| rows max); margins "
        "are three windows over that tiny relation; the test statistic is "
        "one more 1-row agg. At 100 TB only the first agg touches data."
    ),
)
def agg_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square statistic for lang/source independence over documents."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    m = cells.select(
        "n",
        F.sum("n").over(Window.partitionBy("lang")).alias("row_tot"),
        F.sum("n").over(Window.partitionBy("source")).alias("col_tot"),
        F.sum("n").over(Window.partitionBy()).alias("g_tot"),
    )
    dof = cells.agg(
        (
            (F.count_distinct("lang") - F.lit(1))
            * (F.count_distinct("source") - F.lit(1))
        ).alias("dof")
    )
    stat = m.agg(
        rnd(
            F.any_value("g_tot")
            * (
                F.sum(
                    (F.col("n") * F.col("n"))
                    * F.lit(1.0)
                    / (F.col("row_tot") * F.col("col_tot"))
                )
                - F.lit(1)
            ),
            4,
        ).alias("chi2")
    )
    return stat.crossJoin(F.broadcast(dof))


@op(
    "agg_benford_law",
    oracle=f"""
        WITH cents AS (
            SELECT CAST(floor(o_totalprice * 100.0 + 0.505) AS BIGINT) AS c
            FROM orders
        ),
        digits AS (
            SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) AS INTEGER)
                       AS first_digit,
                   CAST(count(*) AS BIGINT) AS n
            FROM cents GROUP BY 1
        )
        SELECT first_digit, n,
               {sql_rnd("n * 1.0 / sum(n) OVER ()", 6)} AS share,
               {sql_rnd("log10(1.0 + 1.0 / first_digit)", 6)}
                   AS benford_expected,
               {sql_rnd(
                   "n * 1.0 / sum(n) OVER () - log10(1.0 + 1.0 / first_digit)",
                   6)} AS deviation
        FROM digits
    """,
    scale=(
        "Benford's-law first-digit audit — the fraud/data-quality screen "
        "for monetary columns. The amount converts to integer cents "
        "(shared floor-rounding), and the first digit is extracted via "
        "int-to-string — exact and engine-identical, avoiding the "
        "floor(log10(x)) ulp trap where log10(1000) can land just below "
        "3. One partial agg to 9 rows; share and expectation are "
        "windows/constants over those 9 rows. At 100 TB the digit "
        "histogram merges map-side like any count."
    ),
)
def agg_benford_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit distribution of order totals vs Benford expectation."""
    o = load_table(spark, sf_dir, "orders")
    digits = (
        o.select(
            F.floor(F.col("o_totalprice") * 100.0 + 0.505)
            .cast("long")
            .cast("string")
            .substr(1, 1)
            .cast("int")
            .alias("first_digit")
        )
        .groupBy("first_digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    from pyspark.sql.window import Window

    share = F.col("n") * F.lit(1.0) / F.sum("n").over(Window.partitionBy())
    benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("first_digit"))
    return digits.select(
        "first_digit",
        "n",
        rnd(share, 6).alias("share"),
        rnd(benford, 6).alias("benford_expected"),
        rnd(share - benford, 6).alias("deviation"),
    )


@op(
    "events_survival_curve",
    oracle=f"""
        WITH life AS (
            SELECT user_id,
                   CAST(date_diff('day',
                        min(CAST(ts AS TIMESTAMP)),
                        max(CAST(ts AS TIMESTAMP))) AS BIGINT) AS lifespan_d
            FROM events GROUP BY user_id
        ),
        h AS (
            SELECT lifespan_d, CAST(count(*) AS BIGINT) AS n_users
            FROM life GROUP BY lifespan_d
        )
        SELECT lifespan_d, n_users,
               CAST(sum(n_users) OVER (
                   ORDER BY lifespan_d DESC
               ) AS BIGINT) AS n_surviving,
               {sql_rnd(
                   "sum(n_users) OVER (ORDER BY lifespan_d DESC) * 1.0 "
                   "/ sum(n_users) OVER ()", 6)} AS survival_frac
        FROM h
    """,
    scale=(
        "User-lifetime survival curve S(k) = P(lifespan >= k days): one "
        "user-grain agg (min/max ts — mergeable partials), a lifespan "
        "histogram, then the survivor count is a DESCENDING cumulative "
        "window over |distinct lifespans| rows — the Kaplan-Meier shape "
        "without per-user sorting. At 100 TB only the first agg touches "
        "events; everything after is |days|-sized. date_diff on the "
        "casted timestamps is integer-exact on both engines."
    ),
)
def events_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor counts and fractions by user lifespan in days."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    life = ev.groupBy("user_id").agg(
        F.datediff(
            F.max("ts").cast("date"), F.min("ts").cast("date")
        ).cast("long").alias("lifespan_d")
    )
    h = life.groupBy("lifespan_d").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    w_desc = Window.orderBy(F.desc("lifespan_d"))
    w_all = Window.partitionBy()
    return h.select(
        "lifespan_d",
        "n_users",
        F.sum("n_users").over(w_desc).cast("long").alias("n_surviving"),
        rnd(
            F.sum("n_users").over(w_desc)
            * F.lit(1.0)
            / F.sum("n_users").over(w_all),
            6,
        ).alias("survival_frac"),
    )


@op(
    "agg_corr_matrix",
    oracle=f"""
        WITH c AS (
            SELECT corr(l_quantity, l_extendedprice) AS c_qty_price,
                   corr(l_quantity, l_discount)      AS c_qty_disc,
                   corr(l_quantity, l_tax)           AS c_qty_tax,
                   corr(l_extendedprice, l_discount) AS c_price_disc,
                   corr(l_extendedprice, l_tax)      AS c_price_tax,
                   corr(l_discount, l_tax)           AS c_disc_tax
            FROM lineitem
        )
        SELECT 'l_quantity' AS x, 'l_extendedprice' AS y,
               {sql_rnd("c_qty_price", 6)} AS r FROM c
        UNION ALL SELECT 'l_quantity', 'l_discount',
               {sql_rnd("c_qty_disc", 6)} FROM c
        UNION ALL SELECT 'l_quantity', 'l_tax',
               {sql_rnd("c_qty_tax", 6)} FROM c
        UNION ALL SELECT 'l_extendedprice', 'l_discount',
               {sql_rnd("c_price_disc", 6)} FROM c
        UNION ALL SELECT 'l_extendedprice', 'l_tax',
               {sql_rnd("c_price_tax", 6)} FROM c
        UNION ALL SELECT 'l_discount', 'l_tax',
               {sql_rnd("c_disc_tax", 6)} FROM c
    """,
    scale=(
        "Pairwise Pearson correlation matrix of the four lineitem "
        "measures in ONE scan: all six corr aggregates share the same "
        "partial-agg pass (each keeps a 6-value co-moment state that "
        "merges associatively), so the feature-correlation screen costs "
        "one map-side reduction regardless of row count — never six "
        "scans, never a collect. The upper triangle unpivots via stack "
        "on the 1-row result."
    ),
)
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle correlation matrix over lineitem measures."""
    li = load_table(spark, sf_dir, "lineitem")
    c = li.agg(
        rnd(F.corr("l_quantity", "l_extendedprice"), 6).alias("c_qty_price"),
        rnd(F.corr("l_quantity", "l_discount"), 6).alias("c_qty_disc"),
        rnd(F.corr("l_quantity", "l_tax"), 6).alias("c_qty_tax"),
        rnd(F.corr("l_extendedprice", "l_discount"), 6).alias("c_price_disc"),
        rnd(F.corr("l_extendedprice", "l_tax"), 6).alias("c_price_tax"),
        rnd(F.corr("l_discount", "l_tax"), 6).alias("c_disc_tax"),
    )
    return c.select(
        F.expr(
            "stack(6, "
            "'l_quantity', 'l_extendedprice', c_qty_price, "
            "'l_quantity', 'l_discount', c_qty_disc, "
            "'l_quantity', 'l_tax', c_qty_tax, "
            "'l_extendedprice', 'l_discount', c_price_disc, "
            "'l_extendedprice', 'l_tax', c_price_tax, "
            "'l_discount', 'l_tax', c_disc_tax) AS (x, y, r)"
        )
    )


@op(
    "orders_abc_classification",
    oracle="""
        WITH rev AS (
            SELECT l_partkey,
                   CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                        * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
            FROM lineitem GROUP BY l_partkey
        ),
        tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM rev),
        ranked AS (
            SELECT l_partkey, cents,
                   sum(cents) OVER (ORDER BY cents DESC, l_partkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
            FROM rev
        ),
        classed AS (
            SELECT CASE WHEN cum * 100 <= total * 80 THEN 'A'
                        WHEN cum * 100 <= total * 95 THEN 'B'
                        ELSE 'C' END AS abc_class,
                   cents
            FROM ranked, tot
        )
        SELECT abc_class,
               CAST(count(*) AS BIGINT) AS n_parts,
               CAST(sum(cents) AS BIGINT) AS revenue_cents
        FROM classed GROUP BY abc_class
    """,
    scale=(
        "ABC inventory classification — the 80/95 cumulative-revenue "
        "cut: per-part revenue partial-aggs first (|parts| rows), one "
        "ranked cumulative pass over the AGGREGATE (never the raw "
        "lineitems), class boundaries tested in cross-multiplied "
        "integer cents so the cut is engine-exact. The global cumsum "
        "runs on |parts| rows — at 100 TB that is still millions, so "
        "use the two-level range-partitioned prefix-sum "
        "(events_peak_concurrency shape) if parts outgrow one stage."
    ),
)
def orders_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B/C revenue classes for parts at 80% / 95% cumulative revenue."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                + 0.5
            ).cast("long")
        ).alias("cents")
    )
    tot = rev.agg(F.sum("cents").cast("long").alias("total"))
    w = (
        Window.orderBy(F.desc("cents"), F.asc("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = rev.select("l_partkey", "cents", F.sum("cents").over(w).alias("cum"))
    classed = ranked.crossJoin(F.broadcast(tot)).select(
        F.when(F.col("cum") * 100 <= F.col("total") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("total") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
        "cents",
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )


@op(
    "events_path_pattern_match",
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_type,
                   CAST(floor((epoch_us(CAST(ts AS TIMESTAMP))
                        - 1704067200000000) / 1000.0) AS BIGINT) * 3500000
                        + event_id AS ord,
                   CASE event_type WHEN 'click' THEN 'C' WHEN 'view' THEN 'V'
                        WHEN 'purchase' THEN 'P' WHEN 'signup' THEN 'S'
                        ELSE 'E' END AS sym
            FROM events
        ),
        paths AS (
            SELECT user_id,
                   string_agg(sym, '' ORDER BY ord) AS path
            FROM ordered GROUP BY user_id
        )
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(count(*) FILTER (WHERE regexp_matches(path, 'CC+P'))
                    AS BIGINT) AS n_click_click_buy,
               CAST(count(*) FILTER (WHERE regexp_matches(path, 'E{2,}'))
                    AS BIGINT) AS n_error_bursts,
               CAST(count(*) FILTER (WHERE regexp_matches(path, '^S'))
                    AS BIGINT) AS n_signup_first
        FROM paths
    """,
    scale=(
        "MATCH_RECOGNIZE-lite sequence detection: each user's event "
        "stream collapses to a 1-char-per-event symbol string (ONE "
        "user_id shuffle, string length = per-user event count), then "
        "behavioral patterns — consecutive clicks before purchase, "
        "error bursts, signup-first — are regexes over that string, "
        "evaluated map-side. Per-key sequences bounded (state = one "
        "string per user); for unbounded streams the same symbols feed "
        "the applyInPandasWithState sessionizer instead. Regex engines "
        "agree because the alphabet is 5 fixed symbols."
    ),
)
def events_path_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count users whose event-symbol path matches behavioral regexes
    (click-click-buy, error bursts, signup-first)."""
    ev = load_table(spark, sf_dir, "events")
    sym = (
        F.when(F.col("event_type") == "click", "C")
        .when(F.col("event_type") == "view", "V")
        .when(F.col("event_type") == "purchase", "P")
        .when(F.col("event_type") == "signup", "S")
        .otherwise("E")
    )
    ordered = ev.select(
        "user_id",
        sym.alias("sym"),
        _ord_col().alias("ord"),
    )
    paths = ordered.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("ord", "sym"))),
                lambda s: s.getField("sym"),
            ),
        ).alias("path")
    )
    return paths.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count(F.when(F.col("path").rlike("CC+P"), 1)).alias(
            "n_click_click_buy"
        ),
        F.count(F.when(F.col("path").rlike("E{2,}"), 1)).alias(
            "n_error_bursts"
        ),
        F.count(F.when(F.col("path").rlike("^S"), 1)).alias("n_signup_first"),
    )


@op(
    "orders_fulfillment_latency",
    oracle="""
        WITH lat AS (
            SELECT o.o_orderpriority,
                   date_diff('day',
                       CAST(CAST(o.o_orderdate AS TIMESTAMP) AS DATE),
                       CAST(CAST(l.l_shipdate AS TIMESTAMP) AS DATE)) AS days
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        )
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_lines,
               floor(avg(days) * 100.0 + 0.505) / 100.0 AS avg_days,
               floor((quantile_cont(days, 0.95)) * 100.0 + 0.505) / 100.0
                   AS p95_days,
               CAST(max(days) AS BIGINT) AS max_days
        FROM lat GROUP BY o_orderpriority
    """,
    scale=(
        "Order-to-ship cycle time per priority class — the operations "
        "KPI: one orderkey equi join (co-partitioned/bucketed at scale), "
        "integer day deltas, then a 5-row distribution agg. avg over "
        "integer days is a ratio of exact integer sums — "
        "order-independent; p95 exact here, sketched at 100 TB."
    ),
)
def orders_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days from order to line shipment: avg/p95/max per order priority."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lat = o.join(li, o.o_orderkey == li.l_orderkey).select(
        "o_orderpriority",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias(
            "days"
        ),
    )
    return lat.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        rnd(F.avg("days"), 2).alias("avg_days"),
        rnd(F.expr("percentile(days, 0.95)"), 2).alias("p95_days"),
        F.max("days").cast("long").alias("max_days"),
    )


@op(
    "orders_revenue_waterfall",
    oracle="""
        SELECT l_returnflag,
               CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS gross_cents,
               CAST(sum(CAST(floor(l_extendedprice * l_discount * 100 + 0.5)
                    AS BIGINT)) AS BIGINT) AS discount_cents,
               CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * l_tax
                    * 100 + 0.5) AS BIGINT)) AS BIGINT) AS tax_cents,
               CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                    - sum(CAST(floor(l_extendedprice * l_discount * 100 + 0.5)
                          AS BIGINT))
                    + sum(CAST(floor(l_extendedprice * (1 - l_discount) * l_tax
                          * 100 + 0.5) AS BIGINT)) AS BIGINT) AS net_cents
        FROM lineitem GROUP BY l_returnflag
    """,
    scale=(
        "Revenue waterfall (gross -> -discount -> +tax -> net) in ONE "
        "scan: every step is a conditional sum sharing the same partial "
        "agg, never one pass per step. Each money term is quantized to "
        "integer cents BEFORE summation so the bridge reconciles "
        "exactly (net = gross - discount + tax holds to the cent) — "
        "the auditability property finance pipelines need, preserved "
        "under any partial-agg order at any scale."
    ),
)
def orders_revenue_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gross/discount/tax/net cents bridge per return flag, one scan."""
    li = load_table(spark, sf_dir, "lineitem")
    gross = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    disc = F.floor(
        F.col("l_extendedprice") * F.col("l_discount") * 100 + 0.5
    ).cast("long")
    tax = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.col("l_tax") * 100
        + 0.5
    ).cast("long")
    return li.groupBy("l_returnflag").agg(
        F.sum(gross).cast("long").alias("gross_cents"),
        F.sum(disc).cast("long").alias("discount_cents"),
        F.sum(tax).cast("long").alias("tax_cents"),
        (F.sum(gross) - F.sum(disc) + F.sum(tax)).cast("long").alias(
            "net_cents"
        ),
    )


@op(
    "orders_brand_rank_shift",
    oracle="""
        WITH monthly AS (
            SELECT date_trunc('month', CAST(o.o_orderdate AS TIMESTAMP)) AS m,
                   p.p_brand,
                   CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5)
                        AS BIGINT)) AS BIGINT) AS cents
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE CAST(o.o_orderdate AS TIMESTAMP) >= TIMESTAMP '2001-01-01'
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT m, p_brand, cents,
                   CAST(row_number() OVER (PARTITION BY m
                        ORDER BY cents DESC, p_brand) AS BIGINT) AS rk
            FROM monthly
        )
        SELECT m, p_brand, cents, rk,
               CAST(rk - lag(rk) OVER (PARTITION BY p_brand ORDER BY m)
                    AS BIGINT) AS rank_shift
        FROM ranked
    """,
    scale=(
        "Month-over-month brand league table with rank deltas: the "
        "fact stream aggregates to |months|x|brands| partials FIRST "
        "(broadcast dims, one key shuffle), then two tiny windows over "
        "the aggregate — rank within month, lag across months. The "
        "rank-shift column is the trend signal BI alerts on; raw "
        "revenue stays in integer cents so ranks are engine-exact."
    ),
)
def orders_brand_rank_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2001 monthly brand revenue ranks with month-over-month rank shifts."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    p = load_table(spark, sf_dir, "part")
    monthly = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.date_trunc("month", "o_orderdate").alias("m"), "p_brand"
        )
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
            )
            .cast("long")
            .alias("cents")
        )
    )
    w_rank = Window.partitionBy("m").orderBy(F.desc("cents"), F.asc("p_brand"))
    w_lag = Window.partitionBy("p_brand").orderBy("m")
    ranked = monthly.withColumn(
        "rk", F.row_number().over(w_rank).cast("long")
    )
    return ranked.withColumn(
        "rank_shift", (F.col("rk") - F.lag("rk").over(w_lag)).cast("long")
    )


@op(
    "events_error_after_purchase",
    oracle="""
        WITH scanned AS (
            SELECT user_id, event_id, event_type,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                   lead(event_type) OVER w AS next_type,
                   lead(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS next_us
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
        )
        SELECT CAST(count(*) AS BIGINT) AS n_purchases,
               CAST(count(*) FILTER (WHERE next_type = 'error'
                    AND next_us - us <= 60000000) AS BIGINT)
                   AS n_error_within_60s,
               floor(count(*) FILTER (WHERE next_type = 'error'
                    AND next_us - us <= 60000000)
                    / CAST(count(*) AS DOUBLE) * 10000.0 + 0.505) / 10000.0
                   AS error_follow_rate
        FROM scanned WHERE event_type = 'purchase'
    """,
    scale=(
        "Post-purchase failure probe — did the NEXT thing the user did "
        "(within 60 s) fail? One lead() pass over the shared user_id "
        "ordering classifies every purchase; the metric is the "
        "checkout-reliability KPI. Same single-shuffle shape as every "
        "window op on this table; at 100 TB the 60 s bound means the "
        "state is one row of lookahead, which is also exactly the "
        "streaming formulation's state."
    ),
)
def events_error_after_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of purchases immediately followed (<=60s) by an error event."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    scanned = ev.select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.lead("event_type").over(w).alias("next_type"),
        F.lead(F.unix_micros("ts")).over(w).alias("next_us"),
    )
    p = scanned.where(F.col("event_type") == "purchase")
    hit = (F.col("next_type") == "error") & (
        F.col("next_us") - F.col("us") <= 60000000
    )
    return p.agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.count(F.when(hit, 1)).alias("n_error_within_60s"),
        rnd(
            F.count(F.when(hit, 1)) / F.count(F.lit(1)).cast("double"), 4
        ).alias("error_follow_rate"),
    )


@op(
    "events_weekend_lift",
    oracle="""
        WITH daily AS (
            SELECT event_type,
                   CASE WHEN dayofweek(CAST(CAST(ts AS TIMESTAMP) AS DATE))
                             IN (0, 6) THEN 1 ELSE 0 END AS is_weekend,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM events
        ),
        agg AS (
            SELECT event_type,
                   CAST(sum(CASE WHEN is_weekend = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS wk_events,
                   CAST(sum(CASE WHEN is_weekend = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS wd_events,
                   CAST(sum(CASE WHEN is_weekend = 1 THEN cents ELSE 0 END)
                        AS BIGINT) AS wk_cents,
                   CAST(sum(CASE WHEN is_weekend = 0 THEN cents ELSE 0 END)
                        AS BIGINT) AS wd_cents
            FROM daily GROUP BY event_type
        )
        SELECT event_type, wk_events, wd_events,
               floor((wk_events / 8.0) / (wd_events / 22.0) * 10000.0
                     + 0.505) / 10000.0 AS volume_lift,
               floor((wk_cents / 8.0) / (wd_cents / 22.0) * 10000.0 + 0.505)
                   / 10000.0 AS value_lift
        FROM agg
    """,
    scale=(
        "Weekend-vs-weekday lift per event type — per-day-normalized "
        "rates (8 weekend days vs 22 weekdays in the fixture month) so "
        "the lift compares like with like. One conditional partial agg "
        "over the scan; calendar constants become a date-dim join at "
        "100 TB. DuckDB dayofweek is 0-based Sunday and Spark's is "
        "1-based — the oracle uses (0,6) where Spark tests (1,7), "
        "pinning the off-by-one that silently flips weekend metrics."
    ),
)
def events_weekend_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type weekend/weekday volume and value lifts (rate-normalized)."""
    ev = load_table(spark, sf_dir, "events")
    is_wk = F.dayofweek("ts").isin(1, 7).cast("int")
    agg = ev.select(
        "event_type",
        is_wk.alias("is_weekend"),
        cents().alias("cents"),
    ).groupBy("event_type").agg(
        F.sum("is_weekend").cast("long").alias("wk_events"),
        F.sum(1 - F.col("is_weekend")).cast("long").alias("wd_events"),
        F.sum(F.when(F.col("is_weekend") == 1, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("wk_cents"),
        F.sum(F.when(F.col("is_weekend") == 0, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("wd_cents"),
    )
    return agg.select(
        "event_type",
        "wk_events",
        "wd_events",
        rnd((F.col("wk_events") / 8.0) / (F.col("wd_events") / 22.0), 4).alias(
            "volume_lift"
        ),
        rnd((F.col("wk_cents") / 8.0) / (F.col("wd_cents") / 22.0), 4).alias(
            "value_lift"
        ),
    )


@op(
    "skyline_pareto_frontier",
    oracle="""
        WITH pts AS (
            SELECT o.o_orderkey,
                   CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
                       AS price_cents,
                   CAST(min(date_diff('day',
                        CAST(CAST(o.o_orderdate AS TIMESTAMP) AS DATE),
                        CAST(CAST(l.l_shipdate AS TIMESTAMP) AS DATE)))
                        AS BIGINT) AS days
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            GROUP BY o.o_orderkey, o.o_totalprice
        ),
        scanned AS (
            SELECT o_orderkey, price_cents, days,
                   min(days) OVER (ORDER BY price_cents, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS best_days_cheaper
            FROM pts
        )
        SELECT o_orderkey, price_cents, days
        FROM scanned
        WHERE best_days_cheaper IS NULL OR days < best_days_cheaper
    """,
    scale=(
        "2-D skyline (Pareto frontier): orders not dominated on (price, "
        "ship latency) — the classic 'no cheaper order also shipped "
        "faster' set. The O(n^2) dominance join collapses to ONE sorted "
        "window pass: sort by price, keep rows beating the running-min "
        "latency of everything cheaper. At 100 TB: range-partition by "
        "price, local skylines per partition, then one tiny merge pass "
        "over partition frontiers (frontier size << n). Total "
        "tie-break (price, orderkey) makes the frontier engine-exact."
    ),
)
def skyline_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal orders on (total price, fastest line shipment)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pts = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.min(
                F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
            )
            .cast("long")
            .alias("days")
        )
        .select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias(
                "price_cents"
            ),
            "days",
        )
    )
    w = (
        Window.orderBy("price_cents", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scanned = pts.withColumn("best_days_cheaper", F.min("days").over(w))
    return scanned.where(
        F.col("best_days_cheaper").isNull()
        | (F.col("days") < F.col("best_days_cheaper"))
    ).select("o_orderkey", "price_cents", "days")


@op(
    "events_power_user_sweep",
    oracle="""
        WITH per_user AS (
            SELECT user_id, count(*) AS n_events,
                   count(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE))
                       AS n_days
            FROM events GROUP BY user_id
        )
        SELECT t.t AS min_events_threshold,
               CAST(count(*) FILTER (WHERE n_events >= t.t) AS BIGINT)
                   AS n_power_users,
               floor(count(*) FILTER (WHERE n_events >= t.t)
                     / CAST(count(*) AS DOUBLE) * 10000.0 + 0.505) / 10000.0
                   AS share,
               CAST(sum(n_days) FILTER (WHERE n_events >= t.t) AS BIGINT)
                   AS active_days_covered
        FROM per_user, (VALUES (20), (50), (80), (100)) t(t)
        GROUP BY t.t
    """,
    scale=(
        "Definition-threshold sweep for 'power user': all candidate "
        "cutoffs evaluated as conditional aggregates over ONE per-user "
        "aggregate — the same one-pass sweep shape as "
        "sim_threshold_sweep, applied to the segmentation decision "
        "(pick the cutoff where share stabilizes). The per-user rollup "
        "is the only event-scale work; the sweep runs on |users| rows."
    ),
)
def events_power_user_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-user counts/shares at four activity thresholds, one pass."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct(F.to_date("ts")).alias("n_days"),
    )
    thresholds = F.explode(
        F.array(*[F.lit(t) for t in (20, 50, 80, 100)])
    ).alias("min_events_threshold")
    hit = F.col("n_events") >= F.col("min_events_threshold")
    return (
        per_user.select("*", thresholds)
        .groupBy("min_events_threshold")
        .agg(
            F.count(F.when(hit, 1)).alias("n_power_users"),
            rnd(
                F.count(F.when(hit, 1)) / F.count(F.lit(1)).cast("double"), 4
            ).alias("share"),
            F.sum(F.when(hit, F.col("n_days"))).cast("long").alias(
                "active_days_covered"
            ),
        )
    )


@op(
    "events_audience_overlap",
    oracle="""
        WITH masks AS (
            SELECT user_id,
                   bit_or(1::BIGINT << CASE event_type
                       WHEN 'click' THEN 0 WHEN 'view' THEN 1
                       WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3
                       ELSE 4 END) AS mask
            FROM events GROUP BY user_id
        ),
        pairs AS (
            SELECT a.i AS ta, b.i AS tb
            FROM unnest(range(5)) a(i), unnest(range(5)) b(i)
            WHERE a.i < b.i
        )
        SELECT CAST(ta AS BIGINT) AS type_a, CAST(tb AS BIGINT) AS type_b,
               CAST(count(*) FILTER (WHERE (mask >> ta) % 2 = 1
                    AND (mask >> tb) % 2 = 1) AS BIGINT) AS n_both,
               CAST(count(*) FILTER (WHERE (mask >> ta) % 2 = 1
                    OR (mask >> tb) % 2 = 1) AS BIGINT) AS n_either
        FROM masks, pairs
        GROUP BY ta, tb
    """,
    scale=(
        "Audience-overlap matrix: each user collapses to ONE 5-bit "
        "segment bitmask (bit_or partial agg — mergeable, 8 bytes of "
        "state per user), then every pairwise intersection/union count "
        "is a bit test over the |users|-row mask table crossed with the "
        "10-row pair spine — never a per-pair self-join of the event "
        "stream. The same mask trick scales to 64 segments per word; "
        "beyond that, per-segment bitmaps (agg_bitmap_native) with "
        "bitmap_and counts."
    ),
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise user-audience intersection/union counts across the 5 event
    types, from one bitmask aggregate."""
    ev = load_table(spark, sf_dir, "events")
    idx_sql = (
        "CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1 "
        "WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END"
    )
    masks = ev.groupBy("user_id").agg(
        F.expr(
            f"bit_or(shiftleft(CAST(1 AS BIGINT), {idx_sql}))"
        ).alias("mask")
    )
    pairs = [(a, b) for a in range(5) for b in range(5) if a < b]
    spine = spark.createDataFrame(pairs, "type_a long, type_b long")
    joined = masks.crossJoin(F.broadcast(spine))
    has_a = F.expr(
        "shiftrightunsigned(mask, CAST(type_a AS INT)) % 2 = 1"
    )
    has_b = F.expr(
        "shiftrightunsigned(mask, CAST(type_b AS INT)) % 2 = 1"
    )
    return joined.groupBy("type_a", "type_b").agg(
        F.count(F.when(has_a & has_b, 1)).alias("n_both"),
        F.count(F.when(has_a | has_b, 1)).alias("n_either"),
    )


@op(
    "events_bot_score",
    oracle="""
        WITH hourly AS (
            SELECT user_id, time_bucket(INTERVAL '1 hour',
                   CAST(ts AS TIMESTAMP)) AS h, count(*) AS n
            FROM events GROUP BY 1, 2
        ),
        rate AS (
            SELECT user_id, CAST(max(n) AS BIGINT) AS max_per_hour
            FROM hourly GROUP BY user_id
        ),
        mix AS (
            SELECT user_id, event_type, count(*) AS n
            FROM events GROUP BY 1, 2
        ),
        ent AS (
            SELECT user_id,
                   floor((-sum((n / CAST(tot AS DOUBLE))
                         * ln(n / CAST(tot AS DOUBLE)))) * 10000.0 + 0.505)
                       / 10000.0 AS type_entropy
            FROM (SELECT user_id, n,
                         sum(n) OVER (PARTITION BY user_id) AS tot FROM mix)
            GROUP BY user_id
        )
        SELECT r.user_id, r.max_per_hour, e.type_entropy,
               (r.max_per_hour >= 5 AND e.type_entropy < 1.55) AS flagged
        FROM rate r JOIN ent e USING (user_id)
    """,
    scale=(
        "Bot/abuse heuristic score: burst rate (max events in any hour) "
        "plus behavioral-mix entropy — bots burst AND repeat one "
        "action. Both features are two-level partial aggs sharing the "
        "user_id key; the flag thresholds are the audit knobs "
        "(events_power_user_sweep is the tool that calibrates them). "
        "Entropy rounded before the threshold so the flag set is "
        "engine-exact; at 100 TB the hourly grid is the only "
        "intermediate bigger than |users| and it partial-aggregates "
        "map-side."
    ),
)
def events_bot_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user burst rate + type entropy with a combined bot flag."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id", F.window("ts", "1 hour").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    rate = hourly.groupBy("user_id").agg(
        F.max("n").cast("long").alias("max_per_hour")
    )
    mix = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = Window.partitionBy("user_id")
    p = F.col("n") / F.sum("n").over(tot).cast("double")
    ent = (
        mix.select("user_id", (-p * F.log(p)).alias("term"))
        .groupBy("user_id")
        .agg(rnd(F.sum("term"), 4).alias("type_entropy"))
    )
    return rate.join(ent, "user_id").select(
        "user_id",
        "max_per_hour",
        "type_entropy",
        (
            (F.col("max_per_hour") >= 5) & (F.col("type_entropy") < 1.55)
        ).alias("flagged"),
    )


@op(
    "events_longest_error_streak",
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id ORDER BY
                       CAST(ts AS TIMESTAMP), event_id) AS rn
            FROM events
        ),
        errs AS (
            SELECT user_id, rn,
                   rn - row_number() OVER (PARTITION BY user_id ORDER BY rn)
                       AS island
            FROM ordered WHERE event_type = 'error'
        ),
        streaks AS (
            SELECT user_id, island, count(*) AS len
            FROM errs GROUP BY user_id, island
        )
        SELECT user_id,
               CAST(max(len) AS BIGINT) AS longest_error_streak,
               CAST(count(*) AS BIGINT) AS n_streaks
        FROM streaks GROUP BY user_id
    """,
    scale=(
        "Longest consecutive-failure run per key — the gaps-islands "
        "trick applied to reliability: position-in-stream minus "
        "position-among-errors is constant within a run, so streaks "
        "fall out of two row_numbers and one agg over the SAME user "
        "partitioning (one shuffle). The all-events row_number is the "
        "only full-stream pass; the island arithmetic runs on the "
        "error subset. max-streak > SLA is the paging condition."
    ),
)
def events_longest_error_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user longest run of consecutive error events + streak count."""
    ev = load_table(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id", "event_type", F.row_number().over(w_all).alias("rn")
    )
    w_err = Window.partitionBy("user_id").orderBy("rn")
    errs = ordered.where(F.col("event_type") == "error").select(
        "user_id",
        (F.col("rn") - F.row_number().over(w_err)).alias("island"),
    )
    streaks = errs.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len")
    )
    return streaks.groupBy("user_id").agg(
        F.max("len").cast("long").alias("longest_error_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


@op(
    "orders_backlog_aging",
    oracle="""
        WITH open_orders AS (
            SELECT o_orderstatus,
                   date_diff('day', CAST(o_orderdate AS TIMESTAMP),
                             TIMESTAMP '2001-08-02') AS age_days,
                   o_totalprice, o_orderdate
            FROM orders WHERE o_orderstatus IN ('O', 'P')
        )
        SELECT o_orderstatus,
               CASE WHEN age_days < 90 THEN '0-89d'
                    WHEN age_days < 365 THEN '90-364d'
                    WHEN age_days < 730 THEN '365-729d'
                    ELSE '730d+' END AS age_bucket,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.505) AS BIGINT))
                    AS BIGINT) AS backlog_cents,
               CAST(min(o_orderdate) AS TIMESTAMP) AS oldest_order
        FROM open_orders
        GROUP BY o_orderstatus, age_bucket
    """,
    scale=(
        "Open-order backlog aged into buckets at a fixed as-of date: "
        "status filter pushes to the parquet scan (O/P is ~half the "
        "table), bucketing is a per-row CASE (codegen), and the agg is a "
        "low-cardinality partial-agg groupBy — map-side combine reduces "
        "each task to <=8 rows before the shuffle. Integer cents keep "
        "the money sum exact and HUGEINT-proof. The as-of date is a "
        "literal so the whole age expression constant-folds against the "
        "scan's min/max stats for rough partition pruning on date-"
        "partitioned layouts."
    ),
)
def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aging report of open (O/P) orders bucketed by days outstanding."""
    od = load_table(spark, sf_dir, "orders")
    age = F.datediff(F.lit("2001-08-02").cast("date"), F.col("o_orderdate"))
    bucket = (
        F.when(age < 90, "0-89d")
        .when(age < 365, "90-364d")
        .when(age < 730, "365-729d")
        .otherwise("730d+")
    )
    return (
        od.where(F.col("o_orderstatus").isin("O", "P"))
        .groupBy("o_orderstatus", bucket.alias("age_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.505)).cast(
                    "long"
                )
            ).alias("backlog_cents"),
            F.min("o_orderdate").alias("oldest_order"),
        )
    )


@op(
    "events_new_vs_returning",
    oracle="""
        WITH firstday AS (
            SELECT user_id,
                   min(date_trunc('day', CAST(ts AS TIMESTAMP))) AS d0
            FROM events GROUP BY user_id
        ),
        daily AS (
            SELECT DISTINCT user_id,
                   date_trunc('day', CAST(ts AS TIMESTAMP)) AS d
            FROM events
        )
        SELECT CAST(d AS TIMESTAMP) AS day,
               CAST(sum(CASE WHEN d = d0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS new_users,
               CAST(sum(CASE WHEN d > d0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS returning_users
        FROM daily JOIN firstday USING (user_id)
        GROUP BY d
    """,
    scale=(
        "Daily new-vs-returning split: both inputs reduce BEFORE the join "
        "— first-seen day is a per-user min (partial agg), active days a "
        "per-(user, day) distinct — so the join carries |users| x "
        "|active days| rows, not raw events, and both sides already share "
        "the user_id partitioning (one shuffle each, co-partitioned "
        "join, no re-exchange). The classic growth-accounting query; at "
        "100 TB the firstday table is the thing to materialize "
        "incrementally rather than recompute (min is monotone under "
        "append — a streaming-friendly accumulator)."
    ),
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per day: users active for the first time ever vs returning users."""
    ev = load_table(spark, sf_dir, "events")
    firstday = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("d0")
    )
    daily = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).distinct()
    return (
        daily.join(firstday, "user_id")
        .groupBy(F.col("d").alias("day"))
        .agg(
            F.sum(F.when(F.col("d") == F.col("d0"), 1).otherwise(0)).alias(
                "new_users"
            ),
            F.sum(F.when(F.col("d") > F.col("d0"), 1).otherwise(0)).alias(
                "returning_users"
            ),
        )
    )


@op(
    "orders_priority_mix_shift",
    oracle="""
        WITH monthly AS (
            SELECT date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS m,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent
            FROM orders GROUP BY 1
        )
        SELECT CAST(m AS TIMESTAMP) AS month,
               n_orders, n_urgent,
               floor((CAST(n_urgent AS DOUBLE) / n_orders) * 10000.0
                     + 0.505) / 10000.0 AS urgent_share,
               floor((CAST(n_urgent AS DOUBLE) / n_orders
                      - lag(CAST(n_urgent AS DOUBLE) / n_orders)
                        OVER (ORDER BY m)) * 10000.0 + 0.505) / 10000.0
                   AS mom_delta
        FROM monthly
    """,
    scale=(
        "Mix-shift monitor: the raw fact collapses to a months x 1 grid "
        "in one partial-agg pass, then the MoM delta is a lag over ~80 "
        "rows — the window cost is independent of input volume, the "
        "standard guard against computing lag over the raw table. The "
        "share division happens AFTER aggregation (sum-of-flags / count, "
        "not avg-of-ratios), so the result is exact and re-mergeable "
        "across backfills."
    ),
)
def orders_priority_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly URGENT-priority share of orders with month-over-month delta."""
    od = load_table(spark, sf_dir, "orders")
    monthly = od.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        ).alias("n_urgent"),
    )
    share = F.col("n_urgent").cast("double") / F.col("n_orders")
    w = Window.orderBy("month")
    return monthly.select(
        "month",
        "n_orders",
        "n_urgent",
        rnd(share, 4).alias("urgent_share"),
        rnd(share - F.lag(share).over(w), 4).alias("mom_delta"),
    )


@op(
    "li_discount_uplift",
    oracle="""
        WITH bucketed AS (
            SELECT CAST(floor(l_discount * 100 + 0.5) AS INTEGER)
                       AS discount_pct,
                   l_quantity, l_extendedprice
            FROM lineitem
        ),
        base AS (
            SELECT avg(l_quantity) AS q0 FROM bucketed WHERE discount_pct = 0
        )
        SELECT discount_pct,
               CAST(count(*) AS BIGINT) AS n_items,
               floor(avg(l_quantity) * 10000.0 + 0.505) / 10000.0
                   AS avg_qty,
               floor((avg(l_quantity) / (SELECT q0 FROM base)) * 10000.0
                     + 0.505) / 10000.0 AS qty_uplift_vs_no_discount
        FROM bucketed GROUP BY discount_pct
    """,
    scale=(
        "Discount-elasticity read: one partial-agg groupBy onto an 11-row "
        "bucket grid; the zero-discount baseline is a scalar subquery "
        "Catalyst executes once and broadcasts into the projection — no "
        "second scan of the fact (the bucketed CTE feeds both, and "
        "avg(qty) per bucket reuses the same partials). Uplift is a "
        "post-agg division on 11 rows. avg is sum/count — exact partials, "
        "deterministic merge order irrelevant at double precision here "
        "because the sums are exact small-integer totals."
    ),
)
def li_discount_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average order quantity per discount bucket vs the no-discount base."""
    li = load_table(spark, sf_dir, "lineitem")
    bucketed = li.select(
        F.floor(F.col("l_discount") * 100 + F.lit(0.5))
        .cast("int")
        .alias("discount_pct"),
        "l_quantity",
    )
    agg = bucketed.groupBy("discount_pct").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.avg("l_quantity").alias("avg_qty_raw"),
    )
    base = (
        bucketed.where(F.col("discount_pct") == 0)
        .agg(F.avg("l_quantity").alias("q0"))
    )
    return (
        agg.crossJoin(F.broadcast(base))
        .select(
            "discount_pct",
            "n_items",
            rnd(F.col("avg_qty_raw"), 4).alias("avg_qty"),
            rnd(F.col("avg_qty_raw") / F.col("q0"), 4).alias(
                "qty_uplift_vs_no_discount"
            ),
        )
    )


@op(
    "events_markov_accuracy",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type AS prev_type,
                   lead(event_type) OVER w AS next_type,
                   lead(CAST(ts AS TIMESTAMP)) OVER w AS next_ts
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY CAST(ts AS TIMESTAMP), event_id)
        ),
        pairs AS (SELECT * FROM seq WHERE next_type IS NOT NULL),
        train AS (
            SELECT prev_type, next_type, count(*) AS n
            FROM pairs WHERE next_ts < TIMESTAMP '2024-01-24'
            GROUP BY prev_type, next_type
        ),
        model AS (
            SELECT prev_type, next_type AS pred_type FROM (
                SELECT *, row_number() OVER (PARTITION BY prev_type
                    ORDER BY n DESC, next_type) AS rn
                FROM train
            ) WHERE rn = 1
        )
        SELECT p.prev_type, m.pred_type,
               CAST(count(*) AS BIGINT) AS n_test,
               CAST(sum(CASE WHEN p.next_type = m.pred_type
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
               floor((CAST(sum(CASE WHEN p.next_type = m.pred_type
                                    THEN 1 ELSE 0 END) AS DOUBLE)
                      / count(*)) * 10000.0 + 0.505) / 10000.0 AS accuracy
        FROM pairs p JOIN model m USING (prev_type)
        WHERE p.next_ts >= TIMESTAMP '2024-01-24'
        GROUP BY p.prev_type, m.pred_type
    """,
    scale=(
        "A full train/eval loop without leaving the engine: next-event "
        "bigram counts on the pre-cutoff window (one user-partitioned "
        "lead + partial-agg groupBy), an argmax model of |types| rows, "
        "and a broadcast join of that model onto held-out pairs. The "
        "temporal split is a filter on the SAME lead pass — train and "
        "test never scan the stream twice. The 5x5 transition state "
        "makes the model table broadcast-trivial at any corpus size; "
        "this is the baseline-model harness pattern (fit tiny, score "
        "wide) that any 100 TB feature pipeline reuses."
    ),
)
def events_markov_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a next-event argmax bigram model pre-cutoff; score accuracy after."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("prev_type"),
            F.lead("event_type").over(w).alias("next_type"),
            F.lead("ts").over(w).alias("next_ts"),
        )
        .where(F.col("next_type").isNotNull())
    )
    cutoff = F.lit("2024-01-24").cast("timestamp")
    train = (
        pairs.where(F.col("next_ts") < cutoff)
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wm = Window.partitionBy("prev_type").orderBy(
        F.desc("n"), F.asc("next_type")
    )
    model = (
        train.withColumn("rn", F.row_number().over(wm))
        .where(F.col("rn") == 1)
        .select("prev_type", F.col("next_type").alias("pred_type"))
    )
    test = pairs.where(F.col("next_ts") >= cutoff)
    hit = F.when(F.col("next_type") == F.col("pred_type"), 1).otherwise(0)
    return (
        test.join(F.broadcast(model), "prev_type")
        .groupBy("prev_type", "pred_type")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(hit).alias("n_correct"),
        )
        .select(
            "prev_type",
            "pred_type",
            "n_test",
            "n_correct",
            rnd(
                F.col("n_correct").cast("double") / F.col("n_test"), 4
            ).alias("accuracy"),
        )
    )


@op(
    "orders_repurchase_cycle",
    oracle=f"""
        WITH gaps AS (
            SELECT o_custkey,
                   date_diff('day',
                       lag(CAST(o_orderdate AS TIMESTAMP)) OVER (
                           PARTITION BY o_custkey
                           ORDER BY CAST(o_orderdate AS TIMESTAMP),
                                    o_orderkey),
                       CAST(o_orderdate AS TIMESTAMP)) AS gap_days
            FROM orders
        ),
        g AS (SELECT o_custkey, CAST(gap_days AS DOUBLE) AS gap_days
              FROM gaps WHERE gap_days IS NOT NULL)
        SELECT c.c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_gaps,
               {sql_rnd("avg(g.gap_days)", 4)} AS avg_days,
               {sql_rnd("quantile_cont(g.gap_days, 0.5)", 4)} AS p50_days,
               {sql_rnd("quantile_cont(g.gap_days, 0.9)", 4)} AS p90_days
        FROM g JOIN customer c ON c.c_custkey = g.o_custkey
        GROUP BY c.c_mktsegment
    """,
    scale=(
        "Repurchase-cycle profile: consecutive-order gaps come from ONE "
        "lag window on the customer partitioning (orders are already the "
        "right grain — no self-join), then segment attribution is a "
        "broadcast-sized dim join and the distribution reduces per "
        "segment. Exact quantile_cont/percentile here is a per-group "
        "sorted collect — fine for 5 segments; at 100 TB swap in "
        "approx_percentile's mergeable sketch per the agg_percentile "
        "ladder while keeping the identical report schema."
    ),
)
def orders_repurchase_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days between consecutive orders per customer, profiled by segment."""
    od = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = od.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).cast("double").alias("gap_days"),
    ).where(F.col("gap_days").isNotNull())
    return (
        gaps.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            gaps.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            rnd(F.avg("gap_days"), 4).alias("avg_days"),
            rnd(F.expr("percentile(gap_days, 0.5)"), 4).alias("p50_days"),
            rnd(F.expr("percentile(gap_days, 0.9)"), 4).alias("p90_days"),
        )
    )


@op(
    "events_alert_debounce",
    oracle="""
        WITH hourly AS (
            SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                        AS DOUBLE) / count(*) AS err_rate
            FROM events GROUP BY 1
        ),
        flagged AS (
            SELECT h, err_rate,
                   epoch(h) // 3600
                       - row_number() OVER (ORDER BY h) AS island
            FROM hourly WHERE err_rate > 0.3
        ),
        runs AS (
            SELECT island, min(h) AS alert_start, max(h) AS alert_end,
                   count(*) AS n_hours, max(err_rate) AS peak
            FROM flagged GROUP BY island
        )
        SELECT CAST(alert_start AS TIMESTAMP) AS alert_start,
               CAST(alert_end AS TIMESTAMP) AS alert_end,
               CAST(n_hours AS BIGINT) AS n_hours,
               floor(peak * 10000.0 + 0.505) / 10000.0 AS peak_err_rate
        FROM runs WHERE n_hours >= 3
    """,
    scale=(
        "Debounced alerting (fire only after >=3 consecutive breached "
        "hours): raw events reduce to the hourly grid first, the "
        "hour-index-minus-row-number island trick groups consecutive "
        "breaches WITHOUT a self-join or per-hour lag chain, and the "
        "debounce is a HAVING on island length. Missing hours break "
        "islands naturally (the hour index jumps but row_number "
        "doesn't). The whole pipeline past the first agg runs on "
        "hundreds of rows — the paging decision costs the same at "
        "100 TB as at 10 MB, and the identical island logic runs "
        "incrementally inside stream_* via session windows."
    ),
)
def events_alert_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert windows where the hourly error rate stays >30% for >=3 hours."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(
                F.when(F.col("event_type") == "error", 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("err_rate"),
    )
    w = Window.orderBy("h")
    flagged = hourly.where(F.col("err_rate") > 0.3).select(
        "h",
        "err_rate",
        (
            F.floor(F.unix_micros("h") / F.lit(3_600_000_000))
            - F.row_number().over(w)
        ).alias("island"),
    )
    return (
        flagged.groupBy("island")
        .agg(
            F.min("h").alias("alert_start"),
            F.max("h").alias("alert_end"),
            F.count(F.lit(1)).alias("n_hours"),
            rnd(F.max("err_rate"), 4).alias("peak_err_rate"),
        )
        .where(F.col("n_hours") >= 3)
        .select("alert_start", "alert_end", "n_hours", "peak_err_rate")
    )


@op(
    "events_user_lifecycle_states",
    oracle="""
        WITH active AS (
            SELECT DISTINCT user_id,
                   CAST(date_diff('day', TIMESTAMP '2024-01-01',
                        date_trunc('day', CAST(ts AS TIMESTAMP))) // 7
                        AS INTEGER) AS wk
            FROM events
        ),
        seq AS (
            SELECT user_id, wk,
                   min(wk) OVER (PARTITION BY user_id) AS wk0,
                   lag(wk) OVER (PARTITION BY user_id ORDER BY wk)
                       AS prev_wk,
                   lead(wk) OVER (PARTITION BY user_id ORDER BY wk)
                       AS next_wk
            FROM active
        ),
        labeled AS (
            SELECT wk,
                   CASE WHEN wk = wk0 THEN 'new'
                        WHEN prev_wk = wk - 1 THEN 'retained'
                        ELSE 'resurrected' END AS state,
                   CASE WHEN next_wk IS NULL OR next_wk > wk + 1
                        THEN 1 ELSE 0 END AS churns_after
            FROM seq
        )
        SELECT wk, state,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(churns_after) AS BIGINT) AS n_churning_after
        FROM labeled GROUP BY wk, state
    """,
    scale=(
        "Full growth-accounting state machine (new / retained / "
        "resurrected, plus who churns after this week): the event stream "
        "reduces to distinct (user, week) FIRST, so the lag/lead state "
        "logic runs over at most |users| x |weeks| rows on the user_id "
        "partitioning — one distinct shuffle, one window sort, one "
        "4-row-per-week aggregate. No week-spine cross join and no "
        "per-state scans: every state falls out of the same lag/lead "
        "pass. This is the canonical incremental-MAU machinery; at "
        "100 TB the (user, week) activity relation is the thing kept "
        "as a materialized incremental table."
    ),
)
def events_user_lifecycle_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly new/retained/resurrected user counts + next-week churn."""
    ev = load_table(spark, sf_dir, "events")
    active = ev.select(
        "user_id",
        F.floor(
            F.datediff(
                F.date_trunc("day", "ts"),
                F.lit("2024-01-01").cast("timestamp"),
            )
            / 7
        ).cast("int").alias("wk"),
    ).distinct()
    wu = Window.partitionBy("user_id")
    ws = wu.orderBy("wk")
    seq = active.select(
        "user_id",
        "wk",
        F.min("wk").over(wu).alias("wk0"),
        F.lag("wk").over(ws).alias("prev_wk"),
        F.lead("wk").over(ws).alias("next_wk"),
    )
    state = (
        F.when(F.col("wk") == F.col("wk0"), "new")
        .when(F.col("prev_wk") == F.col("wk") - 1, "retained")
        .otherwise("resurrected")
    )
    churns = F.when(
        F.col("next_wk").isNull() | (F.col("next_wk") > F.col("wk") + 1), 1
    ).otherwise(0)
    return (
        seq.select("wk", state.alias("state"), churns.alias("churns_after"))
        .groupBy("wk", "state")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("churns_after").alias("n_churning_after"),
        )
    )


@op(
    "orders_exists_flags",
    oracle="""
        SELECT o.o_orderkey, o.o_orderstatus,
               EXISTS(SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_returnflag = 'R') AS has_return,
               EXISTS(SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_quantity >= 45) AS has_bulk_item,
               EXISTS(SELECT 1 FROM lineitem l JOIN part p
                        ON l.l_partkey = p.p_partkey
                      WHERE l.l_orderkey = o.o_orderkey
                        AND p.p_type = 'PROMO') AS has_promo_part
        FROM orders o
    """,
    scale=(
        "Three correlated EXISTS probes rewritten as ONE aggregation "
        "pass: naively each EXISTS is its own semi-join (three shuffles "
        "of the fact); instead the lineitem scan computes all three "
        "boolean flags as max(CASE...) partials in a single groupBy "
        "on l_orderkey (the promo probe folds in as a broadcast part "
        "join feeding the flag column), then joins orders once on the "
        "shared key. The oracle keeps the EXISTS phrasing — equality "
        "proves the rewrite. The N-flags-one-pass shape is THE fix for "
        "dashboard queries that stack existence predicates at 100 TB."
    ),
)
def orders_exists_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order existence flags (return / bulk item / promo part), one pass."""
    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    promo = part.select(
        "p_partkey", (F.col("p_type") == "PROMO").alias("is_promo")
    )
    flags = (
        li.select("l_orderkey", "l_partkey", "l_returnflag", "l_quantity")
        .join(F.broadcast(promo), li.l_partkey == promo.p_partkey)
        .groupBy("l_orderkey")
        .agg(
            F.max((F.col("l_returnflag") == "R").cast("int")).alias("r"),
            F.max((F.col("l_quantity") >= 45).cast("int")).alias("b"),
            F.max(F.col("is_promo").cast("int")).alias("p"),
        )
    )
    return od.select("o_orderkey", "o_orderstatus").join(
        flags, od.o_orderkey == flags.l_orderkey, "left"
    ).select(
        "o_orderkey",
        "o_orderstatus",
        (F.coalesce(F.col("r"), F.lit(0)) == 1).alias("has_return"),
        (F.coalesce(F.col("b"), F.lit(0)) == 1).alias("has_bulk_item"),
        (F.coalesce(F.col("p"), F.lit(0)) == 1).alias("has_promo_part"),
    )


@op(
    "events_attribution_time_decay",
    oracle="""
        WITH p AS (
            SELECT event_id AS pid, user_id,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS pus, value
            FROM events WHERE event_type = 'purchase'
        ),
        c AS (
            SELECT user_id, event_id AS cid,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS cus,
                   CAST(ts AS TIMESTAMP) AS cts
            FROM events WHERE event_type = 'click'
        ),
        pairs AS (
            SELECT p.pid, p.value, c.cts,
                   power(0.5, CAST((p.pus - c.cus) // 86400000000
                                   AS INTEGER)) AS w
            FROM p JOIN c
              ON p.user_id = c.user_id
             AND c.cus < p.pus
             AND p.pus - c.cus <= 604800000000
        ),
        norm AS (
            SELECT *, w / sum(w) OVER (PARTITION BY pid) AS share
            FROM pairs
        )
        SELECT CAST(date_trunc('day', cts) AS TIMESTAMP) AS click_day,
               CAST(count(*) AS BIGINT) AS n_credited_touches,
               floor(sum(value * share) * 100.0 + 0.505) / 100.0
                   AS attributed_value
        FROM norm GROUP BY 1
    """,
    scale=(
        "Multi-touch time-decay attribution: each conversion joins its "
        "preceding clicks within a 7-day lookback on the user key — a "
        "per-user interval join whose fan-out is bounded by the lookback "
        "(at 100 TB, bucket both sides by (user, day) so a click joins "
        "at most 8 day-buckets; same ladder as join_range_bucketed). "
        "Decay weights are exact powers of two (0.5^whole-days), so the "
        "weight arithmetic is bit-identical across engines; per-"
        "conversion normalization is one window sum on the pair set, "
        "and the final rollup collapses to |days| rows. The credit "
        "column is what marketing-mix jobs feed directly."
    ),
)
def events_attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed click credit for each purchase, rolled up by click day."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.unix_micros("ts").alias("pus"),
        "value",
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.unix_micros("ts").alias("cus"),
        F.date_trunc("day", "ts").alias("click_day"),
    )
    pairs = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("cus") < F.col("pus"))
        & (F.col("pus") - F.col("cus") <= 604_800_000_000),
    ).select(
        "pid",
        "value",
        "click_day",
        F.pow(
            F.lit(0.5),
            F.floor((F.col("pus") - F.col("cus")) / 86_400_000_000).cast(
                "int"
            ),
        ).alias("w"),
    )
    wp = Window.partitionBy("pid")
    norm = pairs.select(
        "click_day",
        "value",
        (F.col("w") / F.sum("w").over(wp)).alias("share"),
    )
    return norm.groupBy("click_day").agg(
        F.count(F.lit(1)).alias("n_credited_touches"),
        rnd(F.sum(F.col("value") * F.col("share")), 2).alias(
            "attributed_value"
        ),
    )


@op(
    "events_score_decile_lift",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   count(*) AS n_events,
                   sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                       AS n_errors
            FROM events GROUP BY user_id
        ),
        ranked AS (
            SELECT *, CAST(ntile(10) OVER (
                       ORDER BY n_events DESC, user_id) AS INTEGER)
                   AS decile
            FROM per_user
        ),
        overall AS (
            SELECT CAST(sum(n_errors) AS DOUBLE) / sum(n_events) AS base
            FROM per_user
        )
        SELECT decile,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(n_events) AS BIGINT) AS n_events,
               CAST(sum(n_errors) AS BIGINT) AS n_errors,
               floor((CAST(sum(n_errors) AS DOUBLE) / sum(n_events))
                     * 10000.0 + 0.505) / 10000.0 AS err_rate,
               floor(((CAST(sum(n_errors) AS DOUBLE) / sum(n_events))
                      / (SELECT base FROM overall)) * 10000.0 + 0.505)
                   / 10000.0 AS lift
        FROM ranked GROUP BY decile
    """,
    scale=(
        "Gain/lift-curve evaluation by score decile: user summaries are "
        "one partial-agg pass, the decile cut is ntile over the "
        "|users|-row summary (NOT the raw stream — ntile needs a global "
        "sort, so you rank the reduced relation; at 100 TB users swap "
        "the exact ntile for approx-percentile cut points and a "
        "broadcast range lookup, same report schema), and the lift "
        "denominator is a scalar subquery broadcast into the 10-row "
        "projection. The monotone-lift readout is the standard sanity "
        "check for any ranking model's top-decile value."
    ),
)
def events_score_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-rate lift by activity decile (lift-curve model eval shape)."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).alias("n_errors"),
    )
    w = Window.orderBy(F.desc("n_events"), F.asc("user_id"))
    ranked = per_user.withColumn(
        "decile", F.ntile(10).over(w).cast("int")
    )
    overall = per_user.agg(
        (
            F.sum("n_errors").cast("double") / F.sum("n_events")
        ).alias("base")
    )
    agg = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_events").alias("n_events"),
        F.sum("n_errors").alias("n_errors"),
    )
    rate = F.col("n_errors").cast("double") / F.col("n_events")
    return agg.crossJoin(F.broadcast(overall)).select(
        "decile",
        "n_users",
        "n_events",
        "n_errors",
        rnd(rate, 4).alias("err_rate"),
        rnd(rate / F.col("base"), 4).alias("lift"),
    )


@op(
    "funnel_three_step_windowed",
    oracle="""
        WITH s AS (
            SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t_signup
            FROM events WHERE event_type = 'signup' GROUP BY user_id
        ),
        c AS (
            SELECT s.user_id, s.t_signup,
                   min(CAST(e.ts AS TIMESTAMP)) AS t_click
            FROM s JOIN events e
              ON e.user_id = s.user_id AND e.event_type = 'click'
             AND CAST(e.ts AS TIMESTAMP) > s.t_signup
             AND CAST(e.ts AS TIMESTAMP) <= s.t_signup + INTERVAL 7 DAY
            GROUP BY s.user_id, s.t_signup
        ),
        p AS (
            SELECT c.user_id, c.t_signup, c.t_click,
                   min(CAST(e.ts AS TIMESTAMP)) AS t_purchase
            FROM c JOIN events e
              ON e.user_id = c.user_id AND e.event_type = 'purchase'
             AND CAST(e.ts AS TIMESTAMP) > c.t_click
             AND CAST(e.ts AS TIMESTAMP) <= c.t_click + INTERVAL 7 DAY
            GROUP BY c.user_id, c.t_signup, c.t_click
        )
        SELECT
            CAST((SELECT count(*) FROM s) AS BIGINT) AS n_signup,
            CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click_7d,
            CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase_7d,
            floor((CAST((SELECT count(*) FROM c) AS DOUBLE)
                   / (SELECT count(*) FROM s)) * 10000.0 + 0.505)
                / 10000.0 AS step1_rate,
            floor((CAST((SELECT count(*) FROM p) AS DOUBLE)
                   / (SELECT count(*) FROM c)) * 10000.0 + 0.505)
                / 10000.0 AS step2_rate
    """,
    scale=(
        "Strict-order three-step funnel with per-step 7-day windows "
        "(signup -> click -> purchase): each step is a min-after-within "
        "aggregation joined on user_id — per-user state stays at k "
        "timestamps, the event table is scanned once per step with the "
        "step's type filter pushed down, and no step materializes event "
        "pairs. The per-step conversion-rate scalars are what funnels "
        "report; the windowed constraint (<= 7 days) is the piece "
        "events_time_to_convert's unbounded form doesn't enforce. At "
        "100 TB funnels run exactly this shape with the type filters "
        "as partition prunes."
    ),
)
def funnel_three_step_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup -> click(<=7d) -> purchase(<=7d) strict funnel with rates."""
    ev = load_table(spark, sf_dir, "events")
    week = F.expr("INTERVAL 7 DAYS")
    s = ev.where(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("t_signup")
    )
    c = (
        s.join(
            ev.where(F.col("event_type") == "click").select(
                F.col("user_id").alias("cu"), F.col("ts").alias("cts")
            ),
            (F.col("user_id") == F.col("cu"))
            & (F.col("cts") > F.col("t_signup"))
            & (F.col("cts") <= F.col("t_signup") + week),
        )
        .groupBy("user_id", "t_signup")
        .agg(F.min("cts").alias("t_click"))
    )
    p = (
        c.join(
            ev.where(F.col("event_type") == "purchase").select(
                F.col("user_id").alias("pu"), F.col("ts").alias("pts")
            ),
            (F.col("user_id") == F.col("pu"))
            & (F.col("pts") > F.col("t_click"))
            & (F.col("pts") <= F.col("t_click") + week),
        )
        .groupBy("user_id")
        .agg(F.min("pts").alias("t_purchase"))
    )
    ns = s.agg(F.count(F.lit(1)).alias("n_signup"))
    nc = c.agg(F.count(F.lit(1)).alias("n_click_7d"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_purchase_7d"))
    return (
        ns.crossJoin(nc)
        .crossJoin(np_)
        .select(
            "n_signup",
            "n_click_7d",
            "n_purchase_7d",
            rnd(
                F.col("n_click_7d").cast("double") / F.col("n_signup"), 4
            ).alias("step1_rate"),
            rnd(
                F.col("n_purchase_7d").cast("double")
                / F.col("n_click_7d"),
                4,
            ).alias("step2_rate"),
        )
    )


@op(
    "events_transition_dwell",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lead(event_type) OVER w AS next_type,
                   (lead(epoch_us(CAST(ts AS TIMESTAMP))) OVER w
                    - epoch_us(CAST(ts AS TIMESTAMP))) / 1000000.0
                       AS dwell_s
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY CAST(ts AS TIMESTAMP), event_id)
        )
        SELECT event_type, next_type,
               CAST(count(*) AS BIGINT) AS n,
               floor(avg(dwell_s) * 100.0 + 0.505) / 100.0
                   AS avg_dwell_s,
               floor(quantile_cont(dwell_s, 0.5) * 100.0 + 0.505)
                   / 100.0 AS p50_dwell_s
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY event_type, next_type
    """,
    scale=(
        "Time-in-state per transition edge: one lead() pass produces "
        "(from, to, dwell) and the 5x5 edge aggregate collapses "
        "map-side — this is events_path_transitions' count matrix "
        "upgraded with the dwell distribution that makes it a Markov "
        "chain WITH holding times (semi-Markov), the input to "
        "queueing/abandonment models. Integer-micro subtraction before "
        "the float divide keeps both engines bit-identical; exact "
        "median per edge is 25 tiny groups, with approx_percentile as "
        "the documented swap at scale."
    ),
)
def events_transition_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dwell-time distribution per event-type transition edge."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
        (
            (F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts"))
            / 1_000_000.0
        ).alias("dwell_s"),
    ).where(F.col("next_type").isNotNull())
    return seq.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n"),
        rnd(F.avg("dwell_s"), 2).alias("avg_dwell_s"),
        rnd(F.expr("percentile(dwell_s, 0.5)"), 2).alias("p50_dwell_s"),
    )


@op(
    "part_assortment_gaps",
    oracle="""
        WITH brands AS (SELECT DISTINCT p_brand FROM part),
        sizes AS (SELECT DISTINCT p_size FROM part),
        grid AS (SELECT p_brand, p_size FROM brands CROSS JOIN sizes),
        missing AS (
            SELECT g.p_brand, g.p_size
            FROM grid g LEFT JOIN (
                SELECT DISTINCT p_brand, p_size FROM part
            ) e ON e.p_brand = g.p_brand AND e.p_size = g.p_size
            WHERE e.p_brand IS NULL
        )
        SELECT b.p_brand,
               CAST((SELECT count(*) FROM sizes) AS BIGINT)
                   AS n_possible_sizes,
               CAST(count(m.p_size) AS BIGINT) AS n_missing_sizes,
               floor((1.0 - CAST(count(m.p_size) AS DOUBLE)
                      / (SELECT count(*) FROM sizes)) * 10000.0 + 0.505)
                   / 10000.0 AS coverage
        FROM brands b LEFT JOIN missing m ON m.p_brand = b.p_brand
        GROUP BY b.p_brand
    """,
    scale=(
        "Assortment-completeness audit via grid anti-join: the candidate "
        "universe is the cross of two DISTINCT-reduced dims (|brands| x "
        "|sizes| — bounded and broadcastable, never fact x fact), the "
        "gap set falls out of one left-anti probe against the observed "
        "combos, and coverage re-aggregates per brand. The "
        "expected-vs-observed grid pattern generalizes to any "
        "dimensional completeness check (store x SKU, date x region); "
        "at 100 TB only the observed-combos distinct touches the fact."
    ),
)
def part_assortment_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand size coverage: which brand x size combos never occur."""
    part = load_table(spark, sf_dir, "part")
    brands = part.select("p_brand").distinct()
    sizes = part.select("p_size").distinct()
    observed = part.select("p_brand", "p_size").distinct()
    grid = brands.crossJoin(F.broadcast(sizes))
    missing = grid.join(observed, ["p_brand", "p_size"], "left_anti")
    n_sizes = sizes.agg(F.count(F.lit(1)).alias("n_possible_sizes"))
    per_brand = (
        brands.join(
            missing.groupBy("p_brand").agg(
                F.count(F.lit(1)).alias("nm")
            ),
            "p_brand",
            "left",
        )
        .select(
            "p_brand", F.coalesce(F.col("nm"), F.lit(0)).alias("nm")
        )
    )
    return per_brand.crossJoin(F.broadcast(n_sizes)).select(
        "p_brand",
        "n_possible_sizes",
        F.col("nm").alias("n_missing_sizes"),
        rnd(
            1.0 - F.col("nm").cast("double") / F.col("n_possible_sizes"),
            4,
        ).alias("coverage"),
    )


@op(
    "li_return_rate_price_band",
    oracle="""
        WITH banded AS (
            SELECT p_partkey,
                   CAST(ntile(10) OVER (
                       ORDER BY p_retailprice, p_partkey) AS INTEGER)
                       AS price_band
            FROM part
        )
        SELECT b.price_band,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_returned,
               floor((CAST(sum(CASE WHEN l.l_returnflag = 'R'
                                    THEN 1 ELSE 0 END) AS DOUBLE)
                      / count(*)) * 10000.0 + 0.505) / 10000.0
                   AS return_rate
        FROM lineitem l JOIN banded b ON l.l_partkey = b.p_partkey
        GROUP BY b.price_band
    """,
    scale=(
        "Return-rate by price decile: the decile cut runs ntile on the "
        "PART dim (small, sortable), and the banded lookup broadcasts "
        "onto the fact — the fact is never globally sorted, which is "
        "the mistake the naive 'ntile over the join' formulation makes "
        "at 100 TB. One fact pass, 10-row output, conditional-sum "
        "return accounting. The shape behind any 'metric by value "
        "band' report where bands come from a dimension."
    ),
)
def li_return_rate_price_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return rate per part-price decile band."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.orderBy("p_retailprice", "p_partkey")
    banded = part.select(
        "p_partkey", F.ntile(10).over(w).cast("int").alias("price_band")
    )
    return (
        li.select("l_partkey", "l_returnflag")
        .join(F.broadcast(banded), li.l_partkey == banded.p_partkey)
        .groupBy("price_band")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("n_returned"),
        )
        .select(
            "price_band",
            "n_items",
            "n_returned",
            rnd(
                F.col("n_returned").cast("double") / F.col("n_items"), 4
            ).alias("return_rate"),
        )
    )


@op(
    "events_churn_last_touch",
    oracle="""
        WITH last_e AS (
            SELECT user_id,
                   max(CAST(ts AS TIMESTAMP)) AS last_ts,
                   max_by(event_type,
                          (epoch_us(CAST(ts AS TIMESTAMP)) // 1000)
                          * 3500000 + event_id) AS last_type
            FROM events GROUP BY user_id
        ),
        churned AS (
            SELECT * FROM last_e
            WHERE last_ts < TIMESTAMP '2024-01-23'
        )
        SELECT last_type,
               CAST(count(*) AS BIGINT) AS n_churned_users,
               floor((CAST(count(*) AS DOUBLE)
                      / (SELECT count(*) FROM churned)) * 10000.0
                     + 0.505) / 10000.0 AS share
        FROM churned GROUP BY last_type
    """,
    scale=(
        "Churn autopsy: for users inactive over the final week, what "
        "was the last thing they did — the error-before-silence signal "
        "product teams act on. The last event per user is ONE max_by "
        "partial agg over a composite (time, id) ordinal (total order, "
        "so mergeable and tie-free — no window sort over the raw "
        "stream), the churn cut is a filter on the |users|-row summary, "
        "and the share denominator is a broadcast scalar. A 5-row "
        "answer from one fact pass at any scale."
    ),
)
def events_churn_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of the final event type among churned users."""
    ev = load_table(spark, sf_dir, "events")
    ordinal = (
        F.floor(F.unix_micros("ts") / 1000) * 3_500_000 + F.col("event_id")
    )
    last_e = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.max_by("event_type", ordinal).alias("last_type"),
    )
    churned = last_e.where(
        F.col("last_ts") < F.lit("2024-01-23").cast("timestamp")
    )
    total = churned.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        churned.groupBy("last_type")
        .agg(F.count(F.lit(1)).alias("n_churned_users"))
        .crossJoin(F.broadcast(total))
        .select(
            "last_type",
            "n_churned_users",
            rnd(
                F.col("n_churned_users").cast("double") / F.col("n_total"),
                4,
            ).alias("share"),
        )
    )


@op(
    "orders_rolling_12m_revenue",
    oracle="""
        WITH monthly AS (
            SELECT date_trunc('month', CAST(o_orderdate AS TIMESTAMP))
                       AS m,
                   CAST(sum(CAST(floor(o_totalprice * 100 + 0.505)
                                 AS BIGINT)) AS BIGINT) AS cents
            FROM orders GROUP BY 1
        )
        SELECT CAST(m AS TIMESTAMP) AS month,
               cents AS month_cents,
               CAST(sum(cents) OVER (ORDER BY m
                   ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS trailing_12m_cents,
               CAST(count(*) OVER (ORDER BY m
                   ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS months_in_window
        FROM monthly
    """,
    scale=(
        "Trailing-twelve-month revenue (the TTM line every finance "
        "dashboard draws): the fact collapses to the ~80-row monthly "
        "grid in one partial-agg pass, then the TTM is a 12-row frame "
        "sum over that grid — window cost independent of order volume. "
        "months_in_window ships alongside so consumers can mask the "
        "first eleven partial windows instead of misreading ramp-up as "
        "growth. Integer cents throughout; at 100 TB the monthly grid "
        "is the incrementally-maintained table and TTM is free."
    ),
)
def orders_rolling_12m_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with the trailing-12-month rollup."""
    od = load_table(spark, sf_dir, "orders")
    monthly = od.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.505)).cast(
                "long"
            )
        ).alias("month_cents")
    )
    w = Window.orderBy("month").rowsBetween(-11, Window.currentRow)
    return monthly.select(
        "month",
        "month_cents",
        F.sum("month_cents").over(w).alias("trailing_12m_cents"),
        F.count(F.lit(1)).over(w).alias("months_in_window"),
    )


@op(
    "part_brand_positioning",
    oracle="""
        WITH brand AS (
            SELECT p.p_brand,
                   quantile_cont(p.p_retailprice, 0.5) AS med_price,
                   CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.505)
                                 AS BIGINT)) AS BIGINT) AS revenue_cents
            FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
            GROUP BY p.p_brand
        ),
        g AS (
            SELECT quantile_cont(med_price, 0.5) AS g_price,
                   quantile_cont(CAST(revenue_cents AS DOUBLE), 0.5)
                       AS g_rev
            FROM brand
        )
        SELECT b.p_brand,
               floor(b.med_price * 100.0 + 0.505) / 100.0
                   AS median_price,
               b.revenue_cents,
               CASE WHEN b.med_price >= g.g_price
                         AND b.revenue_cents >= g.g_rev
                        THEN 'premium-leader'
                    WHEN b.med_price >= g.g_price THEN 'premium-niche'
                    WHEN b.revenue_cents >= g.g_rev THEN 'value-leader'
                    ELSE 'value-niche' END AS quadrant
        FROM brand b CROSS JOIN g
    """,
    scale=(
        "Price/volume positioning map: per-brand medians and revenue "
        "reduce the joined fact to 25 rows, the global split points are "
        "medians OF that summary (1-row broadcast), and the quadrant is "
        "a CASE against them — the classic 2x2 strategy readout "
        "computed in two tiny aggregation levels. The exact per-brand "
        "median is a 25-group sorted collect; at 100 TB it swaps for "
        "approx_percentile per the standard ladder. Note the median of "
        "the SUMMARY is deliberately brand-weighted, not item-weighted "
        "— the quadrant boundaries should not be dominated by the "
        "biggest brand."
    ),
)
def part_brand_positioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2x2 brand positioning: median price vs revenue, quadrant labels."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    brand = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand", "p_retailprice")),
            li.l_partkey == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.expr("percentile(p_retailprice, 0.5)").alias("med_price"),
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * 100 + F.lit(0.505)
                ).cast("long")
            ).alias("revenue_cents"),
        )
    )
    g = brand.agg(
        F.expr("percentile(med_price, 0.5)").alias("g_price"),
        F.expr("percentile(CAST(revenue_cents AS DOUBLE), 0.5)").alias(
            "g_rev"
        ),
    )
    quadrant = (
        F.when(
            (F.col("med_price") >= F.col("g_price"))
            & (F.col("revenue_cents") >= F.col("g_rev")),
            "premium-leader",
        )
        .when(F.col("med_price") >= F.col("g_price"), "premium-niche")
        .when(F.col("revenue_cents") >= F.col("g_rev"), "value-leader")
        .otherwise("value-niche")
    )
    return brand.crossJoin(F.broadcast(g)).select(
        "p_brand",
        rnd(F.col("med_price"), 2).alias("median_price"),
        "revenue_cents",
        quadrant.alias("quadrant"),
    )


@op(
    "part_single_source_risk",
    oracle="""
        WITH ps AS (
            SELECT l_partkey, l_suppkey,
                   CAST(sum(CAST(floor(l_extendedprice * 100 + 0.505)
                                 AS BIGINT)) AS BIGINT) AS cents
            FROM lineitem GROUP BY l_partkey, l_suppkey
        ),
        agg AS (
            SELECT l_partkey,
                   CAST(count(*) AS BIGINT) AS n_suppliers,
                   CAST(sum(cents) AS BIGINT) AS total_cents,
                   CAST(max(cents) AS BIGINT) AS top_cents
            FROM ps GROUP BY l_partkey
        )
        SELECT l_partkey, n_suppliers,
               floor((CAST(top_cents AS DOUBLE) / total_cents)
                     * 10000.0 + 0.505) / 10000.0 AS top_supplier_share,
               n_suppliers = 1 OR CAST(top_cents AS DOUBLE) / total_cents
                   > 0.8 AS single_source_risk
        FROM agg
    """,
    scale=(
        "Procurement single-source risk: two stacked partial aggs — "
        "(part, supplier) revenue, then per-part count/total/max — both "
        "mergeable, the second riding the first's partitioning (one "
        "shuffle on l_partkey covers both after AQE reuses the "
        "exchange). max-share needs no window: max(cents)/sum(cents) "
        "per group IS the top-supplier share. The risk flag (sole "
        "supplier OR >80% concentration) is the supply-chain paging "
        "condition; same two-level shape as events_audience_overlap's "
        "reductions."
    ),
)
def part_single_source_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part supplier concentration and single-source risk flag."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.505)).cast(
                "long"
            )
        ).alias("cents")
    )
    agg = ps.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("cents").alias("total_cents"),
        F.max("cents").alias("top_cents"),
    )
    share = F.col("top_cents").cast("double") / F.col("total_cents")
    return agg.select(
        "l_partkey",
        "n_suppliers",
        rnd(share, 4).alias("top_supplier_share"),
        ((F.col("n_suppliers") == 1) | (share > 0.8)).alias(
            "single_source_risk"
        ),
    )


@op(
    "orders_priority_sla_attainment",
    oracle="""
        WITH sla AS (
            SELECT * FROM (VALUES
                ('1-URGENT', 30), ('2-HIGH', 45), ('3-MEDIUM', 60),
                ('4-NOT SPECIFIED', 90), ('5-LOW', 120)) s(prio, sla_days)
        ),
        last_ship AS (
            SELECT l_orderkey, max(CAST(l_shipdate AS TIMESTAMP)) AS ls
            FROM lineitem GROUP BY l_orderkey
        )
        SELECT o.o_orderpriority,
               CAST(max(s.sla_days) AS INTEGER) AS sla_days,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CASE WHEN date_diff('day',
                                 CAST(o.o_orderdate AS TIMESTAMP), l.ls)
                                 <= s.sla_days
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_met,
               floor((CAST(sum(CASE WHEN date_diff('day',
                                 CAST(o.o_orderdate AS TIMESTAMP), l.ls)
                                 <= s.sla_days THEN 1 ELSE 0 END)
                           AS DOUBLE) / count(*)) * 10000.0 + 0.505)
                   / 10000.0 AS attainment
        FROM orders o
        JOIN last_ship l ON l.l_orderkey = o.o_orderkey
        JOIN sla s ON s.prio = o.o_orderpriority
        GROUP BY o.o_orderpriority
    """,
    scale=(
        "SLA attainment against a policy dim: the per-priority SLA table "
        "is an inline literal relation (the canonical 5-row broadcast — "
        "policy config belongs in a joinable dim, not in CASE branches "
        "scattered through queries), completion time is one partial-agg "
        "max per order on the fact's own key, and attainment is a "
        "conditional rate per priority. The orders-lastship join is "
        "co-partitioned on orderkey; everything after is map-side. Swap "
        "the VALUES dim for a governed config table at 100 TB and the "
        "plan is unchanged — that swap-ability is the point."
    ),
)
def orders_priority_sla_attainment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-SLA attainment per order priority vs an inline policy dim."""
    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    sla = spark.createDataFrame(
        [
            ("1-URGENT", 30),
            ("2-HIGH", 45),
            ("3-MEDIUM", 60),
            ("4-NOT SPECIFIED", 90),
            ("5-LOW", 120),
        ],
        "prio string, sla_days int",
    )
    last_ship = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("ls"))
    met = F.when(
        F.datediff(F.col("ls"), F.col("o_orderdate")) <= F.col("sla_days"),
        1,
    ).otherwise(0)
    return (
        od.select("o_orderkey", "o_orderpriority", "o_orderdate")
        .join(last_ship, od.o_orderkey == last_ship.l_orderkey)
        .join(F.broadcast(sla), F.col("o_orderpriority") == sla.prio)
        .groupBy("o_orderpriority")
        .agg(
            F.max("sla_days").cast("int").alias("sla_days"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(met).alias("n_met"),
        )
        .select(
            "o_orderpriority",
            "sla_days",
            "n_orders",
            "n_met",
            rnd(
                F.col("n_met").cast("double") / F.col("n_orders"), 4
            ).alias("attainment"),
        )
    )


@op(
    "li_discount_tax_grid",
    oracle="""
        SELECT CAST(floor(l_discount * 100 + 0.5) AS INTEGER)
                   AS discount_pct,
               CAST(floor(l_tax * 100 + 0.5) AS INTEGER) AS tax_pct,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                   * (1 + l_tax) * 100 + 0.505)
                             AS BIGINT)) AS BIGINT) AS net_cents,
               floor(avg(l_quantity) * 10000.0 + 0.505) / 10000.0
                   AS avg_qty
        FROM lineitem
        GROUP BY 1, 2
    """,
    scale=(
        "Pricing-interaction heatmap: the (discount, tax) percentage "
        "pair is a bounded 11x9 grid, so the whole fact collapses "
        "map-side to <=99 rows per task before the one shuffle — the "
        "2D-grid GROUP BY is the cheapest possible interaction readout "
        "and the input a pricing model trains its interaction terms "
        "on. Net revenue flows as integer cents (floor before sum, "
        "HUGEINT-proof); the grid joins naturally onto "
        "li_discount_uplift's 1D marginal for lift-vs-interaction "
        "comparison."
    ),
)
def li_discount_tax_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net revenue and volume over the discount x tax percentage grid."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.floor(F.col("l_discount") * 100 + F.lit(0.5))
            .cast("int")
            .alias("discount_pct"),
            F.floor(F.col("l_tax") * 100 + F.lit(0.5))
            .cast("int")
            .alias("tax_pct"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                F.floor(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                    * 100
                    + F.lit(0.505)
                ).cast("long")
            ).alias("net_cents"),
            rnd(F.avg("l_quantity"), 4).alias("avg_qty"),
        )
    )


@op(
    "events_day_n_retention",
    oracle="""
        WITH signup AS (
            SELECT user_id,
                   min(date_trunc('day', CAST(ts AS TIMESTAMP))) AS s_day
            FROM events WHERE event_type = 'signup' GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT user_id,
                   date_trunc('day', CAST(ts AS TIMESTAMP)) AS d
            FROM events
        ),
        offsets AS (
            SELECT s.user_id,
                   date_diff('day', s.s_day, a.d) AS off
            FROM signup s JOIN activity a ON a.user_id = s.user_id
        )
        SELECT CAST((SELECT count(*) FROM signup) AS BIGINT) AS n_signups,
               CAST(count(DISTINCT CASE WHEN off = 1 THEN user_id END)
                    AS BIGINT) AS d1_retained,
               CAST(count(DISTINCT CASE WHEN off = 7 THEN user_id END)
                    AS BIGINT) AS d7_retained,
               CAST(count(DISTINCT CASE WHEN off = 14 THEN user_id END)
                    AS BIGINT) AS d14_retained,
               floor((CAST(count(DISTINCT CASE WHEN off = 1
                                 THEN user_id END) AS DOUBLE)
                      / (SELECT count(*) FROM signup)) * 10000.0
                     + 0.505) / 10000.0 AS d1_rate,
               floor((CAST(count(DISTINCT CASE WHEN off = 7
                                 THEN user_id END) AS DOUBLE)
                      / (SELECT count(*) FROM signup)) * 10000.0
                     + 0.505) / 10000.0 AS d7_rate,
               floor((CAST(count(DISTINCT CASE WHEN off = 14
                                 THEN user_id END) AS DOUBLE)
                      / (SELECT count(*) FROM signup)) * 10000.0
                     + 0.505) / 10000.0 AS d14_rate
        FROM offsets
    """,
    scale=(
        "Day-N retention (D1/D7/D14 — the growth metric): anchor day is "
        "a per-user min over signup events, activity reduces to distinct "
        "(user, day) BEFORE the join (both sides user-partitioned, one "
        "shuffle each), and all three horizons come from conditional "
        "distinct-counts over the SAME offset relation — adding D30 "
        "costs one more CASE, not another scan. Contrast "
        "events_user_lifecycle_states (calendar-week states) and "
        "retention_cohort (cohort matrix): this is the anchored-offset "
        "form product dashboards headline."
    ),
)
def events_day_n_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1/D7/D14 retention anchored on each user's first signup day."""
    ev = load_table(spark, sf_dir, "events")
    signup = ev.where(F.col("event_type") == "signup").groupBy(
        "user_id"
    ).agg(F.min(F.date_trunc("day", "ts")).alias("s_day"))
    activity = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).distinct()
    offsets = signup.join(activity, "user_id").select(
        "user_id", F.datediff(F.col("d"), F.col("s_day")).alias("off")
    )
    n_signups = signup.agg(F.count(F.lit(1)).alias("n_signups"))

    def retained(n):
        return F.count_distinct(
            F.when(F.col("off") == n, F.col("user_id"))
        )

    agg = offsets.agg(
        retained(1).alias("d1_retained"),
        retained(7).alias("d7_retained"),
        retained(14).alias("d14_retained"),
    )
    return agg.crossJoin(F.broadcast(n_signups)).select(
        "n_signups",
        "d1_retained",
        "d7_retained",
        "d14_retained",
        rnd(F.col("d1_retained").cast("double") / F.col("n_signups"), 4).alias("d1_rate"),
        rnd(F.col("d7_retained").cast("double") / F.col("n_signups"), 4).alias("d7_rate"),
        rnd(F.col("d14_retained").cast("double") / F.col("n_signups"), 4).alias("d14_rate"),
    )

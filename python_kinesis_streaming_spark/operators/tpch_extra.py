"""Second wave of TPC-H-shape analytical operators (Q7/Q8/Q10/Q14/Q15/Q18/
Q19/Q22 adapted to the fixture star schema, SURVEY §2.12).

These fill the decision-support shapes the first-wave modules don't cover:
bi-directional nation-pair joins (Q7), conditional market-share ratios (Q8),
top-k over a fact/dim join (Q10), single-pass conditional ratios (Q14),
scalar-subquery HAVING against a max (Q15), group-HAVING semi joins (Q18),
OR-of-ANDs disjunctive predicates (Q19), and scalar-subquery + anti-join
composition (Q22). The fixture schema has no partsupp and no
commitdate/receiptdate, so Q2/Q9/Q11/Q12/Q16/Q21 have no faithful analogue;
their distinctive sub-shapes (correlated min-cost, multi-EXISTS) are covered
by q17_correlated_avg / q20_nested_semi / subquery_exists_correlated.

Scale notes (100 TB):
- Every query keeps ONE fact-side shuffle chain (lineitem/orders); all
  dimension sides (nation, region, part-filtered, supplier) broadcast.
- Conditional ratios (Q8/Q14) are single-pass: sum(CASE)/sum — one partial
  agg, never two scans or a self-join.
- Q15's "= max" runs the per-supplier agg once, broadcasts the 1-row max
  back as a literal-like scalar subquery — no re-aggregation.
- Q18's HAVING pre-aggregates lineitem to orderkey grain BEFORE the
  customer join, so the join input is |orders|-sized, not |lineitem|.
- Q19's disjunction is expressed as one predicate on the joined row —
  Catalyst extracts the common p_partkey equi-key and pushes the residual;
  the partkey IN-list stays out of the scan but brand/size prune part.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from python_kinesis_streaming_spark.functions.rounding import rnd, sql_rnd
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table, table_view


@op(
    "q7_nation_volume",
    oracle=f"""
        SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
               CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
               {sql_rnd("sum(l.l_extendedprice * (1 - l.l_discount))")} AS revenue
        FROM lineitem l
        JOIN orders o    ON l.l_orderkey = o.o_orderkey
        JOIN customer c  ON o.o_custkey = c.c_custkey
        JOIN supplier s  ON l.l_suppkey = s.s_suppkey
        JOIN nation cn   ON c.c_nationkey = cn.n_nationkey
        JOIN nation sn   ON s.s_nationkey = sn.n_nationkey
        JOIN region cr   ON cn.n_regionkey = cr.r_regionkey
        JOIN region sr   ON sn.n_regionkey = sr.r_regionkey
        WHERE cr.r_name = 'ASIA' AND sr.r_name = 'ASIA'
          AND c.c_nationkey <> s.s_nationkey
        GROUP BY sn.n_name, cn.n_name, CAST(year(o.o_orderdate) AS INTEGER)
    """,
    scale=(
        "TPC-H Q7 shape: cross-nation trade volume. The two nation/region "
        "lookups broadcast (twice-aliased tiny dims); supplier broadcasts; "
        "the only shuffles are lineitem->orders->customer on their keys. "
        "Output cardinality is |nation_pairs|x|years| — tiny at any SF."
    ),
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bi-directional nation-pair revenue by year within one region."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    cn = n.alias("cn")
    sn = n.alias("sn")
    cr = r.alias("cr")
    sr = r.alias("sr")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn.n_nationkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn.n_nationkey"))
        .join(F.broadcast(cr), F.col("cn.n_regionkey") == F.col("cr.r_regionkey"))
        .join(F.broadcast(sr), F.col("sn.n_regionkey") == F.col("sr.r_regionkey"))
        .where(
            (F.col("cr.r_name") == "ASIA")
            & (F.col("sr.r_name") == "ASIA")
            & (F.col("c_nationkey") != F.col("s_nationkey"))
        )
        .groupBy(
            F.col("sn.n_name").alias("supp_nation"),
            F.col("cn.n_name").alias("cust_nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            rnd(
                F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
            ).alias("revenue")
        )
    )


@op(
    "q8_market_share",
    oracle=f"""
        SELECT o_year,
               {sql_rnd("sum(nation_vol) / sum(vol)", 6)} AS mkt_share
        FROM (
            SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
                   l.l_extendedprice * (1 - l.l_discount) AS vol,
                   CASE WHEN sn.n_name = 'NATION_2'
                        THEN l.l_extendedprice * (1 - l.l_discount)
                        ELSE 0 END AS nation_vol
            FROM lineitem l
            JOIN orders o   ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
            JOIN region cr  ON cn.n_regionkey = cr.r_regionkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
            JOIN part p     ON l.l_partkey = p.p_partkey
            WHERE cr.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
        )
        GROUP BY o_year
    """,
    scale=(
        "TPC-H Q8 shape: market share as ONE conditional-sum pass — "
        "sum(CASE)/sum in the same partial agg, no self-join, no second "
        "scan. part is pre-filtered to one p_type before broadcasting, so "
        "the broadcast side is |part|/6."
    ),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-year revenue share of one supplier nation within a region+type."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    p = load_table(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    cn = n.alias("cn")
    sn = n.alias("sn")
    vol = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn.n_nationkey"))
        .join(F.broadcast(r), F.col("cn.n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn.n_nationkey"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .where(F.col("r_name") == "ASIA")
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            rnd(
                F.sum(F.when(F.col("sn.n_name") == "NATION_2", vol).otherwise(F.lit(0)))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
    )


@op(
    "q10_returned_topk",
    oracle=f"""
        SELECT c_custkey, c_name, n_name,
               {sql_rnd("sum(l_extendedprice * (1 - l_discount))")} AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    scale=(
        "TPC-H Q10 shape: returned-item revenue per customer, global top-20. "
        "The returnflag filter pushes to the lineitem scan (drops ~2/3 of "
        "the fact side before the join); the LIMIT compiles to "
        "TakeOrderedAndProject — per-partition top-20 heaps, only 20xP rows "
        "cross the final exchange. c_custkey tie-break makes the top-k set "
        "deterministic."
    ),
)
def q10_returned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 20 customers by revenue lost to returned items."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            rnd(
                F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@op(
    "q14_promo_ratio",
    oracle=f"""
        SELECT {sql_rnd(
            "100.0 * sum(CASE WHEN p_type = 'PROMO' "
            "THEN l_extendedprice * (1 - l_discount) ELSE 0 END) "
            "/ sum(l_extendedprice * (1 - l_discount))", 6)} AS promo_revenue_pct
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1995-03-01'
          AND l_shipdate < TIMESTAMP '1995-04-01'
    """,
    scale=(
        "TPC-H Q14 shape: promo share as one conditional-sum global agg. "
        "The shipdate range pushes to the lineitem scan (one month of "
        "data); part broadcasts; a single partial-agg pass computes both "
        "sums — the classic two-queries-in-one-scan pattern."
    ),
)
def q14_promo_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotional revenue percentage for one ship month."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-04-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    vol = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            rnd(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0)))
                / F.sum(vol),
                6,
            ).alias("promo_revenue_pct")
        )
    )


@op(
    "q15_top_supplier",
    oracle=f"""
        WITH rev AS (
            SELECT l_suppkey AS supplier_no,
                   {sql_rnd("sum(l_extendedprice * (1 - l_discount))")} AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-07-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier JOIN rev ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
    scale=(
        "TPC-H Q15 shape: the per-supplier agg runs ONCE (CTE); the max is "
        "a 1-row scalar subquery over the agg result, not a re-aggregation "
        "of lineitem. Equality compares the floor-rounded double — "
        "bit-identical on both engines. At 100 TB the rev CTE is "
        "|supplier|-sized; Spark reuses the cached agg for both branches."
    ),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) achieving the maximum revenue over one half-year."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            rnd(
                F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
            ).alias("total_revenue")
        )
    )
    max_rev = rev.agg(F.max("total_revenue").alias("m"))
    return (
        s.join(rev, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(max_rev), F.col("total_revenue") == F.col("m"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@op(
    "q18_large_orders",
    oracle="""
        SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
               sum(l_quantity) AS total_qty
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey HAVING sum(l_quantity) > 170
        )
        GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    """,
    scale=(
        "TPC-H Q18 shape: the HAVING subquery pre-aggregates lineitem to "
        "orderkey grain (map-side partial sums), and the IN becomes a "
        "LeftSemi join feeding the customer join — so the expensive 3-way "
        "join only sees qualifying orders (~1% of the fact side). No "
        "correlated re-execution; one shuffle per join key."
    ),
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers whose orders exceed 170 total units (large-volume orders)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .where(F.col("q") > 170)
        .select("l_orderkey")
    )
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(
            big.withColumnRenamed("l_orderkey", "big_orderkey"),
            F.col("o_orderkey") == F.col("big_orderkey"),
            "left_semi",
        )
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("total_qty"))
    )


@op(
    "q19_disjunctive_pred",
    oracle=f"""
        SELECT {sql_rnd("sum(l_extendedprice * (1 - l_discount))")} AS revenue,
               count(*) AS n_rows
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
               AND l_quantity BETWEEN 10 AND 35)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
               AND l_quantity BETWEEN 20 AND 50)
    """,
    scale=(
        "TPC-H Q19 shape: OR-of-ANDs. Catalyst keeps the p_partkey equi-key "
        "so this is a hash join (never a cartesian); the disjunction splits "
        "into a pushable part residual (brand/size — prunes the broadcast "
        "build side) and a post-join residual (quantity crosses tables). "
        "CNF conversion derives l_quantity BETWEEN 1 AND 50 for the scan."
    ),
)
def q19_disjunctive_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue under a 3-branch disjunctive brand/size/quantity predicate."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    branch = lambda brand, s_lo, s_hi, q_lo, q_hi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(s_lo, s_hi)
        & F.col("l_quantity").between(q_lo, q_hi)
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .where(
            branch("Brand#1", 1, 15, 1, 20)
            | branch("Brand#2", 10, 30, 10, 35)
            | branch("Brand#3", 20, 50, 20, 50)
        )
        .agg(
            rnd(
                F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@op(
    "q22_idle_above_avg",
    oracle=f"""
        SELECT c_mktsegment, count(*) AS n_cust,
               {sql_rnd("sum(c_acctbal)")} AS total_bal
        FROM customer c
        WHERE c_acctbal > (
            SELECT floor(avg(c_acctbal) * 100.0 + 0.505) / 100.0 FROM customer
        )
          AND NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= TIMESTAMP '2001-01-01'
        )
        GROUP BY c_mktsegment
    """,
    scale=(
        "TPC-H Q22 shape: scalar subquery (global avg, one tiny job, "
        "inlined) + anti join against recent orders + group agg. The anti "
        "join's build side is the FILTERED orders (last year only) — at "
        "100 TB that's the partition-pruned tail, not the full fact table. "
        "NOT EXISTS decorrelates to LeftAnti on o_custkey."
    ),
)
def q22_idle_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Above-average-balance customers with no orders in the final year."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    avg_bal = c.agg(rnd(F.avg("c_acctbal")).alias("ab"))
    return (
        c.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("ab"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            rnd(F.sum("c_acctbal")).alias("total_bal"),
        )
    )


@op(
    "q12_late_shipments",
    oracle=f"""
        SELECT o_orderpriority,
               count(*) AS n_items,
               CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
               {sql_rnd(
                   "100.0 * sum(CASE WHEN l_shipdate > o_orderdate + "
                   "INTERVAL 60 DAY THEN 1 ELSE 0 END) / count(*)", 4)}
                   AS late_pct
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """,
    scale=(
        "TPC-H Q12 shape: shipping-lateness classification as conditional "
        "counts in ONE pass over the join — the lateness predicate is a "
        "per-row expression (no pre-filter possible since both outcomes are "
        "counted), so the plan is join + single partial agg keyed on the "
        "5-value priority. Map-side combine collapses to 5 rows per task."
    ),
)
def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-shipment rate (>60 days after order) per order priority."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    late = (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    ).cast("int")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(late).alias("n_late"),
            rnd(F.lit(100.0) * F.sum(late) / F.count(F.lit(1)), 4).alias("late_pct"),
        )
    )


@op(
    "join_hinted_sql",
    oracle=f"""
        SELECT n_name,
               count(*) AS n_orders,
               {sql_rnd("sum(o_totalprice)")} AS total_price
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    scale=(
        "SQL hint surface (entry point E2): /*+ BROADCAST(n) */ pins the "
        "dimension broadcast and /*+ MERGE(c) */ forces a sort-merge for "
        "the fact-fact join even when stats would pick something else — "
        "the escape hatch when the optimizer mis-sizes a 100 TB input "
        "(stale stats, opaque UDF-derived sides). Semantics are hint-"
        "independent; the oracle is the plain join."
    ),
)
def join_hinted_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation order totals through spark.sql with explicit join-strategy
    hints (MERGE on the big join, BROADCAST on the dim)."""
    v_o = table_view(spark, sf_dir, "orders")
    v_c = table_view(spark, sf_dir, "customer")
    v_n = table_view(spark, sf_dir, "nation")
    # CAST AS DOUBLE: Spark SQL decimal literals (100.0) otherwise infect
    # the floor()/division chain into a DecimalType result (round-1 quirk).
    return spark.sql(f"""
        SELECT /*+ MERGE(c), BROADCAST(n) */
               n_name,
               count(*) AS n_orders,
               CAST({sql_rnd("sum(o_totalprice)")} AS DOUBLE) AS total_price
        FROM {v_o} o
        JOIN {v_c} c ON o_custkey = c_custkey
        JOIN {v_n} n ON c_nationkey = n_nationkey
        GROUP BY n_name
    """)


@op(
    "q6_forecast_revenue",
    oracle=f"""
        SELECT {sql_rnd("sum(l_extendedprice * l_discount)")} AS revenue,
               count(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    scale=(
        "TPC-H Q6: the pure-pushdown query — ALL three predicates reach the "
        "parquet scan (row-group stats skip most of the table), then a "
        "single partial-agg sum. The canonical scan-bandwidth benchmark: "
        "no join, no shuffle beyond the 1-row final agg; at 100 TB its "
        "cost is (selectivity x bytes)/scan-rate, nothing else."
    ),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-change forecast: discounted revenue in one ship-year under
    quantity/discount bands (scan + filter + global agg only)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            rnd(F.sum(F.col("l_extendedprice") * F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@op(
    "orders_yoy_growth",
    oracle=f"""
        WITH yearly AS (
            SELECT n_name,
                   CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   {sql_rnd("sum(o_totalprice)")} AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            GROUP BY n_name, CAST(year(o_orderdate) AS INTEGER)
        )
        SELECT n_name, o_year, revenue,
               lag(revenue) OVER (PARTITION BY n_name ORDER BY o_year)
                   AS prev_revenue,
               CASE WHEN lag(revenue) OVER (PARTITION BY n_name ORDER BY o_year)
                         IS NULL THEN NULL
                    ELSE {sql_rnd(
                        "100.0 * (revenue - lag(revenue) OVER "
                        "(PARTITION BY n_name ORDER BY o_year)) "
                        "/ lag(revenue) OVER (PARTITION BY n_name ORDER BY o_year)",
                        4)}
               END AS yoy_pct
        FROM yearly
    """,
    scale=(
        "Year-over-year growth: aggregate to (nation, year) grain FIRST "
        "(partial aggs collapse the fact side to |nations|x|years| rows), "
        "THEN window-lag over the tiny aggregate — the window never sees "
        "raw orders. Growth ratios computed on the already-rounded yearly "
        "revenue, so the derived percentage is engine-exact."
    ),
)
def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation yearly revenue with lag-based year-over-year growth %."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    yearly = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", F.year("o_orderdate").alias("o_year"))
        .agg(rnd(F.sum("o_totalprice")).alias("revenue"))
    )
    w = Window.partitionBy("n_name").orderBy("o_year")
    prev = F.lag("revenue").over(w)
    return yearly.select(
        "n_name",
        "o_year",
        "revenue",
        prev.alias("prev_revenue"),
        F.when(prev.isNull(), F.lit(None).cast("double"))
        .otherwise(rnd(F.lit(100.0) * (F.col("revenue") - prev) / prev, 4))
        .alias("yoy_pct"),
    )


@op(
    "orders_dormancy_winback",
    oracle="""
        WITH gaps AS (
            SELECT o_custkey,
                   date_diff('day',
                             CAST(lag(o_orderdate) OVER w AS DATE),
                             CAST(o_orderdate AS DATE)) AS gap_days
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey)
        )
        SELECT o_custkey AS custkey,
               count(*) AS n_reorders,
               CAST(count_if(gap_days > 60) AS BIGINT) AS n_winbacks,
               CAST(max(gap_days) AS BIGINT) AS max_gap_days
        FROM gaps WHERE gap_days IS NOT NULL
        GROUP BY o_custkey
        HAVING count_if(gap_days > 60) > 0
    """,
    scale=(
        "Dormancy / win-back detection: one lag window and one agg on the "
        "same o_custkey partitioning — a single shuffle finds every "
        "customer who went quiet >60 days and returned. Integer day gaps "
        "(no float thresholds); the CRM re-activation feed, and the "
        "HAVING keeps the output to the actionable subset."
    ),
)
def orders_dormancy_winback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with >60-day order gaps that later re-ordered: reorder
    count, win-back count, and longest dormancy."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("gap_days"),
    ).where(F.col("gap_days").isNotNull())
    return (
        gaps.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_reorders"),
            F.count_if(F.col("gap_days") > 60).alias("n_winbacks"),
            F.max("gap_days").cast("long").alias("max_gap_days"),
        )
        .where(F.col("n_winbacks") > 0)
    )


@op(
    "li_supplier_hhi",
    oracle=f"""
        WITH rev AS (
            SELECT p.p_type, l.l_suppkey,
                   sum(l.l_extendedprice * (1 - l.l_discount)) AS r
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY p.p_type, l.l_suppkey
        ),
        tot AS (SELECT p_type, sum(r) AS t FROM rev GROUP BY p_type)
        SELECT rev.p_type,
               count(*) AS n_suppliers,
               {sql_rnd("sum((r / t) * (r / t))", 6)} AS hhi
        FROM rev JOIN tot USING (p_type)
        GROUP BY rev.p_type
    """,
    scale=(
        "Herfindahl-Hirschman concentration per market segment: two "
        "partial aggs on the same (p_type, suppkey) grain, the totals "
        "table is |types| rows (broadcast back), and Σ share² is one more "
        "tiny agg. The supplier-risk metric procurement dashboards track; "
        "scales as the already-reduced side like gini/pareto."
    ),
)
def li_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier revenue concentration (HHI) within each part type."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(p.select("p_partkey", "p_type")),
                li["l_partkey"] == p["p_partkey"])
        .groupBy("p_type", "l_suppkey")
        .agg(
            F.sum(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
            ).alias("r")
        )
    )
    tot = rev.groupBy("p_type").agg(F.sum("r").alias("t"))
    share = F.col("r") / F.col("t")
    return (
        rev.join(F.broadcast(tot), "p_type")
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            rnd(F.sum(share * share), 6).alias("hhi"),
        )
    )


@op(
    "q4_order_priority",
    oracle="""
        SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1997-01-01'
          AND EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
          )
        GROUP BY o.o_orderpriority
    """,
    scale=(
        "TPC-H Q4 shape (late-shipment priority check; the fixture has no "
        "commitdate/receiptdate, so 'late' = shipped >60 days after order). "
        "Left-semi join on the orderkey equi-key with the lateness residual "
        "evaluated inside the join — lineitem is never widened or "
        "re-aggregated, the semi join short-circuits per orderkey, and the "
        "date window prunes orders before the shuffle. One shuffle chain; "
        "output is 5 rows at any SF."
    ),
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders per priority that had at least one late (>60d) shipment."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o = o.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    late = (
        (li["l_orderkey"] == o["o_orderkey"])
        & (li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 60 DAYS"))
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )


@op(
    "q9_product_profit",
    oracle=f"""
        SELECT n.n_name AS nation,
               CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
               {sql_rnd("sum(l.l_extendedprice * (1 - l.l_discount)"
                        " - 0.6 * p.p_retailprice * l.l_quantity)")} AS profit
        FROM lineitem l
        JOIN part p     ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        WHERE p.p_name LIKE '%red%'
        GROUP BY n.n_name, CAST(year(o.o_orderdate) AS INTEGER)
    """,
    scale=(
        "TPC-H Q9 shape (product-line profit by supplier nation x year; no "
        "partsupp in the fixture, so supply cost = 0.6 x p_retailprice). "
        "part is filtered by the name predicate BEFORE the join and "
        "broadcast — at 100 TB the filtered part side is the classic "
        "broadcast-after-prune win; supplier/nation broadcast; the only "
        "shuffles are lineitem->orders on orderkey and the final tiny "
        "(nation, year) agg, with partial aggregation map-side."
    ),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit by supplier nation and order year for one product family."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    profit = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) - (
        F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(p.select("p_partkey", "p_retailprice")),
                li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s.select("s_suppkey", "s_nationkey")),
              li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .join(o.select("o_orderkey", "o_orderdate"),
              li["l_orderkey"] == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(rnd(F.sum(profit)).alias("profit"))
    )


@op(
    "q11_important_stock",
    oracle=f"""
        WITH pv AS (
            SELECT l.l_partkey AS p_partkey,
                   sum(l.l_extendedprice) AS val
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n   ON s.s_nationkey = n.n_nationkey
            JOIN region r   ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'EUROPE'
            GROUP BY l.l_partkey
        )
        SELECT p_partkey, {sql_rnd("val")} AS stock_value
        FROM pv
        WHERE {sql_rnd("val")} > (SELECT {sql_rnd("sum(val) * 0.001")} FROM pv)
    """,
    scale=(
        "TPC-H Q11 shape (important-stock scan; inventory value stands in "
        "for ps_supplycost*ps_availqty). One partkey-grain partial agg over "
        "the region-filtered fact, then the grand total (1 row) joins back "
        "as a broadcast scalar — the per-part relation is aggregated ONCE "
        "and reused for both the threshold and the output, never re-scanned. "
        "Both sides of the > compare through the shared floor-rounding so "
        "the cut is bit-identical across engines."
    ),
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose regional stock value exceeds 0.1% of the regional total."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    eu_supp = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r.where(F.col("r_name") == "EUROPE")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )
    pv = (
        li.join(F.broadcast(eu_supp), li["l_suppkey"] == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(F.sum("l_extendedprice").alias("val"))
    )
    pv = pv.persist()
    thr = pv.agg(rnd(F.sum("val") * F.lit(0.001)).alias("thr"))
    return (
        pv.crossJoin(F.broadcast(thr))
        .where(rnd(F.col("val")) > F.col("thr"))
        .select("p_partkey", rnd(F.col("val")).alias("stock_value"))
    )


@op(
    "q16_parts_supplier",
    oracle="""
        SELECT p.p_brand, p.p_type, p.p_size,
               CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand <> 'Brand#1'
          AND p.p_type <> 'PROMO'
          AND p.p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
          AND l.l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
          )
        GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    scale=(
        "TPC-H Q16 shape (supplier diversity per part family; lineitem "
        "supply relationships stand in for partsupp, negative-balance "
        "suppliers for the complaints blacklist). The blacklist is a tiny "
        "broadcast anti join BEFORE the distinct agg; brand/type/size "
        "predicates prune part pre-broadcast. count(DISTINCT suppkey) "
        "shuffles on the (brand,type,size) group key only after a "
        "map-side partial distinct on (group, suppkey)."
    ),
)
def q16_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct non-blacklisted suppliers per (brand, type, size) family."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34)
    )
    bad = load_table(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li["l_suppkey"] == F.col("s_suppkey"),
                "left_anti")
        .join(F.broadcast(p.select("p_partkey", "p_brand", "p_type", "p_size")),
              li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@op(
    "q21_waiting_supplier",
    oracle="""
        WITH g AS (
            SELECT l.l_orderkey, l.l_suppkey, max(l.l_shipdate) AS s_max
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderstatus = 'F'
            GROUP BY l.l_orderkey, l.l_suppkey
        ),
        w AS (
            SELECT *,
                   max(s_max) OVER (PARTITION BY l_orderkey) AS o_max,
                   count(*) OVER (PARTITION BY l_orderkey) AS n_supp
            FROM g
        ),
        w2 AS (
            SELECT *,
                   sum(CASE WHEN s_max = o_max THEN 1 ELSE 0 END)
                       OVER (PARTITION BY l_orderkey) AS n_attain
            FROM w
        )
        SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
        FROM w2
        JOIN supplier s ON w2.l_suppkey = s.s_suppkey
        WHERE n_supp >= 2 AND s_max = o_max AND n_attain = 1
        GROUP BY s.s_name
    """,
    scale=(
        "TPC-H Q21 shape (suppliers who kept finished multi-supplier orders "
        "waiting = the order's unique latest shipper). lineitem is first "
        "reduced to (orderkey, suppkey) grain — the exists/not-exists pair "
        "of the original becomes two window functions over that already-"
        "aggregated relation, so the per-order state is |suppliers-per-"
        "order| rows, not lineitems. One shuffle on orderkey serves the "
        "agg AND both windows (same partitioning, no re-exchange); the "
        "supplier name lookup broadcasts."
    ),
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count of finished multi-supplier orders each supplier shipped last."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    s = load_table(spark, sf_dir, "supplier")
    g = (
        li.join(o, li["l_orderkey"] == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("l_shipdate").alias("s_max"))
    )
    w = Window.partitionBy("l_orderkey")
    w2 = (
        g.withColumn("o_max", F.max("s_max").over(w))
        .withColumn("n_supp", F.count(F.lit(1)).over(w))
        .withColumn(
            "n_attain",
            F.sum(
                F.when(F.col("s_max") == F.col("o_max"), 1).otherwise(0)
            ).over(w),
        )
    )
    return (
        w2.where(
            (F.col("n_supp") >= 2)
            & (F.col("s_max") == F.col("o_max"))
            & (F.col("n_attain") == 1)
        )
        .join(F.broadcast(s.select("s_suppkey", "s_name")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
    )


@op(
    "trade_flow_matrix",
    oracle="""
        SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100
                                   + 0.505) AS BIGINT)) AS BIGINT)
                   AS revenue_cents
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        GROUP BY cn.n_name, sn.n_name
    """,
    scale=(
        "The full customer-nation x supplier-nation revenue matrix (Q7 "
        "without its two-nation filter): one pass over the fact, every "
        "dim chain sized to its role: orders and customer "
        "scale WITH the fact, so they join shuffled on their keys "
        "(AQE converts them to broadcast only when runtime stats "
        "allow); nation and supplier are true dims and broadcast "
        "unconditionally. The output is a bounded "
        "25x25 grid from map-side-combining partials. Integer-cents "
        "revenue keeps the sum exact and HUGEINT-proof."
    ),
)
def trade_flow_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue flow matrix: customer nation x supplier nation."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    cn = nat.select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_name").alias("cust_nation"),
    )
    sn = nat.select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"),
    )
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        + F.lit(0.505)
    ).cast("long")
    return (
        li.join(od.select("o_orderkey", "o_custkey"),
                li.l_orderkey == F.col("o_orderkey"))
        .join(cust.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(supp.select("s_suppkey", "s_nationkey")),
              li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy("cust_nation", "supp_nation")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(cents).alias("revenue_cents"),
        )
    )

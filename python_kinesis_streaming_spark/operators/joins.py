"""§2.3 Joins (SURVEY.md). Batch joins; stream joins live in streaming/ops.py.

Scale notes (100 TB):
- Dimension joins (`part`, `nation`, `region`, `customer` at star-schema
  ratios) are explicitly `F.broadcast(...)`: no shuffle of the fact side.
- Fact-fact joins shuffle on the join key; AQE handles skew splitting and
  SMJ→SHJ/broadcast conversion at runtime. For repeated co-located joins at
  100 TB, bucket both facts on the key (`bucketBy(N, key)`) to eliminate
  the shuffle entirely.
- The theta/range self-join keeps an equi prefix (`user_id`) so Catalyst
  plans a hash/SMJ join with a range residual — NEVER a cartesian product;
  pair blowup is bounded by per-user event density × window.
- The as-of join is the union+window trick: one shuffle on (user), no
  pairwise expansion — this is the 100 TB-safe formulation (a pairs join
  + filter would be quadratic in per-user density).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from python_kinesis_streaming_spark.functions.rounding import rnd, sql_rnd
from python_kinesis_streaming_spark.operators.scans import SCRATCH
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table, table_view
from python_kinesis_streaming_spark.sources.tables import sf_tag as fixture_tag


@op(
    "join_broadcast",
    oracle=f"""
        SELECT p_brand,
               {sql_rnd("sum(l_extendedprice * (1 - l_discount))")} AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
    """,
    scale="Small dim broadcast → map-side join, zero shuffle of lineitem.",
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ broadcast dim: revenue per part brand."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            rnd(F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@op(
    "join_shuffle_hash_smj",
    oracle=f"""
        SELECT o_orderkey, o_orderdate,
               {sql_rnd("sum(l_extendedprice * (1 - l_discount))")} AS revenue,
               count(*) AS n_lines
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderkey, o_orderdate
    """,
    scale=(
        "Fact-fact equi-join: both sides shuffle on orderkey (or zero "
        "shuffle if both bucketed on it); AQE picks SMJ/SHJ + skew split."
    ),
)
def join_shuffle_hash_smj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ lineitem with per-order revenue rollup."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            rnd(F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@op(
    "join_multiway",
    oracle=f"""
        SELECT n_name,
               {sql_rnd("sum(l_extendedprice * (1 - l_discount))")} AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n_name
    """,
    scale=(
        "TPC-H Q5 shape: one fact-side shuffle chain; nation/region/supplier "
        "broadcast; CBO/AQE reorder the chain. The c_nationkey=s_nationkey "
        "residual rides the supplier broadcast."
    ),
)
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-table TPC-H Q5-shape join: local-supplier revenue per nation."""
    t = {n: load_table(spark, sf_dir, n) for n in
         ("customer", "orders", "lineitem", "supplier", "nation", "region")}
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(t["supplier"]),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .where(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("n_name")
        .agg(rnd(F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))).alias("revenue"))
    )


@op(
    "join_outer",
    oracle="""
        SELECT c_custkey, c_mktsegment, o_orderkey, o_totalprice
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority = '1-URGENT'
    """,
    scale="Outer joins preserve the streamed side; null-fill is free.",
)
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join: every customer, with URGENT orders or nulls."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders,
        (customer.c_custkey == orders.o_custkey)
        & (orders.o_orderpriority == "1-URGENT"),
        "left",
    ).select("c_custkey", "c_mktsegment", "o_orderkey", "o_totalprice")


@op(
    "join_semi",
    oracle="""
        SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
    scale="Semi-join shuffles only distinct keys of the probe side.",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers having ≥1 URGENT order (left semi)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT")
    return customer.join(
        urgent, customer.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@op(
    "join_anti",
    oracle="""
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
    scale="Anti-join: same distinct-key shuffle as semi.",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no URGENT orders (left anti; 203 rows at sf0.01)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT")
    return customer.join(
        urgent, customer.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@op(
    "join_theta_range",
    oracle="""
        SELECT a.user_id, a.event_id AS e1, b.event_id AS e2,
               epoch_us(CAST(b.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP)) AS gap_us
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND CAST(b.ts AS TIMESTAMP) > CAST(a.ts AS TIMESTAMP)
         AND CAST(b.ts AS TIMESTAMP)
             <= CAST(a.ts AS TIMESTAMP) + INTERVAL 5 MINUTES
    """,
    scale=(
        "Equi prefix (user_id) + range residual → hash join, not NL/cross. "
        "At 100 TB additionally bucketize time (join on user AND time-bucket "
        "of width=range, probing adjacent buckets) to bound the residual scan."
    ),
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self range-join: event pairs of the same user within 5 minutes."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.select(
        F.col("user_id"), F.col("event_id").alias("e1"), F.col("ts").alias("ts1")
    )
    b = ev.select(
        F.col("user_id").alias("user_id_b"),
        F.col("event_id").alias("e2"),
        F.col("ts").alias("ts2"),
    )
    return (
        a.join(
            b,
            (F.col("user_id") == F.col("user_id_b"))
            & (F.col("ts2") > F.col("ts1"))
            & (F.col("ts2") <= F.col("ts1") + F.expr("INTERVAL 5 MINUTES")),
        )
        .select(
            "user_id",
            "e1",
            "e2",
            (F.unix_micros("ts2") - F.unix_micros("ts1")).alias("gap_us"),
        )
    )


@op(
    "join_asof",
    oracle="""
        SELECT p.event_id AS purchase_id, p.user_id,
               CAST(p.ts AS TIMESTAMP) AS purchase_ts,
               (SELECT max(CAST(c.ts AS TIMESTAMP)) FROM events c
                WHERE c.event_type = 'click' AND c.user_id = p.user_id
                  AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
               ) AS last_click_ts
        FROM events p WHERE p.event_type = 'purchase'
    """,
    scale=(
        "Union + running `last(ignorenulls)` window: ONE shuffle on user_id, "
        "linear state — the scale-safe as-of formulation (a pairwise join "
        "would be quadratic in per-user density). Spark lacks native ASOF; "
        "this composition is the idiomatic substitute."
    ),
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the latest click of the same user at
    or before it (click-attribution shape)."""
    ev = load_table(spark, sf_dir, "events")
    # kind 0 = click (sorts before purchases at equal ts → 'at/before' incl.)
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(0).alias("kind"),
        F.col("ts").alias("click_ts"), F.lit(None).cast("long").alias("purchase_id"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(1).alias("kind"),
        F.lit(None).cast("timestamp").alias("click_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = clicks.unionByName(purchases).withColumn(
        "last_click_ts", F.last("click_ts", ignorenulls=True).over(w)
    )
    return merged.where(F.col("kind") == 1).select(
        "purchase_id", "user_id", F.col("ts").alias("purchase_ts"), "last_click_ts"
    )


@op(
    "join_skew_salted",
    oracle=f"""
        SELECT o_orderpriority,
               {sql_rnd("sum(l_extendedprice * (1 - l_discount))")} AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """,
    scale=(
        "Manual skew salting (the pre-AQE / beyond-AQE tool): big side's "
        "key becomes (key, salt) with salt derived per row; small side is "
        "exploded x SALT_BUCKETS so every salted key finds its match. A hot "
        "key's rows now spread over SALT_BUCKETS reducers instead of one. "
        "Cost: small side replicated xN - use only on diagnosed hot keys "
        "(AQE skew-join split handles the moderate cases for free)."
    ),
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi join via explicit salting; result identical to the
    plain join (the oracle) - salting is pure physical redistribution."""
    SALT_BUCKETS = 8
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        # Deterministic per-row salt; any per-row-varying value works.
        "_salt", F.pmod(F.xxhash64("l_linenumber", "l_partkey"), F.lit(SALT_BUCKETS))
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .withColumn("_salt", F.explode(F.array(*[F.lit(i) for i in range(SALT_BUCKETS)])))
    )
    joined = li.join(
        orders,
        (li.l_orderkey == orders.o_orderkey) & (li._salt == orders._salt),
    )
    return joined.groupBy("o_orderpriority").agg(
        rnd(F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


@op(
    "join_bucketed",
    oracle=f"""
        SELECT o_orderstatus,
               {sql_rnd("sum(l_quantity)")} AS sum_qty,
               count(*) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderstatus
    """,
    scale=(
        "Bucketed co-located join: both facts written bucketBy(8, key) + "
        "sortBy(key); the SMJ then needs NO Exchange and NO Sort on either "
        "side (asserted in tests/test_plans.py). At 100 TB this is THE "
        "repeated-join layout: pay one bucketed write, join shuffle-free "
        "forever after. Bucket count scales with cluster width."
    ),
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact-fact join over bucket-co-located tables."""
    sf_tag = fixture_tag(sf_dir)
    names = {}
    for t, key in [("lineitem", "l_orderkey"), ("orders", "o_orderkey")]:
        name = f"bkt_{t}_{sf_tag}"
        if not spark.catalog.tableExists(name):
            path = os.path.join(SCRATCH, "bucketed", sf_tag, t)
            (
                load_table(spark, sf_dir, t)
                .write.mode("overwrite")
                .bucketBy(8, key)
                .sortBy(key)
                .option("path", path)
                .saveAsTable(name)
            )
        names[t] = name
        # Another session (concurrent pytest, a rebuilt scratch dir) may
        # have replaced the files under this path since this session first
        # listed them; refresh drops the cached listing so the read can't
        # hit FAILED_READ_FILE.FILE_NOT_EXIST on stale part-file names.
        spark.catalog.refreshTable(name)
    li = spark.table(names["lineitem"]).select("l_orderkey", "l_quantity")
    orders = spark.table(names["orders"]).select("o_orderkey", "o_orderstatus")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
    return joined.groupBy("o_orderstatus").agg(
        rnd(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_items"),
    )


@op(
    "join_range_bucketed",
    oracle="""
        SELECT a.user_id, a.event_id AS e1, b.event_id AS e2,
               epoch_us(CAST(b.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP)) AS gap_us
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND CAST(b.ts AS TIMESTAMP) > CAST(a.ts AS TIMESTAMP)
         AND CAST(b.ts AS TIMESTAMP)
             <= CAST(a.ts AS TIMESTAMP) + INTERVAL 5 MINUTES
    """,
    scale=(
        "The 100 TB range-join plan join_theta_range's scale note "
        "prescribes, implemented: time is bucketized at the range width "
        "(5 min), the probe side is exploded to (bucket, bucket-1), and "
        "the join becomes EQUI on (user_id, bucket) with the exact range "
        "as a cheap residual filter. The residual scan per probe row is "
        "bounded by two buckets' worth of build rows — independent of "
        "per-user history length — and the equi key feeds a plain "
        "hash/SMJ join (never nested-loop). Identical result set to "
        "join_theta_range (same oracle), different physical strategy."
    ),
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self range-join via time-bucket equi-join: same-user event pairs
    within 5 minutes, bucketized to bound the probe space."""
    ev = load_table(spark, sf_dir, "events")
    bucket_us = 300 * 1_000_000  # bucket width == range width (5 min)
    a = ev.select(
        "user_id",
        F.col("event_id").alias("e1"),
        F.col("ts").alias("ts1"),
        (F.unix_micros("ts") / F.lit(bucket_us)).cast("long").alias("bkt"),
    )
    # b matches a iff ts2 ∈ (ts1, ts1+5min] ⇒ bucket(b) ∈ {bucket(a), bucket(a)+1}
    # ⇒ explode b to claim keys (bucket, bucket-1); each (a,b) pair meets on
    # exactly one key (a's single bucket), so no post-join dedup is needed.
    b = ev.select(
        F.col("user_id").alias("user_id_b"),
        F.col("event_id").alias("e2"),
        F.col("ts").alias("ts2"),
        F.explode(
            F.array(
                (F.unix_micros("ts") / F.lit(bucket_us)).cast("long"),
                (F.unix_micros("ts") / F.lit(bucket_us)).cast("long") - 1,
            )
        ).alias("bkt_b"),
    )
    return (
        a.join(
            b,
            (F.col("user_id") == F.col("user_id_b")) & (F.col("bkt") == F.col("bkt_b")),
        )
        .where(
            (F.col("ts2") > F.col("ts1"))
            & (F.col("ts2") <= F.col("ts1") + F.expr("INTERVAL 5 MINUTES"))
        )
        .select(
            "user_id",
            "e1",
            "e2",
            (F.unix_micros("ts2") - F.unix_micros("ts1")).alias("gap_us"),
        )
    )


@op(
    "join_full_outer",
    oracle="""
        SELECT c_custkey, c_mktsegment, o_orderkey, o_totalprice
        FROM customer FULL OUTER JOIN orders
          ON c_custkey = o_custkey AND o_totalprice > 400000.0
    """,
    scale=(
        "Full outer preserves BOTH sides (null-padded): same single "
        "shuffle as an inner join; only SMJ/SHJ support it (no broadcast "
        "fallback), which AQE respects. The reconciliation join of two "
        "datasets that must both survive."
    ),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer ⟗ high-value orders: every customer AND every order kept,
    null-padded where the >400k condition finds no partner."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders,
        (customer.c_custkey == orders.o_custkey)
        & (orders.o_totalprice > 400000.0),
        "full_outer",
    ).select("c_custkey", "c_mktsegment", "o_orderkey", "o_totalprice")


@op(
    "join_asof_forward",
    oracle="""
        SELECT c.event_id AS click_id, c.user_id,
               CAST(c.ts AS TIMESTAMP) AS click_ts,
               (SELECT min(CAST(p.ts AS TIMESTAMP)) FROM events p
                WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
                  AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
               ) AS next_purchase_ts
        FROM events c WHERE c.event_type = 'click'
    """,
    scale=(
        "Forward as-of (next-event attribution): the mirror of join_asof — "
        "union + running first(ignorenulls) over a DESCENDING time order, "
        "still ONE shuffle on user_id and linear state. Forward+backward "
        "together cover both attribution directions without any pairwise "
        "join."
    ),
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each click, the EARLIEST purchase of the same user at or after
    it (time-to-convert shape)."""
    ev = load_table(spark, sf_dir, "events")
    # kind 0 = purchase: at equal ts it sorts before clicks in the
    # descending-time window, so 'at/after' is inclusive.
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(0).alias("kind"),
        F.col("ts").alias("purchase_ts"), F.lit(None).cast("long").alias("click_id"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(1).alias("kind"),
        F.lit(None).cast("timestamp").alias("purchase_ts"),
        F.col("event_id").alias("click_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.asc("kind"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = purchases.unionByName(clicks).withColumn(
        "next_purchase_ts", F.last("purchase_ts", ignorenulls=True).over(w)
    )
    return merged.where(F.col("kind") == 1).select(
        "click_id", "user_id", F.col("ts").alias("click_ts"), "next_purchase_ts"
    )


@op(
    "join_null_safe",
    oracle="""
        WITH keyed AS (
            SELECT CASE WHEN user_id % 7 = 0 THEN NULL
                        ELSE user_id % 50 END AS k,
                   event_type
            FROM events
        ),
        a AS (SELECT k, count(*) AS n_clicks FROM keyed
              WHERE event_type = 'click' GROUP BY k),
        b AS (SELECT k, count(*) AS n_purchases FROM keyed
              WHERE event_type = 'purchase' GROUP BY k)
        SELECT a.k AS k, n_clicks, n_purchases
        FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
    scale=(
        "Null-safe equi join (<=> / IS NOT DISTINCT FROM): Spark still "
        "plans a HASH join — the null-safe comparison compiles to a "
        "coalesce-wrapped equi key, so NULLs co-locate in one partition "
        "instead of degrading to a nested loop. Caveat at 100 TB: that "
        "makes NULL itself a skew key; if nulls dominate, pre-split them "
        "(union of null-only broadcast join + non-null hash join)."
    ),
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate clicks and purchases per nullable bucket key, then
    null-safe-join the two sides (NULL matches NULL)."""
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(
        F.when(F.col("user_id") % 7 == 0, None)
        .otherwise(F.col("user_id") % 50)
        .alias("k"),
        "event_type",
    )
    a = (
        keyed.where(F.col("event_type") == "click")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    b = (
        keyed.where(F.col("event_type") == "purchase")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    return a.join(b, a["k"].eqNullSafe(b["k"])).select(
        a["k"].alias("k"), "n_clicks", "n_purchases"
    )


@op(
    "join_lateral_topn",
    oracle="""
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c, LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t
        WHERE c.c_custkey < 50
    """,
    scale=(
        "Correlated LATERAL top-N per outer row — the SQL spelling of "
        "per-key top-k. Catalyst decorrelates it into a join + per-key "
        "windowed limit rather than re-running the subquery per row, so "
        "the plan is the same shuffle-once shape as the explicit "
        "row_number() variant (win_rank_topn) — LATERAL is surface, not "
        "a nested-loop sentence."
    ),
)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price for each customer below key 50, written as a
    correlated LATERAL subquery through the SQL parser."""
    vc = table_view(spark, sf_dir, "customer")
    vo = table_view(spark, sf_dir, "orders")
    return spark.sql(f"""
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM {vc} c, LATERAL (
            SELECT o_orderkey, o_totalprice FROM {vo} o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t
        WHERE c.c_custkey < 50
    """)


@op(
    "join_bloom_prefilter",
    oracle="""
        WITH k AS (
            SELECT c_custkey FROM customer WHERE c_acctbal > 7000
        ),
        kb AS (
            SELECT c_custkey, seed,
                   CAST(('0x' || substring(md5(CAST(seed AS VARCHAR) || ':' ||
                        CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 4096
                       AS bit
            FROM k, (VALUES (1), (2)) s(seed)
        ),
        bloom AS (
            SELECT bit // 32 AS word,
                   bit_or(1::BIGINT << (bit % 32)) AS bits
            FROM kb GROUP BY bit // 32
        ),
        pb AS (
            SELECT o_orderkey, o_custkey, seed,
                   CAST(('0x' || substring(md5(CAST(seed AS VARCHAR) || ':' ||
                        CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 4096
                       AS bit
            FROM orders, (VALUES (1), (2)) s(seed)
        ),
        hits AS (
            SELECT pb.o_orderkey, pb.o_custkey,
                   CASE WHEN bloom.bits IS NOT NULL
                             AND (bloom.bits & (1::BIGINT << (pb.bit % 32)))
                                 = (1::BIGINT << (pb.bit % 32))
                        THEN 1 ELSE 0 END AS hit
            FROM pb LEFT JOIN bloom ON pb.bit // 32 = bloom.word
        ),
        cand AS (
            SELECT o_orderkey, o_custkey,
                   CASE WHEN sum(hit) = 2 THEN 1 ELSE 0 END AS candidate
            FROM hits GROUP BY o_orderkey, o_custkey
        ),
        flagged AS (
            SELECT c.o_orderkey, c.candidate,
                   CASE WHEN k.c_custkey IS NULL THEN 0 ELSE 1 END AS matched
            FROM cand c LEFT JOIN k ON c.o_custkey = k.c_custkey
        )
        SELECT CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(candidate) AS BIGINT) AS n_candidates,
               CAST(sum(matched) AS BIGINT) AS n_matched,
               CAST(sum(CASE WHEN candidate = 1 AND matched = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
        FROM flagged
    """,
    scale=(
        "Explicit bloom-filter semi-join reduction — what Spark's runtime "
        "filter injection does, built as a first-class operator so the "
        "reduction is available across stages/jobs (e.g. persisted beside "
        "a daily dim snapshot). Build side: |keys| rows fold into a "
        "4096-bit / 128-word bitset via two md5-derived hashes and "
        "bit_or partial aggs — mergeable, tiny, broadcast. Probe side is "
        "map-only: 2 bit tests against the broadcast bitset drop most "
        "non-matching fact rows BEFORE the real join's shuffle; the "
        "false-positive count emitted here is the knob for sizing m/k at "
        "real key cardinalities. All integer arithmetic — engine-exact."
    ),
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a 4096-bit bloom filter of high-balance customers, pre-filter
    orders against it, and report candidate/true-match/false-positive counts."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    keys = cust.where(F.col("c_acctbal") > 7000).select("c_custkey")

    # Two hash probes per key: bit = md5_hash64("<seed>:<key>") % 4096.
    def with_bit(df: DataFrame, key: str) -> DataFrame:
        out = df.select("*", F.explode(F.array(F.lit(1), F.lit(2))).alias("seed"))
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col("seed").cast("string"), F.col(key).cast("string")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        return out.withColumn("bit", h % 4096)

    kb = with_bit(keys, "c_custkey")
    bloom = kb.groupBy((F.col("bit") / 32).cast("long").alias("word")).agg(
        F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 32 AS INT))")).alias(
            "bits"
        )
    )
    pb = with_bit(orders.select("o_orderkey", "o_custkey"), "o_custkey").select(
        "o_orderkey",
        "o_custkey",
        (F.col("bit") / 32).cast("long").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 32 AS INT))").alias("mask"),
    )
    hits = pb.join(F.broadcast(bloom), "word", "left").select(
        "o_orderkey",
        "o_custkey",
        F.when(
            F.col("bits").isNotNull()
            & (F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask")),
            1,
        )
        .otherwise(0)
        .alias("hit"),
    )
    cand = hits.groupBy("o_orderkey", "o_custkey").agg(
        F.when(F.sum("hit") == 2, 1).otherwise(0).alias("candidate")
    )
    marked = keys.withColumn("matched_key", F.lit(1))
    flagged = cand.join(
        F.broadcast(marked), cand.o_custkey == marked.c_custkey, "left"
    ).select(
        "candidate",
        F.when(F.col("matched_key").isNull(), 0).otherwise(1).alias("matched"),
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("candidate").cast("long").alias("n_candidates"),
        F.sum("matched").cast("long").alias("n_matched"),
        F.sum(
            F.when((F.col("candidate") == 1) & (F.col("matched") == 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_false_pos"),
    )


@op(
    "join_asof_tolerance",
    oracle="""
        WITH last_p AS (
            SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
                   max(CASE WHEN event_type = 'purchase'
                            THEN CAST(ts AS TIMESTAMP) END) OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS last_purchase_ts
            FROM events WHERE event_type IN ('click', 'purchase')
        )
        SELECT event_id AS click_id, user_id,
               CASE WHEN last_purchase_ts IS NOT NULL
                         AND epoch_us(ts) - epoch_us(last_purchase_ts)
                             <= 1800000000
                    THEN last_purchase_ts END AS matched_purchase_ts,
               (last_purchase_ts IS NOT NULL
                AND epoch_us(ts) - epoch_us(last_purchase_ts) <= 1800000000)
                   AS within_tolerance
        FROM last_p WHERE event_type = 'click'
    """,
    scale=(
        "As-of join with a staleness tolerance — the feature-store "
        "point-in-time lookup contract (a match older than the tolerance "
        "is worse than no match: it leaks stale state into training "
        "rows). Same union + running-max window as join_asof — ONE "
        "user_id shuffle, linear state, no pairwise expansion — with the "
        "tolerance applied as a residual predicate on the matched "
        "timestamp, so the 30-min bound costs zero extra plan steps."
    ),
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each click: the user's most recent purchase at-or-before it, but
    only if within 30 minutes; else null (staleness-bounded as-of)."""
    ev = load_table(spark, sf_dir, "events")
    both = ev.where(F.col("event_type").isin("click", "purchase")).select(
        "event_id", "user_id", "ts", "event_type"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scanned = both.withColumn(
        "last_purchase_ts",
        F.max(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).over(w),
    )
    within = F.col("last_purchase_ts").isNotNull() & (
        F.unix_micros("ts") - F.unix_micros("last_purchase_ts")
        <= 1800000000
    )
    return scanned.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.when(within, F.col("last_purchase_ts")).alias("matched_purchase_ts"),
        within.alias("within_tolerance"),
    )


@op(
    "join_skew_diagnose",
    oracle="""
        WITH k1 AS (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey),
        k2 AS (SELECT count(*) AS c FROM lineitem GROUP BY l_partkey),
        k3 AS (SELECT count(*) AS c FROM orders GROUP BY o_custkey),
        k4 AS (SELECT count(*) AS c FROM events GROUP BY user_id)
        SELECT 'lineitem.l_orderkey' AS join_key,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(max(c) AS BIGINT) AS max_rows,
               floor((quantile_cont(c, 0.5)) * 100.0 + 0.505) / 100.0 AS p50,
               floor((quantile_cont(c, 0.99)) * 100.0 + 0.505) / 100.0 AS p99,
               CAST(ceil(max(c) / quantile_cont(c, 0.5)) AS BIGINT)
                   AS salt_factor
        FROM k1
        UNION ALL
        SELECT 'lineitem.l_partkey', CAST(count(*) AS BIGINT),
               CAST(max(c) AS BIGINT),
               floor((quantile_cont(c, 0.5)) * 100.0 + 0.505) / 100.0,
               floor((quantile_cont(c, 0.99)) * 100.0 + 0.505) / 100.0,
               CAST(ceil(max(c) / quantile_cont(c, 0.5)) AS BIGINT)
        FROM k2
        UNION ALL
        SELECT 'orders.o_custkey', CAST(count(*) AS BIGINT),
               CAST(max(c) AS BIGINT),
               floor((quantile_cont(c, 0.5)) * 100.0 + 0.505) / 100.0,
               floor((quantile_cont(c, 0.99)) * 100.0 + 0.505) / 100.0,
               CAST(ceil(max(c) / quantile_cont(c, 0.5)) AS BIGINT)
        FROM k3
        UNION ALL
        SELECT 'events.user_id', CAST(count(*) AS BIGINT),
               CAST(max(c) AS BIGINT),
               floor((quantile_cont(c, 0.5)) * 100.0 + 0.505) / 100.0,
               floor((quantile_cont(c, 0.99)) * 100.0 + 0.505) / 100.0,
               CAST(ceil(max(c) / quantile_cont(c, 0.5)) AS BIGINT)
        FROM k4
    """,
    scale=(
        "The skew audit you run BEFORE a big shuffle join: per-key row "
        "counts (one partial agg per key column), then |keys|-sized "
        "distribution stats — max, p50, p99 — and the derived salt "
        "factor ceil(max/p50) that join_skew_salted takes as its "
        "replication knob. A hot key shows up as max >> p99 long before "
        "it shows up as a straggling task; at 100 TB the per-key agg is "
        "the same map-side-combined shape and the stats stage sees only "
        "|distinct keys| rows. Exact percentiles here; sketch them at "
        "scale."
    ),
)
def join_skew_diagnose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew report (key count, max/p50/p99 rows-per-key, salt
    factor) for the four hot join keys of the star schema."""
    specs = [
        ("lineitem.l_orderkey", "lineitem", "l_orderkey"),
        ("lineitem.l_partkey", "lineitem", "l_partkey"),
        ("orders.o_custkey", "orders", "o_custkey"),
        ("events.user_id", "events", "user_id"),
    ]
    out = None
    for label, table, key in specs:
        t = load_table(spark, sf_dir, table)
        per_key = t.groupBy(key).agg(F.count(F.lit(1)).alias("c"))
        stats = per_key.agg(
            F.lit(label).alias("join_key"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("c").alias("max_rows"),
            rnd(F.expr("percentile(c, 0.5)"), 2).alias("p50"),
            rnd(F.expr("percentile(c, 0.99)"), 2).alias("p99"),
            F.ceil(F.max("c") / F.expr("percentile(c, 0.5)")).cast("long").alias(
                "salt_factor"
            ),
        )
        out = stats if out is None else out.unionAll(stats)
    return out


@op(
    "join_cardinality_estimate",
    oracle="""
        WITH ok AS (
            SELECT o_orderkey AS k, count(*) AS n FROM orders GROUP BY 1
        ),
        lk AS (
            SELECT l_orderkey AS k, count(*) AS n FROM lineitem GROUP BY 1
        ),
        actual AS (
            SELECT CAST(sum(ok.n * lk.n) AS BIGINT) AS actual_rows
            FROM ok JOIN lk USING (k)
        ),
        est AS (
            SELECT CAST(sum(ok.n * lk.n) * 10 AS BIGINT) AS est_rows
            FROM ok JOIN lk USING (k)
            WHERE CAST(('0x' || substring(md5('23:' || CAST(k AS VARCHAR)),
                  1, 15)) AS BIGINT) % 100 < 10
        )
        SELECT actual_rows, est_rows,
               floor((est_rows - actual_rows) / CAST(actual_rows AS DOUBLE)
                     * 10000.0 + 0.505) / 10000.0 AS rel_err
        FROM actual, est
    """,
    scale=(
        "Join-cardinality estimation audit — the CBO sanity check run "
        "BEFORE a fact-fact join is scheduled: sum(n_left(k) * "
        "n_right(k)) over a deterministic 10% md5 key sample, scaled, "
        "vs the exact histogram product. Key-sampled (not row-sampled) "
        "because join size is quadratic in per-key multiplicity — row "
        "sampling underestimates hot keys exactly where it matters. "
        "Histogram sides are partial aggs to |keys| rows; the estimate "
        "costs a fraction of the join it prices. Feeds the "
        "broadcast-vs-shuffle and salt-factor decisions "
        "(join_skew_diagnose) with an expected output volume."
    ),
)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimated vs actual orders-lineitem join cardinality from a 10%
    md5 key sample of the key histograms."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ok = orders.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_o")
    )
    lk = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_l")
    )
    joined = ok.join(lk, "k").select(
        "k", (F.col("n_o") * F.col("n_l")).alias("prod")
    )
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit("23"), F.col("k").cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    actual = joined.agg(F.sum("prod").cast("long").alias("actual_rows"))
    est = joined.where(h % 100 < 10).agg(
        (F.sum("prod") * 10).cast("long").alias("est_rows")
    )
    return actual.crossJoin(est).select(
        "actual_rows",
        "est_rows",
        rnd(
            (F.col("est_rows") - F.col("actual_rows"))
            / F.col("actual_rows").cast("double"),
            4,
        ).alias("rel_err"),
    )


@op(
    "join_star_denormalize",
    oracle="""
        SELECT r.r_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT p.p_brand) AS BIGINT) AS n_brands,
               CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                    * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    """,
    scale=(
        "'One Big Table' denormalization — the wide-fact "
        "materialization feature stores and BI extracts run nightly: "
        "the full 7-table star resolved in one plan where every "
        "dimension is an explicit broadcast (zero fact-side shuffles "
        "for dims; orders-lineitem is the only key exchange, bucketable "
        "to zero). Aggregated per region here to keep the contract "
        "output small; the same plan with .write is the OBT "
        "materializer, and row-count/revenue conservation vs the "
        "normalized source is its publish gate."
    ),
)
def join_star_denormalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully denormalized star join (7 tables) rolled up per region."""
    t = {n: load_table(spark, sf_dir, n) for n in
         ("lineitem", "orders", "customer", "part", "supplier", "nation", "region")}
    wide = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return wide.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("p_brand").alias("n_brands"),
        F.sum(
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
            ).cast("long")
        )
        .cast("long")
        .alias("revenue_cents"),
    )

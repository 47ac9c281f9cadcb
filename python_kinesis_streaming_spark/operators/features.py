"""ML feature-engineering + data-quality profiling operators.

The training-data-pipeline surface beyond text/dedup: the standard tabular
feature transforms (target encoding, quantile binning, min-max scaling,
one-hot of top-k categories, the hashing trick) plus dataset health probes
(per-column null/distinct profile, freshness lag, degree distribution).

Scale notes (100 TB):
- Every encoder here is the two-pass shape: a tiny aggregate (|categories|,
  |bins|, |segments| rows) broadcast-joined back onto the fact table — the
  big side never shuffles, the small side is KBs.
- Determinism: money flows as integer cents (`floor(x*100+0.5)`), hash
  buckets via the md5-derived 60-bit int (`llm.dedup.md5_hash64`) — both
  bit-reproducible across Spark and DuckDB, so every op is SQL-oracled.
- The null/distinct profile uses exact count(distinct) per column; at 100 TB
  swap each for approx_count_distinct (one pass, mergeable HLL partials) —
  the op shape (wide agg → stack/unpivot) is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from python_kinesis_streaming_spark.functions.rounding import cents, rnd, sql_rnd
from python_kinesis_streaming_spark.llm.dedup import _sql_hash64, md5_hash64
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table


@op(
    "feat_target_encode",
    oracle="""
        WITH o AS (
            SELECT o_orderkey, o_orderpriority,
                   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
            FROM orders
        ),
        stats AS (
            SELECT o_orderpriority,
                   CAST(sum(cents) AS BIGINT) AS s,
                   CAST(count(*) AS BIGINT) AS n
            FROM o GROUP BY o_orderpriority
        )
        SELECT o.o_orderkey, o.o_orderpriority,
               {loo} AS loo_enc
        FROM o JOIN stats USING (o_orderpriority)
    """.format(loo=sql_rnd("(s - cents) / (100.0 * (n - 1))", 2)),
    scale=(
        "Leave-one-out target encoding as (group_sum - own) / (n-1): one "
        "partial agg to |categories| rows (5 here), broadcast back onto the "
        "facts — no per-row window, no fact-side shuffle. Integer-cents "
        "sums keep the encoding bit-deterministic regardless of partial-agg "
        "order; the LOO form is the standard leakage guard (own row "
        "excluded from its encoding)."
    ),
)
def feat_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of o_orderpriority against order value."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    stats = o.groupBy("o_orderpriority").agg(
        F.sum("cents").alias("s"), F.count("*").alias("n")
    )
    return o.join(F.broadcast(stats), "o_orderpriority").select(
        "o_orderkey",
        "o_orderpriority",
        rnd((F.col("s") - F.col("cents")) / (100.0 * (F.col("n") - 1)), 2).alias(
            "loo_enc"
        ),
    )


@op(
    "feat_quantile_bin",
    oracle="""
        WITH binned AS (
            SELECT c_acctbal,
                   ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS bin
            FROM customer
        )
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
               {lo} AS lo, {hi} AS hi
        FROM binned GROUP BY bin
    """.format(lo=sql_rnd("min(c_acctbal)", 2), hi=sql_rnd("max(c_acctbal)", 2)),
    scale=(
        "ntile over a total order is a global sort — fine for boundary "
        "DISCOVERY on a sample; at 100 TB compute cut points once via "
        "approx_percentile (mergeable sketch, one pass) and bucketize with "
        "a broadcast CASE — this op emits exactly that 10-row cut-point "
        "table (lo/hi per bin) which downstream jobs apply shuffle-free."
    ),
)
def feat_quantile_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile binning of customer balance; emits the per-bin boundary table."""
    cust = load_table(spark, sf_dir, "customer")
    binned = cust.select(
        "c_acctbal",
        F.ntile(10).over(Window.orderBy("c_acctbal", "c_custkey")).alias("bin"),
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        rnd(F.min("c_acctbal"), 2).alias("lo"),
        rnd(F.max("c_acctbal"), 2).alias("hi"),
    )


@op(
    "feat_minmax_scale",
    oracle="""
        WITH rng AS (
            SELECT c_mktsegment, min(c_acctbal) AS mn, max(c_acctbal) AS mx
            FROM customer GROUP BY c_mktsegment
        )
        SELECT c_custkey, c_mktsegment,
               {scaled} AS acctbal_scaled
        FROM customer JOIN rng USING (c_mktsegment)
    """.format(scaled=sql_rnd("(c_acctbal - mn) / (mx - mn)", 4)),
    scale=(
        "Per-segment min/max are exact, mergeable, order-independent "
        "partials (no float-sum hazard) — a |segments|-row broadcast; the "
        "scaling itself is a map-only projection on the fact scan."
    ),
)
def feat_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-market-segment min-max normalization of account balance."""
    cust = load_table(spark, sf_dir, "customer")
    rng = cust.groupBy("c_mktsegment").agg(
        F.min("c_acctbal").alias("mn"), F.max("c_acctbal").alias("mx")
    )
    return cust.join(F.broadcast(rng), "c_mktsegment").select(
        "c_custkey",
        "c_mktsegment",
        rnd((F.col("c_acctbal") - F.col("mn")) / (F.col("mx") - F.col("mn")), 4).alias(
            "acctbal_scaled"
        ),
    )


@op(
    "feat_onehot_topk",
    oracle="""
        WITH counts AS (
            SELECT p.p_brand, count(*) AS cnt
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY p.p_brand
        ),
        ranked AS (
            SELECT p_brand,
                   row_number() OVER (ORDER BY cnt DESC, p_brand) AS rk
            FROM counts
        )
        SELECT p.p_partkey,
               CAST(coalesce(CAST(r.rk = 1 AS INT), 0) AS INT) AS brand_top1,
               CAST(coalesce(CAST(r.rk = 2 AS INT), 0) AS INT) AS brand_top2,
               CAST(coalesce(CAST(r.rk = 3 AS INT), 0) AS INT) AS brand_top3,
               CAST(CASE WHEN r.rk IS NULL THEN 1 ELSE 0 END AS INT) AS brand_other
        FROM part p
        LEFT JOIN (SELECT * FROM ranked WHERE rk <= 3) r USING (p_brand)
    """,
    scale=(
        "Top-k category discovery is a partial agg to |brands| rows (25), "
        "ranked driver-free with one tiny window; the one-hot expansion is a "
        "broadcast left join + CASE projection on the dimension scan. The "
        "vocabulary table is the only state — columns stay fixed-width "
        "regardless of corpus size (unseen categories fold into 'other')."
    ),
)
def feat_onehot_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-hot encode the 3 most-sold brands (by lineitem count); rest → other."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    dim = part.select("p_partkey", "p_brand")
    counts = (
        li.join(F.broadcast(dim), li.l_partkey == dim.p_partkey)
        .groupBy("p_brand")
        .agg(F.count("*").alias("cnt"))
    )
    ranked = counts.select(
        "p_brand",
        F.row_number()
        .over(Window.orderBy(F.desc("cnt"), F.asc("p_brand")))
        .alias("rk"),
    ).where(F.col("rk") <= 3)
    return part.join(F.broadcast(ranked), "p_brand", "left").select(
        "p_partkey",
        F.coalesce((F.col("rk") == 1).cast("int"), F.lit(0)).alias("brand_top1"),
        F.coalesce((F.col("rk") == 2).cast("int"), F.lit(0)).alias("brand_top2"),
        F.coalesce((F.col("rk") == 3).cast("int"), F.lit(0)).alias("brand_top3"),
        F.when(F.col("rk").isNull(), 1).otherwise(0).cast("int").alias("brand_other"),
    )


@op(
    "feat_hashing_trick",
    oracle="""
        WITH feat AS (
            SELECT event_type || ':' || regexp_extract(props, '[0-9]+')
                       AS feature,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM events
        )
        SELECT CAST({h} % 32 AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(cents) AS BIGINT) AS sum_value_cents
        FROM feat GROUP BY bucket
    """.format(h=_sql_hash64("feature")),
    scale=(
        "The hashing trick bounds feature cardinality without a vocabulary "
        "pass: arbitrary (event_type, prop) pairs → 32 fixed buckets via the "
        "md5-derived 60-bit hash, then one partial agg — the shuffle carries "
        "32 rows however many distinct features exist. Integer-cents sums "
        "keep bucket totals exact under any partial-agg order."
    ),
)
def feat_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature bucketing of (event_type, props.k) pairs, 32 buckets."""
    ev = load_table(spark, sf_dir, "events")
    feat = ev.select(
        F.concat_ws(
            ":", "event_type", F.regexp_extract("props", "[0-9]+", 0)
        ).alias("feature"),
        cents().alias("cents"),
    )
    return (
        feat.select(
            (md5_hash64(F.col("feature")) % 32).alias("bucket"), "cents"
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("cents").alias("sum_value_cents"),
        )
    )


@op(
    "dq_null_profile",
    oracle="""
        SELECT 'event_id' AS col_name,
               CAST(count(*) - count(event_id) AS BIGINT) AS n_null,
               CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct
        FROM events
        UNION ALL
        SELECT 'ts', CAST(count(*) - count(ts) AS BIGINT),
               CAST(count(DISTINCT ts) AS BIGINT) FROM events
        UNION ALL
        SELECT 'user_id', CAST(count(*) - count(user_id) AS BIGINT),
               CAST(count(DISTINCT user_id) AS BIGINT) FROM events
        UNION ALL
        SELECT 'event_type', CAST(count(*) - count(event_type) AS BIGINT),
               CAST(count(DISTINCT event_type) AS BIGINT) FROM events
        UNION ALL
        SELECT 'value', CAST(count(*) - count(value) AS BIGINT),
               CAST(count(DISTINCT value) AS BIGINT) FROM events
        UNION ALL
        SELECT 'props', CAST(count(*) - count(props) AS BIGINT),
               CAST(count(DISTINCT props) AS BIGINT) FROM events
    """,
    scale=(
        "Whole-table column profile in ONE scan: all per-column null + "
        "distinct aggregates evaluate in a single wide agg, then unpivot to "
        "(column, metric) rows with stack — never N scans for N columns. "
        "Exact count(distinct) per column multiplies the agg via expand; at "
        "100 TB swap each for approx_count_distinct (single-pass mergeable "
        "HLL) — the profile shape is unchanged."
    ),
)
def dq_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column null-count + distinct-count profile of the events table."""
    ev = load_table(spark, sf_dir, "events")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    aggs = []
    for c in cols:
        aggs.append((F.count(F.lit(1)) - F.count(c)).alias(f"null_{c}"))
        aggs.append(F.countDistinct(c).alias(f"dist_{c}"))
    wide = ev.agg(*aggs)
    stack_args = ", ".join(f"'{c}', null_{c}, dist_{c}" for c in cols)
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS (col_name, n_null, n_distinct)"
        )
    )


@op(
    "dq_freshness",
    oracle="""
        WITH g AS (SELECT max(CAST(ts AS TIMESTAMP)) AS global_max FROM events),
        per_type AS (
            SELECT event_type, max(CAST(ts AS TIMESTAMP)) AS last_ts
            FROM events GROUP BY event_type
        )
        SELECT event_type, last_ts,
               CAST(epoch_us(global_max) - epoch_us(last_ts) AS BIGINT)
                   AS staleness_us
        FROM per_type, g
    """,
    scale=(
        "Freshness lag per stream partition: two tiny max() aggregates "
        "(order-independent, mergeable) and a 1-row broadcast for the "
        "global watermark — scans once, shuffles |event_type| rows. This is "
        "the standard ingestion-health probe a 100 TB pipeline runs per "
        "batch; max(ts) also comes free from parquet footer stats."
    ),
)
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type last-seen timestamp and staleness vs the global max."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(F.max("ts").alias("last_ts"))
    g = ev.agg(F.max("ts").alias("global_max"))
    return per_type.crossJoin(F.broadcast(g)).select(
        "event_type",
        "last_ts",
        (F.unix_micros("global_max") - F.unix_micros("last_ts")).alias(
            "staleness_us"
        ),
    )


@op(
    "graph_degree_stats",
    oracle="""
        WITH deg AS (
            SELECT user_id,
                   CAST(count(DISTINCT (event_type, CAST(CAST(ts AS TIMESTAMP)
                        AS DATE))) AS BIGINT) AS degree
            FROM events GROUP BY user_id
        )
        SELECT degree, CAST(count(*) AS BIGINT) AS n_users
        FROM deg GROUP BY degree
    """,
    scale=(
        "Bipartite degree distribution as two chained partial aggs: the "
        "(user, type, day) dedup collapses map-side before the user "
        "shuffle, the histogram shuffle carries |distinct degrees| rows. "
        "The same two-level shape computes any power-law degree audit at "
        "100 TB — swap the edge definition, keep the plan."
    ),
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the user ↔ (event_type, day) bipartite graph."""
    ev = load_table(spark, sf_dir, "events")
    deg = ev.groupBy("user_id").agg(
        F.countDistinct("event_type", F.to_date("ts")).alias("degree")
    )
    return deg.groupBy("degree").agg(F.count("*").alias("n_users"))


@op(
    "feat_winsorize",
    oracle="""
        WITH cuts AS (
            SELECT event_type,
                   quantile_cont(value, 0.05) AS lo,
                   quantile_cont(value, 0.95) AS hi
            FROM events GROUP BY event_type
        ),
        clamped AS (
            SELECT e.event_type,
                   CAST(floor(e.value * 100 + 0.5) AS BIGINT) AS cents,
                   CAST(floor(CASE WHEN e.value < c.lo THEN c.lo
                                   WHEN e.value > c.hi THEN c.hi
                                   ELSE e.value END * 100 + 0.5) AS BIGINT)
                       AS wcents,
                   CASE WHEN e.value < c.lo THEN 1 ELSE 0 END AS is_lo,
                   CASE WHEN e.value > c.hi THEN 1 ELSE 0 END AS is_hi
            FROM events e JOIN cuts c USING (event_type)
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(is_lo) AS BIGINT) AS n_clamped_lo,
               CAST(sum(is_hi) AS BIGINT) AS n_clamped_hi,
               floor(sum(cents) / (count(*) * 100.0) * 10000.0 + 0.505)
                   / 10000.0 AS mean_before,
               floor(sum(wcents) / (count(*) * 100.0) * 10000.0 + 0.505)
                   / 10000.0 AS mean_after
        FROM clamped GROUP BY event_type
    """,
    scale=(
        "Winsorization — the robust-stats feature clamp: per-group "
        "p05/p95 cut points (exact here; percentile_approx's mergeable "
        "sketch at 100 TB), broadcast back, map-only clamp. Clamped "
        "values re-quantized to integer cents BEFORE summation so the "
        "before/after means are exact under any partial-agg order. Exact "
        "percentile + broadcast-back is the same two-pass shape as every "
        "encoder in this module — the fact table never shuffles."
    ),
)
def feat_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamp event values to per-type [p05, p95]; report clamp counts and
    the before/after means."""
    ev = load_table(spark, sf_dir, "events")
    cuts = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("lo"),
        F.expr("percentile(value, 0.95)").alias("hi"),
    )
    w = F.when(F.col("value") < F.col("lo"), F.col("lo")).when(
        F.col("value") > F.col("hi"), F.col("hi")
    ).otherwise(F.col("value"))
    clamped = ev.join(F.broadcast(cuts), "event_type").select(
        "event_type",
        cents().alias("cents"),
        F.floor(w * 100 + 0.5).cast("long").alias("wcents"),
        (F.col("value") < F.col("lo")).cast("int").alias("is_lo"),
        (F.col("value") > F.col("hi")).cast("int").alias("is_hi"),
    )
    return clamped.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("is_lo").cast("long").alias("n_clamped_lo"),
        F.sum("is_hi").cast("long").alias("n_clamped_hi"),
        rnd(F.sum("cents") / (F.count("*") * 100.0), 4).alias("mean_before"),
        rnd(F.sum("wcents") / (F.count("*") * 100.0), 4).alias("mean_after"),
    )


@op(
    "dq_referential_integrity",
    oracle="""
        SELECT 'orders.o_custkey->customer' AS fk,
               CAST(count(*) AS BIGINT) AS n_child,
               CAST(count(*) FILTER (WHERE c_custkey IS NULL) AS BIGINT)
                   AS n_orphans
        FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        UNION ALL
        SELECT 'lineitem.l_partkey->part',
               CAST(count(*) AS BIGINT),
               CAST(count(*) FILTER (WHERE p_partkey IS NULL) AS BIGINT)
        FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
        UNION ALL
        SELECT 'lineitem.l_suppkey->supplier',
               CAST(count(*) AS BIGINT),
               CAST(count(*) FILTER (WHERE s_suppkey IS NULL) AS BIGINT)
        FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
        UNION ALL
        SELECT 'customer.c_nationkey->nation',
               CAST(count(*) AS BIGINT),
               CAST(count(*) FILTER (WHERE n_nationkey IS NULL) AS BIGINT)
        FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
    """,
    scale=(
        "Referential-integrity audit across every declared FK in one "
        "report: each check is a broadcast left join (dim side) counted "
        "with a conditional agg — the child table scans once per FK and "
        "never shuffles. At 100 TB run the orphan probes as "
        "bloom-prefiltered anti joins (join_bloom_prefilter shape) and "
        "union the 1-row summaries; the report schema is the contract "
        "a pipeline gate asserts on before publishing a snapshot."
    ),
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan counts for the four declared foreign keys, one audit row each."""
    t = {
        n: load_table(spark, sf_dir, n)
        for n in ("orders", "lineitem", "customer", "part", "supplier", "nation")
    }

    def check(label, child, ckey, parent, pkey):
        j = child.join(
            F.broadcast(parent.select(pkey)), child[ckey] == parent[pkey], "left"
        )
        return j.agg(
            F.lit(label).alias("fk"),
            F.count(F.lit(1)).alias("n_child"),
            F.count(F.when(F.col(pkey).isNull(), 1)).alias("n_orphans"),
        )

    checks = [
        check("orders.o_custkey->customer", t["orders"], "o_custkey",
              t["customer"], "c_custkey"),
        check("lineitem.l_partkey->part", t["lineitem"], "l_partkey",
              t["part"], "p_partkey"),
        check("lineitem.l_suppkey->supplier", t["lineitem"], "l_suppkey",
              t["supplier"], "s_suppkey"),
        check("customer.c_nationkey->nation", t["customer"], "c_nationkey",
              t["nation"], "n_nationkey"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out


@op(
    "dq_distribution_drift",
    oracle="""
        WITH binned AS (
            SELECT event_type,
                   CASE WHEN CAST(CAST(ts AS TIMESTAMP) AS DATE)
                             < DATE '2024-01-16' THEN 0 ELSE 1 END AS half,
                   CASE WHEN value < 1 THEN 0 WHEN value < 5 THEN 1
                        WHEN value < 10 THEN 2 WHEN value < 50 THEN 3
                        WHEN value < 100 THEN 4 WHEN value < 200 THEN 5
                        WHEN value < 500 THEN 6 ELSE 7 END AS bin
            FROM events
        ),
        counts AS (
            SELECT event_type, b.bin,
                   count(*) FILTER (WHERE half = 0 AND binned.bin = b.bin)
                       AS n_ref,
                   count(*) FILTER (WHERE half = 1 AND binned.bin = b.bin)
                       AS n_cur,
                   sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS tot_ref,
                   sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS tot_cur
            FROM binned, unnest(range(8)) AS b(bin)
            GROUP BY event_type, b.bin
        ),
        psi_terms AS (
            SELECT event_type,
                   ((n_ref + 1.0) / (tot_ref + 8.0)
                    - (n_cur + 1.0) / (tot_cur + 8.0))
                   * ln(((n_ref + 1.0) / (tot_ref + 8.0))
                        / ((n_cur + 1.0) / (tot_cur + 8.0))) AS term
            FROM counts
        )
        SELECT event_type,
               floor(sum(term) * 10000.0 + 0.505) / 10000.0 AS psi
        FROM psi_terms GROUP BY event_type
    """,
    scale=(
        "Population-stability-index drift monitor — the standard check "
        "before trusting a model/feature on a new data window: fixed "
        "value bins (so the binning is a map-only CASE, no quantile "
        "pass), Laplace-smoothed shares, PSI per segment. The fact stream "
        "is aggregated FIRST; the 8-bin spine fills empty bins on the "
        "40-row aggregated side, so no fact-side row blowup at any "
        "input size. The reference/current split generalizes to any two "
        "snapshots. PSI rounded at 4 dp — ulp-level ln() divergence "
        "can't flip it."
    ),
)
def dq_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI between the first and second half-month of events, per type."""
    ev = load_table(spark, sf_dir, "events")
    binned = ev.select(
        "event_type",
        F.when(F.to_date("ts") < F.lit("2024-01-16").cast("date"), 0)
        .otherwise(1)
        .alias("half"),
        F.when(F.col("value") < 1, 0)
        .when(F.col("value") < 5, 1)
        .when(F.col("value") < 10, 2)
        .when(F.col("value") < 50, 3)
        .when(F.col("value") < 100, 4)
        .when(F.col("value") < 200, 5)
        .when(F.col("value") < 500, 6)
        .otherwise(7)
        .alias("bin"),
    )
    # Aggregate FIRST (the only pass over the fact stream), then fill the
    # 8-bin spine on the 40-row aggregated side — never a ×8 fact blowup.
    present = binned.groupBy("event_type", "bin").agg(
        F.count(F.when(F.col("half") == 0, 1)).alias("p_ref"),
        F.count(F.when(F.col("half") == 1, 1)).alias("p_cur"),
    )
    tot = binned.groupBy("event_type").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("tot_ref"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("tot_cur"),
    )
    spine = tot.crossJoin(
        F.broadcast(
            spark.range(8).select(F.col("id").cast("int").alias("gbin"))
        )
    )
    counts = (
        spine.join(
            present,
            (spine.event_type == present.event_type)
            & (F.col("gbin") == F.col("bin")),
            "left",
        )
        .select(
            spine.event_type,
            "gbin",
            F.coalesce("p_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("p_cur", F.lit(0)).alias("n_cur"),
            "tot_ref",
            "tot_cur",
        )
    )
    p = (F.col("n_ref") + 1.0) / (F.col("tot_ref") + 8.0)
    q = (F.col("n_cur") + 1.0) / (F.col("tot_cur") + 8.0)
    terms = counts.select(
        "event_type", ((p - q) * F.log(p / q)).alias("term")
    )
    return terms.groupBy("event_type").agg(rnd(F.sum("term"), 4).alias("psi"))


@op(
    "dq_row_quarantine",
    oracle="""
        WITH checked AS (
            SELECT event_id,
                   CASE
                     WHEN event_type = 'error' THEN 'error_event'
                     WHEN value < 0.5 THEN 'suspect_low_value'
                     WHEN CAST(regexp_extract(props, '[0-9]+') AS BIGINT) >= 95
                          THEN 'prop_k_out_of_range'
                     ELSE 'ok'
                   END AS reason
            FROM events
        )
        SELECT reason,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(min(event_id) AS BIGINT) AS sample_event_id
        FROM checked WHERE reason != 'ok' GROUP BY reason
        UNION ALL
        SELECT 'ok', CAST(count(*) AS BIGINT), CAST(min(event_id) AS BIGINT)
        FROM checked WHERE reason = 'ok'
    """,
    scale=(
        "Row-level quarantine (dead-letter routing for batch): every row "
        "classified by its FIRST failing expectation in one map-only "
        "CASE pass; bad rows route to a quarantine sink with reason "
        "codes, good rows flow on — the scan happens once, not once per "
        "rule. The per-reason counts + sample ids emitted here are the "
        "triage report; at 100 TB the same projection feeds a "
        "partitioned-by-reason quarantine write so reprocessing one "
        "failure class doesn't re-read the rest."
    ),
)
def dq_row_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify events by first failing expectation; per-reason counts with
    a sample row id (the 'ok' row included for mass-balance)."""
    ev = load_table(spark, sf_dir, "events")
    reason = (
        F.when(F.col("event_type") == "error", "error_event")
        .when(F.col("value") < 0.5, "suspect_low_value")
        .when(
            F.regexp_extract("props", "[0-9]+", 0).cast("long") >= 95,
            "prop_k_out_of_range",
        )
        .otherwise("ok")
    )
    checked = ev.select("event_id", reason.alias("reason"))
    return checked.groupBy("reason").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("event_id").alias("sample_event_id"),
    )


@op(
    "feat_pit_training_set",
    oracle="""
        WITH scanned AS (
            SELECT event_id, user_id, event_type,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                   count(*) FILTER (WHERE event_type = 'click') OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
                       RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING
                   ) AS n_clicks_24h,
                   max(CASE WHEN event_type = 'error'
                            THEN epoch_us(CAST(ts AS TIMESTAMP)) END) OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS last_err_us,
                   sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS cum_cents
            FROM events
        )
        SELECT event_id AS label_event_id, user_id,
               CAST(coalesce(n_clicks_24h, 0) AS BIGINT) AS n_clicks_24h,
               CAST(us - last_err_us AS BIGINT) AS last_error_gap_us,
               CAST(coalesce(cum_cents, 0) AS BIGINT)
                   AS cum_value_cents_before
        FROM scanned WHERE event_type = 'purchase'
    """,
    scale=(
        "Point-in-time training-set materialization — the feature-store "
        "join done right: every feature is computed from STRICTLY-before "
        "state (RANGE/ROWS frames ending at 1 PRECEDING), so no label "
        "leakage by construction; join_asof_tolerance is the two-table "
        "version of the same contract. All three features (24h click "
        "rate, error recency, lifetime spend) share ONE user_id "
        "partitioning — one shuffle, one sort, three window passes, "
        "integer features end-to-end. At 100 TB this replaces the "
        "feature-per-join antipattern (k shuffles for k features)."
    ),
)
def feat_pit_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free training rows: for each purchase, features computed
    from events strictly before it (clicks-24h, error recency, spend)."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    base = ev.select(
        "event_id", "user_id", "event_type", us.alias("us"),
        cents().alias("cents"),
    )
    w_range = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-86400000000, -1)
    )
    w_rows = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scanned = base.select(
        "event_id",
        "user_id",
        "event_type",
        "us",
        F.count(F.when(F.col("event_type") == "click", 1))
        .over(w_range)
        .alias("n_clicks_24h"),
        F.max(F.when(F.col("event_type") == "error", F.col("us")))
        .over(w_rows)
        .alias("last_err_us"),
        F.sum("cents").over(w_rows).alias("cum_cents"),
    )
    return scanned.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("label_event_id"),
        "user_id",
        F.coalesce("n_clicks_24h", F.lit(0)).cast("long").alias("n_clicks_24h"),
        (F.col("us") - F.col("last_err_us")).alias("last_error_gap_us"),
        F.coalesce("cum_cents", F.lit(0)).cast("long").alias(
            "cum_value_cents_before"
        ),
    )


@op(
    "dq_daily_metrics",
    oracle="""
        WITH daily AS (
            SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                   CAST(count(*) FILTER (WHERE event_type = 'error')
                        AS BIGINT) AS n_errors
            FROM events GROUP BY 1
        )
        SELECT CAST(d AS TIMESTAMP) AS d, n_rows, n_users, n_errors,
               CAST(n_rows - lag(n_rows) OVER (ORDER BY d) AS BIGINT)
                   AS rows_dod_delta
        FROM daily
    """,
    scale=(
        "Data-quality metrics as a TIME SERIES (volume, reach, error "
        "count per day) with day-over-day deltas — the trend view that "
        "catches slow degradation a point-in-time gate misses. One "
        "partial agg to |days| rows, one tiny lag window over the "
        "aggregate; at 100 TB each day's row appends incrementally "
        "(metrics are mergeable) and the DoD delta drives alerting "
        "(events_error_rate_alert is the control-band consumer)."
    ),
)
def dq_daily_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day row/user/error counts with day-over-day row delta."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
    )
    w = Window.orderBy("d")
    return daily.select(
        F.col("d").cast("timestamp").alias("d"),
        "n_rows",
        "n_users",
        "n_errors",
        (F.col("n_rows") - F.lag("n_rows").over(w)).cast("long").alias(
            "rows_dod_delta"
        ),
    )


@op(
    "dq_observe_metrics",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT)
                   AS n_errors,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS sum_cents,
               CAST(max(event_id) AS BIGINT) AS max_id
        FROM events
    """,
    scale=(
        "The Observation API: metrics (row counts, error counts, sums) "
        "collected DURING an existing action's execution — zero extra "
        "scan, zero extra job. This is how a 100 TB pipeline gets its "
        "per-run health metrics for free: attach observe() to the write "
        "job and the aggregates ride the same pass as the data "
        "(Spark's accumulator-backed CollectMetrics node). The op "
        "returns the observed values as a 1-row frame; the oracle "
        "recomputes them directly — identical by construction."
    ),
)
def dq_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collect row/error/sum/max metrics via df.observe() piggybacked on a
    count() action; emit the observed values."""
    from pyspark.sql import Observation

    ev = load_table(spark, sf_dir, "events")
    obs = Observation("dq")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
        F.sum(cents()).alias("sum_cents"),
        F.max("event_id").alias("max_id"),
    )
    observed.count()  # the host action the metrics piggyback on
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["n_errors"], m["sum_cents"], m["max_id"])],
        "n_rows long, n_errors long, sum_cents long, max_id long",
    )


@op(
    "feat_velocity_multi_horizon",
    oracle="""
        WITH e AS (
            SELECT event_id, user_id,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS us
            FROM events
        )
        SELECT event_id, user_id,
               CAST(count(*) OVER (PARTITION BY user_id ORDER BY us
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_1h,
               CAST(count(*) OVER (PARTITION BY user_id ORDER BY us
                   RANGE BETWEEN 21600000000 PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_6h,
               CAST(count(*) OVER (PARTITION BY user_id ORDER BY us
                   RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_24h
        FROM e
    """,
    scale=(
        "Multi-horizon velocity features (the fraud/abuse staple): three "
        "trailing range-frame counts share ONE shuffle + ONE sort — all "
        "frames are over the identical (user_id, epoch-us) window spec, "
        "so Spark evaluates them in a single Window operator with three "
        "sliding accumulators, never re-sorting. Range frames on integer "
        "microseconds (not intervals) keep frame membership bit-"
        "comparable with the oracle and make the frame bounds codegen-"
        "friendly. At 100 TB this is the feature-backfill shape: one "
        "pass, bounded per-key state, output co-partitioned with the "
        "fact for the downstream training-set join."
    ),
)
def feat_velocity_multi_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event: same-user event counts in the trailing 1h / 6h / 24h."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("event_id", "user_id", F.unix_micros("ts").alias("us"))

    def trailing(hours: int):
        return (
            Window.partitionBy("user_id")
            .orderBy("us")
            .rangeBetween(-hours * 3_600_000_000, Window.currentRow)
        )

    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(trailing(1)).alias("n_1h"),
        F.count(F.lit(1)).over(trailing(6)).alias("n_6h"),
        F.count(F.lit(1)).over(trailing(24)).alias("n_24h"),
    )


_PK_COLUMNS = [
    ("customer", "c_custkey"),
    ("supplier", "s_suppkey"),
    ("part", "p_partkey"),
    ("orders", "o_orderkey"),
    ("events", "event_id"),
    ("documents", "doc_id"),
    ("embeddings", "vec_id"),
]


@op(
    "dq_pk_uniqueness",
    oracle="""
        """
    + "\n        UNION ALL\n".join(
        f"""SELECT '{t}' AS tbl, '{c}' AS pk_col,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
               count(*) = count(DISTINCT {c}) AS pk_ok
        FROM {t}"""
        for t, c in _PK_COLUMNS
    ),
    scale=(
        "Primary-key uniqueness audit across every keyed table: each leg "
        "is a two-aggregate scan (count + count distinct) that reduces "
        "to ONE row before the union, so the combined result is "
        "|tables| rows regardless of data volume. count(DISTINCT pk) "
        "is the exact form; at 100 TB the drop-in is "
        "approx_count_distinct with a tolerance band (the HLL partials "
        "merge map-side, converting the global distinct into a "
        "single-pass sketch) — the report schema stays identical. The "
        "per-table legs are independent jobs Spark schedules "
        "concurrently; none shares a shuffle with another."
    ),
)
def dq_pk_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n_rows vs n_distinct(pk) per keyed table — the PK contract check."""
    out = None
    for t, c in _PK_COLUMNS:
        leg = load_table(spark, sf_dir, t).agg(
            F.lit(t).alias("tbl"),
            F.lit(c).alias("pk_col"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct(F.col(c)).alias("n_distinct"),
        ).select(
            "tbl",
            "pk_col",
            "n_rows",
            "n_distinct",
            (F.col("n_rows") == F.col("n_distinct")).alias("pk_ok"),
        )
        out = leg if out is None else out.unionByName(leg)
    return out


@op(
    "dq_unit_price_consistency",
    oracle="""
        WITH u AS (
            SELECT l_partkey, l_extendedprice / l_quantity AS unit
            FROM lineitem
        ),
        s AS (
            SELECT l_partkey,
                   CAST(count(*) AS BIGINT) AS n_sales,
                   avg(unit) AS mean_u,
                   stddev_samp(unit) AS sd_u,
                   min(unit) AS min_u,
                   max(unit) AS max_u
            FROM u GROUP BY l_partkey HAVING count(*) >= 5
        )
        SELECT l_partkey, n_sales,
               floor(mean_u * 100.0 + 0.505) / 100.0 AS mean_unit_price,
               floor((sd_u / mean_u) * 10000.0 + 0.505) / 10000.0 AS cv,
               floor((max_u / min_u) * 10000.0 + 0.505) / 10000.0
                   AS max_min_ratio,
               sd_u / mean_u > 0.25 AS inconsistent
        FROM s
    """,
    scale=(
        "Pricing-integrity audit: per-part unit-price dispersion "
        "(coefficient of variation + max/min ratio) from one partial-agg "
        "groupBy — count/sum/sumsq/min/max all merge map-side, so the "
        "audit costs one shuffle of |parts| skinny rows however large "
        "the fact is. The HAVING floor keeps noise groups out; the CV "
        "threshold is the quarantine predicate a dq pipeline would "
        "route rows on (compose with dq_row_quarantine). stddev_samp "
        "is Welford-mergeable in both engines; the ratio rounds at 1e-4 "
        "for cross-engine stability."
    ),
)
def dq_unit_price_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part unit-price dispersion audit (CV, range ratio, flag)."""
    li = load_table(spark, sf_dir, "lineitem")
    u = li.select(
        "l_partkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit"),
    )
    s = (
        u.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_sales"),
            F.avg("unit").alias("mean_u"),
            F.stddev_samp("unit").alias("sd_u"),
            F.min("unit").alias("min_u"),
            F.max("unit").alias("max_u"),
        )
        .where(F.col("n_sales") >= 5)
    )
    return s.select(
        "l_partkey",
        "n_sales",
        rnd(F.col("mean_u"), 2).alias("mean_unit_price"),
        rnd(F.col("sd_u") / F.col("mean_u"), 4).alias("cv"),
        rnd(F.col("max_u") / F.col("min_u"), 4).alias("max_min_ratio"),
        (F.col("sd_u") / F.col("mean_u") > 0.25).alias("inconsistent"),
    )


@op(
    "dq_order_total_reconciliation",
    oracle="""
        WITH li AS (
            SELECT l_orderkey,
                   CAST(sum(CAST(floor(l_extendedprice
                                       * (1 - l_discount) * (1 + l_tax)
                                       * 100 + 0.505) AS BIGINT))
                        AS BIGINT) AS items_cents
            FROM lineitem GROUP BY l_orderkey
        ),
        j AS (
            SELECT o.o_orderkey,
                   CAST(floor(o.o_totalprice * 100 + 0.505) AS BIGINT)
                       AS header_cents,
                   li.items_cents
            FROM orders o JOIN li ON li.l_orderkey = o.o_orderkey
        )
        SELECT
            CAST(count(*) AS BIGINT) AS n_orders,
            CAST(sum(CASE WHEN abs(header_cents - items_cents) <= 1
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_reconciled,
            CAST(sum(CASE WHEN header_cents < items_cents - 1
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_under,
            CAST(sum(CASE WHEN header_cents > items_cents + 1
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_over,
            CAST(max(abs(header_cents - items_cents)) AS BIGINT)
                AS max_abs_diff_cents
        FROM j
    """,
    scale=(
        "Cross-table financial reconciliation (header total vs computed "
        "item total): the item side reduces to |orders| rows BEFORE the "
        "join (partial agg on the fact's own key — co-partitioned with "
        "orders, one shuffle each), the comparison is integer cents "
        "with a 1-cent rounding tolerance, and the verdict collapses to "
        "one summary row. This is the ledger-integrity job every "
        "billing pipeline schedules; at 100 TB both sides bucket by "
        "orderkey and the join is exchange-free. (On this synthetic "
        "fixture the headers do NOT reconcile — the op is the detector, "
        "and the mismatch distribution is the finding.)"
    ),
)
def dq_order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header o_totalprice vs recomputed lineitem totals, cent-exact."""
    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    items = li.groupBy("l_orderkey").agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
                * 100
                + F.lit(0.505)
            ).cast("long")
        ).alias("items_cents")
    )
    j = od.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.505))
        .cast("long")
        .alias("header_cents"),
    ).join(items, F.col("o_orderkey") == F.col("l_orderkey"))
    diff = F.col("header_cents") - F.col("items_cents")
    return j.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(F.abs(diff) <= 1, 1).otherwise(0)).alias(
            "n_reconciled"
        ),
        F.sum(F.when(diff < -1, 1).otherwise(0)).alias("n_under"),
        F.sum(F.when(diff > 1, 1).otherwise(0)).alias("n_over"),
        F.max(F.abs(diff)).alias("max_abs_diff_cents"),
    )


@op(
    "feat_percentile_rank_normalize",
    oracle="""
        SELECT event_id, event_type,
               floor(percent_rank() OVER (
                   PARTITION BY event_type
                   ORDER BY value, event_id) * 1000000.0 + 0.505)
                   / 1000000.0 AS value_pctile
        FROM events
    """,
    scale=(
        "Percentile-rank normalization (the rank-gauss / quantile "
        "transform prelude): values map to their within-class empirical "
        "percentile, making features comparable across classes with "
        "wildly different scales and robust to outliers minmax scaling "
        "(feat_minmax_scale) is not. percent_rank is one sort per "
        "class partition; the event_id tie-break makes rank positions "
        "deterministic for the cross-engine hash. At 100 TB swap the "
        "exact global sort for approx-percentile cut points "
        "broadcast-joined back (feat_quantile_bin's ladder) — same "
        "output contract at grid resolution."
    ),
)
def feat_percentile_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-type percentile rank of each event's value."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "event_type",
        rnd(F.percent_rank().over(w), 6).alias("value_pctile"),
    )

"""The feature-engineering family: every ``feat_*`` operator (encoders,
scalers and binning, point-in-time and velocity features), plus
``graph_degree_stats`` until the graph family gets its own module. The
dataset health probes live in ``operators/data_quality.py``.

Scale notes (100 TB):
- Every encoder here is the two-pass shape: a tiny aggregate (|categories|,
  |bins|, |segments| rows) broadcast-joined back onto the fact table — the
  big side never shuffles, the small side is KBs.
- Determinism: money flows as integer cents (`floor(x*100+0.5)`), hash
  buckets via the md5-derived 60-bit int (`llm.dedup.md5_hash64`) — both
  bit-reproducible across Spark and DuckDB, so every op is SQL-oracled.
- WoE/IV (``feat_woe_iv_encoding``) takes ln only of identical integer
  rationals and freezes each IV term to integer micros, with a guard for
  a band empty on one side.
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


_TE_M = 20.0  # m-estimate smoothing mass


@op(
    "feat_target_encode_loo",
    oracle=f"""
        WITH base AS (
            SELECT o_orderkey, o_orderpriority AS cat,
                   CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
            FROM orders
        ),
        grp AS (
            SELECT cat, CAST(count(*) AS BIGINT) AS n_cat,
                   CAST(sum(y) AS BIGINT) AS sum_y
            FROM base GROUP BY cat
        ),
        pri AS (
            SELECT sum(y) * 1.0 / count(*) AS prior FROM base
        )
        SELECT b.o_orderkey, b.cat, CAST(b.y AS BIGINT) AS y,
               g.n_cat, g.sum_y,
               {sql_rnd(
                   f"(g.sum_y - b.y + {_TE_M} * p.prior)"
                   f" / (g.n_cat - 1 + {_TE_M})", 6
               )} AS loo_enc,
               {sql_rnd(
                   f"(g.sum_y + {_TE_M} * p.prior)"
                   f" / (g.n_cat + {_TE_M})", 6
               )} AS naive_enc
        FROM base b
        JOIN grp g USING (cat)
        CROSS JOIN pri p
        WHERE b.o_orderkey % 97 = 0
    """,
    scale=(
        "Leave-one-out target encoding with m-estimate smoothing (the "
        "feature-store classic): enc_i = (sum_y(cat) - y_i + "
        "m*prior) / (n(cat) - 1 + m) — removing the row's own label "
        "is what stops the encoding from leaking the target into "
        "training. Exact integer group sums broadcast back onto rows "
        "make the per-row encoding a rational of BIGINTs plus one "
        "global prior — deterministic at any partitioning. The "
        "emitted rows are the 1-in-97 orderkey sample (the encoding "
        "exists for every row; the sample is the audit surface). "
        "100 TB: one |categories|-key agg + a broadcast join — "
        "map-only per row; high-cardinality categories fall back to "
        "the same shape with the agg sharded on cat hash."
    ),
)
def feat_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOO + naive m-estimate target encodings for sampled orders."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("cat"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    grp = base.groupBy("cat").agg(
        F.count(F.lit(1)).cast("long").alias("n_cat"),
        F.sum("y").cast("long").alias("sum_y"),
    )
    pri = base.agg(
        (F.sum("y") * F.lit(1.0) / F.count(F.lit(1))).alias("prior")
    )
    m = _TE_M
    return (
        base.where(F.col("o_orderkey") % 97 == 0)
        .join(F.broadcast(grp), "cat")
        .crossJoin(F.broadcast(pri))
        .select(
            "o_orderkey",
            "cat",
            F.col("y").cast("long").alias("y"),
            "n_cat",
            "sum_y",
            rnd(
                (F.col("sum_y") - F.col("y") + F.lit(m) * F.col("prior"))
                / (F.col("n_cat") - 1 + F.lit(m)),
                6,
            ).alias("loo_enc"),
            rnd(
                (F.col("sum_y") + F.lit(m) * F.col("prior"))
                / (F.col("n_cat") + F.lit(m)),
                6,
            ).alias("naive_enc"),
        )
    )


#: literal value-band upper bounds in cents (last band open-ended)
_WOE_BANDS = (1000, 2500, 5000, 10000, 25000)


def _band_case_sql() -> str:
    parts = []
    for i, ub in enumerate(_WOE_BANDS):
        parts.append(f"WHEN cents <= {ub} THEN {i}")
    return (
        "CASE " + " ".join(parts) + f" ELSE {len(_WOE_BANDS)} END"
    )


@op(
    "feat_woe_iv_encoding",
    oracle=f"""
        WITH t AS (
            SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS label
            FROM events
        ),
        b AS (
            SELECT CAST({_band_case_sql()} AS BIGINT) AS band,
                   label
            FROM t
        ),
        per AS (
            SELECT band,
                   CAST(sum(label) AS BIGINT) AS goods,
                   CAST(count(*) - sum(label) AS BIGINT) AS bads
            FROM b GROUP BY band
        ),
        tot AS (
            SELECT CAST(sum(goods) AS BIGINT) AS g,
                   CAST(sum(bads) AS BIGINT) AS bb
            FROM per
        ),
        woe AS (
            -- WoE = ln((goods/G)/(bads/B)) = ln(goods*B / (bads*G)):
            -- ln on an integer rational (Adamic-Adar precedent);
            -- IV terms micro-frozen BEFORE the cross-band sum
            SELECT p.band, p.goods, p.bads, t.g, t.bb,
                   CASE WHEN p.goods > 0 AND p.bads > 0
                        THEN ln(p.goods * 1.0::DOUBLE * t.bb
                                / (p.bads * 1.0::DOUBLE * t.g))
                        ELSE 0.0 END AS w,
                   CASE WHEN p.goods > 0 AND p.bads > 0
                        THEN CAST(floor(
                            (p.goods * 1.0::DOUBLE / t.g
                             - p.bads * 1.0::DOUBLE / t.bb)
                            * ln(p.goods * 1.0::DOUBLE * t.bb
                                 / (p.bads * 1.0::DOUBLE * t.g))
                            * 1000000.0 + 0.505) AS BIGINT)
                        ELSE 0 END AS iv_micro
            FROM per p CROSS JOIN tot t
        ),
        ivt AS (
            SELECT CAST(sum(iv_micro) AS BIGINT) AS iv_total_micro
            FROM woe
        )
        SELECT w.band, w.goods, w.bads,
               {sql_rnd("w.goods * 1.0 / w.g", 4)} AS good_share,
               {sql_rnd("w.bads * 1.0 / w.bb", 4)} AS bad_share,
               {sql_rnd("w.w", 4)} AS woe,
               {sql_rnd("i.iv_total_micro / 1000000.0", 4)}
                   AS iv_total
        FROM woe w CROSS JOIN ivt i
    """,
    scale=(
        "Weight-of-evidence encoding of literal value bands against "
        "the purchase label, plus the information value of the whole "
        "feature (IV < 0.02 useless, > 0.5 suspicious — the classic "
        "credit-scoring vocabulary). WoE is ln of the integer "
        "rational goods*B/(bads*G) (ln only on identical doubles); "
        "each band's IV term is micro-frozen BEFORE the cross-band "
        "BIGINT sum (order-free); empty-side bands emit 0 with the "
        "standard guard in both engines. Shape: one map-side "
        "combinable band agg, a 1-row total, a 6-row report. 100 TB: "
        "one pass; WoE tables are the interpretable cousin of "
        "feat_target_encode_loo and feed the same model prep."
    ),
)
def feat_woe_iv_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WoE per literal value band + feature IV vs purchase label."""
    ev = load_table(spark, sf_dir, "events")
    band = F.lit(len(_WOE_BANDS)).cast("long")
    for i in range(len(_WOE_BANDS) - 1, -1, -1):
        band = F.when(
            cents() <= _WOE_BANDS[i], F.lit(i).cast("long")
        ).otherwise(band)
    per = (
        ev.select(
            band.alias("band"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("label"),
        )
        .groupBy("band")
        .agg(
            F.sum("label").cast("long").alias("goods"),
            (F.count(F.lit(1)) - F.sum("label"))
            .cast("long")
            .alias("bads"),
        )
    )
    tot = per.agg(
        F.sum("goods").cast("long").alias("g"),
        F.sum("bads").cast("long").alias("bb"),
    )
    both = F.broadcast(tot).crossJoin(per).select(
        "band", "goods", "bads", "g", "bb"
    )
    ok = (F.col("goods") > 0) & (F.col("bads") > 0)
    w_expr = F.log(
        F.col("goods")
        * F.lit(1.0)
        * F.col("bb")
        / (F.col("bads") * F.lit(1.0) * F.col("g"))
    )
    woe = both.select(
        "band",
        "goods",
        "bads",
        "g",
        "bb",
        F.when(ok, w_expr).otherwise(F.lit(0.0)).alias("w"),
        F.when(
            ok,
            F.floor(
                (
                    F.col("goods") * F.lit(1.0) / F.col("g")
                    - F.col("bads") * F.lit(1.0) / F.col("bb")
                )
                * w_expr
                * F.lit(1000000.0)
                + F.lit(0.505)
            ).cast("long"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("iv_micro"),
    )
    ivt = woe.agg(
        F.sum("iv_micro").cast("long").alias("iv_total_micro")
    )
    return woe.crossJoin(F.broadcast(ivt)).select(
        "band",
        "goods",
        "bads",
        rnd(F.col("goods") * F.lit(1.0) / F.col("g"), 4).alias(
            "good_share"
        ),
        rnd(F.col("bads") * F.lit(1.0) / F.col("bb"), 4).alias(
            "bad_share"
        ),
        rnd(F.col("w"), 4).alias("woe"),
        rnd(F.col("iv_total_micro") / F.lit(1000000.0), 4).alias(
            "iv_total"
        ),
    )


#: literal hash-table widths priced
_HC_MS = (1024, 4096, 16384)


@op(
    "feat_hash_collision_audit",
    oracle=f"""
        WITH vocab AS (
            SELECT DISTINCT t.w AS w
            FROM documents, unnest(string_split(text, ' ')) AS t(w)
        ),
        grid AS (SELECT CAST(u.m AS BIGINT) AS m
                 FROM unnest([{", ".join(str(m) for m in _HC_MS)}])
                      AS u(m)),
        h AS (
            SELECT g.m,
                   {_sql_hash64("v.w")} % g.m AS bucket
            FROM vocab v CROSS JOIN grid g
        ),
        per AS (
            SELECT m, bucket, CAST(count(*) AS BIGINT) AS load
            FROM h GROUP BY m, bucket
        ),
        agg AS (
            SELECT m,
                   CAST(sum(load) AS BIGINT) AS n_words,
                   CAST(count(*) AS BIGINT) AS buckets_used,
                   CAST(sum(CASE WHEN load > 1 THEN load ELSE 0 END)
                        AS BIGINT) AS colliding_words,
                   CAST(max(load) AS BIGINT) AS max_load
            FROM per GROUP BY m
        )
        SELECT m, n_words, buckets_used, colliding_words, max_load,
               {sql_rnd("colliding_words * 1.0 / n_words", 4)}
                   AS collision_share,
               {sql_rnd("n_words * 1.0 / m", 4)} AS load_factor,
               {sql_rnd("buckets_used * 1.0 / m", 4)}
                   AS occupancy
        FROM agg
    """,
    scale=(
        "What the hashing trick costs at each width: the share of "
        "the distinct vocabulary that shares a bucket with another "
        "word, buckets used, and the worst load, per literal m. "
        "corpus_dsir_weights (hashed bigrams) and the hashed n-gram "
        "classifier both accept this collision noise — this table "
        "says how much, and whether doubling m buys anything (when "
        "occupancy is already low, collisions come from the hash, "
        "not the width). All counts exact BIGINTs over the md5 "
        "bucket assignment (identical both engines). Shape: one "
        "vocab distinct, a 3-row literal grid fan-out, a (m, "
        "bucket)-key agg, 3-row report. 100 TB: the vocab table is "
        "the corpus sufficient statistic; the audit is one agg over "
        "it."
    ),
)
def feat_hash_collision_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Collision/occupancy stats per literal hash width."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .distinct()
    )
    grid = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(int(m)) for m in _HC_MS])
        ).alias("m0")
    ).select(F.col("m0").cast("long").alias("m"))
    h = vocab.crossJoin(F.broadcast(grid)).select(
        "m", (md5_hash64(F.col("w")) % F.col("m")).alias("bucket")
    )
    per = h.groupBy("m", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("load")
    )
    agg = per.groupBy("m").agg(
        F.sum("load").cast("long").alias("n_words"),
        F.count(F.lit(1)).cast("long").alias("buckets_used"),
        F.sum(
            F.when(F.col("load") > 1, F.col("load")).otherwise(0)
        )
        .cast("long")
        .alias("colliding_words"),
        F.max("load").cast("long").alias("max_load"),
    )
    return agg.select(
        "m",
        "n_words",
        "buckets_used",
        "colliding_words",
        "max_load",
        rnd(
            F.col("colliding_words") * F.lit(1.0) / F.col("n_words"), 4
        ).alias("collision_share"),
        rnd(F.col("n_words") * F.lit(1.0) / F.col("m"), 4).alias(
            "load_factor"
        ),
        rnd(F.col("buckets_used") * F.lit(1.0) / F.col("m"), 4).alias(
            "occupancy"
        ),
    )

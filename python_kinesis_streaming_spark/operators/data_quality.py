"""The data-quality family: every ``dq_*`` operator — the probes a
training-data pipeline runs on its tables before it trusts them.

The 23 ``dq_*`` ops, by shape:

- profiling and drift: ``dq_null_profile``, ``dq_freshness``,
  ``dq_daily_metrics``, ``dq_observe_metrics`` (``df.observe`` on a
  ``count()``; it executes on build), ``dq_distribution_drift`` (PSI);
- keys, integrity and constraints: ``dq_pk_uniqueness``,
  ``dq_referential_integrity``, ``dq_unit_price_consistency``,
  ``dq_order_total_reconciliation``, ``dq_constraint_check``,
  ``dq_row_quarantine``, ``dq_expectation_suite_report``,
  ``dq_doc_vector_coverage``;
- privacy, digit-law and instrumentation audits: ``dq_k_anonymity``,
  ``dq_dp_count_release`` (Laplace noise from an md5 uniform through
  the inverse CDF, no RNG), ``dq_benford_audit``,
  ``dq_event_double_fire_audit``, ``dq_annotator_agreement_kappa``;
- score calibration: ``dq_calibration_report``,
  ``dq_temperature_scaling``, ``dq_calibration_drift``,
  ``dq_label_noise_confident``, ``dq_quality_gate_sweep``.

Shared calibration builders (Spark side; each oracle spells out the
same SQL): ``micro_score`` is the stand-in classifier score, a logistic
of one column frozen to integer micro-units before any bin or sum, so
bin membership cannot flip on a float boundary and every sum is an
exact BIGINT; ``prob_bin`` is the 10-bin reliability-diagram clamp
``least(floor(p / 1e5), 9)``; ``reliability_gap`` is a bin's
``|sum_y/n - sum_s/(1e6 n)|``, the term the n-weighted ECE sums.

Lessons kept here:

- Primary keys are checked on ``orders``, never ``lineitem``: the
  fixture has no unique lineitem key, so ``_PK_COLUMNS`` leaves it out
  and the expectations suite tests the orders PK.
- ``dq_temperature_scaling`` clamps the scaled logit to ±30 before the
  logistic: near |x| ≈ 37, 1 - p underflows to exactly 0 and ln(1 - p)
  is -inf.
- ``dq_benford_audit`` takes the first digit from integer cents cast to
  a string, never from log10, which can flip a digit by one ulp at a
  power of ten.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from python_kinesis_streaming_spark.functions.rounding import cents, rnd, sql_rnd
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table


def micro_score(col: str, center: float, scale: float) -> Column:
    """Logistic score ``1 / (1 + exp(-(col - center) / scale))`` frozen to
    integer micro-units (BIGINT in [0, 1e6]) before any bin or sum."""
    return F.floor(
        F.lit(1000000.0)
        / (F.lit(1.0) + F.exp(-((F.col(col) - F.lit(center)) / F.lit(scale))))
        + F.lit(0.505)
    ).cast("long")


def prob_bin(col: str) -> Column:
    """Reliability-diagram bin 0..9 of the micro-unit probability ``col``."""
    return F.least(
        F.floor(F.col(col) / F.lit(100000.0)).cast("long"), F.lit(9).cast("long")
    )


def reliability_gap(sum_s: str) -> Column:
    """|accuracy - mean confidence| of a reliability bin: ``sum_y``
    positives and the micro-score total ``sum_s`` over ``n`` rows."""
    return F.abs(
        F.col("sum_y") * F.lit(1.0) / F.col("n")
        - F.col(sum_s) / (F.lit(1000000.0) * F.col("n"))
    )


# ---------------------------------------------------------------------------
# profiling and drift
# ---------------------------------------------------------------------------


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


# ---------------------------------------------------------------------------
# keys, integrity and constraints
# ---------------------------------------------------------------------------


#: keyed fixture tables and their primary key (lineitem has none)
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
    "dq_constraint_check",
    oracle="""
        SELECT 'orders_custkey_fk' AS constraint_name,
               (SELECT count(*) FROM orders) AS n_checked,
               (SELECT count(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey))
                   AS n_violations
        UNION ALL
        SELECT 'lineitem_qty_range',
               (SELECT count(*) FROM lineitem),
               (SELECT count(*) FROM lineitem
                WHERE l_quantity < 1 OR l_quantity > 50)
        UNION ALL
        SELECT 'events_props_json',
               (SELECT count(*) FROM events),
               (SELECT count(*) FROM events WHERE NOT json_valid(props))
        UNION ALL
        SELECT 'customer_acctbal_notnull',
               (SELECT count(*) FROM customer),
               (SELECT count(*) FROM customer WHERE c_acctbal IS NULL)
    """,
    scale=(
        "Declarative data-quality gate (the Deequ/expectations shape): "
        "each constraint is a partial-agg count — null-rate and range "
        "checks fold into ONE scan per table (count_if), the FK check is "
        "a broadcast anti join against the dim. Output is |constraints| "
        "rows regardless of input size; at 100 TB this runs as the "
        "admission test before data enters the lake, with the violation "
        "COUNT (not a boolean) so thresholds can be tuned per constraint."
    ),
)
def dq_constraint_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four declarative constraints (FK integrity, numeric range, JSON
    validity, not-null) as one (constraint, n_checked, n_violations)
    report."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")

    def report(name, n_checked_col, n_viol_col, df):
        return df.agg(
            F.lit(name).alias("constraint_name"),
            n_checked_col.alias("n_checked"),
            n_viol_col.alias("n_violations"),
        )

    fk = report(
        "orders_custkey_fk",
        F.count(F.lit(1)),
        F.count_if(F.col("c_custkey").isNull()),
        orders.join(
            F.broadcast(cust.select("c_custkey")),
            orders["o_custkey"] == cust["c_custkey"],
            "left",
        ),
    )
    rng = report(
        "lineitem_qty_range",
        F.count(F.lit(1)),
        F.count_if((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)),
        li,
    )
    js = report(
        "events_props_json",
        F.count(F.lit(1)),
        F.count_if(F.from_json("props", "k INT").isNull()),
        ev,
    )
    nn = report(
        "customer_acctbal_notnull",
        F.count(F.lit(1)),
        F.count_if(F.col("c_acctbal").isNull()),
        cust,
    )
    return fk.unionByName(rng).unionByName(js).unionByName(nn)


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
    "dq_expectation_suite_report",
    oracle="""
        WITH pk AS (
            -- orders PK: lineitem has NO unique key in this fixture
            -- (the _PK_COLUMNS inventory in operators/features.py
            -- deliberately excludes it)
            SELECT CAST(COALESCE(sum(cnt - 1), 0) AS BIGINT) AS v FROM (
                SELECT count(*) AS cnt FROM orders GROUP BY o_orderkey
            ) WHERE cnt > 1
        ),
        fk AS (
            SELECT CAST(count(*) AS BIGINT) AS v FROM lineitem l
            WHERE NOT EXISTS (
                SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey
            )
        ),
        scalars AS (
            SELECT
                CAST(count(*) FILTER (
                    l_quantity < 1 OR l_quantity > 50) AS BIGINT)
                    AS qty_range,
                CAST(count(*) FILTER (l_extendedprice <= 0) AS BIGINT)
                    AS price_positive,
                CAST(count(*) FILTER (
                    l_discount < 0 OR l_discount > 0.1) AS BIGINT)
                    AS discount_range,
                CAST(count(*) FILTER (
                    l_tax < 0 OR l_tax > 0.08) AS BIGINT) AS tax_range
            FROM lineitem
        ),
        rows_out AS (
            SELECT '1_qty_in_1_50' AS check_name, qty_range AS n_violations
            FROM scalars
            UNION ALL
            SELECT '2_price_positive', price_positive FROM scalars
            UNION ALL
            SELECT '3_discount_in_0_01', discount_range FROM scalars
            UNION ALL
            SELECT '4_tax_in_0_008', tax_range FROM scalars
            UNION ALL
            SELECT '5_pk_orders_unique', v FROM pk
            UNION ALL
            SELECT '6_fk_orders', v FROM fk
        )
        SELECT check_name, n_violations,
               n_violations = 0 AS pass
        FROM rows_out
    """,
    scale=(
        "Great-Expectations-style suite report: six contract checks "
        "over lineitem in one table — four range/sign expectations "
        "(computed in ONE scan as conditional-count partials), primary-"
        "key uniqueness (groupBy the PK, sum the surplus — shuffles "
        "key+count only) and referential integrity to orders (left "
        "anti join on the key column). This is the op a pipeline runs "
        "as its admission gate before appending a batch (the "
        "dq_row_quarantine companion at suite granularity). At 100 TB "
        "the scalar checks are map-side partials, the PK check is one "
        "key shuffle, and the FK check broadcast-prunes when the "
        "parent fits (or bucket-joins when not). Output is 6 rows; "
        "all counts BIGINT on both engines."
    ),
)
def dq_expectation_suite_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Six-check expectations suite over lineitem (ranges, PK, FK)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    scalars = li.agg(
        F.count_if(
            (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)
        ).alias("qty_range"),
        F.count_if(F.col("l_extendedprice") <= 0).alias("price_positive"),
        F.count_if(
            (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)
        ).alias("discount_range"),
        F.count_if(
            (F.col("l_tax") < 0) | (F.col("l_tax") > 0.08)
        ).alias("tax_range"),
    )
    pk = (
        orders.groupBy("o_orderkey")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") > 1)
        .agg(F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)).alias("v"))
    )
    fk = (
        li.join(
            orders.select("o_orderkey"),
            li["l_orderkey"] == F.col("o_orderkey"),
            "left_anti",
        ).agg(F.count("*").alias("v"))
    )

    def leg(name: str, col_df: DataFrame, colname: str) -> DataFrame:
        return col_df.select(
            F.lit(name).alias("check_name"),
            F.col(colname).cast("long").alias("n_violations"),
        )

    rows_out = (
        leg("1_qty_in_1_50", scalars, "qty_range")
        .unionByName(leg("2_price_positive", scalars, "price_positive"))
        .unionByName(leg("3_discount_in_0_01", scalars, "discount_range"))
        .unionByName(leg("4_tax_in_0_008", scalars, "tax_range"))
        .unionByName(leg("5_pk_orders_unique", pk, "v"))
        .unionByName(leg("6_fk_orders", fk, "v"))
    )
    return rows_out.select(
        "check_name",
        "n_violations",
        (F.col("n_violations") == 0).alias("pass"),
    )


@op(
    "dq_doc_vector_coverage",
    oracle="""
        WITH m AS (
            SELECT d.source, d.doc_id, e.vec_id
            FROM documents d LEFT JOIN embeddings e
              ON e.vec_id = d.doc_id
        ),
        per_src AS (
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(vec_id) AS BIGINT) AS n_with_vec
            FROM m GROUP BY source
        ),
        orphans AS (
            SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings e
            WHERE NOT EXISTS (
                SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id)
        )
        SELECT source, n_docs, n_with_vec,
               floor((n_with_vec * 1.0 / n_docs) * 10000.0 + 0.505)
                   / 10000.0 AS coverage,
               CAST(0 AS BIGINT) AS n_orphan_vectors
        FROM per_src
        UNION ALL
        SELECT '_orphan_vectors', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
               0.0, n
        FROM orphans
    """,
    scale=(
        "The two-modality referential audit: which documents have no "
        "embedding (stale index — must re-embed before any semantic "
        "dedup/retrieval claims coverage) and which vectors have no "
        "document (leaked deletions). One co-partitioned left join on "
        "the doc_id=vec_id key (both sides hash the same key — no "
        "extra exchange at scale if both are bucketed on it, the "
        "multimodal_cols note) + one anti-join for orphans. The sf0.1 "
        "fixture REALLY exercises it: 5,000 docs vs 2,000 vectors — "
        "60% of docs uncovered, exactly what the audit must surface."
    ),
)
def dq_doc_vector_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source embedding coverage + orphan-vector count."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    m = docs.select("source", "doc_id").join(
        emb, docs.doc_id == emb.vec_id, "left"
    )
    per_src = m.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count("vec_id").cast("long").alias("n_with_vec"),
    )
    src_rows = per_src.select(
        "source",
        "n_docs",
        "n_with_vec",
        rnd(F.col("n_with_vec") * F.lit(1.0) / F.col("n_docs"), 4).alias(
            "coverage"
        ),
        F.lit(0).cast("long").alias("n_orphan_vectors"),
    )
    orphans = (
        emb.join(docs.select("doc_id"), emb.vec_id == docs.doc_id, "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            F.lit("_orphan_vectors").alias("source"),
            F.lit(0).cast("long").alias("n_docs"),
            F.lit(0).cast("long").alias("n_with_vec"),
            F.lit(0.0).alias("coverage"),
            F.col("n").alias("n_orphan_vectors"),
        )
    )
    return src_rows.unionByName(orphans)


# ---------------------------------------------------------------------------
# privacy, digit-law and instrumentation audits
# ---------------------------------------------------------------------------


@op(
    "dq_k_anonymity",
    oracle="""
        WITH g AS (
            SELECT lang, source,
                   CAST(floor(n_chars / 100.0) AS BIGINT) AS len_band,
                   count(*) AS grp_n
            FROM documents GROUP BY 1, 2, 3
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_groups,
               CAST(count(*) FILTER (grp_n < 5) AS BIGINT)
                   AS n_small_groups,
               CAST(sum(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END)
                    AS BIGINT) AS rows_at_risk,
               CAST(sum(grp_n) AS BIGINT) AS n_rows,
               floor((sum(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END)
                      * 1.0 / sum(grp_n)) * 10000.0 + 0.505) / 10000.0
                   AS pct_at_risk
        FROM g GROUP BY lang
    """,
    scale=(
        "k-anonymity audit (k=5) over the quasi-identifier tuple "
        "(lang, source, 100-char length band) — the privacy gate a "
        "corpus release runs before publication: any QI group smaller "
        "than k re-identifies its members. Two-level aggregation: the "
        "QI groupBy shuffles map-side partial counts on the QI hash "
        "(never row payloads), then the per-lang rollup is "
        "|QI groups| rows — at 100 TB both stages are count-only "
        "shuffles and the report is |langs| rows. Integer counts are "
        "BIGINT on both engines; the at-risk ratio rounds at 1e-4."
    ),
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang k<5 quasi-identifier group counts and rows at risk."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy(
        "lang",
        "source",
        F.floor(F.col("n_chars") / 100.0).cast("long").alias("len_band"),
    ).agg(F.count("*").alias("grp_n"))
    small = F.when(F.col("grp_n") < 5, F.col("grp_n")).otherwise(F.lit(0))
    return g.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_groups"),
        F.count_if(F.col("grp_n") < 5).cast("long").alias("n_small_groups"),
        F.sum(small).cast("long").alias("rows_at_risk"),
        F.sum("grp_n").cast("long").alias("n_rows"),
        rnd(F.sum(small) * F.lit(1.0) / F.sum("grp_n"), 4).alias(
            "pct_at_risk"
        ),
    )


# 16^15 — the span of a 15-hex-digit md5 prefix (fits in int64)
_HEX15 = float(16**15)


@op(
    "dq_dp_count_release",
    oracle=f"""
        WITH c AS (
            SELECT source, count(*) AS true_count
            FROM documents GROUP BY source
        ),
        eps AS (SELECT unnest(['0.5', '1.0']) AS eps_label),
        u AS (
            SELECT c.source, c.true_count, e.eps_label,
                   CAST(e.eps_label AS DOUBLE) AS eps,
                   (CAST(('0x' || substring(
                        md5(c.source || ':' || e.eps_label), 1, 15))
                        AS BIGINT) + 0.5) / {_HEX15} AS u
            FROM c CROSS JOIN eps e
        ),
        lap AS (
            SELECT source, true_count, eps_label,
                   -(1.0 / eps) * sign(u - 0.5)
                       * ({sql_rnd("ln(1.0 - 2.0 * abs(u - 0.5))", 6)})
                       AS noise
            FROM u
        )
        SELECT source, eps_label,
               CAST(true_count AS BIGINT) AS true_count,
               {sql_rnd("noise", 4)} AS noise,
               {sql_rnd("true_count + noise", 4)} AS released,
               {sql_rnd("abs(noise)", 4)} AS abs_err
        FROM lap
    """,
    scale=(
        "Differentially-private count release (Laplace mechanism, "
        "sensitivity 1, eps in {{0.5, 1.0}}) with DETERMINISTIC noise: "
        "u = md5(source:eps)-uniform in (0,1) through the Laplace "
        "inverse CDF -sign(u-.5)/eps * ln(1-2|u-.5|) — reproducible on "
        "both engines and across retries (a real pipeline would swap "
        "in a seeded CSPRNG per release, same shape). u can never be "
        "exactly 0.5 (the +0.5/16^15 midpoint offset makes that value "
        "unattainable), so the sign/log are always defined. The "
        "per-source counts are one map-side-partial groupBy; the eps "
        "grid is a 2-row literal cross — at 100 TB this is a "
        "count-only pass plus |sources| x 2 rows of arithmetic. The "
        "ln result rounds at 1e-6 before scaling (libm parity "
        "headroom), outputs at 1e-4."
    ),
)
def dq_dp_count_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Laplace-noised counts at eps 0.5 and 1.0."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(F.count("*").alias("true_count"))
    eps = spark.createDataFrame(
        [("0.5",), ("1.0",)], "eps_label string"
    )
    u = c.crossJoin(F.broadcast(eps)).select(
        "source",
        "true_count",
        "eps_label",
        F.col("eps_label").cast("double").alias("eps"),
        (
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(":", F.col("source"), F.col("eps_label"))
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                + F.lit(0.5)
            )
            / F.lit(_HEX15)
        ).alias("u"),
    )
    t = F.col("u") - F.lit(0.5)
    noise = (
        F.lit(-1.0)
        / F.col("eps")
        * F.signum(t)
        * rnd(F.log(F.lit(1.0) - F.lit(2.0) * F.abs(t)), 6)
    )
    return u.select(
        "source",
        "eps_label",
        F.col("true_count").cast("long").alias("true_count"),
        rnd(noise, 4).alias("noise"),
        rnd(F.col("true_count") + noise, 4).alias("released"),
        rnd(F.abs(noise), 4).alias("abs_err"),
    )


@op(
    "dq_benford_audit",
    oracle=f"""
        WITH cents AS (
            -- exact integer cents -> string -> first char: digit
            -- extraction never touches log10 (cross-engine ulp-safe)
            SELECT CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100.0
                              + 0.5) AS BIGINT) AS c
            FROM lineitem
        ),
        digits AS (
            SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) AS BIGINT)
                       AS digit
            FROM cents WHERE c > 0
        ),
        obs AS (
            SELECT digit, CAST(count(*) AS BIGINT) AS n
            FROM digits GROUP BY digit
        ),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM obs)
        SELECT o.digit, o.n,
               {sql_rnd("o.n * 1.0 / t.nt", 4)} AS obs_share,
               {sql_rnd("ln(1.0 + 1.0 / o.digit) / ln(10.0)", 4)}
                   AS exp_share,
               {sql_rnd(
                   "((o.n - t.nt * (ln(1.0 + 1.0 / o.digit) / ln(10.0)))"
                   " ^ 2) / (t.nt * (ln(1.0 + 1.0 / o.digit)"
                   " / ln(10.0)))", 4)} AS chi2_part
        FROM obs o CROSS JOIN tot t
    """,
    scale=(
        "Benford first-significant-digit audit over lineitem prices — "
        "the classic fabricated-data / unit-mixing screen. Digit "
        "extraction goes through exact integer cents (floor(x*100+.5)) "
        "and integer-to-string, identical on both engines; log10 of "
        "the value would risk a 1-ulp digit flip at powers of ten. One "
        "9-key partial agg + a 1-row total broadcast back; the "
        "chi-square contribution per digit lets the reader see WHICH "
        "digit deviates (TPC-H prices are uniform-ish, so the audit "
        "correctly screams — that is the point of an audit op). 100 TB "
        "shape: map-only digit extraction, 9-row shuffle."
    ),
)
def dq_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit distribution of l_extendedprice vs Benford's law."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = li.select(
        F.floor(
            F.col("l_extendedprice").cast("double") * F.lit(100.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("c")
    ).where(F.col("c") > 0)
    digits = cents.select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("long").alias(
            "digit"
        )
    )
    obs = digits.groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = obs.agg(F.sum("n").cast("long").alias("nt"))
    exp_share = F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit")) / F.log(
        F.lit(10.0)
    )
    return obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        rnd(F.col("n") * F.lit(1.0) / F.col("nt"), 4).alias("obs_share"),
        rnd(exp_share, 4).alias("exp_share"),
        rnd(
            F.pow(F.col("n") - F.col("nt") * exp_share, F.lit(2.0))
            / (F.col("nt") * exp_share),
            4,
        ).alias("chi2_part"),
    )


#: gap below which a same-user same-type repeat is a double-fire (µs)
_DF_GAP_US = 1000000


@op(
    "dq_event_double_fire_audit",
    oracle=f"""
        WITH e AS (
            SELECT user_id, event_type,
                   CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
                       AS ts_us,
                   event_id
            FROM events
        ),
        g AS (
            SELECT event_type,
                   ts_us - lag(ts_us) OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts_us, event_id) AS gap_us
            FROM e
        ),
        agg AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CASE WHEN gap_us < {_DF_GAP_US}
                            THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_double_fires,
                   CAST(min(gap_us) AS BIGINT) AS min_gap_us
            FROM g GROUP BY event_type
        )
        SELECT event_type, n_events, n_double_fires,
               {sql_rnd("n_double_fires * 1.0 / n_events", 6)}
                   AS double_fire_rate,
               {sql_rnd("min_gap_us / 1000.0", 3)} AS min_gap_ms
        FROM agg
    """,
    scale=(
        "Client double-fire screen: a same-user same-type event "
        "landing under 1 s after its predecessor is (with "
        "overwhelming odds) a retry/double-tap, and every funnel and "
        "count metric silently absorbs them. Per type: the "
        "double-fire count, rate and the minimum observed gap (a "
        "min_gap of ~0 ms is the smoking gun; a clean type bottoms "
        "out at human-scale gaps). Gap arithmetic is exact BIGINT "
        "micros from one (user, type)-keyed lag window. Shape: one "
        "equi-keyed fact window + a |types|-key agg. 100 TB: the "
        "same shuffle the dedup-within-watermark operator runs; this "
        "is its offline calibration table (what dedup window would "
        "kill the double-fires without eating real repeats)."
    ),
)
def dq_event_double_fire_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-type double-fire counts/rates from one keyed lag window."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_id",
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts_us", "event_id"
    )
    g = ev.select(
        "event_type",
        (F.col("ts_us") - F.lag("ts_us").over(w)).alias("gap_us"),
    )
    agg = g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(
            F.when(F.col("gap_us") < _DF_GAP_US, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_double_fires"),
        F.min("gap_us").cast("long").alias("min_gap_us"),
    )
    return agg.select(
        "event_type",
        "n_events",
        "n_double_fires",
        rnd(
            F.col("n_double_fires") * F.lit(1.0) / F.col("n_events"), 6
        ).alias("double_fire_rate"),
        rnd(F.col("min_gap_us") / F.lit(1000.0), 3).alias("min_gap_ms"),
    )


@op(
    "dq_annotator_agreement_kappa",
    oracle=f"""
        WITH ann AS (
            SELECT CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END AS a1,
                   CASE WHEN len(list_filter(string_split(text, ' '),
                                 t -> t IN ('the', 'a'))) * 10
                             <= len(string_split(text, ' '))
                        THEN 1 ELSE 0 END AS a2
            FROM documents
        ),
        cm AS (
            SELECT CAST(sum(CASE WHEN a1 = 1 AND a2 = 1 THEN 1 ELSE 0
                        END) AS BIGINT) AS n11,
                   CAST(sum(CASE WHEN a1 = 1 AND a2 = 0 THEN 1 ELSE 0
                        END) AS BIGINT) AS n10,
                   CAST(sum(CASE WHEN a1 = 0 AND a2 = 1 THEN 1 ELSE 0
                        END) AS BIGINT) AS n01,
                   CAST(sum(CASE WHEN a1 = 0 AND a2 = 0 THEN 1 ELSE 0
                        END) AS BIGINT) AS n00,
                   CAST(count(*) AS BIGINT) AS n
            FROM ann
        )
        SELECT n11, n10, n01, n00, n,
               {sql_rnd("(n11 + n00) * 1.0 / n", 4)} AS p_observed,
               {sql_rnd(
                   "((n11 + n10) * 1.0 / n) * ((n11 + n01) * 1.0 / n)"
                   " + ((n01 + n00) * 1.0 / n) * ((n10 + n00) * 1.0 / n)",
                   4
               )} AS p_expected,
               {sql_rnd(
                   "((n11 + n00) * 1.0 / n"
                   " - (((n11 + n10) * 1.0 / n) * ((n11 + n01) * 1.0 / n)"
                   "    + ((n01 + n00) * 1.0 / n) * ((n10 + n00) * 1.0 / n)))"
                   " / (1.0"
                   " - (((n11 + n10) * 1.0 / n) * ((n11 + n01) * 1.0 / n)"
                   "    + ((n01 + n00) * 1.0 / n) * ((n10 + n00) * 1.0 / n)))",
                   4
               )} AS kappa
        FROM cm
    """,
    scale=(
        "Cohen's kappa between two deterministic quality annotators — "
        "annotator 1 gates on length (n_chars >= 250), annotator 2 on "
        "stopword density (share of 'the'/'a' tokens <= 10%) — the "
        "chance-corrected agreement audit run before trusting any "
        "labeling pipeline (and the stand-in for human-vs-model label "
        "QA at scale). The 2x2 confusion is four exact BIGINT counts; "
        "kappa = (p_o - p_e)/(1 - p_e) is a rational of those counts, "
        "bit-identical anywhere. 100 TB: one map-only double-gate "
        "pass + a 1-row agg; k raters generalize via pairwise kappas "
        "or Fleiss over the same count shapes."
    ),
)
def dq_annotator_agreement_kappa(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """2x2 agreement counts + Cohen's kappa for two quality gates."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop = F.size(
        F.filter(toks, lambda t: (t == F.lit("the")) | (t == F.lit("a")))
    )
    a1 = F.when(F.col("n_chars") >= 250, 1).otherwise(0)
    a2 = F.when(stop * 10 <= F.size(toks), 1).otherwise(0)
    ann = docs.select(a1.alias("a1"), a2.alias("a2"))
    cm = ann.agg(
        F.sum(F.when((F.col("a1") == 1) & (F.col("a2") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n11"),
        F.sum(F.when((F.col("a1") == 1) & (F.col("a2") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n10"),
        F.sum(F.when((F.col("a1") == 0) & (F.col("a2") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n01"),
        F.sum(F.when((F.col("a1") == 0) & (F.col("a2") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n00"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    po = (F.col("n11") + F.col("n00")) * F.lit(1.0) / F.col("n")
    pe = (
        ((F.col("n11") + F.col("n10")) * F.lit(1.0) / F.col("n"))
        * ((F.col("n11") + F.col("n01")) * F.lit(1.0) / F.col("n"))
        + ((F.col("n01") + F.col("n00")) * F.lit(1.0) / F.col("n"))
        * ((F.col("n10") + F.col("n00")) * F.lit(1.0) / F.col("n"))
    )
    return cm.select(
        "n11",
        "n10",
        "n01",
        "n00",
        "n",
        rnd(po, 4).alias("p_observed"),
        rnd(pe, 4).alias("p_expected"),
        rnd((po - pe) / (F.lit(1.0) - pe), 4).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# score calibration (micro_score, prob_bin, reliability_gap)
# ---------------------------------------------------------------------------


@op(
    "dq_calibration_report",
    oracle="""
        WITH scored AS (
            -- deterministic logistic score in integer micro-units
            SELECT CAST(floor(1000000.0
                       / (1.0 + exp(-((n_chars - 250.0) / 100.0)))
                       + 0.505) AS BIGINT) AS s_micro,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents
        ),
        binned AS (
            SELECT least(CAST(floor(s_micro / 100000.0) AS BIGINT), 9)
                       AS bin,
                   s_micro, y
            FROM scored
        ),
        bins AS (
            SELECT bin, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(s_micro) AS BIGINT) AS sum_s,
                   CAST(sum(y) AS BIGINT) AS sum_y
            FROM binned GROUP BY bin
        ),
        tot AS (
            SELECT sum(n * abs(sum_y * 1.0 / n
                               - sum_s / (1000000.0 * n))) / sum(n)
                       AS ece
            FROM bins
        )
        SELECT b.bin, b.n,
               floor((b.sum_s / (1000000.0 * b.n)) * 10000.0 + 0.505)
                   / 10000.0 AS mean_conf,
               floor((b.sum_y * 1.0 / b.n) * 10000.0 + 0.505) / 10000.0
                   AS frac_pos,
               floor(abs(b.sum_y * 1.0 / b.n
                         - b.sum_s / (1000000.0 * b.n))
                     * 10000.0 + 0.505) / 10000.0 AS gap,
               floor(t.ece * 10000.0 + 0.505) / 10000.0 AS ece
        FROM bins b CROSS JOIN tot t
    """,
    scale=(
        "Reliability diagram + ECE — the audit a quality-classifier "
        "gate needs before its probability threshold means anything "
        "(Guo et al. 2017). Score = deterministic logistic of doc "
        "length, label = the lang='en' slice; both are stand-ins for "
        "the trained classifier's prob and the human label at scale. "
        "The score is frozen to integer micro-units BEFORE binning so "
        "bin membership can't flip on a float boundary; per-bin "
        "conf/acc come from exact integer sums; ECE is the n-weighted "
        "gap over the 10-row bin table (one partial agg + a 1-row "
        "broadcast back — the events_score_decile_lift shape). 100 TB: "
        "map-only scoring, a 10-key agg, no second scan."
    ),
)
def dq_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-bin reliability table (conf vs accuracy) + global ECE."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        micro_score("n_chars", 250.0, 100.0).alias("s_micro"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    binned = scored.select(prob_bin("s_micro").alias("bin"), "s_micro", "y")
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("s_micro").cast("long").alias("sum_s"),
        F.sum("y").cast("long").alias("sum_y"),
    )
    gap_expr = reliability_gap("sum_s")
    tot = bins.agg(
        (F.sum(F.col("n") * gap_expr) / F.sum("n")).alias("ece")
    )
    return bins.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        rnd(F.col("sum_s") / (F.lit(1000000.0) * F.col("n")), 4).alias(
            "mean_conf"
        ),
        rnd(F.col("sum_y") * F.lit(1.0) / F.col("n"), 4).alias("frac_pos"),
        rnd(gap_expr, 4).alias("gap"),
        rnd(F.col("ece"), 4).alias("ece"),
    )


@op(
    "dq_temperature_scaling",
    oracle="""
        WITH scored AS (
            SELECT (n_chars - 250.0) / 100.0 AS z,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents
        ),
        grid AS (SELECT unnest([0.5, 1.0, 2.0, 4.0]) AS t),
        clamped AS (
            -- |z/T| <= 30 keeps ln(1-p) finite for any pathological
            -- doc length (1-p underflows to exactly 0 near |x|~37)
            SELECT g.t, s.y,
                   greatest(least(s.z / g.t, 30.0), -30.0) AS x
            FROM scored s CROSS JOIN grid g
        ),
        per_row AS (
            -- integer-micro NLL and score per (row, T): exact sums
            SELECT t, y,
                   CAST(floor(1000000.0
                        / (1.0 + exp(-x)) + 0.505) AS BIGINT)
                       AS p_micro,
                   CAST(floor(-(y * ln(1.0 / (1.0 + exp(-x)))
                        + (1 - y)
                          * ln(1.0 - 1.0 / (1.0 + exp(-x))))
                        * 1000000.0 + 0.505) AS BIGINT) AS nll_micro
            FROM clamped
        ),
        binned AS (
            SELECT t, y, p_micro, nll_micro,
                   least(CAST(floor(p_micro / 100000.0) AS BIGINT), 9)
                       AS bin
            FROM per_row
        ),
        bins AS (
            SELECT t, bin, count(*) AS n,
                   sum(p_micro) AS sum_p, sum(y) AS sum_y
            FROM binned GROUP BY t, bin
        ),
        per_t AS (
            SELECT t,
                   sum(n * abs(sum_y * 1.0 / n
                               - sum_p / (1000000.0 * n))) / sum(n) AS ece
            FROM bins GROUP BY t
        ),
        nll_t AS (
            SELECT t, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(nll_micro) AS BIGINT) AS nll_sum
            FROM per_row GROUP BY t
        ),
        best AS (
            SELECT t AS best_t FROM nll_t
            ORDER BY nll_sum ASC, t ASC LIMIT 1
        )
        SELECT n.t, n.n,
               floor((n.nll_sum / (1000000.0 * n.n)) * 10000.0 + 0.505)
                   / 10000.0 AS mean_nll,
               floor(p.ece * 10000.0 + 0.505) / 10000.0 AS ece,
               CASE WHEN n.t = b.best_t THEN 1 ELSE 0 END AS is_best
        FROM nll_t n
        JOIN per_t p ON p.t = n.t
        CROSS JOIN best b
    """,
    scale=(
        "Temperature scaling (Guo et al. 2017) — the one-parameter "
        "post-hoc calibration fix — fitted by a literal 4-point "
        "temperature grid instead of gradient steps: per (row, T) the "
        "NLL freezes to integer micro-units (floor(nll*1e6) — "
        "partition-order-exact sums), the per-T aggregate is one "
        "4x|bins|-key partial agg, and the argmin-NLL temperature is "
        "flagged with a total (nll, t) tie-break. The same bins feed "
        "the post-scaling ECE so the report shows WHY the winner wins. "
        "100 TB: the grid crosses each row with 4 literal values "
        "before the partial agg — map-side fan-out, one shuffle of "
        "40 rows; a finer grid is a longer literal list, same plan."
    ),
)
def dq_temperature_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NLL + ECE per temperature in {0.5, 1, 2, 4}; argmin flagged."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        ((F.col("n_chars") - F.lit(250.0)) / F.lit(100.0)).alias("z"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    grid = spark.createDataFrame(
        [(0.5,), (1.0,), (2.0,), (4.0,)], "t double"
    )
    x = F.greatest(
        F.least(F.col("z") / F.col("t"), F.lit(30.0)), F.lit(-30.0)
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-x))
    per_row = scored.crossJoin(F.broadcast(grid)).select(
        "t",
        "y",
        F.floor(F.lit(1000000.0) * p + F.lit(0.505))
        .cast("long")
        .alias("p_micro"),
        F.floor(
            -(
                F.col("y") * F.log(p)
                + (F.lit(1) - F.col("y")) * F.log(F.lit(1.0) - p)
            )
            * F.lit(1000000.0)
            + F.lit(0.505)
        )
        .cast("long")
        .alias("nll_micro"),
    )
    binned = per_row.select(
        "t", "y", "p_micro", "nll_micro", prob_bin("p_micro").alias("bin")
    )
    bins = binned.groupBy("t", "bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("p_micro").alias("sum_p"),
        F.sum("y").alias("sum_y"),
    )
    per_t = bins.groupBy("t").agg(
        (F.sum(F.col("n") * reliability_gap("sum_p")) / F.sum("n")).alias("ece")
    )
    nll_t = per_row.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("nll_micro").cast("long").alias("nll_sum"),
    )
    wbest = Window.orderBy(F.asc("nll_sum"), F.asc("t"))
    flagged = nll_t.withColumn(
        "is_best",
        F.when(F.row_number().over(wbest) == 1, 1).otherwise(0),
    )
    return flagged.join(per_t, "t").select(
        "t",
        "n",
        rnd(F.col("nll_sum") / (F.lit(1000000.0) * F.col("n")), 4).alias(
            "mean_nll"
        ),
        rnd(F.col("ece"), 4).alias("ece"),
        "is_best",
    )


@op(
    "dq_calibration_drift",
    oracle="""
        WITH t AS (
            SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
                        AS BIGINT) AS d,
                   CAST(floor(1000000.0
                       / (1.0 + exp(-((value - 50.0) / 25.0)))
                       + 0.505) AS BIGINT) AS s_micro,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
            FROM events
        ),
        m AS (SELECT min(d) AS mn, max(d) AS mx FROM t),
        binned AS (
            SELECT CAST(CASE WHEN t.d * 2 <= m.mn + m.mx THEN 0
                        ELSE 1 END AS BIGINT) AS half,
                   least(CAST(floor(s_micro / 100000.0) AS BIGINT), 9)
                       AS bin,
                   s_micro, y
            FROM t CROSS JOIN m
        ),
        bins AS (
            SELECT half, bin,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(s_micro) AS BIGINT) AS sum_s,
                   CAST(sum(y) AS BIGINT) AS sum_y
            FROM binned GROUP BY half, bin
        ),
        ece AS (
            SELECT half,
                   sum(n * abs(sum_y * 1.0 / n
                               - sum_s / (1000000.0 * n))) / sum(n)
                       AS e
            FROM bins GROUP BY half
        ),
        drift AS (
            SELECT abs(max(CASE WHEN half = 1 THEN e END)
                       - max(CASE WHEN half = 0 THEN e END)) AS dr
            FROM ece
        )
        SELECT b.half, b.bin, b.n,
               floor((b.sum_s / (1000000.0 * b.n)) * 10000.0 + 0.505)
                   / 10000.0 AS mean_conf,
               floor((b.sum_y * 1.0 / b.n) * 10000.0 + 0.505) / 10000.0
                   AS frac_pos,
               floor(e.e * 10000.0 + 0.505) / 10000.0 AS ece_half,
               floor(d.dr * 10000.0 + 0.505) / 10000.0 AS ece_drift
        FROM bins b
        JOIN ece e ON e.half = b.half
        CROSS JOIN drift d
    """,
    scale=(
        "Temporal calibration drift: dq_calibration_report's "
        "reliability bins computed separately on the early and late "
        "half of the event stream (split at the midpoint day, derived "
        "from the data — no fixture-specific literal), with the ECE "
        "delta as the drift statistic. A quality classifier that was "
        "calibrated on January silently mis-gates July; this is the "
        "audit that catches it before the gate ships. The logistic "
        "score freezes to integer micro BEFORE binning/summing (the "
        "calibration-family exp precedent: both engines evaluate exp "
        "on identical doubles and the freeze bounds exposure); all "
        "bin sums are BIGINTs. Shape: one scan, a (half, bin)-keyed "
        "agg (20 keys), two 1-row scalars broadcast back. 100 TB: "
        "map-only scoring + a 20-key agg — rerun per ingestion batch."
    ),
)
def dq_calibration_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability bins + ECE per time-half, with the drift delta."""
    ev = load_table(spark, sf_dir, "events")
    t = ev.select(
        F.expr("unix_micros(ts) div 86400000000").alias("d"),
        micro_score("value", 50.0, 25.0).alias("s_micro"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )
    m = t.agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
    binned = t.crossJoin(F.broadcast(m)).select(
        F.when(F.col("d") * 2 <= F.col("mn") + F.col("mx"), F.lit(0))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("half"),
        prob_bin("s_micro").alias("bin"),
        "s_micro",
        "y",
    )
    bins = binned.groupBy("half", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("s_micro").cast("long").alias("sum_s"),
        F.sum("y").cast("long").alias("sum_y"),
    )
    ece = bins.groupBy("half").agg(
        (F.sum(F.col("n") * reliability_gap("sum_s")) / F.sum("n")).alias("e")
    )
    drift = ece.agg(
        F.abs(
            F.max(F.when(F.col("half") == 1, F.col("e")))
            - F.max(F.when(F.col("half") == 0, F.col("e")))
        ).alias("dr")
    )
    return (
        bins.join(ece, "half")
        .crossJoin(F.broadcast(drift))
        .select(
            "half",
            "bin",
            "n",
            rnd(F.col("sum_s") / (F.lit(1000000.0) * F.col("n")), 4)
            .alias("mean_conf"),
            rnd(F.col("sum_y") * F.lit(1.0) / F.col("n"), 4).alias(
                "frac_pos"
            ),
            rnd(F.col("e"), 4).alias("ece_half"),
            rnd(F.col("dr"), 4).alias("ece_drift"),
        )
    )


#: SQL twin of ``micro_score("n_chars", 250.0, 100.0)``, the stand-in
#: quality-classifier score
_SCORE_MICRO_SQL = """CAST(floor(1000000.0
        / (1.0 + exp(-((n_chars - 250.0) / 100.0)))
        + 0.505) AS BIGINT)"""


@op(
    "dq_label_noise_confident",
    oracle=f"""
        WITH scored AS (
            SELECT {_SCORE_MICRO_SQL} AS s_micro,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents
        ),
        thr AS (
            SELECT sum(CASE WHEN y = 1 THEN s_micro ELSE 0 END) * 1.0
                       / sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS t1,
                   sum(CASE WHEN y = 0 THEN 1000000 - s_micro ELSE 0 END)
                       * 1.0
                       / sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS t0
            FROM scored
        ),
        conf AS (
            SELECT y,
                   CASE
                       WHEN s_micro >= t1
                            AND (1000000 - s_micro) >= t0
                       THEN CASE WHEN 2 * s_micro >= 1000000
                                 THEN 1 ELSE 0 END
                       WHEN s_micro >= t1 THEN 1
                       WHEN (1000000 - s_micro) >= t0 THEN 0
                       ELSE CAST(NULL AS INTEGER)
                   END AS y_hat
            FROM scored CROSS JOIN thr
        ),
        cm AS (
            SELECT y, y_hat, CAST(count(*) AS BIGINT) AS n
            FROM conf WHERE y_hat IS NOT NULL GROUP BY y, y_hat
        ),
        spine AS (
            SELECT a.y, b.y_hat
            FROM (VALUES (0), (1)) a(y)
            CROSS JOIN (VALUES (0), (1)) b(y_hat)
        ),
        full_cm AS (
            SELECT s.y, s.y_hat,
                   CAST(COALESCE(cm.n, 0) AS BIGINT) AS n
            FROM spine s
            LEFT JOIN cm ON cm.y = s.y AND cm.y_hat = s.y_hat
        ),
        tot AS (
            SELECT CAST(sum(n) AS BIGINT) AS n_conf,
                   CAST(sum(CASE WHEN y <> y_hat THEN n ELSE 0 END)
                        AS BIGINT) AS n_off
            FROM full_cm
        )
        SELECT CAST(f.y AS BIGINT) AS y,
               CAST(f.y_hat AS BIGINT) AS y_hat,
               f.n,
               {sql_rnd('f.n * 1.0 / t.n_conf', 4)} AS share,
               CAST(CASE WHEN f.y <> f.y_hat THEN 1 ELSE 0 END
                    AS BIGINT) AS off_diag,
               {sql_rnd('t.n_off * 1.0 / t.n_conf', 4)}
                   AS est_label_error
        FROM full_cm f CROSS JOIN tot t
    """,
    scale=(
        "Confident-learning label-noise estimation (Northcutt et al. "
        "2021, binary form): per-class self-confidence thresholds "
        "t_j = mean score-for-class-j among examples labeled j, then "
        "the confident joint — examples whose score clears a class "
        "threshold are counted into C[given_label][confident_label]; "
        "the off-diagonal mass estimates the label-error rate the "
        "quality classifier's training set carries. Score is the "
        "deterministic integer-micro logistic (the calibration ops' "
        "stand-in), so threshold comparisons are exact-integer vs a "
        "double computed from BIGINT sums — bit-identical across "
        "engines and partitionings. Shape: one map-only scoring pass, "
        "a 1-row threshold agg broadcast back, a 4-key agg joined to "
        "the literal 2x2 spine (absent cells register n=0, the "
        "stratified-audit lesson). 100 TB: two scans, no shuffle "
        "wider than 4 keys."
    ),
)
def dq_label_noise_confident(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confident-learning 2x2 joint over (given label, confident label)
    with per-cell share and the global off-diagonal error estimate."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        micro_score("n_chars", 250.0, 100.0).alias("s_micro"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    thr = scored.agg(
        (
            F.sum(F.when(F.col("y") == 1, F.col("s_micro")).otherwise(0))
            * F.lit(1.0)
            / F.sum(F.when(F.col("y") == 1, 1).otherwise(0))
        ).alias("t1"),
        (
            F.sum(
                F.when(
                    F.col("y") == 0, F.lit(1000000) - F.col("s_micro")
                ).otherwise(0)
            )
            * F.lit(1.0)
            / F.sum(F.when(F.col("y") == 0, 1).otherwise(0))
        ).alias("t0"),
    )
    conf1 = F.col("s_micro") >= F.col("t1")
    conf0 = (F.lit(1000000) - F.col("s_micro")) >= F.col("t0")
    conf = scored.crossJoin(F.broadcast(thr)).select(
        "y",
        F.when(
            conf1 & conf0,
            F.when(F.lit(2) * F.col("s_micro") >= 1000000, 1).otherwise(0),
        )
        .when(conf1, 1)
        .when(conf0, 0)
        .otherwise(F.lit(None).cast("int"))
        .alias("y_hat"),
    )
    cm = (
        conf.where(F.col("y_hat").isNotNull())
        .groupBy("y", "y_hat")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    spine = (
        spark.range(1)
        .select(F.explode(F.array(F.lit(0), F.lit(1))).alias("y"))
        .crossJoin(
            spark.range(1).select(
                F.explode(F.array(F.lit(0), F.lit(1))).alias("y_hat")
            )
        )
    )
    full_cm = spine.join(cm, ["y", "y_hat"], "left").select(
        "y",
        "y_hat",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
    )
    tot = full_cm.agg(
        F.sum("n").cast("long").alias("n_conf"),
        F.sum(F.when(F.col("y") != F.col("y_hat"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_off"),
    )
    return full_cm.crossJoin(F.broadcast(tot)).select(
        F.col("y").cast("long").alias("y"),
        F.col("y_hat").cast("long").alias("y_hat"),
        "n",
        rnd(F.col("n") * F.lit(1.0) / F.col("n_conf"), 4).alias("share"),
        F.when(F.col("y") != F.col("y_hat"), 1)
        .otherwise(0)
        .cast("long")
        .alias("off_diag"),
        rnd(F.col("n_off") * F.lit(1.0) / F.col("n_conf"), 4).alias(
            "est_label_error"
        ),
    )


_GATE_GRID = (300000, 500000, 700000, 900000)


@op(
    "dq_quality_gate_sweep",
    oracle=f"""
        WITH scored AS (
            SELECT CAST(floor(1000000.0
                       / (1.0 + exp(-((n_chars - 250.0) / 100.0)))
                       + 0.505) AS BIGINT) AS s_micro,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents
        ),
        grid(thr) AS (VALUES {", ".join(f"({t})" for t in _GATE_GRID)}),
        tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS n_tokens
            FROM scored
        ),
        kept AS (
            SELECT g.thr,
                   CAST(count(*) FILTER (WHERE s.s_micro >= g.thr)
                        AS BIGINT) AS n_kept,
                   CAST(COALESCE(sum(s.n_tok)
                            FILTER (WHERE s.s_micro >= g.thr), 0)
                        AS BIGINT) AS tokens_kept,
                   CAST(COALESCE(sum(s.y)
                            FILTER (WHERE s.s_micro >= g.thr), 0)
                        AS BIGINT) AS en_kept
            FROM scored s CROSS JOIN grid g
            GROUP BY g.thr
        )
        SELECT CAST(k.thr AS BIGINT) AS thr_micro,
               k.n_kept, k.tokens_kept,
               {sql_rnd("k.n_kept * 1.0 / t.n_docs", 4)}
                   AS frac_docs_kept,
               {sql_rnd("k.tokens_kept * 1.0 / t.n_tokens", 4)}
                   AS frac_tokens_kept,
               CASE WHEN k.n_kept = 0 THEN 0.0
                    ELSE {sql_rnd("k.en_kept * 1.0 / k.n_kept", 4)}
               END AS en_share_kept
        FROM kept k CROSS JOIN tot t
    """,
    scale=(
        "Quality-gate ablation — the table a filtering pipeline reads "
        "before committing to a threshold: per literal gate, surviving "
        "doc count, token mass (the quantity that actually prices the "
        "training run) and the lang-mix shift the gate induces. "
        "Monotone by construction (each row's kept-set nests the "
        "next), which the twin test pins. Shape: one map-only scoring "
        "pass fanned across the 4-row literal grid (the agg_ecdf_grid "
        "pre-agg pattern), one 4-key agg, a 1-row total broadcast "
        "back. The score is the calibration ops' deterministic "
        "integer-micro logistic; at 100 TB the same sweep runs on the "
        "trained classifier's scores with zero shape change."
    ),
)
def dq_quality_gate_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs/token-mass/lang-mix survival per quality threshold."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        micro_score("n_chars", 250.0, 100.0).alias("s_micro"),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    grid = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(t) for t in _GATE_GRID])
        ).alias("thr")
    )
    tot = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )
    keep = F.col("s_micro") >= F.col("thr")
    kept = (
        scored.crossJoin(F.broadcast(grid))
        .groupBy("thr")
        .agg(
            F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias(
                "n_kept"
            ),
            F.sum(F.when(keep, F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("tokens_kept"),
            F.sum(F.when(keep, F.col("y")).otherwise(0))
            .cast("long")
            .alias("en_kept"),
        )
    )
    return kept.crossJoin(F.broadcast(tot)).select(
        F.col("thr").cast("long").alias("thr_micro"),
        "n_kept",
        "tokens_kept",
        rnd(F.col("n_kept") * F.lit(1.0) / F.col("n_docs"), 4).alias(
            "frac_docs_kept"
        ),
        rnd(
            F.col("tokens_kept") * F.lit(1.0) / F.col("n_tokens"), 4
        ).alias("frac_tokens_kept"),
        F.when(F.col("n_kept") == 0, F.lit(0.0))
        .otherwise(rnd(F.col("en_kept") * F.lit(1.0) / F.col("n_kept"), 4))
        .alias("en_share_kept"),
    )

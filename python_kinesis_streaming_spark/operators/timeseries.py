"""Time-series operators over the events changelog: calendar-spine gap fill,
OHLC resampling, SCD2 validity intervals, and interval merging
(SURVEY §2.12).

These are the shapes a telemetry / feature-store pipeline runs constantly:
regularize an irregular event stream onto a calendar (gap fill), compress it
to bar aggregates (OHLC), turn a changelog into slowly-changing-dimension
history (SCD2), and consolidate overlapping activity windows (interval
merge).

Determinism: every per-user ordering uses the shared changelog ordinal —
(ms since 2024-01-01)·3.5e6 + event_id (see cdc_upsert_compact,
analytics.py) — unique, int64-safe, identical on both engines after the
ns→µs cast.

Scale notes (100 TB):
- All four ops shuffle ONCE on user_id (or not at all after a pre-bucketed
  events table); everything after the shuffle is window/agg work inside the
  partition. No self-joins, no cross products.
- Gap fill generates the calendar spine with `sequence()` per user — O(span)
  rows per user, produced executor-side (no driver loop) and joined
  broadcast-free because the spine inherits the user_id partitioning.
- Forward fill is last(ignorenulls) over an unbounded-preceding window —
  a single sort per user partition, no iterative pass.
- OHLC uses min_by/max_by on the int64 ordinal: a mergeable partial agg
  (Spark keeps (ordinal, value) pairs), so bars combine map-side like sums.
- Interval merge is the running-max island trick: max(end) over preceding
  rows flags chain breaks — one window pass, no pairwise overlap join
  (which would be O(n²) per user at 100 TB).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from python_kinesis_streaming_spark.functions.rounding import rnd, sql_rnd
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table

#: Shared changelog ordinal (both engines): ms since 2024-01-01 × 3.5e6 +
#: event_id. See cdc_upsert_compact's docstring for the int64/double-safety
#: argument.
_ORD_SQL = (
    "CAST(floor((epoch_us(CAST(ts AS TIMESTAMP)) - 1704067200000000) / 1000.0)"
    " AS BIGINT) * 3500000 + event_id"
)


def _ord_col() -> F.Column:
    return (
        F.floor((F.unix_micros("ts") - F.lit(1704067200000000)) / F.lit(1000.0))
        .cast("long")
        * F.lit(3500000)
        + F.col("event_id")
    )


@op(
    "ts_gap_fill",
    oracle=f"""
        WITH daily AS (
            SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
                   {sql_rnd("sum(value)")} AS day_value
            FROM events GROUP BY 1, 2
        ),
        spine AS (
            SELECT user_id,
                   unnest(generate_series(min(d), max(d), INTERVAL 1 DAY)) AS d
            FROM daily GROUP BY user_id
        )
        SELECT s.user_id, s.d,
               last_value(dl.day_value IGNORE NULLS) OVER (
                   PARTITION BY s.user_id ORDER BY s.d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS filled_value,
               (dl.day_value IS NULL) AS is_gap
        FROM spine s LEFT JOIN daily dl
          ON s.user_id = dl.user_id AND s.d = dl.d
    """,
    scale=(
        "Calendar regularization: per-user daily spine via sequence() "
        "(executor-side, O(span) rows), left join back on (user_id, day) — "
        "same partitioning as the agg, so AQE plans a local join — then "
        "one last(ignorenulls) window pass for the forward fill. At 100 TB "
        "the spine is |users|x|days|, far smaller than the event input."
    ),
)
def ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-user value series with gaps forward-filled from the last
    observed day (gap rows flagged)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("d"))
        .agg(rnd(F.sum("value")).alias("day_value"))
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
        .select(
            "user_id",
            F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("d"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["user_id", "d"], "left")
        .select(
            "user_id",
            "d",
            F.last("day_value", ignorenulls=True).over(w).alias("filled_value"),
            F.col("day_value").isNull().alias("is_gap"),
        )
    )


@op(
    "ts_ohlc_resample",
    oracle=f"""
        SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
               arg_min(value, {_ORD_SQL}) AS open,
               max(value) AS high,
               min(value) AS low,
               arg_max(value, {_ORD_SQL}) AS close,
               count(*) AS n_events
        FROM events
        GROUP BY 1, 2
    """,
    scale=(
        "Bar resampling: one groupBy on (user_id, day); open/close are "
        "min_by/max_by on the int64 ordinal — mergeable (ordinal, value) "
        "partial-agg state, so bars combine map-side exactly like sums. "
        "Raw doubles pass through arg extrema untouched (no arithmetic), "
        "so no rounding is needed for bit parity."
    ),
)
def ts_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars of `value` per user (first/last by changelog order)."""
    ev = load_table(spark, sf_dir, "events").withColumn("ord", _ord_col())
    return (
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("d"))
        .agg(
            F.min_by("value", "ord").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ord").alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@op(
    "scd2_history",
    oracle=f"""
        WITH ordered AS (
            SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts_us,
                   {_ORD_SQL} AS ord,
                   lag(event_type) OVER (PARTITION BY user_id ORDER BY {_ORD_SQL})
                       AS prev_type
            FROM events
        ),
        changes AS (
            SELECT user_id, event_type, ts_us, ord FROM ordered
            WHERE prev_type IS NULL OR event_type <> prev_type
        )
        SELECT user_id, event_type AS state, ts_us AS valid_from,
               lead(ts_us) OVER (PARTITION BY user_id ORDER BY ord) AS valid_to,
               (lead(ts_us) OVER (PARTITION BY user_id ORDER BY ord) IS NULL)
                   AS is_current
        FROM changes
    """,
    scale=(
        "SCD2 from a changelog: two window passes over ONE user_id "
        "partitioning (lag to drop no-op updates, lead to close validity "
        "intervals) — the standard merge-free way to build dimension "
        "history. State stays inside the shuffle partition; output is "
        "|changes|-sized, never |events|-sized."
    ),
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type-2) history of each user's event_type:
    one row per state change with [valid_from, valid_to) and is_current."""
    ev = load_table(spark, sf_dir, "events").withColumn("ord", _ord_col())
    w = Window.partitionBy("user_id").orderBy("ord")
    changes = (
        ev.select(
            "user_id",
            "event_type",
            F.col("ts").alias("ts_us"),
            "ord",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .where(F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type")))
    )
    wc = Window.partitionBy("user_id").orderBy("ord")
    return changes.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts_us").alias("valid_from"),
        F.lead("ts_us").over(wc).alias("valid_to"),
        F.lead("ts_us").over(wc).isNull().alias("is_current"),
    )


@op(
    "interval_merge",
    oracle=f"""
        WITH iv AS (
            SELECT user_id,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS s,
                   epoch_us(CAST(ts AS TIMESTAMP)) + 1800000000 AS e,
                   {_ORD_SQL} AS ord
            FROM events
        ),
        flagged AS (
            SELECT user_id, s, e,
                   CASE WHEN s > max(e) OVER (
                       PARTITION BY user_id ORDER BY s, ord
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) OR max(e) OVER (
                       PARTITION BY user_id ORDER BY s, ord
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) IS NULL THEN 1 ELSE 0 END AS new_island
            FROM iv
        ),
        islands AS (
            SELECT user_id, s, e,
                   sum(new_island) OVER (
                       PARTITION BY user_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS island_id
            FROM flagged
        ),
        merged AS (
            SELECT user_id, island_id,
                   min(s) AS island_start, max(e) AS island_end
            FROM islands GROUP BY 1, 2
        )
        SELECT user_id,
               count(*) AS n_intervals,
               CAST(sum(island_end - island_start) AS BIGINT) AS covered_us,
               min(island_start) AS first_start_us,
               max(island_end) AS last_end_us
        FROM merged GROUP BY user_id
    """,
    scale=(
        "Overlap consolidation WITHOUT a pairwise self-join: running "
        "max(end) over preceding rows flags chain breaks, a running sum "
        "numbers the islands, then two cheap aggs — all inside one user_id "
        "partition sort. The naive interval-overlap join is O(n²) per user "
        "and unrunnable at 100 TB; this is O(n log n). Durations in int64 "
        "µs — exact, no float rounding."
    ),
)
def interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge each user's overlapping 30-minute activity intervals; report
    merged-interval count and exact covered time in µs."""
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(1800000000)).alias("e"),
        _ord_col().alias("ord"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "ord")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id",
        "s",
        "e",
        F.when(
            F.max("e").over(w_prev).isNull() | (F.col("s") > F.max("e").over(w_prev)),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_island"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = flagged.select(
        "user_id",
        "s",
        "e",
        F.sum("new_island").over(w_run).alias("island_id"),
    )
    merged = islands.groupBy("user_id", "island_id").agg(
        F.min("s").alias("island_start"), F.max("e").alias("island_end")
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum(F.col("island_end") - F.col("island_start")).alias("covered_us"),
        F.min("island_start").alias("first_start_us"),
        F.max("island_end").alias("last_end_us"),
    )


def ewma(
    df: DataFrame,
    part_col: str,
    order_cols: Sequence[str],
    value_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Per-partition exponentially weighted moving average of ``value_col``
    folded in ``order_cols`` order, seeded with the first value: returns
    (part_col, n_events, ewma). The recursion runs as a bounded in-row HOF
    fold after one partial-agg shuffle — no window sort, no Python,
    bit-reproducible across engines for a fixed order."""
    a = float(alpha)
    grouped = df.groupBy(part_col).agg(
        F.array_sort(F.collect_list(F.struct(*order_cols, value_col))).alias("a")
    )
    return grouped.select(
        part_col,
        F.size("a").cast("long").alias("n_events"),
        F.expr(
            f"aggregate(slice(a, 2, size(a) - 1), "
            f"CAST(element_at(a, 1).`{value_col}` AS DOUBLE), "
            f"(acc, s) -> {a} * s.`{value_col}` + {1.0 - a} * acc)"
        ).alias("ewma"),
    )


@op(
    "ts_ewma",
    oracle=f"""
        SELECT user_id,
               count(*) AS n_events,
               {sql_rnd("list_reduce(list(value::DOUBLE ORDER BY ts, event_id), "
                        "(acc, x) -> 0.5 * x + 0.5 * acc)", 6)} AS ewma
        FROM events GROUP BY user_id
    """,
    scale=(
        "Sequential state as a bounded in-row fold: EWMA is inherently "
        "recursive, but per KEY the sequence fits one aggregation buffer — "
        "collect_list + array_sort + a codegen HOF fold runs it without a "
        "window sort or any Python. One user_id shuffle; both engines fold "
        "in the identical (ts, event_id) order with identical double "
        "arithmetic, so the recursion is bit-reproducible. For unbounded "
        "keys switch to the streaming sessionizer shape "
        "(applyInPandasWithState) where the EWMA IS the per-key state."
    ),
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average (alpha=0.5) of event
    values in event-time order, seeded with the first value."""
    ev = load_table(spark, sf_dir, "events")
    return ewma(ev, "user_id", ["ts", "event_id"], "value").select(
        "user_id", "n_events", rnd(F.col("ewma"), 6).alias("ewma")
    )


@op(
    "ts_changepoint_cusum",
    oracle=f"""
        WITH daily AS (
            SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
                   count(*) AS n
            FROM events GROUP BY 1
        ),
        stats AS (SELECT avg(n) AS mu FROM daily),
        cusum AS (
            SELECT d, n,
                   sum(n - mu) OVER (ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS c
            FROM daily, stats
        )
        SELECT d AS changepoint_day,
               {sql_rnd("abs(c)", 4)} AS cusum_abs,
               CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days
        FROM cusum
        ORDER BY abs(c) DESC, d LIMIT 1
    """,
    scale=(
        "CUSUM changepoint over the daily series: the heavy work is the "
        "|days|-row daily agg (partial-agg over events); the CUSUM sweep "
        "itself runs on that TINY series — ordered window over |days| "
        "rows, then an argmax. The monitoring primitive for ingest-volume "
        "shifts; at 100 TB the daily rollup is the only full-data pass "
        "and is usually already materialized."
    ),
)
def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-likely level-shift day of daily event volume via the max-|CUSUM|
    statistic (mean-centered cumulative sum)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    mu = daily.agg(F.avg("n")).first()[0]  # scalar over |days| rows
    n_days = daily.count()
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cusum = daily.select(
        "d", F.sum(F.col("n") - F.lit(float(mu))).over(w).alias("c")
    )
    return (
        cusum.select(
            F.col("d").alias("changepoint_day"),
            rnd(F.abs("c"), 4).alias("cusum_abs"),
            F.lit(n_days).cast("long").alias("n_days"),
        )
        .orderBy(F.desc("cusum_abs"), F.asc("changepoint_day"))
        .limit(1)
    )


@op(
    "ts_autocorr",
    oracle=f"""
        WITH daily AS (
            SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
                   sum(value) AS v
            FROM events GROUP BY 1
        ),
        lagged AS (
            SELECT v,
                   lag(v, 1) OVER (ORDER BY d) AS v1,
                   lag(v, 2) OVER (ORDER BY d) AS v2,
                   lag(v, 3) OVER (ORDER BY d) AS v3
            FROM daily
        ),
        c AS (
            SELECT corr(v, v1) AS a1, corr(v, v2) AS a2, corr(v, v3) AS a3
            FROM lagged
        )
        SELECT 1 AS lag, {sql_rnd("a1", 6)} AS acf FROM c
        UNION ALL SELECT 2, {sql_rnd("a2", 6)} FROM c
        UNION ALL SELECT 3, {sql_rnd("a3", 6)} FROM c
    """,
    scale=(
        "Autocorrelation of the daily aggregate series at lags 1-3 — the "
        "seasonality screen run before fitting any forecast model. The "
        "series is reduced to day grain FIRST (one partial agg; |days| rows "
        "regardless of SF), so the window sort and the three corr "
        "aggregates all operate on a relation that fits in one task at any "
        "scale. corr's co-moment state is mergeable, so even a year-grain "
        "series would stay a partial agg. All three lags share ONE window "
        "sort (same ORDER BY, three lag offsets)."
    ),
)
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..3 autocorrelation of the daily total-value series."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.sum("value").alias("v")
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        "v",
        F.lag("v", 1).over(w).alias("v1"),
        F.lag("v", 2).over(w).alias("v2"),
        F.lag("v", 3).over(w).alias("v3"),
    )
    c = lagged.agg(
        rnd(F.corr("v", "v1"), 6).alias("a1"),
        rnd(F.corr("v", "v2"), 6).alias("a2"),
        rnd(F.corr("v", "v3"), 6).alias("a3"),
    )
    return c.select(
        F.expr("stack(3, 1, a1, 2, a2, 3, a3) AS (lag, acf)")
    )


@op(
    "ts_seasonal_profile",
    oracle=f"""
        WITH hourly AS (
            SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
                   sum(value) AS hv
            FROM events GROUP BY 1
        ),
        prof AS (
            SELECT CAST(hour(h) AS INTEGER) AS hod,
                   avg(hv) AS avg_v,
                   CAST(count(*) AS BIGINT) AS n_hours
            FROM hourly GROUP BY 1
        )
        SELECT hod, {sql_rnd("avg_v")} AS avg_value, n_hours,
               {sql_rnd("avg_v / avg(avg_v) OVER ()", 4)} AS seasonal_idx
        FROM prof
    """,
    scale=(
        "Hour-of-day seasonal index (the multiplicative-decomposition "
        "seasonal component): two stacked partial aggs — raw events to "
        "hour grain, hour grain to the 24-row hour-of-day profile — then "
        "the normalizing grand mean is a frameless window over those 24 "
        "rows (no scalar-subquery re-scan, no cross join). Both aggs "
        "combine map-side; the only data-sized shuffle is the first, keyed "
        "on |days|x24 distinct hours."
    ),
)
def ts_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day average activity and its normalized seasonal index."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.sum("value").alias("hv")
    )
    prof = hourly.groupBy(F.hour("h").alias("hod")).agg(
        F.avg("hv").alias("avg_v"),
        F.count(F.lit(1)).alias("n_hours"),
    )
    return prof.select(
        "hod",
        rnd(F.col("avg_v")).alias("avg_value"),
        "n_hours",
        rnd(
            F.col("avg_v") / F.avg("avg_v").over(Window.partitionBy()), 4
        ).alias("seasonal_idx"),
    )


@op(
    "events_attribution_first_touch",
    oracle=f"""
        WITH e AS (
            SELECT user_id, event_type, value,
                   first_value(event_type) OVER (
                       PARTITION BY user_id ORDER BY {_ORD_SQL}
                   ) AS first_touch
            FROM events
        )
        SELECT first_touch,
               CAST(count(*) AS BIGINT) AS n_purchases,
               {sql_rnd("sum(value)")} AS attributed_value
        FROM e
        WHERE event_type = 'purchase'
        GROUP BY first_touch
    """,
    scale=(
        "First-touch marketing attribution: every purchase credits the "
        "user's FIRST event type. One shuffle on user_id serves the "
        "first_value window (ordered by the shared changelog ordinal — "
        "deterministic under same-ms ties); the purchase filter then "
        "shrinks the relation before the tiny |event_types| re-agg. At "
        "100 TB the window needs only first_value running state (no full "
        "buffering), and a pre-bucketed events table removes the shuffle "
        "entirely."
    ),
)
def events_attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute purchase value to each user's first-seen event type."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(_ord_col())
    return (
        ev.withColumn("first_touch", F.first("event_type").over(w))
        .where(F.col("event_type") == "purchase")
        .groupBy("first_touch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            rnd(F.sum("value")).alias("attributed_value"),
        )
    )


@op(
    "ts_interarrival",
    oracle=f"""
        WITH g AS (
            SELECT event_type,
                   (epoch_us(CAST(ts AS TIMESTAMP))
                    - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                          PARTITION BY user_id ORDER BY {_ORD_SQL}
                      )) / 1000000.0 AS gap_s
            FROM events
        )
        SELECT event_type,
               CAST(count(gap_s) AS BIGINT) AS n_gaps,
               {sql_rnd("avg(gap_s)")} AS avg_gap_s,
               {sql_rnd("quantile_cont(gap_s, 0.5)")} AS p50_gap_s,
               {sql_rnd("quantile_cont(gap_s, 0.95)")} AS p95_gap_s
        FROM g
        WHERE gap_s IS NOT NULL
        GROUP BY event_type
    """,
    scale=(
        "Per-user inter-arrival gaps (the burstiness / engagement-cadence "
        "metric): one shuffle on user_id for the lag window — ordered by "
        "the shared changelog ordinal so same-ms ties resolve identically "
        "— then a tiny per-type agg of the gap distribution. Exact "
        "percentiles collect per-group sorted gaps; at 100 TB swap in "
        "approx_percentile's mergeable sketch (same ladder as "
        "agg_percentile). Gap arithmetic is integer microseconds divided "
        "once at the end — no float accumulation across rows."
    ),
)
def ts_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap stats (avg/p50/p95 seconds) per event type."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(_ord_col())
    g = ev.select(
        "event_type",
        (
            (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w))
            / F.lit(1000000.0)
        ).alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    return g.groupBy("event_type").agg(
        F.count("gap_s").cast("long").alias("n_gaps"),
        rnd(F.avg("gap_s")).alias("avg_gap_s"),
        rnd(F.expr("percentile(gap_s, 0.5)")).alias("p50_gap_s"),
        rnd(F.expr("percentile(gap_s, 0.95)")).alias("p95_gap_s"),
    )


@op(
    "ts_holt_linear",
    oracle=f"""
        WITH seq AS (
            SELECT user_id,
                   list(value::DOUBLE ORDER BY CAST(ts AS TIMESTAMP), event_id)
                       AS xs
            FROM events GROUP BY user_id
        ),
        folded AS (
            -- accumulator is a DOUBLE[2] pair [level, trend]: DuckDB 1.0's
            -- lambda mis-evaluates STRUCT accumulators inside list_reduce
            -- (verified: field cross-talk on the 2nd fold step); LIST
            -- accumulators fold correctly and match Spark bit-for-bit.
            SELECT user_id, len(xs) AS n_events,
                   list_reduce(
                       list_prepend([xs[1], 0.0::DOUBLE],
                           list_transform(xs[2:], x -> [x, 0.0::DOUBLE])),
                       (acc, s) -> [
                           0.6::DOUBLE * s[1]
                               + 0.4::DOUBLE * (acc[1] + acc[2]),
                           0.3::DOUBLE * (0.6::DOUBLE * s[1]
                               + 0.4::DOUBLE * (acc[1] + acc[2]) - acc[1])
                               + 0.7::DOUBLE * acc[2]]) AS hw
            FROM seq
        )
        SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
               {sql_rnd("hw[1]", 6)} AS level,
               {sql_rnd("hw[2]", 6)} AS trend,
               {sql_rnd("hw[1] + 3 * hw[2]", 6)} AS forecast_h3
        FROM folded
    """,
    scale=(
        "Holt's linear-trend double exponential smoothing — the "
        "level+trend recursion ts_ewma's single-state fold can't express. "
        "Same bounded in-row fold shape: per-key sequence collected into "
        "one aggregation buffer, struct accumulator (level, trend) folded "
        "by a codegen HOF — one user_id shuffle, no window sort, no "
        "Python. Both engines fold the identical (ts, event_id) order "
        "with identical double arithmetic, so the recursion and the "
        "3-step-ahead forecast are bit-reproducible. Unbounded keys → "
        "the applyInPandasWithState sessionizer shape, state = (l, b)."
    ),
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Holt linear smoothing (alpha=0.6, beta=0.3) of event values
    in event-time order; emits final level/trend and a 3-step forecast."""
    ev = load_table(spark, sf_dir, "events")
    grouped = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("a")
    )
    hw = F.expr(
        "aggregate(slice(a, 2, size(a) - 1), "
        "named_struct('l', CAST(element_at(a, 1).value AS DOUBLE), "
        "             'b', CAST(0.0 AS DOUBLE)), "
        "(acc, s) -> named_struct("
        "  'l', 0.6D * s.value + 0.4D * (acc.l + acc.b), "
        "  'b', 0.3D * (0.6D * s.value + 0.4D * (acc.l + acc.b) - acc.l) "
        "       + 0.7D * acc.b))"
    )
    return grouped.select(
        "user_id",
        F.size("a").cast("long").alias("n_events"),
        rnd(hw.getField("l"), 6).alias("level"),
        rnd(hw.getField("b"), 6).alias("trend"),
        rnd(hw.getField("l") + 3 * hw.getField("b"), 6).alias("forecast_h3"),
    )


@op(
    "ts_hopping_agg",
    oracle="""
        WITH hopped AS (
            SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
                       - k.k * INTERVAL '15 minutes' AS window_start,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM events, unnest(range(4)) AS k(k)
        )
        SELECT window_start,
               window_start + INTERVAL '1 hour' AS window_end,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(cents) AS BIGINT) AS sum_cents
        FROM hopped GROUP BY window_start
    """,
    scale=(
        "Batch hopping-window aggregation via Spark's native "
        "window(ts, '1 hour', '15 minutes'): each row fans out to "
        "windowLength/slide = 4 buckets map-side, then one partial agg — "
        "the shuffle carries (window, partial) pairs, 4x the tumbling "
        "cardinality and independent of row count. The same window() call "
        "is the streaming formulation (stream_sliding), so batch backfill "
        "and live computation share one definition — no drift between "
        "them. The oracle derives identical epoch-aligned window starts "
        "arithmetically."
    ),
)
def ts_hopping_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows hopping every 15 min over events: count + value sum."""
    ev = load_table(spark, sf_dir, "events")
    win = F.window("ts", "1 hour", "15 minutes")
    return (
        ev.select(win.alias("w"), F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"))
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "sum_cents",
        )
    )


@op(
    "ts_seasonal_decompose",
    oracle="""
        WITH daily AS (
            SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1
        ),
        trended AS (
            SELECT d, n,
                   CASE WHEN count(*) OVER w = 7
                        THEN floor(avg(n) OVER w * 10000.0 + 0.505) / 10000.0
                   END AS trend,
                   dayofweek(d) AS dow
            FROM daily
            WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        ),
        seasonal AS (
            SELECT dow,
                   floor(avg(n - trend) * 10000.0 + 0.505) / 10000.0
                       AS s_dow
            FROM trended WHERE trend IS NOT NULL GROUP BY dow
        )
        SELECT t.d, t.n, t.trend, s.s_dow AS seasonal,
               CASE WHEN t.trend IS NOT NULL
                    THEN floor((t.n - t.trend - s.s_dow) * 10000.0 + 0.505)
                         / 10000.0
               END AS residual
        FROM trended t JOIN seasonal s USING (dow)
    """,
    scale=(
        "Classical additive seasonal decomposition (moving-average "
        "trend, day-of-week seasonal means, residual) — the STL-lite "
        "every volume-anomaly monitor needs: run it on daily partials "
        "(|days| rows after the first agg, trivially small at any input "
        "size), so the centered 7-day window and the |dow|-row seasonal "
        "broadcast never touch raw events. Edge days (incomplete "
        "window) emit NULL trend rather than a biased average — pinned "
        "by the count(*)-over-window guard on both engines."
    ),
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event volume split into trend (7d centered MA), day-of-week
    seasonal, and residual components."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy("d").rowsBetween(-3, 3)
    trended = daily.select(
        "d",
        "n",
        F.when(F.count(F.lit(1)).over(w) == 7, rnd(F.avg("n").over(w), 4)).alias(
            "trend"
        ),
        F.dayofweek("d").alias("dow"),
    )
    seasonal = (
        trended.where(F.col("trend").isNotNull())
        .groupBy("dow")
        .agg(rnd(F.avg(F.col("n") - F.col("trend")), 4).alias("seasonal"))
    )
    return trended.join(F.broadcast(seasonal), "dow").select(
        F.col("d").cast("timestamp").alias("d"),
        "n",
        "trend",
        "seasonal",
        F.when(
            F.col("trend").isNotNull(),
            rnd(F.col("n") - F.col("trend") - F.col("seasonal"), 4),
        ).alias("residual"),
    )


@op(
    "ts_campaign_overlap",
    oracle="""
        WITH gaps AS (
            SELECT user_id,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                   CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                             - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                                 PARTITION BY user_id
                                 ORDER BY CAST(ts AS TIMESTAMP), event_id)
                             > 1800000000
                             OR lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                                 PARTITION BY user_id
                                 ORDER BY CAST(ts AS TIMESTAMP), event_id)
                                IS NULL
                        THEN 1 ELSE 0 END AS new_s
            FROM events
        ),
        sess AS (
            SELECT user_id,
                   min(us) AS s_start, max(us) AS s_end
            FROM (SELECT user_id, us,
                         sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                             AS sid
                  FROM gaps)
            GROUP BY user_id, sid
        ),
        campaigns AS (
            SELECT c.i AS campaign_id,
                   epoch_us(TIMESTAMP '2024-01-01')
                       + c.i * 864000000000 AS c_start,
                   epoch_us(TIMESTAMP '2024-01-01')
                       + c.i * 864000000000 + 172800000000 AS c_end
            FROM unnest(range(3)) AS c(i)
        )
        SELECT campaign_id,
               CAST(count(*) FILTER (WHERE least(s_end, c_end)
                    > greatest(s_start, c_start)) AS BIGINT)
                   AS n_overlapping_sessions,
               CAST(sum(greatest(0, least(s_end, c_end)
                    - greatest(s_start, c_start)) // 1000000) AS BIGINT)
                   AS overlap_seconds
        FROM sess, campaigns
        GROUP BY campaign_id
    """,
    scale=(
        "Interval-overlap duration join: sessionized user intervals "
        "against a tiny broadcast campaign-window table, overlap length "
        "= max(0, min(ends) - max(starts)) — closed-form, no "
        "event-level expansion. Session build is one lag-gap pass "
        "(shared user_id shuffle); the campaign side is |campaigns| "
        "rows so the interval join is a broadcast fan-out of 3, never "
        "an interval self-join. Integer-µs arithmetic throughout — the "
        "attribution-by-exposure-time primitive."
    ),
)
def ts_campaign_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seconds of user-session time overlapping each of 3 fixed 2-day
    campaign windows (10-day cadence)."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        us.alias("us"),
        F.when(
            (us - F.lag(us).over(w) > 1800000000)
            | F.lag(us).over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = (
        gaps.withColumn("sid", F.sum("new_s").over(w_run))
        .groupBy("user_id", "sid")
        .agg(F.min("us").alias("s_start"), F.max("us").alias("s_end"))
    )
    base = 1704067200000000
    campaigns = spark.range(3).select(
        F.col("id").cast("long").alias("campaign_id"),
        (F.lit(base) + F.col("id") * 864000000000).alias("c_start"),
        (F.lit(base) + F.col("id") * 864000000000 + 172800000000).alias(
            "c_end"
        ),
    )
    joined = sess.crossJoin(F.broadcast(campaigns))
    ov = F.least("s_end", "c_end") - F.greatest("s_start", "c_start")
    return joined.groupBy("campaign_id").agg(
        F.count(F.when(ov > 0, 1)).alias("n_overlapping_sessions"),
        F.sum(F.floor(F.greatest(ov, F.lit(0)) / 1000000)).cast("long").alias(
            "overlap_seconds"
        ),
    )


@op(
    "ts_tumbling_offset",
    oracle="""
        SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP),
                           TIMESTAMP '2024-01-01 00:30:00') AS window_start,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events GROUP BY 1
    """,
    scale=(
        "Offset-aligned tumbling windows — window(ts, '1 hour', "
        "startTime='30 minutes') shifts bucket boundaries to :30 (the "
        "business-day / non-UTC-midnight alignment every reporting "
        "pipeline eventually needs) WITHOUT changing the plan: still "
        "one map-side bucket assignment + partial agg. The oracle's "
        "time_bucket origin parameter pins the identical alignment "
        "arithmetic; misaligned engines shift every boundary row into "
        "the wrong bucket, which the hash check catches wholesale."
    ),
)
def ts_tumbling_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling counts with bucket boundaries offset to :30."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "1 hour", "30 minutes").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "n_users")
    )


@op(
    "ts_rolling_corr",
    oracle="""
        WITH hourly AS (
            SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                        AS DOUBLE) AS clicks,
                   CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                        AS DOUBLE) AS views
            FROM events GROUP BY 1
        )
        SELECT CAST(h AS TIMESTAMP) AS hour,
               floor(corr(clicks, views) OVER (
                   ORDER BY h ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
                   * 10000.0 + 0.505) / 10000.0 AS click_view_corr_24h,
               CAST(count(*) OVER (
                   ORDER BY h ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS frame_n
        FROM hourly
    """,
    scale=(
        "Rolling cross-metric correlation: the raw stream collapses to an "
        "hourly grid FIRST (partial-agg shuffle, ~720 rows/month "
        "regardless of input volume), then corr runs as a bounded-frame "
        "window over the tiny grid — the window never touches raw events, "
        "so a 100 TB month still does its corr pass over hours, not rows. "
        "The single unpartitioned window is safe precisely because the "
        "grid is calendar-bounded; for per-entity correlation add the "
        "entity to both the groupBy and the window partition."
    ),
)
def ts_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h correlation between hourly click and view counts."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).cast("double").alias("clicks"),
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).cast("double").alias("views"),
    )
    w = Window.orderBy("hour").rowsBetween(-23, Window.currentRow)
    return hourly.select(
        "hour",
        rnd(F.corr("clicks", "views").over(w), 4).alias(
            "click_view_corr_24h"
        ),
        F.count(F.lit(1)).over(w).alias("frame_n"),
    )


@op(
    "ts_rolling_distinct_hll",
    oracle="""
        WITH du AS (
            SELECT DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
                   user_id
            FROM events
        ),
        days AS (SELECT DISTINCT d FROM du)
        SELECT CAST(days.d AS TIMESTAMP) AS day,
               CAST(count(DISTINCT du.user_id) AS BIGINT) AS exact_7d,
               TRUE AS within_5pct
        FROM days JOIN du
          ON du.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
        GROUP BY days.d
    """,
    scale=(
        "Rolling 7-day distinct users via DataSketches union — the "
        "pattern that makes sliding uniques tractable at 100 TB: ONE "
        "pass builds a per-day HLL sketch (mergeable partial agg, "
        "|days| binary rows), then hll_union_agg over a 7-row window "
        "frame unions sketches instead of re-touching raw data — the "
        "window works on ~30 rows where the naive day-range self-join "
        "re-scans 7x the stream. The op carries its own audit: the "
        "exact rolling distinct (computed here the expensive way, "
        "feasible at fixture scale) bounds the estimate at 5% "
        "(lgConfigK=12, ~1.6% RSE). Persist the daily sketch table "
        "and ANY trailing window becomes a sub-second union."
    ),
)
def ts_rolling_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7d distinct users per day: HLL-union estimate vs exact."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", "ts").alias("d"), "user_id"
    ).distinct()
    daily = du.groupBy("d").agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk")
    )
    w = Window.orderBy("d").rowsBetween(-6, Window.currentRow)
    est = daily.select(
        F.col("d").alias("day"),
        F.hll_sketch_estimate(F.hll_union_agg("sk").over(w)).alias("est"),
    )
    days = du.select("d").distinct()
    exact = (
        days.alias("a")
        .join(
            du.alias("b"),
            (F.col("b.d") >= F.col("a.d") - F.expr("INTERVAL 6 DAYS"))
            & (F.col("b.d") <= F.col("a.d")),
        )
        .groupBy(F.col("a.d").alias("day"))
        .agg(F.count_distinct("b.user_id").alias("exact_7d"))
    )
    return est.join(exact, "day").select(
        "day",
        "exact_7d",
        (
            F.abs(F.col("est") - F.col("exact_7d"))
            <= 0.05 * F.col("exact_7d")
        ).alias("within_5pct"),
    )


@op(
    "ts_time_weighted_avg",
    oracle="""
        WITH seq AS (
            SELECT user_id, value,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                   lead(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id
                   ) AS next_us
            FROM events
        ),
        seg AS (
            SELECT user_id, value, (next_us - us) AS dur_us
            FROM seq WHERE next_us IS NOT NULL
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_segments,
               floor((sum(value * dur_us) / sum(dur_us)) * 10000.0
                     + 0.505) / 10000.0 AS twa_value,
               floor(avg(value) * 10000.0 + 0.505) / 10000.0
                   AS naive_avg
        FROM seg GROUP BY user_id
    """,
    scale=(
        "Time-weighted average (the TWAP/telemetry-gauge aggregation): "
        "each observation holds until the next one, so its weight is its "
        "holding duration — one lead() on the user partitioning turns "
        "the point stream into segments, and the TWA is two mergeable "
        "sums (value x dur, dur). The naive average ships alongside "
        "because the GAP between them is the sampling-bias diagnostic. "
        "One shuffle, one sort, partial-agg finish; duration arithmetic "
        "in integer micros keeps both engines bit-identical. At 100 TB "
        "the segment relation is also what ts_campaign_overlap-style "
        "interval accounting consumes."
    ),
)
def ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted vs naive average of the value gauge."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "value",
        F.unix_micros("ts").alias("us"),
        F.lead(F.unix_micros("ts")).over(w).alias("next_us"),
    ).where(F.col("next_us").isNotNull())
    seg = seq.select(
        "user_id", "value", (F.col("next_us") - F.col("us")).alias("dur_us")
    )
    return seg.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        rnd(
            F.sum(F.col("value") * F.col("dur_us")) / F.sum("dur_us"), 4
        ).alias("twa_value"),
        rnd(F.avg("value"), 4).alias("naive_avg"),
    )


def interpolate_hourly(
    df: DataFrame, key: str, ts: str, value_col: str
) -> DataFrame:
    """Linear interpolation of each ``key``'s irregular ``value_col`` gauge
    onto the hourly marks inside its observed span: returns (key, hour,
    interp_value). Union-spine + IGNORE NULLS bracketing, zero joins
    between spine and points."""
    pts = df.select(
        key,
        F.unix_micros(F.col(ts)).alias("us"),
        F.col(value_col).cast("double").alias("v"),
        F.lit(0).alias("is_spine"),
    )
    bounds = df.groupBy(key).agg(
        (
            F.date_trunc("hour", F.min(ts)) + F.expr("INTERVAL 1 HOUR")
        ).alias("h0"),
        F.date_trunc("hour", F.max(ts)).alias("h1"),
    )
    spine = bounds.select(
        key,
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    ).select(
        key,
        F.unix_micros("h").alias("us"),
        F.lit(None).cast("double").alias("v"),
        F.lit(1).alias("is_spine"),
    )
    u = pts.unionByName(spine)
    w_prev = (
        Window.partitionBy(key)
        .orderBy("us", "is_spine")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy(key)
        .orderBy("us", "is_spine")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    point_us = F.when(F.col("v").isNotNull(), F.col("us"))
    ctx = u.select(
        key,
        "us",
        "is_spine",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(point_us, ignorenulls=True).over(w_prev).alias("pus"),
        F.first("v", ignorenulls=True).over(w_next).alias("nv"),
        F.first(point_us, ignorenulls=True).over(w_next).alias("nus"),
    )
    interp = F.when(F.col("nus") == F.col("pus"), F.col("pv")).otherwise(
        F.col("pv")
        + (F.col("nv") - F.col("pv"))
        * (F.col("us") - F.col("pus"))
        / (F.col("nus") - F.col("pus"))
    )
    return (
        ctx.where(
            (F.col("is_spine") == 1)
            & F.col("pv").isNotNull()
            & F.col("nv").isNotNull()
        )
        .select(
            key,
            F.timestamp_micros(F.col("us")).alias("hour"),
            interp.alias("interp_value"),
        )
    )


@op(
    "ts_linear_interpolate",
    oracle="""
        WITH pts AS (
            SELECT user_id,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                   CAST(value AS DOUBLE) AS v,
                   0 AS is_spine
            FROM events
        ),
        bounds AS (
            SELECT user_id,
                   date_trunc('hour', CAST(min(ts) AS TIMESTAMP))
                       + INTERVAL 1 HOUR AS h0,
                   date_trunc('hour', CAST(max(ts) AS TIMESTAMP)) AS h1
            FROM events GROUP BY user_id
        ),
        hours AS (
            SELECT g.h FROM generate_series(
                TIMESTAMP '2024-01-01 00:00:00',
                TIMESTAMP '2024-02-01 00:00:00',
                INTERVAL 1 HOUR) g(h)
        ),
        spine AS (
            SELECT b.user_id, epoch_us(g.h) AS us,
                   CAST(NULL AS DOUBLE) AS v, 1 AS is_spine
            FROM bounds b JOIN hours g ON g.h BETWEEN b.h0 AND b.h1
        ),
        u AS (
            SELECT * FROM pts UNION ALL SELECT * FROM spine
        ),
        ctx AS (
            SELECT user_id, us, is_spine,
                   last_value(v IGNORE NULLS) OVER w_prev AS pv,
                   last_value(CASE WHEN v IS NOT NULL THEN us END
                              IGNORE NULLS) OVER w_prev AS pus,
                   first_value(v IGNORE NULLS) OVER w_next AS nv,
                   first_value(CASE WHEN v IS NOT NULL THEN us END
                               IGNORE NULLS) OVER w_next AS nus
            FROM u
            WINDOW
              w_prev AS (PARTITION BY user_id ORDER BY us, is_spine
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW),
              w_next AS (PARTITION BY user_id ORDER BY us, is_spine
                         ROWS BETWEEN CURRENT ROW
                                  AND UNBOUNDED FOLLOWING)
        )
        SELECT user_id,
               CAST(to_timestamp(us / 1000000) AS TIMESTAMP) AS hour,
               floor((CASE WHEN nus = pus THEN pv
                           ELSE pv + (nv - pv) * (us - pus)
                                / (nus - pus) END) * 10000.0 + 0.505)
                   / 10000.0 AS interp_value
        FROM ctx
        WHERE is_spine = 1 AND pv IS NOT NULL AND nv IS NOT NULL
    """,
    scale=(
        "Linear interpolation of an irregular gauge onto an hourly grid "
        "— the mark-to-grid op financial and sensor pipelines run "
        "before any cross-series math. The union-spine trick does it "
        "with ZERO joins: observations and grid marks interleave in one "
        "per-user sort, bracketing neighbors come from IGNORE NULLS "
        "last/first over the two half-frames, and the interpolation is "
        "a per-row expression. Spine size is bounded by each user's "
        "active span (generated executor-side, inherits the user "
        "partitioning). One shuffle, one sort — compare ts_gap_fill "
        "(step-fill) which this generalizes with a second directional "
        "window."
    ),
)
def ts_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's value gauge linearly interpolated at hourly marks."""
    ev = load_table(spark, sf_dir, "events")
    return interpolate_hourly(ev, "user_id", "ts", "value").select(
        "user_id", "hour", rnd(F.col("interp_value"), 4).alias("interp_value")
    )


@op(
    "ts_forecast_backtest",
    oracle=f"""
        WITH daily AS (
            SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
                   CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS DOUBLE) AS cents
            FROM events GROUP BY 1
        ),
        train AS (
            SELECT list(cents ORDER BY d) AS xs,
                   max(d) AS last_d, count(*) AS n_train
            FROM daily WHERE d < TIMESTAMP '2024-01-24'
        ),
        fitted AS (
            SELECT last_d, n_train,
                   list_reduce(
                       list_prepend([xs[1], 0.0::DOUBLE],
                           list_transform(xs[2:], x -> [x, 0.0::DOUBLE])),
                       (acc, s) -> [
                           0.6::DOUBLE * s[1]
                               + 0.4::DOUBLE * (acc[1] + acc[2]),
                           0.3::DOUBLE * (0.6::DOUBLE * s[1]
                               + 0.4::DOUBLE * (acc[1] + acc[2]) - acc[1])
                               + 0.7::DOUBLE * acc[2]]) AS hw
            FROM train
        ),
        scored AS (
            SELECT f.n_train,
                   abs(t.cents - (f.hw[1]
                       + date_diff('day', f.last_d, t.d) * f.hw[2]))
                       AS abs_err,
                   abs(t.cents - (f.hw[1]
                       + date_diff('day', f.last_d, t.d) * f.hw[2]))
                       / t.cents AS rel_err
            FROM daily t, fitted f
            WHERE t.d >= TIMESTAMP '2024-01-24'
        )
        SELECT CAST(max(n_train) AS BIGINT) AS n_train_days,
               CAST(count(*) AS BIGINT) AS n_test_days,
               {sql_rnd("avg(abs_err) / 100.0", 2)} AS mae_dollars,
               {sql_rnd("avg(rel_err)", 4)} AS mape
        FROM scored
    """,
    scale=(
        "Forecast backtesting inside the engine: fit Holt level+trend on "
        "the pre-cutoff daily series (the proven bounded in-row fold — "
        "identical double arithmetic both engines, LIST accumulator per "
        "the DuckDB struct-fold quirk), project h-step-ahead onto the "
        "holdout week, and report MAE/MAPE — the number that decides "
        "whether the forecast ships. The fold runs over ~23 daily "
        "aggregates regardless of raw volume (the reduction happened "
        "first), the fitted state broadcasts as one row, and the "
        "integer-cents daily totals make the recursion bit-exact. "
        "Backtest-before-deploy as a single query."
    ),
)
def ts_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt backtest: fit on days < Jan 24, score MAE/MAPE on the rest."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).cast("double").alias("cents")
    )
    cutoff = F.lit("2024-01-24").cast("timestamp")
    train = daily.where(F.col("d") < cutoff).agg(
        F.array_sort(F.collect_list(F.struct("d", "cents"))).alias("a"),
        F.max("d").alias("last_d"),
        F.count(F.lit(1)).alias("n_train"),
    )
    hw = F.expr(
        "aggregate(slice(a, 2, size(a) - 1), "
        "named_struct('l', CAST(element_at(a, 1).cents AS DOUBLE), "
        "             'b', CAST(0.0 AS DOUBLE)), "
        "(acc, s) -> named_struct("
        "  'l', 0.6D * s.cents + 0.4D * (acc.l + acc.b), "
        "  'b', 0.3D * (0.6D * s.cents + 0.4D * (acc.l + acc.b) - acc.l) "
        "       + 0.7D * acc.b))"
    )
    fitted = train.select(
        "last_d",
        "n_train",
        hw.getField("l").alias("l"),
        hw.getField("b").alias("b"),
    )
    test = daily.where(F.col("d") >= cutoff)
    scored = test.crossJoin(F.broadcast(fitted)).select(
        "n_train",
        F.abs(
            F.col("cents")
            - (
                F.col("l")
                + F.datediff(F.col("d"), F.col("last_d")) * F.col("b")
            )
        ).alias("abs_err"),
        (
            F.abs(
                F.col("cents")
                - (
                    F.col("l")
                    + F.datediff(F.col("d"), F.col("last_d")) * F.col("b")
                )
            )
            / F.col("cents")
        ).alias("rel_err"),
    )
    return scored.agg(
        F.max("n_train").alias("n_train_days"),
        F.count(F.lit(1)).alias("n_test_days"),
        rnd(F.avg("abs_err") / 100.0, 2).alias("mae_dollars"),
        rnd(F.avg("rel_err"), 4).alias("mape"),
    )

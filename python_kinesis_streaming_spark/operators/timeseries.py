"""The time-series family: every ``ts_*`` operator over the events table,
plus three changelog ops that share its ordinal (``scd2_history``,
``interval_merge``, ``events_attribution_first_touch``) (SURVEY §2.12).

The 31 ``ts_*`` ops, by shape:

- calendar and resampling: ``ts_gap_fill``, ``ts_ohlc_resample``,
  ``ts_downsample_m4``, ``ts_tumbling_offset``, ``ts_hopping_agg``,
  ``ts_linear_interpolate``, ``ts_time_weighted_avg``,
  ``ts_interarrival``, ``ts_rolling_corr``, ``ts_rolling_distinct_hll``,
  ``ts_campaign_overlap``;
- smoothing and forecasting: ``ts_ewma``, ``ts_holt_linear``,
  ``ts_holt_winters_seasonal``, ``ts_kalman_filter_level``,
  ``ts_croston_intermittent``, ``ts_forecast_backtest``;
- seasonality and spectrum: ``ts_seasonal_profile``,
  ``ts_seasonal_decompose``, ``ts_decomposition_strength``,
  ``ts_periodogram_dominant``, ``ts_weekday_anova``, ``ts_autocorr``,
  ``ts_ljung_box_whiteness``, ``ts_rollup_variance_retention``;
- change, anomaly and control charts: ``ts_changepoint_cusum``,
  ``ts_cusum_page_alarm``, ``ts_ewma_control_chart``,
  ``ts_individuals_control_chart``, ``ts_anomaly_mad``;
- similarity search: ``ts_znorm_series_search``.

Shared series builders: ``daily_cents`` (integer-cents total per key and
UTC day), ``indexed_daily_cents`` (per event type, with each day's
position in its type's series) and ``day_number_cents`` (per day number
since the epoch). Each freezes ``value`` with ``functions/rounding.py::cents``
before the sum, so every daily total is an exact BIGINT on both engines.

Determinism: every per-user ordering uses the shared changelog ordinal —
(ms since 2024-01-01)·3.5e6 + event_id (see cdc_upsert_compact,
analytics.py) — unique, int64-safe, identical on both engines after the
ns→µs cast. Recursive folds (Holt, Holt-Winters, Kalman, Croston) use
Spark's ``aggregate`` over a sorted array; the DuckDB oracles fold with a
LIST accumulator, because DuckDB 1.0's ``list_reduce`` mis-evaluates
STRUCT accumulators. Trig and EWMA weight tables are Python-generated
literals that both engines read verbatim, so no libm ulp can flip a
floor boundary; the CUSUM and I-MR charts decide alarms in exact
integers.

Scale notes (100 TB):
- Gap fill, OHLC, SCD2 and interval merge shuffle ONCE on user_id (or
  not at all after a pre-bucketed events table); everything after the
  shuffle is window/agg work inside the partition. No self-joins, no
  cross products.
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
- The daily-series ops pre-aggregate to |keys| × |days| rows before any
  window, self-join or fold, so only that bounded series is reordered.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from python_kinesis_streaming_spark.functions.rounding import cents, rnd, sql_rnd
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


def daily_cents(ev: DataFrame, *keys: str) -> DataFrame:
    """Integer-cents value total ``cents`` per ``keys`` and UTC day ``d``."""
    return ev.groupBy(*keys, F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.sum(cents()).cast("long").alias("cents")
    )


def indexed_daily_cents(ev: DataFrame) -> DataFrame:
    """``daily_cents`` per ``event_type`` with the day's 0-based position
    ``t`` in its type's series (``d`` dropped)."""
    return daily_cents(ev, "event_type").select(
        "event_type",
        "cents",
        (F.row_number().over(Window.partitionBy("event_type").orderBy("d")) - 1)
        .cast("long")
        .alias("t"),
    )


def day_number_cents(ev: DataFrame) -> DataFrame:
    """Integer-cents value total ``cents`` per UTC day number ``d`` (days
    since the epoch)."""
    return (
        ev.select(
            (F.unix_micros(F.col("ts")) / F.lit(86400000000)).cast("long").alias("d"),
            cents().alias("c"),
        )
        .groupBy("d")
        .agg(F.sum("c").cast("long").alias("cents"))
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
        ev.select(win.alias("w"), cents().alias("cents"))
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
        F.sum(cents()).cast("double").alias("cents")
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


# ---------------------------------------------------------------------------
# M4 downsampling per hour bucket
# ---------------------------------------------------------------------------


@op(
    "ts_downsample_m4",
    oracle=f"""
        WITH o AS (
            SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
                   value, {_ORD_SQL} AS ord
            FROM events
        )
        SELECT CAST(bucket AS TIMESTAMP) AS bucket,
               CAST(count(*) AS BIGINT) AS n,
               {sql_rnd("min_by(value, ord)")} AS v_first,
               {sql_rnd("max_by(value, ord)")} AS v_last,
               {sql_rnd("min(value)")} AS v_min,
               {sql_rnd("max(value)")} AS v_max
        FROM o GROUP BY bucket
    """,
    scale=(
        "M4 downsampling — the error-free line-chart reduction "
        "(per pixel-column bucket keep first/last/min/max): the standard "
        "way to ship a 100 TB series to a dashboard without losing "
        "extremes. One mergeable aggregate per bucket (min_by/max_by/"
        "min/max are all partial-agg friendly, 4 scalars of state), so "
        "the shuffle carries |buckets| rows regardless of event count. "
        "First/last ordering uses the repo's cross-engine int64 event "
        "ordinal (DuckDB max_by rejects STRUCT order keys)."
    ),
)
def ts_downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last/min/max of value per hour bucket (M4 reduction)."""
    ev = load_table(spark, sf_dir, "events")
    o = ev.select(
        F.date_trunc("hour", F.col("ts")).alias("bucket"),
        "value",
        _ord_col().alias("ord"),
    )
    return o.groupBy("bucket").agg(
        F.count("*").alias("n"),
        rnd(F.min_by("value", "ord")).alias("v_first"),
        rnd(F.max_by("value", "ord")).alias("v_last"),
        rnd(F.min("value")).alias("v_min"),
        rnd(F.max("value")).alias("v_max"),
    )


# ---------------------------------------------------------------------------
# 1-D Kalman level filter per event_type (hourly means)
# ---------------------------------------------------------------------------


@op(
    "ts_kalman_filter_level",
    oracle=f"""
        WITH hourly AS (
            SELECT event_type,
                   time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
                       AS hour,
                   {sql_rnd("avg(value)", 4)} AS z
            FROM events GROUP BY 1, 2
        ),
        seq AS (
            SELECT event_type, list(z ORDER BY hour) AS xs
            FROM hourly GROUP BY event_type
        ),
        folded AS (
            -- LIST accumulator [est, p]: DuckDB 1.0 list_reduce
            -- mis-evaluates STRUCT accumulators (ts_holt_linear note)
            SELECT event_type, len(xs) AS n_hours, xs[len(xs)] AS last_z,
                   list_reduce(
                       list_prepend([xs[1], 1.0::DOUBLE],
                           list_transform(xs[2:], x -> [x, 0.0::DOUBLE])),
                       (acc, s) -> [
                           acc[1] + ((acc[2] + 0.01) / (acc[2] + 1.01))
                               * (s[1] - acc[1]),
                           (acc[2] + 0.01) / (acc[2] + 1.01)]) AS kf
            FROM seq
        )
        SELECT event_type, CAST(n_hours AS BIGINT) AS n_hours,
               {sql_rnd("last_z", 4)} AS last_z,
               {sql_rnd("kf[1]", 6)} AS level,
               {sql_rnd("kf[2]", 6)} AS err_var
        FROM folded
    """,
    scale=(
        "1-D Kalman filter (random-walk state, process var q=0.01, "
        "observation var r=1): the optimal recursive level estimate "
        "under Gaussian noise — the state-space upgrade of ts_ewma's "
        "fixed-alpha smoothing (here the gain ADAPTS: p'=(p+q)/(p+q+r) "
        "shrinks as evidence accumulates). Same bounded fold shape as "
        "ts_holt_linear: hourly means pre-aggregate the stream "
        "(map-side partials, one event_type shuffle), the per-key "
        "sequence folds in a codegen HOF with a [est, p] accumulator, "
        "identical double arithmetic on both engines makes the "
        "recursion bit-reproducible. Observations round at 1e-4 "
        "before the fold; hour keys give the total order. Unbounded "
        "keys or unbounded history -> the applyInPandasWithState "
        "shape with (est, p) as the state row."
    ),
)
def ts_kalman_filter_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Kalman level over hourly means (q=.01, r=1)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(rnd(F.avg("value"), 4).alias("z"))
    seq = hourly.groupBy("event_type").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(hour, z))), s -> s.z)"
        ).alias("xs")
    )
    kf = F.expr(
        "aggregate(slice(xs, 2, size(xs) - 1), "
        "named_struct('e', CAST(element_at(xs, 1) AS DOUBLE), "
        "             'p', CAST(1.0 AS DOUBLE)), "
        "(acc, z) -> named_struct("
        "  'e', acc.e + ((acc.p + 0.01D) / (acc.p + 1.01D)) "
        "       * (z - acc.e), "
        "  'p', (acc.p + 0.01D) / (acc.p + 1.01D)))"
    )
    return seq.select(
        "event_type",
        F.size("xs").cast("long").alias("n_hours"),
        rnd(F.element_at("xs", -1), 4).alias("last_z"),
        rnd(kf.getField("e"), 6).alias("level"),
        rnd(kf.getField("p"), 6).alias("err_var"),
    )


# ---------------------------------------------------------------------------
# z-normalized daily-series similarity search
# ---------------------------------------------------------------------------


@op(
    "ts_znorm_series_search",
    oracle=f"""
        WITH daily AS (
            SELECT event_type,
                   date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
                   {sql_rnd("avg(value)", 4)} AS v
            FROM events GROUP BY 1, 2
        ),
        stats AS (
            SELECT event_type, avg(v) AS mu,
                   sqrt(avg(v * v) - avg(v) * avg(v)) AS sd
            FROM daily GROUP BY event_type
        ),
        z AS (
            SELECT d.event_type, d.d,
                   CASE WHEN s.sd = 0 THEN 0.0
                        ELSE (d.v - s.mu) / s.sd END AS z
            FROM daily d JOIN stats s USING (event_type)
        ),
        dist AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(count(*) AS BIGINT) AS n_days,
                   {sql_rnd("sqrt(sum((a.z - b.z) ^ 2) / count(*))", 4)}
                       AS znorm_dist
            FROM z a JOIN z b
              ON b.d = a.d AND b.event_type > a.event_type
            GROUP BY 1, 2
        )
        SELECT type_a, type_b, n_days, znorm_dist FROM (
            SELECT *, row_number() OVER (
                ORDER BY znorm_dist ASC, type_a, type_b) AS rn
            FROM dist
        ) WHERE rn <= 3
    """,
    scale=(
        "Z-normalized series similarity (the streaming-similarity "
        "search shape, EDBT 2019): per-type daily means, z-normalize "
        "each series (level and scale removed — the normalization that "
        "makes Euclidean distance meaningful for co-movement), then "
        "per-day-aligned pairwise RMS distance and the 3 closest "
        "pairs. Keys bound everything: |types| series of |days| "
        "points; the pair join is day-aligned (equi on d), never a "
        "series cross product. At 100 TB the daily pre-agg is the "
        "whole cost (map-side partials); with many series, LSH over "
        "SAX words or the wave-3 sketch prefilter bounds the pair "
        "set. Day means round at 1e-4 before the z-score; zero-"
        "variance series hit the sd=0 guard on both engines."
    ),
)
def ts_znorm_series_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 closest event-type pairs by z-normalized daily-series RMS."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(rnd(F.avg("value"), 4).alias("v"))
    stats = daily.groupBy("event_type").agg(
        F.avg("v").alias("mu"),
        F.sqrt(
            F.avg(F.col("v") * F.col("v")) - F.avg("v") * F.avg("v")
        ).alias("sd"),
    )
    z = daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "d",
        F.when(F.col("sd") == 0, F.lit(0.0))
        .otherwise((F.col("v") - F.col("mu")) / F.col("sd"))
        .alias("z"),
    )
    a = z.alias("a")
    b = z.alias("b")
    dist = (
        a.join(
            b,
            (F.col("b.d") == F.col("a.d"))
            & (F.col("b.event_type") > F.col("a.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            rnd(
                F.sqrt(
                    F.sum(
                        (F.col("a.z") - F.col("b.z"))
                        * (F.col("a.z") - F.col("b.z"))
                    )
                    / F.count(F.lit(1))
                ),
                4,
            ).alias("znorm_dist"),
        )
    )
    wr = Window.orderBy(F.asc("znorm_dist"), F.asc("type_a"), F.asc("type_b"))
    return (
        dist.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") <= 3)
        .select("type_a", "type_b", "n_days", "znorm_dist")
    )


# ---------------------------------------------------------------------------
# additive Holt-Winters with weekly seasonality
# ---------------------------------------------------------------------------


@op(
    "ts_holt_winters_seasonal",
    oracle=f"""
        WITH daily AS (
            SELECT event_type,
                   date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
                   CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS cents
            FROM events GROUP BY 1, 2
        ),
        idx AS (
            SELECT event_type, cents,
                   CAST(row_number() OVER (
                       PARTITION BY event_type ORDER BY d
                   ) - 1 AS BIGINT) AS t
            FROM daily
        ),
        seq AS (
            SELECT event_type,
                   list([CAST(cents AS DOUBLE), CAST(t AS DOUBLE)]
                        ORDER BY t) AS xs,
                   CAST(count(*) AS BIGINT) AS n_days
            FROM idx GROUP BY event_type
        ),
        init AS (
            SELECT event_type, xs, n_days,
                   (xs[1][1] + xs[2][1] + xs[3][1] + xs[4][1]
                    + xs[5][1] + xs[6][1] + xs[7][1]) / 7.0 AS l0
            FROM seq WHERE n_days >= 8
        ),
        folded AS (
            -- accumulator is a flat DOUBLE[9]: [level, trend, s0..s6].
            -- DuckDB 1.0's list_reduce mis-evaluates STRUCT
            -- accumulators (see ts_holt_linear) — LIST accumulators
            -- fold correctly and match Spark bit-for-bit.
            SELECT event_type, n_days,
                   list_reduce(
                       list_prepend(
                           [l0, 0.0]
                               || list_transform(xs[1:7],
                                                 e -> e[1] - l0),
                           xs[8:CAST(n_days AS INT)]),
                       (acc, s) -> [
                           0.5 * (s[1]
                               - acc[3 + (CAST(s[2] AS INT) % 7)])
                               + 0.5 * (acc[1] + acc[2]),
                           0.3 * ((0.5 * (s[1]
                               - acc[3 + (CAST(s[2] AS INT) % 7)])
                               + 0.5 * (acc[1] + acc[2])) - acc[1])
                               + 0.7 * acc[2]
                       ]
                       || acc[3:2 + (CAST(s[2] AS INT) % 7)]
                       || [0.2 * (s[1] - (0.5 * (s[1]
                               - acc[3 + (CAST(s[2] AS INT) % 7)])
                               + 0.5 * (acc[1] + acc[2])))
                               + 0.8 * acc[3
                                   + (CAST(s[2] AS INT) % 7)]]
                       || acc[4 + (CAST(s[2] AS INT) % 7):9]
                   ) AS hw
            FROM init
        )
        SELECT event_type, n_days,
               {sql_rnd("hw[1] / 100.0", 6)} AS level,
               {sql_rnd("hw[2] / 100.0", 6)} AS trend,
               {sql_rnd(
                   "hw[3 + (CAST(n_days AS INT) % 7)] / 100.0", 6
               )} AS s_next,
               {sql_rnd(
                   "(hw[1] + 1 * hw[2]"
                   " + hw[3 + (CAST(n_days AS INT) % 7)]) / 100.0", 6
               )} AS forecast_h1,
               {sql_rnd(
                   "(hw[1] + 7 * hw[2]"
                   " + hw[3 + (CAST((n_days + 6) AS INT) % 7)]) / 100.0",
                   6
               )} AS forecast_h7
        FROM folded
    """,
    scale=(
        "Additive Holt-Winters (alpha=0.5, beta=0.3, gamma=0.2, m=7) "
        "over per-type daily value totals — the level+trend+seasonal "
        "recursion ts_holt_linear's two-state fold cannot express. "
        "Same bounded in-row fold shape: one event_type shuffle "
        "collects the daily series (days, not events — the "
        "aggregation happens first, so the array is |days| long no "
        "matter the row count), then a codegen HOF folds a 9-slot "
        "accumulator [l, b, s0..s6], rebuilding the seasonal slot by "
        "slice-concat. Day values enter as exact integer cents; init "
        "is the first-7-day mean with s_j = x_j - l0; slots key on "
        "the POSITIONAL day index (identical groupBy output both "
        "engines), so a sparse day at tiny SF shifts both engines "
        "identically. Both engines fold the identical order with "
        "identical double arithmetic — level/trend/seasonal and the "
        "h=1/h=7 forecasts are bit-reproducible at 1e-6. Unbounded "
        "keys -> the applyInPandasWithState shape, state = "
        "(l, b, s[0..6])."
    ),
)
def ts_holt_winters_seasonal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-event-type additive Holt-Winters over daily value cents
    (weekly season): final level/trend/next-slot seasonal + h=1, h=7
    forecasts."""
    daily = daily_cents(load_table(spark, sf_dir, "events"), "event_type")
    idx = daily.select(
        "event_type",
        F.col("cents").cast("double").alias("x"),
        (
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("d")
            )
            - 1
        )
        .cast("long")
        .alias("t"),
    )
    seq = idx.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("t", "x"))).alias("a"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    ).where(F.col("n_days") >= 8)
    withl0 = seq.withColumn(
        "l0",
        (
            F.element_at("a", 1).getField("x")
            + F.element_at("a", 2).getField("x")
            + F.element_at("a", 3).getField("x")
            + F.element_at("a", 4).getField("x")
            + F.element_at("a", 5).getField("x")
            + F.element_at("a", 6).getField("x")
            + F.element_at("a", 7).getField("x")
        )
        / F.lit(7.0),
    )
    hw = F.expr(
        """
        aggregate(
            slice(a, 8, CAST(n_days AS INT) - 7),
            named_struct(
                'l', l0,
                'b', CAST(0.0 AS DOUBLE),
                's', transform(slice(a, 1, 7), e -> e.x - l0)),
            (acc, s) -> named_struct(
                'l', 0.5D * (s.x
                        - element_at(acc.s, CAST(s.t % 7 AS INT) + 1))
                        + 0.5D * (acc.l + acc.b),
                'b', 0.3D * ((0.5D * (s.x
                        - element_at(acc.s, CAST(s.t % 7 AS INT) + 1))
                        + 0.5D * (acc.l + acc.b)) - acc.l)
                        + 0.7D * acc.b,
                's', concat(
                        slice(acc.s, 1, CAST(s.t % 7 AS INT)),
                        array(0.2D * (s.x - (0.5D * (s.x
                            - element_at(acc.s,
                                         CAST(s.t % 7 AS INT) + 1))
                            + 0.5D * (acc.l + acc.b)))
                            + 0.8D * element_at(
                                acc.s, CAST(s.t % 7 AS INT) + 1)),
                        slice(acc.s, CAST(s.t % 7 AS INT) + 2,
                              6 - CAST(s.t % 7 AS INT)))))
        """
    )
    folded = withl0.select(
        "event_type", "n_days", hw.alias("hw")
    )
    s_next = F.element_at(
        F.col("hw").getField("s"),
        (F.col("n_days") % 7).cast("int") + 1,
    )
    s_h7 = F.element_at(
        F.col("hw").getField("s"),
        ((F.col("n_days") + 6) % 7).cast("int") + 1,
    )
    return folded.select(
        "event_type",
        "n_days",
        rnd(F.col("hw").getField("l") / F.lit(100.0), 6).alias("level"),
        rnd(F.col("hw").getField("b") / F.lit(100.0), 6).alias("trend"),
        rnd(s_next / F.lit(100.0), 6).alias("s_next"),
        rnd(
            (
                F.col("hw").getField("l")
                + F.lit(1) * F.col("hw").getField("b")
                + s_next
            )
            / F.lit(100.0),
            6,
        ).alias("forecast_h1"),
        rnd(
            (
                F.col("hw").getField("l")
                + F.lit(7) * F.col("hw").getField("b")
                + s_h7
            )
            / F.lit(100.0),
            6,
        ).alias("forecast_h7"),
    )


# ---------------------------------------------------------------------------
# robust MAD anomaly detection
# ---------------------------------------------------------------------------


@op(
    "ts_anomaly_mad",
    oracle="""
        WITH c AS (
            SELECT event_type,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
                   event_id
            FROM events
        ),
        r AS (
            SELECT event_type, cents,
                   CAST(row_number() OVER (
                       PARTITION BY event_type ORDER BY cents, event_id
                   ) AS BIGINT) AS rn,
                   CAST(count(*) OVER (PARTITION BY event_type)
                        AS BIGINT) AS cnt
            FROM c
        ),
        med AS (
            -- exact integer median, doubled to stay integral for even n
            SELECT event_type, cnt,
                   CAST(CASE WHEN cnt % 2 = 1 THEN 2 * sum(picked)
                        ELSE sum(picked) END AS BIGINT) AS med2
            FROM (
                SELECT event_type, cnt,
                       CASE WHEN rn IN ((cnt + 1) // 2, (cnt + 2) // 2)
                            THEN cents END AS picked
                FROM r
            ) GROUP BY event_type, cnt
        ),
        dev AS (
            SELECT c.event_type, c.event_id, m.cnt, m.med2,
                   abs(2 * c.cents - m.med2) AS dh
            FROM c JOIN med m ON m.event_type = c.event_type
        ),
        dr AS (
            SELECT event_type, dh, cnt, med2,
                   CAST(row_number() OVER (
                       PARTITION BY event_type ORDER BY dh, event_id
                   ) AS BIGINT) AS rn
            FROM dev
        ),
        mad AS (
            SELECT event_type, cnt, med2,
                   CAST(CASE WHEN cnt % 2 = 1 THEN 2 * sum(picked)
                        ELSE sum(picked) END AS BIGINT) AS mad2
            FROM (
                SELECT event_type, cnt, med2,
                       CASE WHEN rn IN ((cnt + 1) // 2, (cnt + 2) // 2)
                            THEN dh END AS picked
                FROM dr
            ) GROUP BY event_type, cnt, med2
        )
        SELECT d.event_type,
               CAST(m.cnt AS BIGINT) AS n,
               CAST(m.med2 / 200.0 AS DOUBLE) AS median_value,
               CAST(m.mad2 / 400.0 AS DOUBLE) AS mad_value,
               CAST(sum(CASE WHEN 20000 * d.dh > 44478 * m.mad2
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
               floor(sum(CASE WHEN 20000 * d.dh > 44478 * m.mad2
                              THEN 1 ELSE 0 END) * 1.0 / m.cnt
                     * 10000.0 + 0.505) / 10000.0 AS anomaly_rate,
               CAST(max(d.dh) / 200.0 AS DOUBLE) AS max_dev_value
        FROM dev d JOIN mad m ON m.event_type = d.event_type
        GROUP BY d.event_type, m.cnt, m.med2, m.mad2
    """,
    scale=(
        "Robust anomaly detection: flag |x - median| > 3 * 1.4826 * "
        "MAD (the normal-consistency factor makes MAD a sigma "
        "estimate outliers cannot poison, unlike mean/stddev). Every "
        "quantity is an exact integer — values in cents, the median "
        "DOUBLED (med2 = one or two middle ranks summed) so even-n "
        "medians stay integral, deviations as dh = |2*cents - med2|, "
        "the MAD doubled again — and the flag is the pure-BIGINT "
        "comparison 20000*dh > 44478*mad2 (3*1.4826 scaled by 1e4), "
        "so NO float enters a branch: both engines flag the identical "
        "set at any partitioning. percentile_approx is banned here "
        "(partition-order-dependent, the engine-quirks lesson); the "
        "exact rank median costs one in-partition sort per key. "
        "100 TB: windows are PARTITIONED BY event_type; a skewed key "
        "uses the two-level rank pattern, and streaming deployments "
        "swap the exact median for a P2/moments sketch with the "
        "heavy-hitters-style checked bound."
    ),
)
def ts_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type exact median/MAD and 3-sigma-equivalent robust anomaly
    counts over event value cents."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "event_type",
        cents().alias("cents"),
        "event_id",
    )
    w = Window.partitionBy("event_type")
    r = c.select(
        "event_type",
        "cents",
        F.row_number()
        .over(w.orderBy("cents", "event_id"))
        .cast("long")
        .alias("rn"),
        F.count(F.lit(1)).over(w).cast("long").alias("cnt"),
    )
    lo = F.floor((F.col("cnt") + 1) / 2).cast("long")
    hi = F.floor((F.col("cnt") + 2) / 2).cast("long")
    picked = F.when(
        (F.col("rn") == lo) | (F.col("rn") == hi), F.col("cents")
    )
    med = (
        r.select("event_type", "cnt", picked.alias("picked"))
        .groupBy("event_type", "cnt")
        .agg(
            F.when(F.col("cnt") % 2 == 1, 2 * F.sum("picked"))
            .otherwise(F.sum("picked"))
            .cast("long")
            .alias("med2")
        )
    )
    dev = c.join(med, "event_type").select(
        "event_type",
        "event_id",
        "cnt",
        "med2",
        F.abs(2 * F.col("cents") - F.col("med2")).alias("dh"),
    )
    dr = dev.select(
        "event_type",
        "dh",
        "cnt",
        "med2",
        F.row_number()
        .over(w.orderBy("dh", "event_id"))
        .cast("long")
        .alias("rn"),
    )
    picked_dh = F.when(
        (F.col("rn") == lo) | (F.col("rn") == hi), F.col("dh")
    )
    mad = (
        dr.select("event_type", "cnt", "med2", picked_dh.alias("picked"))
        .groupBy("event_type", "cnt", "med2")
        .agg(
            F.when(F.col("cnt") % 2 == 1, 2 * F.sum("picked"))
            .otherwise(F.sum("picked"))
            .cast("long")
            .alias("mad2")
        )
    )
    flag = F.when(
        F.lit(20000) * F.col("dh") > F.lit(44478) * F.col("mad2"), 1
    ).otherwise(0)
    return (
        dev.drop("cnt", "med2")
        .join(mad, "event_type")
        .groupBy("event_type", "cnt", "med2", "mad2")
        .agg(
            F.sum(flag).cast("long").alias("n_anomalies"),
            F.max("dh").alias("max_dh"),
        )
        .select(
            "event_type",
            F.col("cnt").alias("n"),
            (F.col("med2") / F.lit(200.0)).alias("median_value"),
            (F.col("mad2") / F.lit(400.0)).alias("mad_value"),
            "n_anomalies",
            rnd(
                F.col("n_anomalies") * F.lit(1.0) / F.col("cnt"), 4
            ).alias("anomaly_rate"),
            (F.col("max_dh") / F.lit(200.0)).alias("max_dev_value"),
        )
    )


# ---------------------------------------------------------------------------
# DFT periodogram with Python-literal trig tables
# ---------------------------------------------------------------------------

_PG_N = 30  # fixture day count (positional ordinals past it just drop)
_PG_FREQS = range(1, 9)

#: (k, t) -> exact literal doubles; repr() round-trips IEEE-754 exactly,
#: so BOTH engines consume bit-identical trig values and the only
#: remaining arithmetic is one multiply (exact in both) + BIGINT sums.
_PG_TABLE = [
    (
        k,
        t,
        math.cos(2.0 * math.pi * k * t / _PG_N),
        math.sin(2.0 * math.pi * k * t / _PG_N),
    )
    for k in _PG_FREQS
    for t in range(_PG_N)
]

_PG_VALUES_SQL = ",\n            ".join(
    f"({k}, {t}, {c!r}, {s!r})" for (k, t, c, s) in _PG_TABLE
)


@op(
    "ts_periodogram_dominant",
    oracle=f"""
        WITH daily AS (
            SELECT event_type,
                   date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
                   CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS cents
            FROM events GROUP BY 1, 2
        ),
        idx AS (
            SELECT event_type, cents,
                   CAST(row_number() OVER (
                       PARTITION BY event_type ORDER BY d
                   ) - 1 AS BIGINT) AS t
            FROM daily
        ),
        spine(k, t, cosv, sinv) AS (VALUES
            {_PG_VALUES_SQL}
        ),
        terms AS (
            SELECT i.event_type, s.k,
                   CAST(floor(i.cents * s.cosv * 1000000.0 + 0.505)
                        AS BIGINT) AS c_micro,
                   CAST(floor(i.cents * s.sinv * 1000000.0 + 0.505)
                        AS BIGINT) AS s_micro
            FROM idx i JOIN spine s ON s.t = i.t
        ),
        nd AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
            FROM idx GROUP BY event_type
        ),
        spec AS (
            SELECT t.event_type, t.k, nd.n_days,
                   (sum(t.c_micro) / (100000000.0 * nd.n_days))
                       * (sum(t.c_micro) / (100000000.0 * nd.n_days))
                   + (sum(t.s_micro) / (100000000.0 * nd.n_days))
                       * (sum(t.s_micro) / (100000000.0 * nd.n_days))
                       AS power
            FROM terms t JOIN nd ON nd.event_type = t.event_type
            GROUP BY t.event_type, t.k, nd.n_days
        ),
        ranked AS (
            SELECT event_type, k, n_days,
                   {sql_rnd("power", 2)} AS power_r,
                   row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY {sql_rnd("power", 2)} DESC, k
                   ) AS rk
            FROM spec
        )
        SELECT event_type, CAST(k AS BIGINT) AS k,
               {sql_rnd("n_days * 1.0 / k", 2)} AS period_days,
               power_r AS power,
               CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS BIGINT)
                   AS is_dominant
        FROM ranked
    """,
    scale=(
        "Discrete-Fourier periodogram at k=1..8 cycles over the "
        "per-type daily series — the frequency-domain dominant-period "
        "detector (ts_seasonal_profile's calendar-free complement: it "
        "finds the period instead of assuming one). Cross-engine "
        "determinism is structural: the cos/sin tables are "
        "PYTHON-GENERATED repr() literals injected verbatim into both "
        "engines (libm cos differs by ulps between JVM and C — with "
        "literals the only float op is one multiply, bit-identical "
        "everywhere), each term freezes to integer micro before the "
        "per-(type,k) BIGINT sum, and power is computed from exact "
        "integer sums. Shape: the day aggregation happens FIRST, so "
        "the spine join fans out |days|x|freqs| rows no matter the "
        "event count; one (type,k) agg ends it. 100 TB: map-only "
        "after a |days|-row broadcast join."
    ),
)
def ts_periodogram_dominant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram power at k=1..8 cycles per type; dominant flagged."""
    idx = indexed_daily_cents(load_table(spark, sf_dir, "events"))
    spine = spark.createDataFrame(
        _PG_TABLE, "k long, t long, cosv double, sinv double"
    )
    terms = idx.join(F.broadcast(spine), "t").select(
        "event_type",
        "k",
        F.floor(F.col("cents") * F.col("cosv") * F.lit(1000000.0) + F.lit(0.505))
        .cast("long")
        .alias("c_micro"),
        F.floor(F.col("cents") * F.col("sinv") * F.lit(1000000.0) + F.lit(0.505))
        .cast("long")
        .alias("s_micro"),
    )
    nd = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    spec = (
        terms.groupBy("event_type", "k")
        .agg(
            F.sum("c_micro").cast("long").alias("sc"),
            F.sum("s_micro").cast("long").alias("ss"),
        )
        .join(nd, "event_type")
        .select(
            "event_type",
            "k",
            "n_days",
            (
                (F.col("sc") / (F.lit(100000000.0) * F.col("n_days")))
                * (F.col("sc") / (F.lit(100000000.0) * F.col("n_days")))
                + (F.col("ss") / (F.lit(100000000.0) * F.col("n_days")))
                * (F.col("ss") / (F.lit(100000000.0) * F.col("n_days")))
            ).alias("power"),
        )
    )
    ranked = spec.select(
        "event_type",
        "k",
        "n_days",
        rnd(F.col("power"), 2).alias("power_r"),
    ).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.desc("power_r"), "k"
            )
        ),
    )
    return ranked.select(
        "event_type",
        F.col("k").cast("long").alias("k"),
        rnd(F.col("n_days") * F.lit(1.0) / F.col("k"), 2).alias(
            "period_days"
        ),
        F.col("power_r").alias("power"),
        F.when(F.col("rk") == 1, 1).otherwise(0).cast("long").alias(
            "is_dominant"
        ),
    )


# ---------------------------------------------------------------------------
# Croston's method for intermittent demand
# ---------------------------------------------------------------------------


@op(
    "ts_croston_intermittent",
    oracle=f"""
        WITH p AS (
            SELECT user_id,
                   CAST(date_diff('day',
                        DATE '2024-01-01',
                        CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
                             AS DATE)) AS BIGINT) AS t,
                   CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP))
        ),
        seq AS (
            SELECT user_id,
                   list([CAST(cents AS DOUBLE), CAST(t AS DOUBLE)]
                        ORDER BY t) AS xs,
                   CAST(count(*) AS BIGINT) AS n_demands
            FROM p GROUP BY user_id
        ),
        folded AS (
            -- flat DOUBLE[3] accumulator [z, per, last_t] (LIST, not
            -- STRUCT: the ts_holt_linear DuckDB lambda bug)
            SELECT user_id, n_demands,
                   list_reduce(
                       list_prepend(
                           [xs[1][1], xs[2][2] - xs[1][2], xs[1][2]],
                           xs[2:CAST(n_demands AS INT)]),
                       (acc, s) -> [
                           0.3 * s[1] + 0.7 * acc[1],
                           0.3 * (s[2] - acc[3]) + 0.7 * acc[2],
                           s[2]
                       ]
                   ) AS cr
            FROM seq WHERE n_demands >= 3
        )
        SELECT user_id, n_demands,
               {sql_rnd("cr[1] / 100.0", 6)} AS demand_size,
               {sql_rnd("cr[2]", 6)} AS demand_interval,
               {sql_rnd("cr[1] / (100.0 * cr[2])", 6)}
                   AS forecast_per_day
        FROM folded
    """,
    scale=(
        "Croston's method — THE estimator for intermittent demand "
        "(sparse event streams where Holt/Holt-Winters smear zeros "
        "into the level): two EWMAs (alpha=0.3), one over nonzero "
        "demand sizes and one over inter-demand intervals, updated "
        "ONLY at demand points; forecast rate = size/interval. Same "
        "bounded in-row fold as the Holt family: per-user demand "
        "days collected once (|demand days| elements, not |events|), "
        "a flat [z, p, last_t] LIST accumulator folded by codegen "
        "HOF (DuckDB STRUCT accumulators mis-evaluate — the "
        "ts_holt_linear lesson), init z=first size / p=first gap. "
        "Demand values enter as exact integer cents; both engines "
        "fold the identical order with identical double arithmetic "
        "— bit-reproducible at 1e-6. 100 TB: unbounded keys -> the "
        "applyInPandasWithState shape, state = 3 doubles/user."
    ),
)
def ts_croston_intermittent(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-user Croston size/interval EWMAs over purchase days."""
    ev = load_table(spark, sf_dir, "events")
    p = (
        daily_cents(ev.where(F.col("event_type") == "purchase"), "user_id")
        .select(
            "user_id",
            F.col("cents").cast("double").alias("x"),
            F.datediff(F.col("d").cast("date"), F.lit("2024-01-01").cast("date"))
            .cast("long")
            .alias("t"),
        )
    )
    seq = (
        p.groupBy("user_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("t", "x"))).alias("a"),
            F.count(F.lit(1)).cast("long").alias("n_demands"),
        )
        .where(F.col("n_demands") >= 3)
    )
    cr = F.expr(
        """
        aggregate(
            slice(a, 2, CAST(n_demands AS INT) - 1),
            named_struct(
                'z', element_at(a, 1).x,
                'p', CAST(element_at(a, 2).t - element_at(a, 1).t
                          AS DOUBLE),
                'lt', CAST(element_at(a, 1).t AS DOUBLE)),
            (acc, s) -> named_struct(
                'z', 0.3D * s.x + 0.7D * acc.z,
                'p', 0.3D * (CAST(s.t AS DOUBLE) - acc.lt)
                     + 0.7D * acc.p,
                'lt', CAST(s.t AS DOUBLE)))
        """
    )
    folded = seq.select("user_id", "n_demands", cr.alias("cr"))
    return folded.select(
        "user_id",
        "n_demands",
        rnd(F.col("cr").getField("z") / F.lit(100.0), 6).alias(
            "demand_size"
        ),
        rnd(F.col("cr").getField("p"), 6).alias("demand_interval"),
        rnd(
            F.col("cr").getField("z")
            / (F.lit(100.0) * F.col("cr").getField("p")),
            6,
        ).alias("forecast_per_day"),
    )


# ---------------------------------------------------------------------------
# Hyndman decomposition strengths
# ---------------------------------------------------------------------------


@op(
    "ts_decomposition_strength",
    oracle=f"""
        WITH daily AS (
            SELECT event_type,
                   date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
                   CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS cents
            FROM events GROUP BY 1, 2
        ),
        idx AS (
            SELECT event_type, cents,
                   CAST(row_number() OVER (
                       PARTITION BY event_type ORDER BY d
                   ) - 1 AS BIGINT) AS t
            FROM daily
        ),
        ma AS (
            -- centered MA(7) trend: exact integer 7-day sums
            SELECT a.event_type, a.t, a.cents,
                   CAST(sum(b.cents) AS BIGINT) AS w_sum,
                   CAST(count(*) AS BIGINT) AS w_n
            FROM idx a JOIN idx b
              ON b.event_type = a.event_type
             AND b.t BETWEEN a.t - 3 AND a.t + 3
            GROUP BY a.event_type, a.t, a.cents
        ),
        det AS (
            -- detrended series frozen to WHOLE CENTS (not micro):
            -- det^2 sums must stay inside int64 at 10-100x the
            -- fixture's daily totals
            SELECT event_type, t, CAST(t % 7 AS BIGINT) AS dow,
                   CAST(floor((cents - w_sum * 1.0 / w_n)
                        + 0.505) AS BIGINT) AS det_c
            FROM ma WHERE w_n = 7
        ),
        seas AS (
            SELECT event_type, dow,
                   CAST(sum(det_c) AS BIGINT) AS s_sum,
                   CAST(count(*) AS BIGINT) AS s_n
            FROM det GROUP BY event_type, dow
        ),
        resid AS (
            SELECT d.event_type,
                   d.det_c,
                   CAST(floor((d.det_c - s.s_sum * 1.0 / s.s_n)
                        + 0.505) AS BIGINT) AS r_c
            FROM det d
            JOIN seas s ON s.event_type = d.event_type
                       AND s.dow = d.dow
        ),
        v AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(det_c) AS BIGINT) AS sd,
                   CAST(sum(det_c * det_c) AS BIGINT) AS sdd,
                   CAST(sum(r_c) AS BIGINT) AS sr,
                   CAST(sum(r_c * r_c) AS BIGINT) AS srr
            FROM resid GROUP BY event_type
        )
        SELECT event_type, n,
               {sql_rnd(
                   "greatest(0.0, 1.0"
                   " - (srr * 1.0 / n - (sr * 1.0 / n) * (sr * 1.0 / n))"
                   "   / (sdd * 1.0 / n - (sd * 1.0 / n) * (sd * 1.0 / n)))",
                   4
               )} AS seasonal_strength,
               {sql_rnd(
                   "(sdd * 1.0 / n - (sd * 1.0 / n) * (sd * 1.0 / n))"
                   " / 10000.0", 4
               )} AS var_detrended,
               {sql_rnd(
                   "(srr * 1.0 / n - (sr * 1.0 / n) * (sr * 1.0 / n))"
                   " / 10000.0", 4
               )} AS var_residual
        FROM v
    """,
    scale=(
        "Hyndman's seasonal-strength measure F_s = max(0, 1 - "
        "var(remainder)/var(detrended)) over per-type daily series: "
        "centered MA(7) trend from exact integer 7-day sums (a "
        "self-range-join on t — |days| rows per key, never the event "
        "table), per-positional-DOW seasonal means, remainder "
        "variance vs detrended variance. The detrended series "
        "freezes to integer micro BEFORE the seasonal/variance "
        "stages, so every downstream moment is a BIGINT sum — "
        "bit-identical at any partitioning. The statistic feeds the "
        "forecaster choice: F_s near 0 says ts_holt_linear suffices, "
        "near 1 says ts_holt_winters_seasonal earns its state. "
        "100 TB: the day table is tiny after the first agg; "
        "everything downstream is |days|x|types| arithmetic."
    ),
)
def ts_decomposition_strength(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-type seasonal strength from MA(7)-detrended daily series."""
    idx = indexed_daily_cents(load_table(spark, sf_dir, "events"))
    a, b = idx.alias("a"), idx.alias("b")
    ma = (
        a.join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.t") >= F.col("a.t") - 3)
            & (F.col("b.t") <= F.col("a.t") + 3),
        )
        .groupBy(
            F.col("a.event_type").alias("event_type"),
            F.col("a.t").alias("t"),
            F.col("a.cents").alias("cents"),
        )
        .agg(
            F.sum("b.cents").cast("long").alias("w_sum"),
            F.count(F.lit(1)).cast("long").alias("w_n"),
        )
    )
    det = ma.where(F.col("w_n") == 7).select(
        "event_type",
        (F.col("t") % 7).cast("long").alias("dow"),
        F.floor(
            (F.col("cents") - F.col("w_sum") * F.lit(1.0) / F.col("w_n"))
            + F.lit(0.505)
        )
        .cast("long")
        .alias("det_c"),
    )
    seas = det.groupBy("event_type", "dow").agg(
        F.sum("det_c").cast("long").alias("s_sum"),
        F.count(F.lit(1)).cast("long").alias("s_n"),
    )
    resid = det.join(seas, ["event_type", "dow"]).select(
        "event_type",
        "det_c",
        F.floor(
            (F.col("det_c") - F.col("s_sum") * F.lit(1.0) / F.col("s_n"))
            + F.lit(0.505)
        )
        .cast("long")
        .alias("r_c"),
    )
    v = resid.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("det_c").cast("long").alias("sd"),
        F.sum(F.col("det_c") * F.col("det_c")).cast("long").alias("sdd"),
        F.sum("r_c").cast("long").alias("sr"),
        F.sum(F.col("r_c") * F.col("r_c")).cast("long").alias("srr"),
    )
    vd = F.col("sdd") * F.lit(1.0) / F.col("n") - (
        F.col("sd") * F.lit(1.0) / F.col("n")
    ) * (F.col("sd") * F.lit(1.0) / F.col("n"))
    vr = F.col("srr") * F.lit(1.0) / F.col("n") - (
        F.col("sr") * F.lit(1.0) / F.col("n")
    ) * (F.col("sr") * F.lit(1.0) / F.col("n"))
    return v.select(
        "event_type",
        "n",
        rnd(F.greatest(F.lit(0.0), F.lit(1.0) - vr / vd), 4).alias(
            "seasonal_strength"
        ),
        rnd(vd / F.lit(10000.0), 4).alias("var_detrended"),
        rnd(vr / F.lit(10000.0), 4).alias("var_residual"),
    )


# ---------------------------------------------------------------------------
# EWMA control chart with literal weight tables
# ---------------------------------------------------------------------------

_EWMA_LAM = 0.2
_EWMA_L = 3.0
_EWMA_MAX_T = 30

#: geometric weights lambda*(1-lambda)^k, k = 0..29 — Python literals
#: shared verbatim by both engines (no libm pow anywhere).
_EWMA_W = [
    _EWMA_LAM * (1.0 - _EWMA_LAM) ** k for k in range(_EWMA_MAX_T)
]
#: residual weight (1-lambda)^(t+1) for the z_{-1} = center term.
_EWMA_R = [(1.0 - _EWMA_LAM) ** (t + 1) for t in range(_EWMA_MAX_T)]
#: limit-width factor sqrt(lam/(2-lam) * (1-(1-lam)^(2(t+1)))).
_EWMA_S = [
    (
        _EWMA_LAM
        / (2.0 - _EWMA_LAM)
        * (1.0 - (1.0 - _EWMA_LAM) ** (2 * (t + 1)))
    )
    ** 0.5
    for t in range(_EWMA_MAX_T)
]

_EWMA_W_SQL = ",\n            ".join(
    f"({k}, {w!r})" for k, w in enumerate(_EWMA_W)
)
_EWMA_RS_SQL = ",\n            ".join(
    f"({t}, {r!r}, {s!r})"
    for t, (r, s) in enumerate(zip(_EWMA_R, _EWMA_S))
)


@op(
    "ts_ewma_control_chart",
    oracle=f"""
        WITH daily AS (
            SELECT event_type,
                   date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
                   CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS cents
            FROM events GROUP BY 1, 2
        ),
        idx AS (
            SELECT event_type, cents,
                   CAST(row_number() OVER (
                       PARTITION BY event_type ORDER BY d
                   ) - 1 AS BIGINT) AS t
            FROM daily
        ),
        base AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(cents) AS BIGINT) AS s1,
                   CAST(sum(cents * cents) AS BIGINT) AS s2
            FROM idx GROUP BY event_type
        ),
        wtab(k, w) AS (VALUES
            {_EWMA_W_SQL}
        ),
        rstab(t, r, s) AS (VALUES
            {_EWMA_RS_SQL}
        ),
        z AS (
            SELECT a.event_type, a.t,
                   CAST(sum(CAST(floor(b.cents * w.w * 100.0 + 0.505)
                        AS BIGINT)) AS BIGINT) AS zw_centi
            FROM idx a
            JOIN idx b ON b.event_type = a.event_type
                      AND b.t <= a.t
            JOIN wtab w ON w.k = a.t - b.t
            GROUP BY a.event_type, a.t
        ),
        flags AS (
            SELECT z.event_type, z.t,
                   abs(z.zw_centi / 100.0
                       + rs.r * (base.s1 * 1.0 / base.n)
                       - base.s1 * 1.0 / base.n)
                   / (sqrt(base.s2 * 1.0 / base.n
                           - (base.s1 * 1.0 / base.n)
                             * (base.s1 * 1.0 / base.n)) * rs.s)
                       AS zscore
            FROM z
            JOIN rstab rs ON rs.t = z.t
            JOIN base ON base.event_type = z.event_type
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(CASE WHEN zscore > {_EWMA_L} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_out_of_control,
               {sql_rnd("max(zscore)", 4)} AS max_zscore
        FROM flags GROUP BY event_type
    """,
    scale=(
        "EWMA control chart (Roberts 1959; the SPC standard for "
        "small persistent shifts that Shewhart charts miss, the "
        "complement of ts_changepoint_cusum): z_t = lam*sum "
        "(1-lam)^k x_(t-k) + (1-lam)^(t+1)*center, flagged when "
        "|z_t - center| exceeds L*sigma*sqrt(lam/(2-lam)*"
        "(1-(1-lam)^(2(t+1)))). EVERY transcendental — the geometric "
        "weights, the residual weight and the limit-width factor — "
        "is a Python-literal table shared verbatim by both engines "
        "(the ts_periodogram_dominant trick), so the only float ops "
        "are multiplies of exact integer cents by identical "
        "literals; weighted terms freeze to integer centi before the "
        "per-(type, t) BIGINT sums. Shape: the day table is tiny "
        "after the first agg; the weight join is |days|^2/2 rows per "
        "key. 100 TB: identical — the chart runs on aggregated days, "
        "never events; streaming deployments fold z_t as one state "
        "double per key."
    ),
)
def ts_ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type EWMA chart summary: out-of-control days + max z."""
    idx = indexed_daily_cents(load_table(spark, sf_dir, "events"))
    base = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("s2"),
    )
    wtab = spark.createDataFrame(
        list(enumerate(_EWMA_W)), "k long, w double"
    )
    rstab = spark.createDataFrame(
        [(t, r, s) for t, (r, s) in enumerate(zip(_EWMA_R, _EWMA_S))],
        "t long, r double, s double",
    )
    a, b = idx.alias("a"), idx.alias("b")
    z = (
        a.join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.t") <= F.col("a.t")),
        )
        .join(
            F.broadcast(wtab),
            F.col("k") == F.col("a.t") - F.col("b.t"),
        )
        .groupBy(
            F.col("a.event_type").alias("event_type"),
            F.col("a.t").alias("t"),
        )
        .agg(
            F.sum(
                F.floor(
                    F.col("b.cents") * F.col("w") * F.lit(100.0)
                    + F.lit(0.505)
                ).cast("long")
            )
            .cast("long")
            .alias("zw_centi")
        )
    )
    mean_c = F.col("s1") * F.lit(1.0) / F.col("n")
    sigma = F.sqrt(
        F.col("s2") * F.lit(1.0) / F.col("n") - mean_c * mean_c
    )
    flags = (
        z.join(F.broadcast(rstab), "t")
        .join(base, "event_type")
        .select(
            "event_type",
            (
                F.abs(
                    F.col("zw_centi") / F.lit(100.0)
                    + F.col("r") * mean_c
                    - mean_c
                )
                / (sigma * F.col("s"))
            ).alias("zscore"),
        )
    )
    return flags.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.when(F.col("zscore") > _EWMA_L, 1).otherwise(0))
        .cast("long")
        .alias("n_out_of_control"),
        rnd(F.max("zscore"), 4).alias("max_zscore"),
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint detection on daily revenue
# ---------------------------------------------------------------------------


@op(
    "ts_cusum_page_alarm",
    oracle="""
        WITH daily AS (
            SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
                        AS BIGINT) AS day_num,
                   CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS cents
            FROM events GROUP BY day_num
        ),
        tot AS (
            SELECT CAST(count(*) AS BIGINT) AS nd,
                   CAST(sum(cents) AS BIGINT) AS s
            FROM daily
        ),
        pre AS (
            -- P_t = sum_{i<=t} (N*x_i - S): exact BIGINT prefix sums
            -- (the mean never divides — everything scales by N)
            SELECT d.day_num, d.cents, t.nd, t.s,
                   CAST(sum(d.cents * t.nd - t.s) OVER (
                        ORDER BY d.day_num
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS BIGINT) AS p
            FROM daily d CROSS JOIN tot t
        ),
        c AS (
            -- one-sided CUSUMs via the prefix-extrema identity:
            -- C+_t = P_t - min(0, P_1..P_t); C-_t = max(0, ...) - P_t
            SELECT day_num, cents, nd, s, p,
                   CAST(p - least(CAST(0 AS BIGINT), min(p) OVER (
                        ORDER BY day_num
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW)) AS BIGINT) AS cpos,
                   CAST(greatest(CAST(0 AS BIGINT), max(p) OVER (
                        ORDER BY day_num
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW)) - p AS BIGINT) AS cneg
            FROM pre
        )
        SELECT day_num, cents,
               floor((cpos * 1.0 / (nd * 100.0)) * 100.0 + 0.505)
                   / 100.0 AS cusum_pos_dollars,
               floor((cneg * 1.0 / (nd * 100.0)) * 100.0 + 0.505)
                   / 100.0 AS cusum_neg_dollars,
               -- alarm: cumulated one-sided excess > 5% of the grand
               -- total (20*C > N*S), an exact BIGINT comparison
               CAST(CASE WHEN cpos * 20 > nd * s
                    THEN 1 ELSE 0 END AS BIGINT) AS alarm_up,
               CAST(CASE WHEN cneg * 20 > nd * s
                    THEN 1 ELSE 0 END AS BIGINT) AS alarm_down
        FROM c
    """,
    scale=(
        "Two-sided CUSUM changepoint detection (Page 1954) on daily "
        "revenue — the drift detector the EWMA chart (step detector) "
        "pairs with. EXACT integer arithmetic throughout: with P_t = "
        "Σ(N·x_i − S) (cents scaled by the day count, so the "
        "reference mean never divides), the one-sided statistics are "
        "the prefix-extrema identities C+_t = P_t − min(0, P_≤t) and "
        "C−_t = max(0, P_≤t) − P_t, and the 5%-of-total alarm is the "
        "cross-multiplied comparison 20·C > N·S — no float anywhere "
        "until the display columns. The running windows are over the "
        "DAY AGGREGATE (|days| rows — bounded input, the repo's "
        "global-window rule). 100 TB: one day-keyed agg with map-side "
        "combine feeds a |days|-row window — the ts_gap_fill shape; "
        "overflow headroom: cents·N at 10^12 daily cents × 10^4 days "
        "is 10^16 < 2^63."
    ),
)
def ts_cusum_page_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer two-sided CUSUM over daily revenue totals."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr("unix_micros(ts) div 86400000000").alias("day_num")
    ).agg(F.sum(cents()).cast("long").alias("cents"))
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("cents").cast("long").alias("s"),
    )
    w = (
        Window.orderBy("day_num")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = daily.crossJoin(F.broadcast(tot)).withColumn(
        "p",
        F.sum(F.col("cents") * F.col("nd") - F.col("s"))
        .over(w)
        .cast("long"),
    )
    c = pre.select(
        "day_num",
        "cents",
        "nd",
        "s",
        "p",
        (
            F.col("p")
            - F.least(F.lit(0).cast("long"), F.min("p").over(w))
        )
        .cast("long")
        .alias("cpos"),
        (
            F.greatest(F.lit(0).cast("long"), F.max("p").over(w))
            - F.col("p")
        )
        .cast("long")
        .alias("cneg"),
    )
    return c.select(
        "day_num",
        "cents",
        rnd(F.col("cpos") * F.lit(1.0) / (F.col("nd") * F.lit(100.0)), 2)
        .alias("cusum_pos_dollars"),
        rnd(F.col("cneg") * F.lit(1.0) / (F.col("nd") * F.lit(100.0)), 2)
        .alias("cusum_neg_dollars"),
        F.when(F.col("cpos") * 20 > F.col("nd") * F.col("s"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("alarm_up"),
        F.when(F.col("cneg") * 20 > F.col("nd") * F.col("s"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("alarm_down"),
    )


# ---------------------------------------------------------------------------
# Ljung-Box whiteness of the differenced daily series
# ---------------------------------------------------------------------------

#: lags tested; chi-square 95% critical value for df=7 (literal)
_LB_LAGS = 7
_LB_CHI2_95 = 14.0671


@op(
    "ts_ljung_box_whiteness",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
                        AS BIGINT) AS d,
                   CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS cents
            FROM events GROUP BY 1
        ),
        diff AS (
            -- day-over-day difference removes the level: whiteness of
            -- the differences is the random-walk diagnostic
            SELECT d, cents - lag(cents) OVER (ORDER BY d) AS x
            FROM daily
        ),
        xs AS (SELECT d, x FROM diff WHERE x IS NOT NULL),
        lagk AS (
            SELECT a.x AS x, b.x AS y, k.k
            FROM xs a
            JOIN (SELECT CAST(u.k AS BIGINT) AS k
                  FROM unnest(range(1, {_LB_LAGS + 1})) AS u(k)) k
              ON true
            JOIN xs b ON b.d = a.d - k.k
        ),
        mom AS (
            SELECT k,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * x) AS BIGINT) AS sxx,
                   CAST(sum(y * y) AS BIGINT) AS syy,
                   CAST(sum(x * y) AS BIGINT) AS sxy
            FROM lagk GROUP BY k
        ),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n_obs FROM xs),
        r AS (
            SELECT m.k, nn.n_obs,
                   -- lag-k Pearson r from BIGINT moments (1.0::DOUBLE
                   -- load-bearing), zero-variance guarded
                   CASE WHEN (m.n * 1.0::DOUBLE * m.sxx
                              - m.sx * 1.0::DOUBLE * m.sx)
                             * (m.n * 1.0::DOUBLE * m.syy
                                - m.sy * 1.0::DOUBLE * m.sy) > 0
                        THEN (m.n * 1.0::DOUBLE * m.sxy
                              - m.sx * 1.0::DOUBLE * m.sy)
                             / sqrt((m.n * 1.0::DOUBLE * m.sxx
                                     - m.sx * 1.0::DOUBLE * m.sx)
                                    * (m.n * 1.0::DOUBLE * m.syy
                                       - m.sy * 1.0::DOUBLE * m.sy))
                        ELSE 0.0 END AS rk
            FROM mom m CROSS JOIN nn
        ),
        q AS (
            -- Q = n(n+2) * sum rk^2/(n-k); terms nano-frozen before
            -- the cross-lag BIGINT sum (order-free)
            SELECT CAST(sum(CAST(floor(rk * rk / (n_obs - k)
                       * 1000000000.0 + 0.505) AS BIGINT)) AS BIGINT)
                       AS s_nano,
                   max(n_obs) AS n_obs
            FROM r
        )
        SELECT r.k AS lag, {sql_rnd("r.rk", 4)} AS acf_diff,
               {sql_rnd(
                   "q.n_obs * (q.n_obs + 2.0)"
                   " * (q.s_nano / 1000000000.0)", 4
               )} AS q_stat,
               {_LB_CHI2_95} AS chi2_crit_95,
               (q.n_obs * (q.n_obs + 2.0)
                * (q.s_nano / 1000000000.0) <= {_LB_CHI2_95})
                   AS is_white_95
        FROM r CROSS JOIN q
    """,
    scale=(
        "Ljung-Box portmanteau whiteness test on the day-over-day "
        "differenced series: lag-1..7 autocorrelations from exact "
        "BIGINT cent moments (the wave-21 Pearson template per lag, "
        "zero-variance guarded), Q = n(n+2)*sum(rk^2/(n-k)) with "
        "each term nano-frozen before the order-free sum, compared "
        "to the LITERAL chi-square 95% critical value for df=7 (no "
        "p-value transcendentals). Differences white -> the daily "
        "series is a random walk and ts_holt_linear's trend is "
        "noise; Q blowing past 14.07 -> real structure remains and "
        "the seasonal models (HW/Croston) have something to model. "
        "Shape: one day agg, a |days|-row bounded lag window + "
        "7-lag equi self-join on day index, a 7-key moment agg, "
        "7-row report. 100 TB: everything after the first agg is "
        "|days|-bounded."
    ),
)
def ts_ljung_box_whiteness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lag-1..7 ACF of daily differences + Ljung-Box Q vs literal."""
    daily = day_number_cents(load_table(spark, sf_dir, "events"))
    diff = daily.select(
        "d",
        (
            F.col("cents")
            - F.lag("cents").over(Window.orderBy("d"))
        ).alias("x"),
    )
    # xs feeds both lag-join ends and the n_obs scalar — cached, the
    # |days|-row diamond plans once (wave-22 Exchange-count precedent)
    xs = diff.where(F.col("x").isNotNull()).cache()
    kgrid = spark.range(1, _LB_LAGS + 1).select(F.col("id").alias("k"))
    a = xs.select(F.col("d").alias("da"), F.col("x").alias("x"))
    b = xs.select(F.col("d").alias("db"), F.col("x").alias("y"))
    lagk = (
        a.crossJoin(F.broadcast(kgrid))
        .join(b, F.col("db") == F.col("da") - F.col("k"))
    )
    mom = lagk.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    nn = xs.agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    vx = F.col("n") * F.lit(1.0) * F.col("sxx") - F.col("sx") * F.lit(
        1.0
    ) * F.col("sx")
    vy = F.col("n") * F.lit(1.0) * F.col("syy") - F.col("sy") * F.lit(
        1.0
    ) * F.col("sy")
    rk = (
        F.col("n") * F.lit(1.0) * F.col("sxy")
        - F.col("sx") * F.lit(1.0) * F.col("sy")
    ) / F.sqrt(vx * vy)
    r = mom.crossJoin(F.broadcast(nn)).select(
        "k",
        "n_obs",
        F.when(vx * vy > 0, rk).otherwise(F.lit(0.0)).alias("rk"),
    )
    q = r.agg(
        F.sum(
            F.floor(
                F.col("rk")
                * F.col("rk")
                / (F.col("n_obs") - F.col("k"))
                * F.lit(1000000000.0)
                + F.lit(0.505)
            ).cast("long")
        )
        .cast("long")
        .alias("s_nano"),
        F.max("n_obs").alias("n_obs2"),
    )
    qstat = (
        F.col("n_obs2")
        * (F.col("n_obs2") + F.lit(2.0))
        * (F.col("s_nano") / F.lit(1000000000.0))
    )
    return r.crossJoin(F.broadcast(q)).select(
        F.col("k").alias("lag"),
        rnd(F.col("rk"), 4).alias("acf_diff"),
        rnd(qstat, 4).alias("q_stat"),
        F.lit(_LB_CHI2_95).alias("chi2_crit_95"),
        (qstat <= F.lit(_LB_CHI2_95)).alias("is_white_95"),
    )


# ---------------------------------------------------------------------------
# weekday one-way ANOVA of daily totals
# ---------------------------------------------------------------------------

#: conservative literal F critical value: F(6, 20) at 95% = 2.599;
#: for df2 > 20 the true critical is smaller, so F > this is
#: significant at 95% for ANY df2 >= 20 (documented one-sided gate)
_AN_F_CRIT = 2.599


@op(
    "ts_weekday_anova",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
                        AS BIGINT) AS d,
                   CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS cents
            FROM events GROUP BY 1
        ),
        grp AS (
            SELECT d % 7 AS wd, cents FROM daily
        ),
        per AS (
            SELECT wd,
                   CAST(count(*) AS BIGINT) AS n_g,
                   CAST(sum(cents) AS BIGINT) AS s1_g,
                   CAST(sum(cents * cents) AS BIGINT) AS s2_g
            FROM grp GROUP BY wd
        ),
        w2 AS (
            -- per-group s1^2/n term, frozen to WHOLE cents^2 BEFORE
            -- the cross-group sum (order-free): a micro freeze of a
            -- squared-cents quantity overflows int64 (the wave-15
            -- lesson); 1.0::DOUBLE load-bearing
            SELECT wd, n_g, s1_g, s2_g,
                   CAST(floor(s1_g * 1.0::DOUBLE * s1_g / n_g
                        + 0.505) AS BIGINT) AS t_int
            FROM per
        ),
        tot AS (
            SELECT CAST(sum(n_g) AS BIGINT) AS n,
                   CAST(sum(s1_g) AS BIGINT) AS s1,
                   CAST(sum(s2_g) AS BIGINT) AS s2,
                   CAST(sum(t_int) AS BIGINT) AS t_int,
                   CAST(count(*) AS BIGINT) AS k
            FROM w2
        ),
        f AS (
            -- SSB = sum(s1_g^2/n_g) - S1^2/N; SSW = S2 - sum(...)
            SELECT n, k,
                   (t_int * 1.0::DOUBLE
                    - s1 * 1.0::DOUBLE * s1 / n) AS ssb,
                   (s2 * 1.0::DOUBLE - t_int * 1.0::DOUBLE) AS ssw
            FROM tot
        )
        SELECT n AS n_days, k AS n_groups,
               {sql_rnd("ssb", 2)} AS ss_between,
               {sql_rnd("ssw", 2)} AS ss_within,
               {sql_rnd(
                   "(ssb / (k - 1)) / (ssw / (n - k))", 4
               )} AS f_stat,
               {_AN_F_CRIT} AS f_crit_95,
               ((ssb / (k - 1)) / (ssw / (n - k)) > {_AN_F_CRIT})
                   AS weekday_effect_95
        FROM f
    """,
    scale=(
        "One-way ANOVA of daily cent totals across the 7 day-of-week "
        "classes: F = (SSB/(k-1))/(SSW/(N-k)) from exact BIGINT "
        "moments (per-group s1^2/n micro-frozen before the only "
        "cross-group sum; N and k are data-derived), compared to a "
        "LITERAL conservative critical value — F(6,20) at 95% = "
        "2.599 bounds the true critical from above for any df2 >= "
        "20, so the boolean is a sound one-sided 95% gate (no "
        "F-distribution transcendentals). Significant -> the weekly "
        "cycle is real and ts_holt_winters_seasonal has something "
        "to model; not -> ts_holt_linear suffices. Shape: one day "
        "agg, a 7-key moment agg, 1-row report. 100 TB: everything "
        "after the first agg is 7 rows."
    ),
)
def ts_weekday_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row weekday ANOVA F report on daily cent totals."""
    daily = day_number_cents(load_table(spark, sf_dir, "events"))
    per = (
        daily.select((F.col("d") % 7).alias("wd"), "cents")
        .groupBy("wd")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum("cents").cast("long").alias("s1_g"),
            F.sum(F.col("cents") * F.col("cents"))
            .cast("long")
            .alias("s2_g"),
        )
    )
    w2 = per.select(
        "wd",
        "n_g",
        "s1_g",
        "s2_g",
        # WHOLE-cents^2 freeze: micro^2 overflows int64 (wave-15)
        F.floor(
            F.col("s1_g")
            * F.lit(1.0)
            * F.col("s1_g")
            / F.col("n_g")
            + F.lit(0.505)
        )
        .cast("long")
        .alias("t_int"),
    )
    tot = w2.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s1_g").cast("long").alias("s1"),
        F.sum("s2_g").cast("long").alias("s2"),
        F.sum("t_int").cast("long").alias("t_int"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    ssb = F.col("t_int") * F.lit(1.0) - F.col("s1") * F.lit(
        1.0
    ) * F.col("s1") / F.col("n")
    ssw = F.col("s2") * F.lit(1.0) - F.col("t_int") * F.lit(1.0)
    fstat = (ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k")))
    return tot.select(
        F.col("n").alias("n_days"),
        F.col("k").alias("n_groups"),
        rnd(ssb, 2).alias("ss_between"),
        rnd(ssw, 2).alias("ss_within"),
        rnd(fstat, 4).alias("f_stat"),
        F.lit(_AN_F_CRIT).alias("f_crit_95"),
        (fstat > F.lit(_AN_F_CRIT)).alias("weekday_effect_95"),
    )


# ---------------------------------------------------------------------------
# rollup variance retention
# ---------------------------------------------------------------------------

#: literal rollup widths in days
_RV_WIDTHS = (1, 2, 7)


@op(
    "ts_rollup_variance_retention",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
                        AS BIGINT) AS d,
                   CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS cents
            FROM events GROUP BY 1
        ),
        grid(w) AS (VALUES {", ".join(f"({w})" for w in _RV_WIDTHS)}),
        bkt AS (
            SELECT g.w, daily.d // g.w AS b, daily.cents
            FROM daily CROSS JOIN grid g
        ),
        per AS (
            SELECT w, b,
                   CAST(count(*) AS BIGINT) AS n_g,
                   CAST(sum(cents) AS BIGINT) AS s1_g
            FROM bkt GROUP BY w, b
        ),
        w2 AS (
            -- s1^2/n frozen to WHOLE cents^2 (wave-15/26 lesson)
            SELECT w, b, n_g, s1_g,
                   CAST(floor(s1_g * 1.0::DOUBLE * s1_g / n_g + 0.505)
                        AS BIGINT) AS t_int
            FROM per
        ),
        tots AS (
            SELECT w,
                   CAST(sum(n_g) AS BIGINT) AS n,
                   CAST(sum(s1_g) AS BIGINT) AS s1,
                   CAST(sum(t_int) AS BIGINT) AS t_int,
                   CAST(count(*) AS BIGINT) AS n_buckets,
                   CAST(max(s1_g) AS BIGINT) AS peak_bucket_cents
            FROM w2 GROUP BY w
        ),
        base AS (
            SELECT CAST(sum(cents * cents) AS BIGINT) AS s2,
                   CAST(sum(cents) AS BIGINT) AS s1,
                   CAST(count(*) AS BIGINT) AS n
            FROM daily
        )
        SELECT CAST(t.w AS BIGINT) AS width_days, t.n_buckets,
               t.peak_bucket_cents,
               -- between-bucket share of the daily series' total
               -- sum of squares (ANOVA decomposition as fidelity)
               {sql_rnd(
                   "(t.t_int * 1.0::DOUBLE - b.s1 * 1.0::DOUBLE * b.s1"
                   " / b.n) / (b.s2 * 1.0::DOUBLE - b.s1 * 1.0::DOUBLE"
                   " * b.s1 / b.n)", 4
               )} AS variance_retained
        FROM tots t CROSS JOIN base b
    """,
    scale=(
        "Rollup fidelity: the share of the daily cent series' total "
        "variance that survives aggregation to w-day buckets — the "
        "between-bucket sum of squares over the total (the ANOVA "
        "decomposition repurposed; w=1 retains 1.0 by construction, "
        "the pinned anchor). A weekly rollup retaining 20% of the "
        "daily variance is a bad table to alert on. All moments "
        "exact BIGINTs; s1^2/n frozen to WHOLE cents^2 (the "
        "wave-15/26 int64 lesson applied at authoring time). Shape: "
        "one day agg, a 3-width literal fan-out over the ~|days| "
        "rows, two tiny aggs, 3-row report. 100 TB: everything "
        "after the day agg is |days|-bounded — run it before "
        "materializing any coarser rollup."
    ),
)
def ts_rollup_variance_retention(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Between-bucket variance share per literal rollup width."""
    # ~30 rows; feeds every width leg AND the base
    daily = day_number_cents(load_table(spark, sf_dir, "events")).cache()
    grid = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(int(w)) for w in _RV_WIDTHS])
        ).alias("w0")
    ).select(F.col("w0").cast("long").alias("w"))
    bkt = daily.crossJoin(F.broadcast(grid)).select(
        "w", F.expr("d div w").alias("b"), "cents"
    )
    per = bkt.groupBy("w", "b").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("cents").cast("long").alias("s1_g"),
    )
    w2 = per.select(
        "w",
        "n_g",
        "s1_g",
        F.floor(
            F.col("s1_g") * F.lit(1.0) * F.col("s1_g") / F.col("n_g")
            + F.lit(0.505)
        )
        .cast("long")
        .alias("t_int"),
    )
    tots = w2.groupBy("w").agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s1_g").cast("long").alias("s1"),
        F.sum("t_int").cast("long").alias("t_int"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.max("s1_g").cast("long").alias("peak_bucket_cents"),
    )
    base = daily.agg(
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("s2"),
        F.sum("cents").cast("long").alias("bs1"),
        F.count(F.lit(1)).cast("long").alias("bn"),
    )
    retained = (
        F.col("t_int") * F.lit(1.0)
        - F.col("bs1") * F.lit(1.0) * F.col("bs1") / F.col("bn")
    ) / (
        F.col("s2") * F.lit(1.0)
        - F.col("bs1") * F.lit(1.0) * F.col("bs1") / F.col("bn")
    )
    return tots.crossJoin(F.broadcast(base)).select(
        F.col("w").cast("long").alias("width_days"),
        "n_buckets",
        "peak_bucket_cents",
        rnd(retained, 4).alias("variance_retained"),
    )


# ---------------------------------------------------------------------------
# Shewhart individuals (I-MR) chart, exact integers
# ---------------------------------------------------------------------------


@op(
    "ts_individuals_control_chart",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
                        AS BIGINT) AS d,
                   CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS cents
            FROM events GROUP BY 1
        ),
        mr AS (
            SELECT d, cents,
                   abs(cents - lag(cents) OVER (ORDER BY d)) AS mr
            FROM daily
        ),
        tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(cents) AS BIGINT) AS s,
                   CAST(sum(mr) AS BIGINT) AS mrsum,
                   CAST(count(mr) AS BIGINT) AS n_mr
            FROM mr
        ),
        flag AS (
            -- EXACT alarm: |x - S/n| > 3*(MRbar/1.128)  <=>
            -- |x*n - S| * 1128 * n_mr > 3000 * mrsum * n
            -- (all BIGINT; d2 = 1.128 as the integer ratio 1128/1000)
            SELECT m.d, m.cents, m.mr, t.n, t.s, t.mrsum, t.n_mr,
                   (abs(m.cents * t.n - t.s) * 1128 * t.n_mr
                    > 3000 * t.mrsum * t.n) AS is_alarm
            FROM mr m CROSS JOIN tot t
        ),
        na AS (
            SELECT CAST(sum(CASE WHEN is_alarm THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_alarms
            FROM flag
        )
        SELECT f.d AS day, f.cents,
               CAST(COALESCE(f.mr, 0) AS BIGINT) AS moving_range,
               {sql_rnd("f.s * 1.0 / f.n", 2)} AS center_cents,
               {sql_rnd(
                   "f.s * 1.0 / f.n + 3.0::DOUBLE"
                   " * (f.mrsum * 1.0::DOUBLE / f.n_mr) / 1.128", 2
               )} AS ucl_cents,
               {sql_rnd(
                   "f.s * 1.0 / f.n - 3.0::DOUBLE"
                   " * (f.mrsum * 1.0::DOUBLE / f.n_mr) / 1.128", 2
               )} AS lcl_cents,
               f.is_alarm, na.n_alarms
        FROM flag f CROSS JOIN na
    """,
    scale=(
        "The classical Shewhart individuals chart (I-MR) on daily "
        "cent totals — the simplest SPC the EWMA chart (wave-17) "
        "refines: sigma is estimated from the mean moving range "
        "(MRbar/d2, d2 = 1.128 for n=2), limits at +-3 sigma. The "
        "alarm boolean is decided in EXACT integer arithmetic — "
        "|x*n - S| * 1128 * n_mr > 3000 * MRsum * n — so both "
        "engines derive identical flags with zero float "
        "comparisons; the displayed center/limits are frozen "
        "rationals. Overflow audit: cents*n ~ 1e8*30 and "
        "*1128*29 ~ 1e14 at x10, inside int64 with 1e4 margin. "
        "Shape: one day agg, one |days|-row bounded lag window, a "
        "1-row scalar, |days|-row report. 100 TB: |days|-bounded "
        "after the first agg."
    ),
)
def ts_individuals_control_chart(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Daily I-chart rows with exact-integer alarms."""
    daily = day_number_cents(load_table(spark, sf_dir, "events"))
    mr = daily.select(
        "d",
        "cents",
        F.abs(
            F.col("cents") - F.lag("cents").over(Window.orderBy("d"))
        ).alias("mr"),
    ).cache()  # ~30 rows; feeds the scalar AND the report
    tot = mr.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.sum("mr").cast("long").alias("mrsum"),
        F.count("mr").cast("long").alias("n_mr"),
    )
    flag = mr.crossJoin(F.broadcast(tot)).withColumn(
        "is_alarm",
        F.abs(F.col("cents") * F.col("n") - F.col("s"))
        * 1128
        * F.col("n_mr")
        > 3000 * F.col("mrsum") * F.col("n"),
    )
    na = flag.agg(
        F.sum(F.when(F.col("is_alarm"), 1).otherwise(0))
        .cast("long")
        .alias("n_alarms")
    )
    return flag.crossJoin(F.broadcast(na)).select(
        F.col("d").alias("day"),
        "cents",
        F.coalesce(F.col("mr"), F.lit(0))
        .cast("long")
        .alias("moving_range"),
        rnd(F.col("s") * F.lit(1.0) / F.col("n"), 2).alias(
            "center_cents"
        ),
        rnd(
            F.col("s") * F.lit(1.0) / F.col("n")
            + F.lit(3.0)
            * (F.col("mrsum") * F.lit(1.0) / F.col("n_mr"))
            / F.lit(1.128),
            2,
        ).alias("ucl_cents"),
        rnd(
            F.col("s") * F.lit(1.0) / F.col("n")
            - F.lit(3.0)
            * (F.col("mrsum") * F.lit(1.0) / F.col("n_mr"))
            / F.lit(1.128),
            2,
        ).alias("lcl_cents"),
        "is_alarm",
        "n_alarms",
    )

"""§2.9 Streaming operators + §2.3 streaming joins (SURVEY.md).

Every op here REALLY runs Structured Streaming — micro-batches over the
chunked replay source (streaming/replay.py), state stores, watermarks,
``availableNow`` drain — and returns the final result as a batch DataFrame
so the driver can hash it. SQL-expressible ops carry a **batch-twin
oracle**: the identical computation in DuckDB over the static ``events``
view; hash-match proves stream == batch (the exactly-once contract).

Kinesis lineage (BASELINE.json north_star): the replay chunks model shard
get-records batches; checkpointLocation models the sequence-number
checkpoint (KCL lease table); dropDuplicates models consumer idempotence;
applyInPandasWithState models per-key KCL processor state.

Scale notes (100 TB / unbounded):
- State lives in the state store: windows keyed by (window, type), dedup by
  event_id, join buffers by user_id. At real scale: RocksDB provider,
  watermarks bound every state (the only op without one is complete-mode,
  which is itself bounded by group cardinality).
- Output modes: append (finalized-only, the high-volume path), update
  (changelog), complete (small dimensional results only).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from python_kinesis_streaming_spark.functions.rounding import rnd
from python_kinesis_streaming_spark.operators.timeseries import _ord_col
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table, sf_tag
from python_kinesis_streaming_spark.streaming.replay import (
    SCRATCH,
    ensure_chunks,
    replay_stream,
    run_to_memory,
)

#: DuckDB-side µs-truncated event time (matches the engine's ns→µs load).
TS = "CAST(ts AS TIMESTAMP)"


@op(
    "source_stream_replay",
    oracle=f"SELECT event_id, {TS} AS ts, user_id, event_type, value, props FROM events",
    scale=(
        "Identity pass-through proves the source: N micro-batches, offsets "
        "committed per batch, zero loss/dup. Swap file-replay for the "
        "kinesis/kafka format and nothing downstream changes."
    ),
)
def source_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay events through the streaming source; all rows must arrive
    exactly once.

    Consolidated replay (r15, guide §1.2): append-mode identity — the sink
    holds the union of every batch's rows, and a union is invariant to how
    the input is partitioned into batches, so one micro-batch computes the
    identical declared output 4 batch commits cheaper."""
    s = replay_stream(spark, sf_dir, files_per_trigger=None)
    return run_to_memory(
        s.select("event_id", "ts", "user_id", "event_type", "value", "props"),
        "append",
    )


@op(
    "stream_tumbling",
    oracle=f"""
        SELECT date_trunc('hour', {TS}) AS w_start, event_type,
               count(*) AS n,
               floor((sum(value)) * 10000.0 + 0.505) / 10000.0 AS sum_value
        FROM events GROUP BY 1, 2
    """,
    scale=(
        "Windowed agg state = (window × type) keys; partial agg runs before "
        "the state-store shuffle. Append+watermark is the unbounded-safe "
        "mode; complete used here to emit every window for the hash."
    ),
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour per-type count + sum over the stream == batch GROUP BY.

    Consolidated replay (r15): complete mode re-emits the FULL aggregate
    after the last batch; windowed count/sum state merges are associative
    and commutative, so the final table is independent of how rows were
    batched — one micro-batch, identical declared output."""
    s = replay_stream(spark, sf_dir, files_per_trigger=None)
    agg = (
        s.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sv"))
    )
    mem = run_to_memory(
        agg.select(F.col("w.start").alias("w_start"), "event_type", "n", "sv"),
        "complete",
    )
    return mem.select("w_start", "event_type", "n", rnd(F.col("sv"), 4).alias("sum_value"))


@op(
    "stream_sliding",
    oracle=f"""
        SELECT make_timestamp(((floor(epoch({TS}) / 900) - o.o) * 900)::BIGINT
                              * 1000000) AS w_start,
               count(*) AS n
        FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS o) o
        GROUP BY 1
    """,
    scale=(
        "Slide 15m over 1h: each event updates 4 windows (state write "
        "amplification = length/slide — keep the ratio small at scale)."
    ),
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 min: global event counts.

    Consolidated replay (r15): complete-mode count state is associative/
    commutative — final table independent of batch boundaries."""
    s = replay_stream(spark, sf_dir, files_per_trigger=None)
    agg = s.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w")).agg(
        F.count("*").alias("n")
    )
    return run_to_memory(
        agg.select(F.col("w.start").alias("w_start"), "n"), "complete"
    )


@op(
    "stream_session",
    oracle=f"""
        WITH e AS (
            SELECT user_id, {TS} AS ts,
                   CASE WHEN {TS} - lag({TS}) OVER (PARTITION BY user_id ORDER BY {TS}, event_id)
                             > INTERVAL 30 MINUTE OR
                             lag({TS}) OVER (PARTITION BY user_id ORDER BY {TS}, event_id) IS NULL
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
        "session_window merges overlapping per-key gap intervals in the "
        "state store; watermark evicts closed sessions. Batch twin is the "
        "classic lag-gap-flag + running-sum sessionization."
    ),
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 30-min-gap sessions: start, last event time, event count.

    Consolidated replay (r15): session_window state merges overlapping
    per-key gap intervals — interval merging is associative/commutative
    over arrival order, and complete mode emits the final merged state,
    so the declared output is batch-boundary-independent. The multi-batch
    proof is ``tests/test_streaming_state_providers.py::
    test_stream_session_multi_batch_matches_one_batch``."""
    return session_windows(replay_stream(spark, sf_dir, files_per_trigger=None))


def session_windows(s: DataFrame, progress: list | None = None) -> DataFrame:
    """stream_session's complete-mode session_window aggregate over the
    streaming DataFrame ``s``; ``progress`` collects per-batch progress."""
    agg = (
        s.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.max("ts").alias("session_last"),
             F.min("ts").alias("session_start"))
    )
    return run_to_memory(
        agg.select("user_id", "session_start", "session_last", "n_events"),
        "complete",
        progress=progress,
    )


@op(
    "stream_watermark_late",
    # SQL oracle models Spark's append-mode emission exactly (calibrated
    # round 4 at sf0.01): the late rows (every 10th of the oldest 30%,
    # replay.py variant="late") never contribute — if their window already
    # expired they are dropped, and if not, the window never finalizes —
    # and the availableNow final flush advances the watermark to
    # max(event time) - delay, so the sink holds exactly the on-time rows
    # in windows whose end < that final watermark.
    oracle="""
        WITH ranked AS (
            SELECT ts, event_type,
                   row_number() OVER (ORDER BY ts, event_id) - 1 AS rn,
                   count(*) OVER () AS n_total
            FROM events
        ),
        nonlate AS (
            SELECT ts, event_type FROM ranked
            WHERE NOT (rn % 10 = 0 AND rn < CAST(trunc(0.3 * n_total) AS BIGINT))
        ),
        wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM nonlate)
        SELECT date_trunc('hour', ts) AS w_start, event_type, count(*) AS n
        FROM nonlate, wm
        WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR < wm.w
        GROUP BY 1, 2
    """,
    scale=(
        "withWatermark bounds state AND drops late rows — the knob that "
        "makes unbounded aggregation finite. 10-min delay here; real "
        "pipelines size it to observed out-of-orderness."
    ),
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling agg in append mode with a 10-min watermark over a replay
    whose final chunk delivers genuinely late rows → they are dropped."""
    s = replay_stream(spark, sf_dir, variant="late", chunks=4)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    return run_to_memory(
        agg.select(F.col("w.start").alias("w_start"), "event_type", "n"),
        "append",
    )


@op(
    "stream_dedup",
    oracle=f"SELECT event_id, {TS} AS ts, user_id, event_type, value FROM events",
    scale=(
        "Exactly-once by key across micro-batches: state = seen keys. "
        "Unbounded here (fixture); at scale use "
        "dropDuplicatesWithinWatermark so old keys age out."
    ),
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream with cross-batch duplicates injected (every 10th event arrives
    again in a later chunk); dropDuplicates restores exactly-once — result
    hash-equals the clean batch table.

    Consolidated replay (r15): dropDuplicates emits the first row seen per
    event_id; the injected duplicates are byte-identical to their originals
    in every selected column, so WHICH copy survives is unobservable and
    the emitted set equals the distinct batch table under any batching
    (within-batch dedup and cross-batch state dedup coincide here)."""
    s = replay_stream(spark, sf_dir, variant="dups", chunks=4, files_per_trigger=None)
    deduped = s.select("event_id", "ts", "user_id", "event_type", "value").dropDuplicates(
        ["event_id"]
    )
    return run_to_memory(deduped, "append")


@op(
    "stream_stateful_counter",
    oracle="""
        SELECT user_id, count(*) AS n,
               floor((sum(value)) * 10000.0 + 0.505) / 10000.0 AS total
        FROM events GROUP BY user_id
    """,
    scale=(
        "applyInPandasWithState = the KCL per-key processor analogue: "
        "arbitrary Python state per key, checkpointed in the state store. "
        "State is (count, sum) — constant per key; watermark/timeout would "
        "GC idle keys at scale."
    ),
)
def stream_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful op: running per-user (count, sum) via
    applyInPandasWithState; final snapshot == batch GROUP BY.

    Consolidated replay (r15): the declared output keeps only the FINAL
    per-key snapshot (max running count + its total), which is the full
    per-key aggregate whatever the batching; count is exact integer, and
    the float sum's grouping-order ulp drift is absorbed by rnd(·,4)
    (the engine's standard cross-engine float discipline — the oracle's
    DuckDB sum already accumulates in a different order). Oracle-verified
    at sf0.001/0.01/0.1."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update_counts(key, pdfs, state):
        # Nested: cloudpickled by value (driver workers can't import us).
        import pandas as pd

        cnt, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            cnt += len(pdf)
            total += float(pdf["value"].sum())
        state.update((cnt, total))
        yield pd.DataFrame({"user_id": [key[0]], "n": [cnt], "total": [total]})

    s = replay_stream(spark, sf_dir, files_per_trigger=None)
    updates = s.groupBy("user_id").applyInPandasWithState(
        update_counts,
        outputStructType="user_id long, n long, total double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mem = run_to_memory(updates, "update")
    # The memory table holds one row per (key, batch-with-updates); the final
    # snapshot is the row with the largest running count per key.
    final = mem.groupBy("user_id").agg(
        F.max("n").alias("n"), F.max_by("total", "n").alias("t")
    )
    return final.select("user_id", "n", rnd(F.col("t"), 4).alias("total"))


@op(
    "stream_output_modes",
    # SQL oracle models the per-mode sink contents for the deterministic
    # 4-chunk replay (calibrated round 4): complete = all groups; update =
    # one emission per (micro-batch, group) pair that received rows, with
    # chunk = rn // ceil(n/4) over the (ts, event_id) row ordering replay.py
    # uses; append = groups whose window end < the final watermark
    # (max event time - 10 min, advanced by the availableNow flush).
    oracle="""
        WITH ranked AS (
            SELECT ts, event_type,
                   row_number() OVER (ORDER BY ts, event_id) - 1 AS rn,
                   count(*) OVER () AS n_total
            FROM events
        ),
        chunked AS (
            SELECT ts, event_type, rn // ((n_total + 3) // 4) AS chunk
            FROM ranked
        ),
        wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events),
        grp AS (
            SELECT DISTINCT date_trunc('hour', ts) AS ws, event_type AS et
            FROM events
        ),
        upd AS (
            SELECT DISTINCT chunk, date_trunc('hour', ts) AS ws, event_type AS et
            FROM chunked
        ),
        app AS (SELECT ws, et FROM grp, wm WHERE ws + INTERVAL 1 HOUR < wm.w)
        SELECT 'append' AS output_mode,
               (SELECT count(*) FROM app) AS rows_emitted,
               (SELECT count(DISTINCT ws) FROM app) AS n_windows
        UNION ALL
        SELECT 'update',
               (SELECT count(*) FROM upd),
               (SELECT count(DISTINCT ws) FROM upd)
        UNION ALL
        SELECT 'complete',
               (SELECT count(*) FROM grp),
               (SELECT count(DISTINCT ws) FROM grp)
    """,
    scale=(
        "Same agg, three contracts: append = finalized windows only "
        "(needs watermark), update = changelog rows, complete = full "
        "refresh (only viable for small results)."
    ),
)
def stream_output_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the tumbling agg in append/update/complete; one summary row per
    mode: rows emitted to the sink + distinct windows among them."""
    # Each mode's streaming query must run to completion (run_to_memory
    # blocks on awaitTermination), but the per-mode SUMMARY stays a lazy
    # 1-row aggregate over that mode's uniquely-named memory-sink table —
    # the three summaries union into one batch plan with no driver-side
    # collect.
    # Consolidated replay for append + complete ONLY (r15): complete is a
    # full refresh (batching-invariant) and append's sink is exactly the
    # windows finalized before the FINAL watermark — the availableNow
    # flush advances the watermark to max(event time) − delay regardless
    # of batching, and each finalized window emits exactly once, so the
    # emitted SET is the same (only emission timing changes). The update
    # leg's oracle counts one emission per (chunk, group) pair — batch
    # boundaries ARE its semantics — so it keeps the 4-chunk replay.
    parts = []
    for mode in ["append", "update", "complete"]:
        fpt = 1 if mode == "update" else None
        s = replay_stream(spark, sf_dir, files_per_trigger=fpt)
        base = s.withWatermark("ts", "10 minutes") if mode != "complete" else s
        agg = base.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
            F.count("*").alias("n")
        )
        mem = run_to_memory(
            agg.select(F.col("w.start").alias("w_start"), "event_type", "n"), mode
        )
        parts.append(
            mem.agg(
                F.count("*").alias("rows_emitted"),
                F.countDistinct("w_start").alias("n_windows"),
            ).select(
                F.lit(mode).alias("output_mode"), "rows_emitted", "n_windows"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@op(
    "stream_checkpoint_resume",
    oracle="SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
    scale=(
        "The Kinesis sequence-number checkpoint analogue: offsets + sink "
        "commit log in checkpointLocation give exactly-once file output "
        "across restarts; resumed query skips committed batches."
    ),
)
def stream_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kill-and-resume: drain chunks 1-2 to a parquet sink, stop, deliver
    chunks 3-4, restart from the same checkpoint — the read-back equals the
    batch table exactly (no loss, no duplicates)."""
    src = ensure_chunks(spark, sf_dir, "plain", 4)
    files = sorted(
        f for f in os.listdir(src) if f.endswith(".parquet") and not f.startswith("_")
    )
    root = os.path.join(SCRATCH, "resume", sf_tag(sf_dir))
    shutil.rmtree(root, ignore_errors=True)
    data, ckpt, out = (os.path.join(root, d) for d in ["data", "ckpt", "out"])
    os.makedirs(data)

    schema = spark.read.parquet(src).schema

    # Consolidated incarnations (r15): the resume contract lives in the
    # checkpoint (incarnation 2 must skip incarnation 1's committed work),
    # not in per-file batching — each incarnation drains its available
    # files in ONE batch; the parquet sink still holds every event exactly
    # once and the declared per-type counts are identical.
    def run_once():
        q = (
            spark.readStream.schema(schema)
            .parquet(data)
            .select("event_id", "ts", "user_id", "event_type", "value")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    for f in files[:2]:
        shutil.copy(os.path.join(src, f), os.path.join(data, f))
    run_once()  # first incarnation: commits chunks 1-2, then "dies"
    for f in files[2:]:
        shutil.copy(os.path.join(src, f), os.path.join(data, f))
    run_once()  # resumed incarnation: checkpoint skips committed batches

    return (
        spark.read.parquet(out).groupBy("event_type").agg(F.count("*").alias("n"))
    )


@op(
    "join_stream_static",
    oracle="""
        SELECT e.event_id, e.user_id, c.c_mktsegment
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
    scale=(
        "Stream-static join is stateless: the static side is (re)broadcast "
        "per micro-batch — the streaming enrichment-dimension pattern; "
        "refresh the dim by re-reading it, no state to migrate."
    ),
)
def join_stream_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enrich the event stream with the static customer dimension.

    Consolidated replay (r15): the join is stateless per batch and the
    append sink unions the per-batch results — invariant to batching."""
    s = replay_stream(spark, sf_dir, files_per_trigger=None)
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = s.join(F.broadcast(dim), s.user_id == dim.c_custkey).select(
        "event_id", "user_id", "c_mktsegment"
    )
    return run_to_memory(joined, "append")


@op(
    "join_stream_stream",
    oracle=f"""
        SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
         AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 10 MINUTE
    """,
    scale=(
        "Stream-stream inner join buffers both sides in the state store; "
        "the watermark + time-range bound lets Spark evict rows that can "
        "no longer match — without them state is unbounded."
    ),
)
def join_stream_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clicks joined to same-user purchases within 10 minutes, both sides
    streaming (watermarked, time-bounded state).

    Consolidated replay (r15): an INNER stream-stream join emits every
    in-bound pair; the watermark only EVICTS state, and Spark evicts a row
    only once the watermark proves no future match exists — so no pair is
    ever lost under any batching (with one batch nothing is evicted before
    the join). Emitted set == the batch interval join == the oracle."""
    clicks = (
        replay_stream(spark, sf_dir, files_per_trigger=None)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "30 minutes")
    )
    purchases = (
        replay_stream(spark, sf_dir, files_per_trigger=None)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "30 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 10 MINUTES")),
    ).select(
        F.col("click_id"),
        F.col("purchase_id"),
        F.col("c_user").alias("user_id"),
    )
    return run_to_memory(joined, "append")


@op(
    "stream_foreach_batch",
    oracle="SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
    scale=(
        "foreachBatch = the escape hatch: each micro-batch arrives as a "
        "batch DataFrame for arbitrary sinks (JDBC upsert, MERGE INTO, "
        "multi-sink fan-out). Per-batch partial aggregates land in the "
        "target; a final re-aggregation merges them - the classic "
        "incremental-materialization pattern. Exactly-once comes from "
        "idempotent/transactional writes keyed by batchId."
    ),
)
def stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregation via foreachBatch: each micro-batch appends
    its partial per-type counts (tagged with batchId) to a parquet target;
    re-aggregating the target equals the batch GROUP BY exactly.

    Consolidated replay (r15): the declared output is sum(partial_n) per
    type over ALL batches — a sum of partials is invariant to how the
    input is split into batches (one batch ⇒ partials are the totals)."""
    out = os.path.join(
        SCRATCH, "fe_batch", sf_tag(sf_dir)
    )
    ckpt = os.path.join(SCRATCH, "ckpt", f"febatch_{os.path.basename(out)}")
    # Output AND checkpoint are one unit for this demo: a stale checkpoint
    # with a fresh output dir would replay zero batches and write nothing.
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Runs on the DRIVER per micro-batch; the agg itself is distributed.
        (
            batch_df.groupBy("event_type")
            .agg(F.count("*").alias("partial_n"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out)
        )

    s = replay_stream(spark, sf_dir, files_per_trigger=None)
    q = (
        s.writeStream.foreachBatch(sink_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.sum("partial_n").alias("n"))
    )


@op(
    "join_stream_stream_outer",
    # SQL oracle (calibrated round 4): matched pairs emit eagerly like the
    # inner join; an unmatched click emits its null row iff the final
    # watermark — min over both sides' max event time minus the 30-min
    # delay, advanced by the availableNow flush — has passed the click's
    # join-range deadline (c_ts + 10 min). Clicks still inside that horizon
    # at end-of-stream never emit (1 row at sf0.01).
    oracle="""
        WITH wm AS (
            SELECT least(
                (SELECT max(ts) FROM events WHERE event_type = 'click'),
                (SELECT max(ts) FROM events WHERE event_type = 'purchase')
            ) - INTERVAL 30 MINUTE AS w
        ),
        matched AS (
            SELECT c.event_id AS click_id, p.event_id AS purchase_id,
                   c.user_id
            FROM events c JOIN events p
              ON c.user_id = p.user_id
             AND c.event_type = 'click' AND p.event_type = 'purchase'
             AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
        )
        SELECT click_id, purchase_id, user_id FROM matched
        UNION ALL
        SELECT c.event_id, NULL, c.user_id
        FROM events c, wm
        WHERE c.event_type = 'click'
          AND NOT EXISTS (SELECT 1 FROM matched m WHERE m.click_id = c.event_id)
          AND c.ts + INTERVAL 10 MINUTE < wm.w
    """,
    scale=(
        "Left-outer stream-stream join: matched rows emit eagerly (like "
        "inner); unmatched left rows emit with nulls only once the "
        "watermark proves no future match can arrive - the state-eviction "
        "deadline doubles as the null-emission trigger."
    ),
)
def join_stream_stream_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clicks left-outer-joined to same-user purchases within 10 minutes;
    unmatched clicks surface with a null purchase once provably final.

    Consolidated replay (r15): matched rows are the inner join (batching-
    invariant, see join_stream_stream); a null row emits iff the FINAL
    watermark — min over both sides' max event time − 30 min, advanced by
    the availableNow flush — passed the click's c_ts + 10 min deadline.
    That final watermark is a function of the DATA only, not of batching,
    and the oracle models exactly it. Emitted set identical."""
    clicks = (
        replay_stream(spark, sf_dir, files_per_trigger=None)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "30 minutes")
    )
    purchases = (
        replay_stream(spark, sf_dir, files_per_trigger=None)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "30 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 10 MINUTES")),
        "leftOuter",
    ).select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
    )
    return run_to_memory(joined, "append")


@op(
    "stream_stateful_sessionizer",
    oracle="""
        WITH ordered AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
                   lag(CAST(ts AS TIMESTAMP)) OVER (
                       PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                   ) AS prev_ts
            FROM events
        ),
        flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN prev_ts IS NULL
                             OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                        THEN 1 ELSE 0 END AS new_s
            FROM ordered
        ),
        sess AS (
            SELECT user_id,
                   sum(new_s) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS sid
            FROM flagged
        ),
        per_session AS (
            SELECT user_id, sid, count(*) AS n FROM sess GROUP BY user_id, sid
        )
        SELECT user_id,
               count(*) AS n_sessions,
               max(n) AS longest_session,
               CAST(sum(n) AS BIGINT) AS n_events
        FROM per_session GROUP BY user_id
    """,
    scale=(
        "Custom stateful sessionizer via applyInPandasWithState — the shape "
        "session_window CANNOT express (per-key custom gap logic, running "
        "longest-session tracking). State per key is 5 scalars (open-session "
        "start/last/count + closed count + longest), vectorized numpy gap "
        "detection within each Arrow batch — no per-row Python. At scale: "
        "RocksDB state store + event-time timeout to emit/GC idle keys; the "
        "replay's time-ordered micro-batches mirror a Kinesis shard's "
        "per-key ordering guarantee."
    ),
)
def stream_stateful_sessionizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session statistics (count, longest, events) maintained as
    custom streaming state across micro-batches; final snapshot == the
    batch lag-gap sessionization.

    Consolidated replay: the chunks are cut in ``(ts, event_id)`` order and
    the UDF sorts each key's rows by ``(ts, event_id)`` before folding them
    into its per-key state, so one fold over all rows equals four folds
    over consecutive slices, and the final snapshot is a monotone max. One
    micro-batch gives the same output; the four-batch run is proved equal
    in ``tests/test_streaming_state_providers.py::
    test_rocksdb_provider_parity``."""
    return session_stats(replay_stream(spark, sf_dir, files_per_trigger=None))


def session_stats(s: DataFrame, progress: list | None = None) -> DataFrame:
    """stream_stateful_sessionizer's applyInPandasWithState sessionizer over
    the streaming DataFrame ``s``, reduced to each user's final snapshot;
    ``progress`` collects per-batch progress."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    GAP_NS = 1_800_000_000_000  # 30 min in pandas int64 ns

    def update_sessions(key, pdfs, state):
        # Nested: cloudpickled by value (driver workers can't import us).
        import numpy as np
        import pandas as pd

        # state: last_ts_ns, cur_n, closed, longest, total
        last_ts, cur_n, closed, longest, total = (
            state.get if state.exists else (-1, 0, 0, 0, 0)
        )
        ts = pd.concat([p[["ts", "event_id"]] for p in pdfs]).sort_values(
            ["ts", "event_id"]
        )["ts"].astype("int64").to_numpy()
        if len(ts):
            total += len(ts)
            prev = np.concatenate(([last_ts], ts[:-1]))
            breaks = (prev < 0) | (ts - prev > GAP_NS)
            # Close the carried-over session at the first break (if any was
            # open), then one closed session per additional break.
            idx = np.flatnonzero(breaks)
            if len(idx):
                counts = np.diff(np.append(idx, len(ts)))
                if cur_n > 0:
                    closed += 1
                    longest = max(longest, cur_n + int(idx[0]))
                elif idx[0] > 0:  # rows before first break continue nothing
                    closed += 1
                    longest = max(longest, int(idx[0]))
                closed += len(idx) - 1
                if len(counts) > 1:
                    longest = max(longest, int(counts[:-1].max()))
                cur_n = int(counts[-1])
            else:
                cur_n += len(ts)
            last_ts = int(ts[-1])
        state.update((last_ts, cur_n, closed, longest, total))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_sessions": [closed + (1 if cur_n > 0 else 0)],
                "longest_session": [max(longest, cur_n)],
                "n_events": [total],
            }
        )

    updates = s.groupBy("user_id").applyInPandasWithState(
        update_sessions,
        outputStructType=(
            "user_id long, n_sessions long, longest_session long, n_events long"
        ),
        stateStructType=(
            "last_ts long, cur_n long, closed long, longest long, total long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mem = run_to_memory(updates, "update", progress=progress)
    # Final snapshot = the row with the largest n_events per key (monotone).
    return (
        mem.groupBy("user_id")
        .agg(
            F.max_by("n_sessions", "n_events").alias("n_sessions"),
            F.max_by("longest_session", "n_events").alias("longest_session"),
            F.max("n_events").alias("n_events"),
        )
    )


@op(
    "stream_topk_per_window",
    oracle="""
        WITH counts AS (
            SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w_start,
                   user_id, count(*) AS n
            FROM events GROUP BY 1, 2
        )
        SELECT w_start, user_id AS top_user, n FROM (
            SELECT *, row_number() OVER (
                PARTITION BY w_start ORDER BY n DESC, user_id) AS rn
            FROM counts
        ) WHERE rn = 1
    """,
    scale=(
        "Streaming top-k: rank is not incrementally maintainable in append "
        "mode, so the streaming job maintains the RANKABLE state (per-"
        "(window, user) counts — mergeable, bounded) and the rank itself "
        "runs as a cheap batch query over the sink. At 100 TB the sink is "
        "a compacted table keyed by window; the per-window rank touches "
        "only windows the latest batch changed."
    ),
)
def stream_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-active user per hourly window: streaming (window,user) counts
    in complete mode, then a batch rank over the final sink table.

    Consolidated replay (r15): complete-mode counts are batching-invariant
    (associative/commutative merges); the rank runs batch-side after."""
    s = replay_stream(spark, sf_dir, files_per_trigger=None)
    counts = s.groupBy(
        F.window("ts", "1 hour").alias("w"), "user_id"
    ).agg(F.count("*").alias("n"))
    mem = run_to_memory(
        counts.select(F.col("w.start").alias("w_start"), "user_id", "n"),
        "complete",
    )
    rank_w = Window.partitionBy("w_start").orderBy(F.desc("n"), F.asc("user_id"))
    return (
        mem.withColumn("rn", F.row_number().over(rank_w))
        .where(F.col("rn") == 1)
        .select("w_start", F.col("user_id").alias("top_user"), "n")
    )


@op(
    "stream_metrics_progress",
    oracle="""
        WITH n AS (SELECT count(*) AS c FROM events)
        SELECT u.i AS batch_id,
               CASE WHEN u.i < 3 THEN (c + 3) // 4
                    ELSE c - 3 * ((c + 3) // 4) END AS input_rows
        FROM n, unnest(range(4)) AS u(i)
    """,
    scale=(
        "Observability surface: StreamingQueryProgress per micro-batch "
        "(numInputRows here; the full object carries per-operator state "
        "rows, watermark, and durations) — the backpressure/lag feed every "
        "production stream monitors. Deterministic for the 4-chunk replay: "
        "batch k ingests exactly chunk k's rows; trailing zero-row flush "
        "batches are filtered as non-ingesting."
    ),
)
def stream_metrics_progress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-micro-batch input-row counts from the streaming progress API
    (one row per data batch of the 4-chunk replay)."""
    progress: list = []
    run_to_memory(
        replay_stream(spark, sf_dir).select("event_id"), "append", progress=progress
    )
    data = [
        (int(p["batchId"]), int(p["numInputRows"]))
        for p in progress
        if int(p["numInputRows"]) > 0
    ]
    return spark.createDataFrame(data, "batch_id long, input_rows long")


@op(
    "stream_dedup_within_watermark",
    oracle=f"SELECT event_id, {TS} AS ts, user_id, event_type FROM events",
    scale=(
        "dropDuplicatesWithinWatermark — the BOUNDED-state dedup: unlike "
        "plain dropDuplicates (keys accumulate forever), seen-key state is "
        "evicted once the watermark passes, so state size tracks the "
        "out-of-orderness horizon, not stream history. The fixture's "
        "cross-batch duplicates (replay variant='dups') arrive one chunk "
        "after their originals — hours of event time, well inside the "
        "2-day watermark — so exactly-once still holds and the result "
        "hash-equals the clean batch table."
    ),
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once over a duplicated replay via the watermark-bounded
    dedup operator (state evicted as event time advances).

    Consolidated replay (r15): same argument as stream_dedup (duplicates
    are byte-identical, first-seen emission ⇒ emitted set = distinct batch
    table under any batching); the 2-day watermark horizon vastly exceeds
    the dup lag, so no key is evicted before its duplicate arrives in the
    multi-batch replay either — both shapes emit the identical set."""
    s = replay_stream(spark, sf_dir, variant="dups", chunks=4, files_per_trigger=None)
    deduped = (
        s.select("event_id", "ts", "user_id", "event_type")
        .withWatermark("ts", "2 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    return run_to_memory(deduped, "append")


@op(
    "stream_union_sources",
    oracle=f"""
        SELECT event_type, count(*) AS n,
               floor((sum(value)) * 10000.0 + 0.505) / 10000.0 AS sum_value
        FROM (
            SELECT event_type, value FROM events WHERE event_type = 'click'
            UNION ALL
            SELECT event_type, value FROM events WHERE event_type <> 'click'
        ) GROUP BY event_type
    """,
    scale=(
        "Two independent streaming sources unioned into ONE query: each "
        "source keeps its own offsets/commit log inside the shared "
        "checkpoint, micro-batches align per trigger, and downstream "
        "state (the agg) sees a single logical stream. The multi-topic/"
        "multi-shard-group ingestion shape — fan-in happens in the plan, "
        "not in a bespoke merge job."
    ),
)
def stream_union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union a clicks-only stream with an everything-else stream; per-type
    counts+sums must equal the single-source batch aggregate.

    Consolidated replay (r15): complete-mode count/sum over the union —
    batching-invariant merges (float sum ulp drift absorbed by rnd(·,4),
    the standard cross-engine discipline; oracle-verified at all SFs)."""
    clicks = replay_stream(spark, sf_dir, files_per_trigger=None).where(
        F.col("event_type") == "click"
    )
    others = replay_stream(spark, sf_dir, files_per_trigger=None).where(
        F.col("event_type") != "click"
    )
    unioned = clicks.select("event_type", "value").unionByName(
        others.select("event_type", "value")
    )
    agg = unioned.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("value").alias("sv")
    )
    mem = run_to_memory(agg, "complete")
    return mem.select("event_type", "n", rnd(F.col("sv"), 4).alias("sum_value"))


@op(
    "stream_state_metrics",
    oracle=f"""
        SELECT CAST((SELECT count(*) FROM (
                   SELECT DISTINCT date_trunc('hour', {TS}), event_type
                   FROM events)) AS BIGINT) AS state_rows,
               CAST(4 AS BIGINT) AS n_data_batches
    """,
    scale=(
        "State-store observability: stateOperators.numRowsTotal from the "
        "progress API is the number the capacity plan watches — for a "
        "windowed agg it equals live (window × key) groups, so it should "
        "track watermark eviction, not stream length. Deterministic here: "
        "complete mode retains every group, so the final metric equals the "
        "batch-side distinct-group count, pinned by the oracle."
    ),
)
def stream_state_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final state-store row count (and data-batch count) of the tumbling
    agg, read from the streaming progress metrics."""
    s = replay_stream(spark, sf_dir)
    agg = s.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count("*").alias("n")
    )
    progress: list = []
    run_to_memory(agg, "complete", progress=progress)
    state_rows = 0
    for p in reversed(progress):
        ops_ = p.get("stateOperators") or []
        if ops_:
            state_rows = int(ops_[0]["numRowsTotal"])
            break
    n_data = sum(1 for p in progress if int(p["numInputRows"]) > 0)
    return spark.createDataFrame(
        [(state_rows, n_data)], "state_rows long, n_data_batches long"
    )


@op(
    "stream_idempotent_sink",
    oracle="""
        WITH n AS (SELECT count(*) AS c FROM events)
        SELECT u.i AS batch_id,
               CASE WHEN u.i < 3 THEN (c + 3) // 4
                    ELSE c - 3 * ((c + 3) // 4) END AS rows_written,
               CAST(2 AS BIGINT) AS attempts,
               CAST(1 AS BIGINT) AS commits
        FROM n, unnest(range(4)) AS u(i)
    """,
    scale=(
        "Exactly-once WRITE semantics without a transactional table "
        "format: foreachBatch keys every write on (batchId) and a commit "
        "marker makes it idempotent — a replay of the same source (job "
        "restart with a lost checkpoint, the worst case) re-delivers "
        "every batch, and each one short-circuits on its marker instead "
        "of double-writing. This is the standard batchId-ledger pattern "
        "for non-transactional sinks (JDBC, object storage); with a "
        "table format the marker becomes a txn-log row. The op PROVES "
        "idempotence by streaming the 4-chunk replay twice into one sink "
        "dir: attempts=2, commits=1 per batch, row counts unchanged."
    ),
)
def stream_idempotent_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the replay through an idempotent foreachBatch parquet sink,
    then replay AGAIN from a fresh checkpoint: markers must dedup every
    batch. Emits (batch_id, rows_written, attempts, commits)."""
    import uuid as _uuid

    out_dir = os.path.join(SCRATCH, "idem", sf_tag(sf_dir))
    # Idempotent re-invocation: clear output + any stale checkpoints
    # together (CLAUDE.md invariant 2).
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    ledger: dict[int, dict[str, int]] = {}

    def make_writer():
        def write_batch(bdf, bid):
            # foreachBatch callbacks run on the DRIVER — the ledger dict and
            # filesystem markers are safe coordination points here; on a
            # cluster the marker lives on the shared object store.
            d = os.path.join(out_dir, f"batch={bid}")
            marker = os.path.join(d, "_COMMITTED")
            rec = ledger.setdefault(bid, {"attempts": 0, "commits": 0})
            rec["attempts"] += 1
            if os.path.exists(marker):
                return
            bdf.write.mode("overwrite").parquet(d)
            with open(marker, "w") as f:
                f.write("ok")
            rec["commits"] += 1

        return write_batch

    for run in range(2):
        s = replay_stream(spark, sf_dir)
        ckpt = os.path.join(SCRATCH, "ckpt", f"idem_{_uuid.uuid4().hex[:10]}")
        q = (
            s.select("event_id", "user_id", "event_type")
            .writeStream.foreachBatch(make_writer())
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        shutil.rmtree(ckpt, ignore_errors=True)

    rows = [
        (int(bid), rec["attempts"], rec["commits"])
        for bid, rec in sorted(ledger.items())
    ]
    counts = spark.createDataFrame(
        rows, "batch_id long, attempts long, commits long"
    )
    written = (
        spark.read.option("basePath", out_dir)
        .parquet(out_dir)
        .groupBy(F.col("batch").cast("long").alias("batch_id"))
        .agg(F.count(F.lit(1)).alias("rows_written"))
    )
    return written.join(counts, "batch_id").select(
        "batch_id", "rows_written", "attempts", "commits"
    )


@op(
    "stream_batch_parity",
    oracle="""
        WITH w AS (
            SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS h,
                   count(*) AS n
            FROM events GROUP BY h
        )
        SELECT CAST(count(*) AS BIGINT) AS n_windows_batch,
               CAST(count(*) AS BIGINT) AS n_windows_stream,
               CAST(count(*) AS BIGINT) AS n_matching
        FROM w
    """,
    scale=(
        "Lambda-architecture consistency check: the SAME tumbling-window "
        "definition executed as a batch aggregate AND as a 4-micro-batch "
        "Structured Streaming query (complete mode) must produce "
        "identical (window, count) sets — one shared logical definition, "
        "two execution modes, zero drift. This is the backfill contract: "
        "at 100 TB the batch path recomputes history while the stream "
        "path serves the live tail, and this op is the gate that lets "
        "the two hand off. Equality is verified set-wise with an "
        "inner-join-on-all-columns count, never row order."
    ),
)
def stream_batch_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h counts computed in batch AND via streaming replay; emit
    window counts for each mode plus the size of their intersection.

    Consolidated replay (r15): complete-mode counts, batching-invariant."""
    ev = load_table(spark, sf_dir, "events")
    batch = ev.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.col("w.start").alias("h"), "n")
    s = replay_stream(spark, sf_dir, files_per_trigger=None)
    streamed = run_to_memory(
        s.groupBy(F.window("ts", "1 hour").alias("w")).agg(
            F.count(F.lit(1)).alias("n")
        ),
        "complete",
    ).select(F.col("w.start").alias("h"), "n")
    match = batch.join(streamed, ["h", "n"], "inner")
    return (
        batch.agg(F.count(F.lit(1)).alias("n_windows_batch"))
        .crossJoin(streamed.agg(F.count(F.lit(1)).alias("n_windows_stream")))
        .crossJoin(match.agg(F.count(F.lit(1)).alias("n_matching")))
    )


@op(
    "stream_scd_merge_sink",
    oracle="""
        WITH n AS (SELECT count(*) AS c FROM events),
        ranked AS (
            SELECT user_id, event_type,
                   row_number() OVER (ORDER BY CAST(ts AS TIMESTAMP),
                                      event_id) - 1 AS rn
            FROM events
        ),
        chunked AS (
            SELECT user_id, event_type, rn,
                   rn // ((c + 3) // 4) AS chunk
            FROM ranked, n
        ),
        per_uc AS (
            SELECT user_id, chunk, arg_max(event_type, rn) AS btype
            FROM chunked GROUP BY user_id, chunk
        ),
        seq AS (
            SELECT user_id, chunk, btype,
                   lag(btype) OVER (PARTITION BY user_id ORDER BY chunk)
                       AS prev_type
            FROM per_uc
        )
        SELECT user_id,
               max(CASE WHEN chunk = mx THEN btype END) AS cur_type,
               CAST(count(*) FILTER (WHERE prev_type IS NOT NULL
                    AND btype != prev_type) AS BIGINT) AS n_updates
        FROM (SELECT *, max(chunk) OVER (PARTITION BY user_id) AS mx FROM seq)
        GROUP BY user_id
    """,
    scale=(
        "Streaming CDC into a dimension: every micro-batch's per-key "
        "last state MERGEs into the running snapshot inside foreachBatch "
        "(version-chained state dirs standing in for a transactional "
        "table's commits) — update-if-changed, insert-if-new, change "
        "counter incremented per batch that actually flipped the value. "
        "State size is |keys|, not |events|; each batch's merge is one "
        "key-partitioned full-outer join. The oracle replays the same "
        "batch boundaries analytically (chunk = rowrank // batchsize), "
        "pinning snapshot AND change-count semantics."
    ),
)
def stream_scd_merge_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-batch MERGE of per-user latest event_type into a versioned
    snapshot; emits (user_id, cur_type, n_updates) after all batches."""
    import uuid as _uuid

    base = os.path.join(SCRATCH, "scdmerge", sf_tag(sf_dir))
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    versions: list[str] = []

    def merge_batch(bdf, bid):
        ss = bdf.sparkSession
        newest = (
            bdf.withColumn("ord", _ord_col())
            .groupBy("user_id")
            .agg(F.max_by("event_type", "ord").alias("new_type"))
        )
        if versions:
            prev = ss.read.parquet(versions[-1])
            merged = prev.join(newest, "user_id", "full_outer").select(
                "user_id",
                F.coalesce("new_type", "cur_type").alias("cur_type"),
                (
                    F.coalesce("n_updates", F.lit(0))
                    + F.when(
                        F.col("new_type").isNotNull()
                        & F.col("cur_type").isNotNull()
                        & (F.col("new_type") != F.col("cur_type")),
                        1,
                    ).otherwise(0)
                ).cast("long").alias("n_updates"),
            )
        else:
            merged = newest.select(
                "user_id",
                F.col("new_type").alias("cur_type"),
                F.lit(0).cast("long").alias("n_updates"),
            )
        v = os.path.join(base, f"v{bid}_{_uuid.uuid4().hex[:6]}")
        merged.write.mode("overwrite").parquet(v)
        versions.append(v)

    s = replay_stream(spark, sf_dir)
    ckpt = os.path.join(SCRATCH, "ckpt", f"scdm_{_uuid.uuid4().hex[:10]}")
    q = (
        s.select("user_id", "event_type", "ts", "event_id")
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.read.parquet(versions[-1])


@op(
    "stream_fsm_pattern_alert",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                   max(CASE WHEN event_type = 'purchase'
                            THEN epoch_us(CAST(ts AS TIMESTAMP)) END)
                       OVER (PARTITION BY user_id
                             ORDER BY CAST(ts AS TIMESTAMP), event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS last_p_us
            FROM events
        )
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_incidents
        FROM seq
        WHERE event_type = 'error' AND last_p_us IS NOT NULL
          AND us - last_p_us <= 1800000000
        GROUP BY user_id
    """,
    scale=(
        "Per-key finite-state pattern detection (purchase -> error within "
        "30 min) as custom streaming state — the CEP shape neither "
        "session_window nor stream-stream joins express (the join form "
        "would buffer BOTH full streams within the interval; the FSM "
        "keeps ONE timestamp per key). State is a single last-purchase "
        "micro-ts; each Arrow batch evaluates the pattern vectorized "
        "(exclusive running-max of purchase times, numpy, no per-row "
        "Python). The batch oracle is the same logic as a window "
        "running-max — hash equality proves the incremental FSM == the "
        "batch semantics. At 100 TB: RocksDB-backed 8-byte state per "
        "key, event-time timeout GCs idle users."
    ),
)
def stream_fsm_pattern_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incidents of an error within 30 min after a purchase, per user,
    detected incrementally with one-timestamp-per-key streaming state.

    Consolidated replay: the chunks are cut in ``(ts, event_id)`` order and
    the UDF sorts each key's rows by ``(ts, event_id)`` before folding them
    into its per-key state, so one fold over all rows equals four folds
    over consecutive slices, and the final snapshot is a monotone max. One
    micro-batch gives the same output; the four-batch run is proved equal
    in ``tests/test_streaming_state_providers.py::
    test_rocksdb_provider_parity``."""
    return fsm_incidents(replay_stream(spark, sf_dir, files_per_trigger=None))


def fsm_incidents(s: DataFrame, progress: list | None = None) -> DataFrame:
    """stream_fsm_pattern_alert's applyInPandasWithState pattern detector
    over the streaming DataFrame ``s``, reduced to each incident user's
    final count; ``progress`` collects per-batch progress."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    GAP_NS = 1_800_000_000_000  # 30 min in pandas int64 ns

    def detect(key, pdfs, state):
        # Nested: cloudpickled by value (driver workers can't import us).
        import numpy as np
        import pandas as pd

        last_p, n_inc = state.get if state.exists else (-1, 0)
        pdf = pd.concat([p[["ts", "event_id", "event_type"]] for p in pdfs])
        pdf = pdf.sort_values(["ts", "event_id"])
        ts = pdf["ts"].astype("int64").to_numpy()
        if len(ts):
            is_p = (pdf["event_type"] == "purchase").to_numpy()
            is_e = (pdf["event_type"] == "error").to_numpy()
            p_ts = np.where(is_p, ts, np.int64(-1))
            # Exclusive prefix max: last purchase strictly earlier in the
            # per-key sequence (carried state seeds position 0).
            acc = np.maximum.accumulate(
                np.concatenate(([np.int64(last_p)], p_ts))
            )[:-1]
            hits = is_e & (acc >= 0) & (ts - acc <= GAP_NS)
            n_inc += int(hits.sum())
            last_p = int(max(last_p, p_ts.max()))
        state.update((last_p, n_inc))
        yield pd.DataFrame({"user_id": [key[0]], "n_incidents": [n_inc]})

    updates = s.groupBy("user_id").applyInPandasWithState(
        detect,
        outputStructType="user_id long, n_incidents long",
        stateStructType="last_p long, n_inc long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mem = run_to_memory(updates, "update", progress=progress)
    # Final snapshot per key (monotone counter), incident users only.
    return (
        mem.groupBy("user_id")
        .agg(F.max("n_incidents").alias("n_incidents"))
        .where(F.col("n_incidents") > 0)
    )


@op(
    "stream_window_approx_distinct",
    oracle=f"""
        SELECT date_trunc('day', {TS}) AS w_start,
               CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
               TRUE AS within_5pct
        FROM events GROUP BY 1
    """,
    scale=(
        "Approximate distinct inside a streaming window aggregate: "
        "approx_count_distinct's HLL++ partials merge in the state "
        "store exactly like sums, so per-window unique-user state is "
        "O(sketch) bytes (rsd=0.01 here, ~64KB/window) — the ONLY way windowed "
        "uniques survive unbounded keys at 100 TB (exact distinct "
        "state grows without bound; Spark refuses count_distinct in "
        "streaming for that reason). The oracle audits the final "
        "estimates against batch-exact counts within the default-"
        "precision 5% envelope — same contract as agg_approx_distinct, "
        "proven here under micro-batch state merging."
    ),
)
def stream_window_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily approx-distinct users computed as a streaming windowed agg,
    audited against the batch-exact count.

    Consolidated replay (r15): the HLL++ sketch state is a per-register
    MAX — commutative and associative — so the final merged sketch, and
    therefore the emitted estimate, is bit-identical under any batching
    of the same rows; the exact side is batch. One micro-batch."""
    s = replay_stream(spark, sf_dir, files_per_trigger=None)
    agg = s.groupBy(F.window("ts", "1 day").alias("w")).agg(
        F.approx_count_distinct("user_id", 0.01).alias("est")
    )
    mem = run_to_memory(
        agg.select(F.col("w.start").alias("w_start"), "est"), "complete"
    )
    ev = load_table(spark, sf_dir, "events")
    exact = ev.groupBy(
        F.date_trunc("day", "ts").alias("w_start")
    ).agg(F.count_distinct("user_id").alias("exact_distinct"))
    return mem.join(exact, "w_start").select(
        "w_start",
        "exact_distinct",
        (
            F.abs(F.col("est") - F.col("exact_distinct"))
            <= 0.05 * F.col("exact_distinct")
        ).alias("within_5pct"),
    )

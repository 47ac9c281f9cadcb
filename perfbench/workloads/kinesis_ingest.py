"""kinesis_ingest: write, poll and stream the events table through Kinesis.

Each round creates a fresh 4-shard stream on the loopback service (its own
process) and moves the sf0.01 ``events`` table (10,000 JSON records,
partition key ``<salt>-<user_id>``) through three legs:

1. ``kinesis_sink.write_batch_to_kinesis`` (PutRecords from Spark tasks);
2. ``kinesis_consumer.distributed_poll`` -> ``from_json`` -> aggregate ->
   collect (one executor task per shard);
3. a ``kinesis_stream_source.read_kinesis_stream`` query with the same
   decode and aggregate into a memory sink, ``availableNow``, from start
   to terminated (driver-side reads).

The unit of work is a round; ``latency_s`` is the median of at least
``MIN_ROUNDS`` measured rounds. The first ``WARMUP_ROUNDS`` rounds of
the process are discarded: they pay Python-worker start and JIT warm-up
that later rounds do not. With only the first round discarded, the next
one was still the slowest of its run in nine of ten runs (median 5.14 s
against 4.54 s for the fourth measured round, on a 4-vCPU VM); at the
same five rounds a run, discarding two and taking the median of three
would have cut the spread across those ten runs from 14.7% to 11.8%.
The seed sets the record order and the partition-key salt; the records
themselves are always the fixture ``events`` table. Every leg is checked
against DuckDB over the same parquet: per ``event_type`` count, sum of
``value`` and the first two moments of ``event_id``; the poll leg also
counts distinct ``(shard_id, sequence_number)`` pairs.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

from context import Context, Outcome
from measure import median, summarize_progress

SHARDS = 4
MIN_ROUNDS = 3
WARMUP_ROUNDS = 2
#: Set-ups per run; ``setup_s`` is their median. Only the first pays the
#: JVM launch, so with five the median is the second slowest of four warm
#: set-ups, which one set-up hit by a burst of host load cannot move.
SETUPS = 5
RECORD_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)
STREAM_PREFIX = "perfbench_kinesis_"


def expected_aggregates(sf_dir: str) -> dict[str, tuple]:
    """event_type -> (count, sum value, sum id, sum id^2) from DuckDB."""
    import oracle

    con = oracle.connect(sf_dir)
    rows = con.execute(
        "SELECT event_type, count(*), sum(value), CAST(sum(event_id) AS BIGINT),"
        " CAST(sum(event_id * event_id) AS BIGINT) FROM events GROUP BY 1"
    ).fetchall()
    con.close()
    return {r[0]: tuple(r[1:]) for r in rows}


def record_faults(rows: list[dict], expected: dict[str, tuple], n: int) -> int:
    """Records lost, duplicated or mis-aggregated in one leg's result.

    ``rows``: dicts with ``event_type, n, s, id1, id2`` and, where the leg
    can count them, ``nd`` distinct (shard, sequence) pairs. A type whose
    count matches but whose sums do not counts all its records as faulty.
    """
    import math

    got = {r["event_type"]: r for r in rows}
    total = sum(r["n"] for r in rows)
    faults = abs(total - n)
    if all("nd" in r for r in rows):
        faults += total - sum(r["nd"] for r in rows)
    for et in set(expected) | set(got):
        want, have = expected.get(et), got.get(et)
        if want is None or have is None:
            faults += (want or (have["n"],))[0]
            continue
        if have["n"] != want[0]:
            faults += abs(have["n"] - want[0])
        elif not (
            math.isclose(have["s"], want[1], rel_tol=1e-9)
            and have["id1"] == want[2] and have["id2"] == want[3]
        ):
            faults += want[0]
    return faults


def _aggregate(df, distinct: bool):
    from pyspark.sql import functions as F

    e = F.from_json(F.col("data").cast("string"), RECORD_SCHEMA)
    d = df.select("shard_id", "sequence_number", e.alias("e"))
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum("e.value").alias("s"),
        F.sum("e.event_id").alias("id1"),
        F.sum(F.col("e.event_id") * F.col("e.event_id")).alias("id2"),
    ]
    if distinct:  # streaming aggregations cannot count distinct
        aggs.append(F.count_distinct("shard_id", "sequence_number").alias("nd"))
    return d.groupBy(F.col("e.event_type").alias("event_type")).agg(*aggs)


def run(ctx: Context) -> Outcome:
    from sparkside import (
        MockProcess, eventlog_path, job_group_counts, make_progress_listener,
        purge_program_modules, trace_confs,
    )

    sf_dir = ctx.sf_dir
    salt = hashlib.sha256(str(ctx.seed).encode()).hexdigest()[:6]
    tr = ctx.tracer

    def build():
        purge_program_modules()
        with tr.span("registry.import"):
            from python_kinesis_streaming_spark.session import build_session
            from python_kinesis_streaming_spark.sources import (
                kinesis_consumer, kinesis_sink, kinesis_stream_source,
            )
            from python_kinesis_streaming_spark.sources.tables import load_table
        from pyspark.sql import functions as F

        confs = {"spark.ui.showConsoleProgress": "false"}
        if ctx.trace:
            confs.update(trace_confs(ctx.work))
        with tr.span("session.build"):
            spark = build_session(
                app_name="perfbench-kinesis", master=f"local[{ctx.cores}]",
                shuffle_partitions=ctx.cores, extra_confs=confs,
            )
        spark.sparkContext.setLogLevel("ERROR")
        with tr.span("tables.load"):
            ev = load_table(spark, sf_dir, "events")
            payload = (
                ev.select(
                    F.concat(F.lit(salt + "-"), F.col("user_id").cast("string"))
                    .alias("partition_key"),
                    F.to_json(F.struct(*ev.columns)).alias("data"),
                    F.xxhash64("event_id", F.lit(ctx.seed)).alias("_order"),
                )
                .orderBy("_order")
                .drop("_order")
                .repartition(ctx.cores)
                .cache()
            )
            n = payload.count()
        with tr.span("mock.start"):
            mock = MockProcess(ctx.root, stats=ctx.trace)
        mods = (kinesis_consumer, kinesis_sink, kinesis_stream_source)
        return spark, payload, n, mock, mods

    def teardown(state):
        state[3].stop()
        state[0].stop()

    (spark, payload, n, mock, mods), setup_times = ctx.repeated_setup(build, teardown, SETUPS)
    kc, ks, kss = mods
    sc = spark.sparkContext
    client = kc.KinesisClient(mock.url)
    listener = None
    ckpt_root = ctx.path("ckpt", f"kinesis-{ctx.seed}")
    legs = {"put": [], "poll": [], "stream": []}
    round_s, sink_stats, mock_deltas, poll_tasks = [], [], [], []
    t_measure0_ms = t_measure1_ms = 0.0
    try:
        if ctx.trace:
            listener = make_progress_listener()
            spark.streams.addListener(listener)
        expected = expected_aggregates(sf_dir)
        r = 0
        measure_start = None
        while True:
            if r == WARMUP_ROUNDS:
                measure_start = time.perf_counter()
                t_measure0_ms = time.time() * 1000
            elif r - WARMUP_ROUNDS >= MIN_ROUNDS and (
                time.perf_counter() - measure_start >= ctx.seconds
            ):
                break
            stream = f"perfbench-{r}"
            before = client.call("PerfbenchStats", {}) if ctx.trace else None
            client.call("CreateStream", {"StreamName": stream, "ShardCount": SHARDS})

            t0 = time.perf_counter()
            with tr.span("sink.put"):
                stats = ks.write_batch_to_kinesis(payload, mock.url, stream)
            t1 = time.perf_counter()
            group = f"perfbench-poll-{r}"
            if ctx.trace:
                sc.setJobGroup(group, "distributed_poll leg")
            with tr.span("consumer.poll"):
                polled = _aggregate(kc.distributed_poll(spark, mock.url, stream), True)
                poll_rows = [row.asDict() for row in polled.collect()]
            t2 = time.perf_counter()
            if ctx.trace:
                sc.setLocalProperty("spark.jobGroup.id", None)
                poll_tasks.append(job_group_counts(sc, group)[1])
            qname = f"{STREAM_PREFIX}{r}"
            ckpt = os.path.join(ckpt_root, str(r))
            with tr.span("stream_source.query"):
                q = (
                    _aggregate(kss.read_kinesis_stream(spark, mock.url, stream), False)
                    .writeStream.format("memory").queryName(qname)
                    .outputMode("complete").trigger(availableNow=True)
                    .option("checkpointLocation", ckpt).start()
                )
                q.awaitTermination(120)
            t3 = time.perf_counter()
            if q.isActive:
                q.stop()
                raise RuntimeError(f"stream leg of round {r} did not terminate")
            stream_rows = [row.asDict() for row in spark.table(qname).collect()]
            spark.sql(f"DROP VIEW IF EXISTS {qname}")

            bad_put = abs(stats["records_sent"] - n)
            bad_poll = record_faults(poll_rows, expected, n)
            bad_stream = record_faults(stream_rows, expected, n)
            ctx.tally.add(
                3 * n, bad_put + bad_poll + bad_stream,
                f"round {r}: put {bad_put}, poll {bad_poll}, stream {bad_stream} faulty records",
            )
            if r >= WARMUP_ROUNDS:
                legs["put"].append(t1 - t0)
                legs["poll"].append(t2 - t1)
                legs["stream"].append(t3 - t2)
                round_s.append(t3 - t0)
                sink_stats.append(stats)
                if ctx.trace:
                    after = client.call("PerfbenchStats", {})
                    mock_deltas.append(_delta(before, after))
            r += 1
        t_measure1_ms = time.time() * 1000
    finally:
        mock.stop()
        shutil.rmtree(ckpt_root, ignore_errors=True)

    out = Outcome(round_s, setup_times)
    rates = {leg: n / median(ts) for leg, ts in legs.items()}
    out.notes = [
        f"N={n} records/round, {len(round_s)} measured rounds after {WARMUP_ROUNDS} discarded",
        f"produce_rps={rates['put']:.1f} poll_rps={rates['poll']:.1f} "
        f"stream_rps={rates['stream']:.1f} records/s (median over rounds)",
    ]
    if ctx.trace:
        listener.settle()
        out.extra["stream_progress"] = listener.payloads(STREAM_PREFIX)
        stream_prog = summarize_progress(out.extra["stream_progress"])
        k = len(round_s)
        mk = {key: median([d[key] for d in mock_deltas]) for key in mock_deltas[0]}
        pl = out.per_layer
        pl["kinesis.produce_rps"] = rates["put"]
        pl["kinesis.poll_rps"] = rates["poll"]
        pl["kinesis.stream_rps"] = rates["stream"]
        pl["sink.put_s"] = median(legs["put"])
        for key in ("api_calls", "wire_records", "retried_entries", "partitions"):
            pl[f"sink.{key}"] = median([s[key] for s in sink_stats])
        pl.update(mk)
        pl["consumer.poll_s"] = median(legs["poll"])
        pl["consumer.records"] = float(n)
        pl["tables.rows"] = float(n)
        pl["consumer.tasks"] = median(poll_tasks[-k:])
        for key, v in stream_prog.items():
            if key in ("state_rows_total", "state_memory_bytes", "trigger_ms"):
                continue
            # sums cover every round incl. the discarded ones: report per round
            per_round = v if key == "batch_p50_s" else v / (k + WARMUP_ROUNDS)
            pl[f"stream_source.{key}"] = per_round
        out.eventlog = (eventlog_path(spark, ctx.work), t_measure0_ms, t_measure1_ms, k)
    spark.stop()
    return out


def _delta(before: dict, after: dict) -> dict[str, float]:
    calls = {
        a: after["calls"].get(a, 0) - before["calls"].get(a, 0)
        for a in ("PutRecords", "GetRecords", "GetShardIterator")
    }
    gets = calls["GetRecords"]
    empty = after["empty_get_records"] - before["empty_get_records"]
    out = {f"mock.calls.{a}": float(c) for a, c in calls.items()}
    out["mock.busy_s"] = after["busy_s"] - before["busy_s"]
    out["mock.getrecords_empty_ratio"] = empty / gets if gets else 0.0
    return out

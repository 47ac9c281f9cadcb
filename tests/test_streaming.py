"""Streaming semantics tests (SURVEY §5.3) — for the ops whose driver check
is rows-only (late-data dropping, output-mode contracts)."""

from __future__ import annotations

from pyspark.sql import functions as F

from python_kinesis_streaming_spark.registry import all_queries
from python_kinesis_streaming_spark.sources.tables import load_table

Q = all_queries()


def test_watermark_drops_late_rows(spark, sf_dir):
    """The late-variant replay withholds old rows until after the watermark
    has advanced past them; the append-mode result must (a) never exceed the
    batch count for any window and (b) be missing rows overall."""
    streamed = Q["stream_watermark_late"](spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    batch = ev.groupBy(
        F.date_trunc("hour", "ts").alias("w_start"), "event_type"
    ).agg(F.count("*").alias("n_batch"))

    j = streamed.join(batch, ["w_start", "event_type"], "left")
    over = j.where(F.col("n") > F.col("n_batch")).count()
    assert over == 0, "streamed window count exceeded batch count"

    total_streamed = streamed.agg(F.sum("n")).collect()[0][0]
    total_batch = ev.count()
    assert total_streamed < total_batch, (
        "late rows were not dropped (or final windows leaked): "
        f"streamed={total_streamed} batch={total_batch}"
    )
    assert total_streamed > 0, "append mode emitted nothing"


def test_output_mode_contracts(spark, sf_dir):
    """complete == full result; append ⊆ complete (finalized windows only);
    update ≥ complete rows (changelog re-emits updated windows)."""
    rows = {r.output_mode: r for r in Q["stream_output_modes"](spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    n_final = (
        ev.groupBy(F.date_trunc("hour", "ts"), "event_type").count().count()
    )
    assert rows["complete"].rows_emitted == n_final
    assert rows["append"].rows_emitted <= n_final
    assert rows["append"].rows_emitted > 0
    assert rows["update"].rows_emitted >= n_final


def test_replay_is_really_chunked(spark, sf_dir):
    """The replay source must produce multiple micro-batches (one per chunk),
    not one big batch — otherwise nothing streaming-specific is tested."""
    import os

    from python_kinesis_streaming_spark.streaming.replay import ensure_chunks

    d = ensure_chunks(spark, sf_dir, "plain", 4)
    files = [f for f in os.listdir(d) if f.endswith(".parquet")]
    assert len(files) == 4
    # chunks partition the table exactly
    n = spark.read.parquet(d).count()
    assert n == load_table(spark, sf_dir, "events").count()


def test_rocksdb_state_store_provider(spark, sf_dir):
    """The big-state path (SURVEY §4): the same windowed agg must produce
    identical results with the RocksDB state store provider — proving the
    state backend is swappable by config alone (the 100 TB setting).

    Also pins ``run_to_memory``'s cleanup: after two calls (default and
    RocksDB provider) the session holds no ``mem_*`` sink view, and both
    returned frames still read."""
    from python_kinesis_streaming_spark.streaming.replay import (
        replay_stream,
        run_to_memory,
    )

    def windowed_counts():
        agg = replay_stream(spark, sf_dir).groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        ).agg(F.count("*").alias("n"))
        return run_to_memory(
            agg.select(F.col("w.start").alias("w_start"), "event_type", "n"),
            "complete",
        )

    default_mem = windowed_counts()
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, "")
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        mem = windowed_counts()
    finally:
        if prev:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)
    assert not [
        t.name for t in spark.catalog.listTables() if t.name.startswith("mem_")
    ]
    got = {(r.w_start, r.event_type): r.n for r in mem.collect()}
    assert got == {
        (r.w_start, r.event_type): r.n for r in default_mem.collect()
    }
    ev = load_table(spark, sf_dir, "events")
    expected = {
        (r.w_start, r.event_type): r.n
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("w_start"), "event_type"
        ).agg(F.count("*").alias("n")).collect()
    }
    assert got == expected


def test_stream_outer_join_semantics(spark, sf_dir):
    """Left-outer stream-stream join: its matched rows == the inner join's
    rows (oracle-pinned op); null rows only for clicks with no purchase;
    no click appears both matched and null."""
    from python_kinesis_streaming_spark.registry import all_queries

    q = all_queries()
    outer = q["join_stream_stream_outer"](spark, sf_dir).collect()
    inner = {(r.click_id, r.purchase_id) for r in
             q["join_stream_stream"](spark, sf_dir).collect()}
    matched = {(r.click_id, r.purchase_id) for r in outer if r.purchase_id is not None}
    nulls = {r.click_id for r in outer if r.purchase_id is None}
    assert matched == inner
    assert not nulls & {c for c, _ in matched}
    assert len(nulls) > 0, "no unmatched clicks emitted - watermark never fired"


def test_rocksdb_stateful_counter_op(spark, sf_dir, duck):
    """`stream_stateful_counter` (applyInPandasWithState — arbitrary Python
    state per key) must stay oracle-green under the RocksDB provider: the
    custom-state path exercises state (de)serialization harder than a
    built-in windowed agg. This is the VERDICT-r4 'done' bar for wiring the
    at-scale state backend."""
    from python_kinesis_streaming_spark.session import ROCKSDB_STATE_STORE_CONFS
    from python_kinesis_streaming_spark.registry import all_oracles
    from tests.twin import assert_twin_match

    prev = {k: spark.conf.get(k, None) for k in ROCKSDB_STATE_STORE_CONFS}
    for k, v in ROCKSDB_STATE_STORE_CONFS.items():
        spark.conf.set(k, v)
    try:
        sdf = Q["stream_stateful_counter"](spark, sf_dir).toPandas()
    finally:
        for k, v in prev.items():
            if v:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)
    ddf = duck.execute(all_oracles()["stream_stateful_counter"]).fetchdf()
    assert_twin_match(sdf, ddf, "stream_stateful_counter[rocksdb]")


def test_build_session_rocksdb_option():
    """`build_session(rocksdb_state_store=True)` must request the RocksDB
    provider confs (unit-level: inspect the conf dict the builder gets;
    a second live session can't be built alongside the suite's)."""
    from python_kinesis_streaming_spark import session as S

    assert (
        S.ROCKSDB_STATE_STORE_CONFS["spark.sql.streaming.stateStore.providerClass"]
        .endswith("RocksDBStateStoreProvider")
    )
    # The option must plumb every RocksDB conf into the builder's conf map.
    import inspect

    src = inspect.getsource(S.build_session)
    assert "ROCKSDB_STATE_STORE_CONFS" in src and "rocksdb_state_store" in src

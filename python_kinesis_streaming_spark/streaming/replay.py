"""Chunked-replay streaming source + memory-sink runner (SURVEY §2.9).

The Kinesis-ingest stand-in: the ``events`` fixture is split into N parquet
chunk files ordered by event time and streamed through Structured
Streaming's file source with ``maxFilesPerTrigger=1`` — N real micro-batches
with advancing watermarks, exactly the execution path a Kinesis/Kafka source
drives (offset tracking, state-store updates, watermark advance per batch).

Production swap: replace ``replay_stream`` with
``spark.readStream.format("kinesis" | "kafka")`` — every downstream operator
is source-agnostic (they take a streaming DataFrame with an event-time
column). Chunk files live under the gitignored ``.scratch/`` dir and are
built once per (sf_dir, variant) — a ``_REPLAY_DONE`` marker makes the cache
idempotent across ops and sessions.

Scale notes (100 TB):
- File-source streaming scales by files/trigger + partitioned listing; the
  state-heavy part (windows, dedup keys, join buffers) lives in the state
  store — use RocksDB provider beyond memory-sized state, and watermarks
  ALWAYS (every op in streaming/ops.py carries one or is complete-mode).
- ``run_to_memory`` pins ``spark.sql.shuffle.partitions`` low around query
  start because a streaming query's state partition count is frozen by its
  first checkpoint; on a cluster you'd size it to executors once.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from python_kinesis_streaming_spark.sources.tables import load_table, sf_tag

SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".scratch",
)

DEFAULT_CHUNKS = 4


def _chunk_dir(sf_dir: str, variant: str, chunks: int) -> str:
    # sf_tag (basename + abs-path hash), not bare basename: two fixture
    # roots sharing a basename must never share replay chunks.
    return os.path.join(SCRATCH, "replay", f"{sf_tag(sf_dir)}_{variant}_{chunks}")


def ensure_chunks(
    spark: SparkSession, sf_dir: str, variant: str = "plain", chunks: int = DEFAULT_CHUNKS
) -> str:
    """Materialize the events table as ``chunks`` time-ordered parquet files.

    variant:
      - ``plain``: events split into equal time-ordered chunks.
      - ``dups``:  every 10th event duplicated into a LATER chunk than its
                   original (cross-batch duplicates for stream_dedup).
      - ``late``:  every 10th event of the oldest 30% is withheld from its
                   time-ordered chunk and arrives in a final extra chunk —
                   genuinely late rows w.r.t. the advanced watermark.
    """
    out = _chunk_dir(sf_dir, variant, chunks)
    marker = os.path.join(out, "_REPLAY_DONE")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)

    ev = load_table(spark, sf_dir, "events")
    n = ev.count()
    w = Window.orderBy("ts", "event_id")
    ranked = ev.withColumn("_rn", F.row_number().over(w) - 1)

    per = (n + chunks - 1) // chunks
    if variant == "plain":
        parts = [
            ranked.where((F.col("_rn") >= i * per) & (F.col("_rn") < (i + 1) * per))
            for i in range(chunks)
        ]
    elif variant == "dups":
        parts = [
            ranked.where((F.col("_rn") >= i * per) & (F.col("_rn") < (i + 1) * per))
            for i in range(chunks)
        ]
        # duplicates of chunk i's every-10th row are appended to chunk i+1
        # (and the last chunk's to a trailing chunk) → dup arrives in a
        # strictly later micro-batch than the original.
        dup_parts = [
            ranked.where(
                (F.col("_rn") >= i * per)
                & (F.col("_rn") < (i + 1) * per)
                & (F.col("_rn") % 10 == 0)
            )
            for i in range(chunks)
        ]
        parts = [
            parts[i].unionByName(dup_parts[i - 1]) if i > 0 else parts[i]
            for i in range(chunks)
        ] + [dup_parts[chunks - 1]]
    elif variant == "late":
        late = (F.col("_rn") % 10 == 0) & (F.col("_rn") < int(n * 0.3))
        parts = [
            ranked.where(
                (F.col("_rn") >= i * per) & (F.col("_rn") < (i + 1) * per) & ~late
            )
            for i in range(chunks)
        ] + [ranked.where(late)]
    else:  # pragma: no cover
        raise ValueError(f"unknown replay variant {variant}")

    for p in parts:
        # One sequential append per chunk → one file each, mtime-ordered,
        # which is the file source's processing order.
        p.drop("_rn").coalesce(1).write.mode("append").parquet(out)
    with open(marker, "w") as f:
        f.write("ok")
    return out


def replay_stream(
    spark: SparkSession,
    sf_dir: str,
    variant: str = "plain",
    chunks: int = DEFAULT_CHUNKS,
    data_dir: str | None = None,
    files_per_trigger: int | None = 1,
) -> DataFrame:
    """Streaming DataFrame over the chunked events replay.

    ``files_per_trigger=1`` (default) delivers one chunk per micro-batch —
    the multi-batch replay that exercises cross-batch state, watermark
    advancement and per-batch emission. ``files_per_trigger=None`` omits
    ``maxFilesPerTrigger`` so the ``availableNow`` drain ingests every
    chunk in ONE micro-batch — the r15 consolidation (guide §1.2: fewer
    passes) for ops whose DECLARED OUTPUT is provably independent of
    batch boundaries (complete-mode aggregations, final-snapshot update
    ops such as stream_stateful_sessionizer and stream_fsm_pattern_alert,
    final-watermark append ops). Ops whose oracle models the 4-chunk
    boundaries (stream_metrics_progress, stream_state_metrics,
    stream_idempotent_sink, stream_scd_merge_sink, stream_watermark_late,
    stream_output_modes' update leg) and wave2's stream_minhash_dedup,
    whose provider-parity test reads its per-batch progress, keep the
    default. The multi-batch proofs of the consolidated stateful ops live
    in tests/test_streaming_state_providers.py: test_rocksdb_provider_parity
    (sessionizer and FSM) and
    test_stream_session_multi_batch_matches_one_batch (stream_session).
    The chunk files on disk are identical either way.
    """
    d = data_dir or ensure_chunks(spark, sf_dir, variant, chunks)
    schema = spark.read.parquet(d).schema
    reader = spark.readStream.schema(schema)
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    sdf = reader.parquet(d)
    # Chunks written before the NTZ-normalization fix (or by a session whose
    # writer emitted isAdjustedToUTC=false) read back as TIMESTAMP_NTZ, which
    # withWatermark rejects. Same identity cast as sources/tables.load_table.
    ntz = [f.name for f in sdf.schema.fields if f.dataType.typeName() == "timestamp_ntz"]
    if ntz:
        sdf = sdf.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return sdf


def run_to_memory(
    sdf_sink_ready: DataFrame,
    output_mode: str,
    shuffle_partitions: int = 8,
    progress: list | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to completion into an in-memory table.

    Trigger ``availableNow`` drains every chunk (respecting
    maxFilesPerTrigger → one micro-batch per chunk) then stops. Returns the
    final memory-sink table as a batch DataFrame; the sink's temp view is
    dropped once that frame is bound, so the session keeps a result only
    while the caller holds it. Shuffle partitions are pinned low around
    start because the query's state partitioning is frozen at first
    checkpoint (restored afterwards).
    """
    spark = sdf_sink_ready.sparkSession
    name = f"mem_{uuid.uuid4().hex[:10]}"
    ckpt = os.path.join(SCRATCH, "ckpt", name)
    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
        q = (
            sdf_sink_ready.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if progress is not None:
            # per-batch StreamingQueryProgress dicts (stateOperators
            # rows/memory metrics) for tests that assert on state-store
            # behavior rather than only on sink contents
            progress.extend(q.recentProgress)
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        # The memory-sink table is already materialized; the uuid-named
        # checkpoint would otherwise accumulate forever under .scratch/.
        shutil.rmtree(ckpt, ignore_errors=True)
    result = spark.table(name)
    spark.catalog.dropTempView(name)
    return result

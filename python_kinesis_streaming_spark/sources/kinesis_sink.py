"""Spark → Kinesis producer sink (the write half of the ingest stack).

The consumer ladder (``kinesis_consumer.py`` → ``kinesis_stream_source.py``)
reads a stream into Spark; this module writes a DataFrame back out over the
same public wire protocol, with the semantics a real producer needs:

- **PutRecords batching** under BOTH documented limits — 500 entries per
  call and 5 MiB per call (1 MiB per record) — chunked executor-side;
- **partial-failure retry**: a PutRecords call can succeed (HTTP 200) yet
  reject individual entries (``FailedRecordCount`` > 0, per-entry
  ``ErrorCode``). Only the rejected entries are retried, with exponential
  backoff, preserving their order relative to each other — the loop every
  production producer implements;
- **optional KPL aggregation** (``sources/kpl.py``): records are packed
  into aggregated blobs per partition before hitting the wire, collapsing
  per-record API cost by the aggregation factor;
- **streaming**: ``foreach_batch_writer`` adapts the same path to
  ``writeStream.foreachBatch`` (at-least-once into Kinesis — a retried
  micro-batch re-puts; Kinesis has no transactional producer).

Scale shape: the send runs inside ``mapInPandas`` tasks — executors own
the HTTP calls and the retry state, the driver only collects one summary
row per partition (records/calls/retries), never record data. Input
partitioning is respected, so upstream ``repartition(N)`` directly sets
producer parallelism. The task body speaks the wire protocol through
``kinesis_consumer.KinesisClient`` and retries rejected entries on that
module's ``RETRY_*`` schedule. ``kinesis_consumer`` and ``kpl.py`` are
registered with cloudpickle by value, so they ship with the task and the
workers never import the package (bare-session safe).
"""

from __future__ import annotations

#: Documented PutRecords call limits.
MAX_ENTRIES_PER_CALL = 500
MAX_BYTES_PER_CALL = 5 * 1024 * 1024
MAX_BYTES_PER_RECORD = 1 * 1024 * 1024

#: Per-partition send summary (driver-side observability only).
SINK_STATS_SCHEMA = (
    "task_partition int, records_sent bigint, wire_records bigint, "
    "api_calls bigint, retried_entries bigint"
)


def write_batch_to_kinesis(
    df,
    endpoint_url: str,
    stream: str,
    pk_col: str = "partition_key",
    data_col: str = "data",
    aggregate: bool = False,
    aggregate_max_bytes: int = 64 * 1024,
) -> dict:
    """Send ``df`` rows as Kinesis records; returns aggregate send stats.

    ``pk_col`` (string) routes each record; ``data_col`` (binary/string) is
    the payload. With ``aggregate=True`` the records are KPL-packed per
    Spark partition (``aggregate_max_bytes`` per blob) and consumers
    de-aggregate via ``kpl.deaggregate_dataframe`` — partition keys of the
    user records ride in the blob's key table, so routing granularity
    becomes the blob's carrier key (first record per blob), exactly the
    KPL trade.

    Returns ``{"records_sent", "wire_records", "api_calls",
    "retried_entries", "partitions"}`` summed over partitions. Delivery is
    at-least-once: a task retry re-sends its partition.
    """
    from pyspark import cloudpickle
    from pyspark.sql import functions as F

    import python_kinesis_streaming_spark.sources.kinesis_consumer as _kc
    import python_kinesis_streaming_spark.sources.kpl as _kpl

    cloudpickle.register_pickle_by_value(_kc)
    cloudpickle.register_pickle_by_value(_kpl)

    stream_name = stream
    do_aggregate = aggregate
    agg_bytes = aggregate_max_bytes

    payload = df.select(
        F.col(pk_col).cast("string").alias("pk"),
        F.col(data_col).cast("binary").alias("data"),
    )

    def send_partition(batches):
        import base64 as _b64
        import time as _time

        import pandas as pd

        call = _kc.KinesisClient(endpoint_url).call

        stats = {"sent": 0, "wire": 0, "calls": 0, "retried": 0}

        def put_with_retry(entries):
            """PutRecords one chunk; retry only rejected entries."""
            pending = entries
            for attempt in range(_kc.RETRY_ATTEMPTS + 1):
                resp = call(
                    "PutRecords",
                    {"StreamName": stream_name, "Records": pending},
                )
                stats["calls"] += 1
                if resp["FailedRecordCount"] == 0:
                    return
                pending = [
                    e
                    for e, r in zip(pending, resp["Records"])
                    if "ErrorCode" in r
                ]
                stats["retried"] += len(pending)
                if attempt < _kc.RETRY_ATTEMPTS:
                    _time.sleep(_kc.RETRY_BACKOFF_S * (2**attempt))
            raise RuntimeError(
                f"{len(pending)} records still failing after "
                f"{_kc.RETRY_ATTEMPTS} retries"
            )

        def flush_chunked(wire_records):
            """Respect the 500-entry / 5 MiB per-call limits."""
            chunk, chunk_bytes = [], 0
            for pk, blob in wire_records:
                if len(blob) + len(pk) > MAX_BYTES_PER_RECORD:
                    raise RuntimeError("record exceeds 1 MiB Kinesis limit")
                entry_bytes = len(blob) + len(pk)
                if chunk and (
                    len(chunk) >= MAX_ENTRIES_PER_CALL
                    or chunk_bytes + entry_bytes > MAX_BYTES_PER_CALL
                ):
                    put_with_retry(chunk)
                    chunk, chunk_bytes = [], 0
                chunk.append(
                    {
                        "PartitionKey": pk,
                        "Data": _b64.b64encode(blob).decode(),
                    }
                )
                chunk_bytes += entry_bytes
                stats["wire"] += 1
            if chunk:
                put_with_retry(chunk)

        for pdf in batches:
            pairs = [
                (pk, bytes(data))
                for pk, data in zip(pdf["pk"], pdf["data"])
            ]
            stats["sent"] += len(pairs)
            if do_aggregate:
                wire = _kpl.KplAggregator(
                    max_bytes=agg_bytes
                ).aggregate_all(pairs)
            else:
                wire = pairs
            flush_chunked(wire)

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        yield pd.DataFrame(
            {
                "task_partition": [pid],
                "records_sent": [stats["sent"]],
                "wire_records": [stats["wire"]],
                "api_calls": [stats["calls"]],
                "retried_entries": [stats["retried"]],
            }
        )

    rows = payload.mapInPandas(
        send_partition, schema=SINK_STATS_SCHEMA
    ).collect()  # one summary row per task — the send side effect runs here
    return {
        "records_sent": sum(r["records_sent"] for r in rows),
        "wire_records": sum(r["wire_records"] for r in rows),
        "api_calls": sum(r["api_calls"] for r in rows),
        "retried_entries": sum(r["retried_entries"] for r in rows),
        "partitions": len(rows),
    }


def foreach_batch_writer(
    endpoint_url: str,
    stream: str,
    pk_col: str = "partition_key",
    data_col: str = "data",
    aggregate: bool = False,
    **kwargs,
):
    """``writeStream.foreachBatch`` adapter over ``write_batch_to_kinesis``.

    Usage::

        q = (df.writeStream
             .foreachBatch(foreach_batch_writer(url, "out-stream"))
             .option("checkpointLocation", cp).start())

    Semantics are at-least-once into Kinesis: if a micro-batch retries
    after a partial send, its records are re-put (Kinesis offers no
    producer transaction to fence against that; downstream consumers
    dedup on a payload key when exactly-once matters).
    """

    def write(batch_df, batch_id: int):
        write_batch_to_kinesis(
            batch_df,
            endpoint_url,
            stream,
            pk_col=pk_col,
            data_col=data_col,
            aggregate=aggregate,
            **kwargs,
        )

    return write

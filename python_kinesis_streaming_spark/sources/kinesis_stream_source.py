"""Structured Streaming over the Kinesis protocol — a Spark 4 Python
DataSource streaming reader wrapping ``sources/kinesis_consumer.py``.

This completes the ingest ladder the repo documents:

1. ``streaming/replay.py``      — fixture replay (no network at all);
2. ``kinesis_consumer.py``      — the raw poll loop + batch bridges;
3. THIS MODULE                  — real ``spark.readStream`` semantics:
   per-shard sequence numbers are the source OFFSETS, persisted in the
   streaming checkpoint WAL, so stop/restart resumes exactly where the
   log says (exactly-once into transactional sinks — the KCL lease table
   replaced by Spark's own offset log);
4. ``kinesis.py``               — the JVM DSv2 connector facade for
   clusters that carry the jar (the high-throughput path).

``SimpleDataSourceStreamReader`` is the right rung here: reads prefetch
on the driver per microbatch (Spark's documented pattern for
low/moderate-throughput custom Python sources) and ``readBetweenOffsets``
replays deterministically from the shard logs on recovery. At high
throughput you step up to rung 4 — same plan surface, executor-side I/O.

Offset format: ``{"shards": {shard_id: last_consumed_sequence_number}}``
(``None`` = shard not yet read; consumption starts at TRIM_HORIZON).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

#: Output schema: the Kinesis record shape (arrival as epoch seconds —
#: sinks/ops cast as needed).
STREAM_SCHEMA = (
    "shard_id string, partition_key string, sequence_number string, "
    "arrival double, data binary"
)

FORMAT_NAME = "pkss_kinesis"


def register_kinesis_stream_source(spark: SparkSession) -> str:
    """Register the ``pkss_kinesis`` streaming format on this session.

    Usage::

        register_kinesis_stream_source(spark)
        df = (spark.readStream.format("pkss_kinesis")
              .option("endpoint_url", url)
              .option("stream_name", "events")
              .load())

    The DataSource classes are defined inside this function and the
    consumer module is registered for cloudpickle by-value shipping:
    Spark executes Python data sources in separate planner/worker
    processes that cannot import this repo in a bare driver session
    (CLAUDE.md invariant 1).
    """
    from pyspark import cloudpickle
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    import python_kinesis_streaming_spark.sources.kinesis_consumer as _kc

    cloudpickle.register_pickle_by_value(_kc)

    class _KinesisSimpleStreamReader(SimpleDataSourceStreamReader):
        def __init__(self, options: dict):
            self.endpoint = options["endpoint_url"]
            self.stream = options["stream_name"]

        def _client(self):
            return _kc.KinesisClient(self.endpoint)

        def initialOffset(self) -> dict:  # noqa: N802 (Spark API casing)
            shards = self._client().list_shard_ids(self.stream)
            return {"shards": {s: None for s in shards}}

        def _rows(self, client, shard_id: str, last, upto=None) -> list:
            """Rows after ``last`` (exclusive), optionally bounded by
            ``upto`` (inclusive) for deterministic replay. The values of a
            ``decode_record`` dict are in ``STREAM_SCHEMA`` order."""
            rows = []
            for recs in _kc.read_shard(client, self.stream, shard_id, last):
                for r in recs:
                    if upto is not None and int(r["SequenceNumber"]) > int(upto):
                        return rows
                    rows.append(tuple(_kc.decode_record(shard_id, r).values()))
            return rows

        def read(self, start: dict):
            client = self._client()
            new = dict(start["shards"])
            # shard discovery: a resharded stream grows the offset map
            for s in client.list_shard_ids(self.stream):
                new.setdefault(s, None)
            rows: list[tuple] = []
            for shard_id, last in new.items():
                shard_rows = self._rows(client, shard_id, last)
                if shard_rows:
                    new[shard_id] = shard_rows[-1][2]  # sequence_number
                    rows.extend(shard_rows)
            return iter(rows), {"shards": new}

        def readBetweenOffsets(self, start: dict, end: dict):
            client = self._client()
            rows: list[tuple] = []
            for shard_id, upto in end["shards"].items():
                last = start["shards"].get(shard_id)
                if upto is None or upto == last:
                    continue
                rows.extend(self._rows(client, shard_id, last, upto))
            return iter(rows)

        def commit(self, end: dict) -> None:
            pass  # offsets live in Spark's checkpoint WAL; nothing external

    class KinesisStreamingSource(DataSource):
        @classmethod
        def name(cls):
            return FORMAT_NAME

        def schema(self):
            return STREAM_SCHEMA

        def simpleStreamReader(self, schema):  # noqa: N802 (Spark API)
            return _KinesisSimpleStreamReader(dict(self.options))

    spark.dataSource.register(KinesisStreamingSource)
    return FORMAT_NAME


def read_kinesis_stream(
    spark: SparkSession, endpoint_url: str, stream_name: str
):
    """Streaming DataFrame over a Kinesis-protocol endpoint (loopback mock
    here; any JSON-1.1 Kinesis endpoint structurally)."""
    register_kinesis_stream_source(spark)
    return (
        spark.readStream.format(FORMAT_NAME)
        .option("endpoint_url", endpoint_url)
        .option("stream_name", stream_name)
        .load()
    )

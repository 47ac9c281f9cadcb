"""Kinesis consumer protocol loop (pure stdlib) + Spark ingestion bridges.

This is the reference genre made executable in-sandbox: a Kinesis consumer
is a poll–decode–checkpoint loop over the public HTTP API (SURVEY §3.1) —
enumerate shards, get a shard iterator, GetRecords (backing off on
throttle) until caught up, decode the base64 Data blob, persist the last
sequence number per shard, resume AFTER_SEQUENCE_NUMBER on restart
(at-least-once).
``sources/kinesis.py`` wires the DSv2 connector surface for clusters that
carry the connector jar; this module implements the protocol itself so the
whole loop is integration-tested here against the loopback mock service
(``sources/kinesis_mock.py``) — the only untested residue vs real AWS is
SigV4 signing and TLS.

It is the only module that speaks that protocol: ``KinesisClient`` builds
every request and decodes every error, ``read_shard`` is the one shard
drain loop and ``decode_record`` the one wire-record decode. The streaming
source (``kinesis_stream_source.py``), the producer sink
(``kinesis_sink.py``) and the EFO consumer (``kinesis_efo.py``) call them.

Spark bridges, in ascending scale order:

- ``poll_to_dataframe``  — driver-side drain → DataFrame (micro-batch
  ingest; each call is one at-least-once batch). Fine for low-volume
  streams; the driver is the single consumer.
- ``distributed_poll``   — the DSv2-connector architecture demonstrated:
  one Spark TASK per shard (mapInPandas over a shard-id frame), each task
  polling its own shard over HTTP from that shard's checkpoint. At
  100 TB this is the shape that scales: shard count = input parallelism,
  executors do the network I/O, no driver fan-in of raw records, and
  resharding just changes the shard frame. The loopback mock serves
  localhost here; on a cluster the same code hits the regional endpoint.

Checkpoints are one JSON file per shard (atomic rename), the KCL
lease-table analogue; per-shard ownership means no write contention.
"""

from __future__ import annotations

import base64
import json
import os
import time
import urllib.error
import urllib.request

_JSON11 = "application/x-amz-json-1.1"


class KinesisApiError(RuntimeError):
    def __init__(self, type_: str, message: str):
        super().__init__(f"{type_}: {message}")
        self.type = type_


class KinesisClient:
    """Minimal AWS JSON 1.1 client for the Kinesis API (stdlib urllib).

    Speaks the real wire protocol (POST /, X-Amz-Target, JSON body/reply,
    400 + __type errors). Auth headers are not signed — the loopback mock
    ignores them; pointing this at real AWS additionally needs SigV4,
    which is deliberately out of scope in-sandbox.
    """

    def __init__(self, endpoint_url: str, timeout: float = 10.0):
        self.endpoint_url = endpoint_url.rstrip("/")
        self.timeout = timeout

    def open(self, action: str, body: dict):
        """POST one action; returns the open HTTP response (the caller
        reads and closes it). An HTTP error raises ``KinesisApiError``."""
        req = urllib.request.Request(
            self.endpoint_url + "/",
            data=json.dumps(body).encode(),
            headers={
                "Content-Type": _JSON11,
                "X-Amz-Target": f"Kinesis_20131202.{action}",
            },
            method="POST",
        )
        try:
            return urllib.request.urlopen(req, timeout=self.timeout)
        except urllib.error.HTTPError as e:
            payload = json.loads(e.read() or b"{}")
            raise KinesisApiError(
                payload.get("__type", "UnknownError"),
                payload.get("message", str(e)),
            ) from None

    def call(self, action: str, body: dict) -> dict:
        with self.open(action, body) as resp:
            return json.loads(resp.read() or b"{}")

    # convenience wrappers -------------------------------------------------

    def list_shard_ids(self, stream: str) -> list[str]:
        out = self.call("ListShards", {"StreamName": stream})
        return [s["ShardId"] for s in out["Shards"]]

    def get_shard_iterator(
        self,
        stream: str,
        shard_id: str,
        iterator_type: str = "TRIM_HORIZON",
        sequence_number: str | None = None,
    ) -> str:
        body = {
            "StreamName": stream,
            "ShardId": shard_id,
            "ShardIteratorType": iterator_type,
        }
        if sequence_number is not None:
            body["StartingSequenceNumber"] = sequence_number
        return self.call("GetShardIterator", body)["ShardIterator"]

    def get_records(self, shard_iterator: str, limit: int = 1000) -> dict:
        return self.call(
            "GetRecords", {"ShardIterator": shard_iterator, "Limit": limit}
        )


class ShardCheckpointer:
    """Per-shard last-processed sequence number, one JSON file per shard
    (atomic rename) — the KCL lease-table analogue without a database."""

    def __init__(self, checkpoint_dir: str):
        self.dir = checkpoint_dir

    def _path(self, shard_id: str) -> str:
        return os.path.join(self.dir, f"{shard_id}.json")

    def load(self, shard_id: str) -> str | None:
        try:
            with open(self._path(shard_id)) as f:
                return json.load(f)["sequence_number"]
        except FileNotFoundError:
            return None

    def save(self, shard_id: str, sequence_number: str) -> None:
        os.makedirs(self.dir, exist_ok=True)
        tmp = self._path(shard_id) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"sequence_number": sequence_number}, f)
        os.replace(tmp, self._path(shard_id))


#: Throttle retry schedule shared by every reader and the producer sink:
#: up to ``RETRY_ATTEMPTS`` retries, sleeping ``RETRY_BACKOFF_S * 2**n``.
RETRY_ATTEMPTS = 8
RETRY_BACKOFF_S = 0.02


def read_shard(
    client: KinesisClient,
    stream: str,
    shard_id: str,
    after: str | None = None,
    starting_position: str = "TRIM_HORIZON",
    limit: int = 1000,
):
    """The one shard drain loop: yields each non-empty GetRecords page
    (a list of wire records) until the shard is caught up.

    Starts AFTER_SEQUENCE_NUMBER ``after``, or at ``starting_position``
    when ``after`` is None. Retries ProvisionedThroughputExceededException
    on the ``RETRY_*`` schedule. Stops at a null NextShardIterator (a
    closed shard fully drained) or at an empty page with
    MillisBehindLatest == 0. A caller that stops iterating early issues
    no further calls.
    """
    if after is None:
        it = client.get_shard_iterator(stream, shard_id, starting_position)
    else:
        it = client.get_shard_iterator(
            stream, shard_id, "AFTER_SEQUENCE_NUMBER", after
        )
    attempt = 0
    while True:
        try:
            resp = client.get_records(it, limit=limit)
        except KinesisApiError as e:
            if (
                e.type.endswith("ProvisionedThroughputExceededException")
                and attempt < RETRY_ATTEMPTS
            ):
                time.sleep(RETRY_BACKOFF_S * (2**attempt))
                attempt += 1
                continue
            raise
        attempt = 0
        recs = resp["Records"]
        if recs:
            yield recs
        it = resp.get("NextShardIterator")
        if it is None or (not recs and resp.get("MillisBehindLatest", 0) == 0):
            return


def decode_record(shard_id: str, r: dict) -> dict:
    """One wire record (GetRecords or SubscribeToShardEvent) → record dict
    with the ``Data`` blob base64-decoded and arrival as epoch seconds."""
    return {
        "shard_id": shard_id,
        "partition_key": r["PartitionKey"],
        "sequence_number": r["SequenceNumber"],
        "approximate_arrival": float(r["ApproximateArrivalTimestamp"]),
        "data": base64.b64decode(r["Data"]),
    }


def poll_shard(
    client: KinesisClient,
    stream: str,
    shard_id: str,
    checkpointer: ShardCheckpointer | None = None,
    starting_position: str = "TRIM_HORIZON",
    limit: int = 1000,
    sink: list | None = None,
) -> list[dict]:
    """Drain one shard's currently-available records (at-least-once).

    Resumes AFTER_SEQUENCE_NUMBER from the checkpoint when one exists,
    else from ``starting_position``, and reads until caught up
    (``read_shard``). The checkpoint is saved AFTER each page's records
    are appended to the caller's batch list — a crash between delivery
    and checkpoint re-delivers, never skips.

    ``sink``: caller-owned list the drained records are appended to
    page-by-page (and also the return value). Pass it when the
    checkpointer can raise mid-drain (fenced lease steal): records from
    pages whose checkpoint already committed stay delivered in the
    caller's list instead of vanishing with the exception — dropping
    them would break at-least-once, because the successor resumes after
    the fence checkpoint and never re-reads them.
    """
    out: list[dict] = [] if sink is None else sink
    after = checkpointer.load(shard_id) if checkpointer else None
    for recs in read_shard(
        client, stream, shard_id, after, starting_position, limit
    ):
        out.extend(decode_record(shard_id, r) for r in recs)
        if checkpointer:
            checkpointer.save(shard_id, recs[-1]["SequenceNumber"])
    return out


def poll_stream(
    client: KinesisClient,
    stream: str,
    checkpoint_dir: str | None = None,
    starting_position: str = "TRIM_HORIZON",
) -> list[dict]:
    """Drain every shard once (driver-side). Returns decoded record dicts."""
    cp = ShardCheckpointer(checkpoint_dir) if checkpoint_dir else None
    out: list[dict] = []
    for shard_id in client.list_shard_ids(stream):
        out.extend(
            poll_shard(
                client,
                stream,
                shard_id,
                checkpointer=cp,
                starting_position=starting_position,
            )
        )
    return out


#: Spark schema for polled records (consumer-loop twin of
#: kinesis.kinesis_record_schema, which models the DSv2 connector output).
POLLED_SCHEMA = (
    "shard_id string, partition_key string, sequence_number string, "
    "approximate_arrival timestamp, data binary"
)
_POLLED_COLUMNS = [c.split()[0] for c in POLLED_SCHEMA.split(", ")]


def _polled_row(rec: dict) -> tuple:
    """A ``decode_record`` dict as a ``POLLED_SCHEMA`` row (arrival as a
    naive UTC datetime)."""
    import datetime

    arrival = datetime.datetime.fromtimestamp(
        rec["approximate_arrival"], tz=datetime.timezone.utc
    ).replace(tzinfo=None)
    return (
        rec["shard_id"],
        rec["partition_key"],
        rec["sequence_number"],
        arrival,
        rec["data"],
    )


def poll_to_dataframe(
    spark,
    endpoint_url: str,
    stream: str,
    checkpoint_dir: str | None = None,
    starting_position: str = "TRIM_HORIZON",
):
    """One at-least-once micro-batch: drain the stream → DataFrame.

    Driver-side consumer — the single-process ingest rung. Use
    ``distributed_poll`` when shard count (and so throughput) matters.
    """
    recs = poll_stream(
        KinesisClient(endpoint_url),
        stream,
        checkpoint_dir=checkpoint_dir,
        starting_position=starting_position,
    )
    return spark.createDataFrame(
        [_polled_row(r) for r in recs], POLLED_SCHEMA
    )


def distributed_poll(
    spark,
    endpoint_url: str,
    stream: str,
    checkpoint_dir: str | None = None,
    starting_position: str = "TRIM_HORIZON",
):
    """One task per shard, executors poll over HTTP — the connector shape.

    The shard list becomes a ``range`` DataFrame with one partition per
    shard (no shuffle: row i of partition i picks shard i from the literal
    list); each mapInPandas task drains its single shard with the
    same ``read_shard`` loop and ``decode_record`` the driver-side poll
    uses. This module is registered with cloudpickle by value, so the
    task body ships together with the code it calls and the workers never
    import the package (bare-session safe, CLAUDE.md invariant 1).

    Checkpointing is two-phase: tasks only READ ``checkpoint_dir`` to
    pick their resume point; nothing is written during the drain (not
    even the directory). After the caller has materialized (and durably
    persisted) the result, it advances the checkpoints with
    ``commit_poll_checkpoints``. Writing from inside the task would
    advance the checkpoint before the task's output is committed, so a
    task retry — or a second evaluation of this lazy DataFrame — would
    resume past records the failed attempt never delivered and silently
    drop them.
    """
    import sys

    from pyspark import cloudpickle
    from pyspark.sql import functions as F

    cloudpickle.register_pickle_by_value(sys.modules[__name__])

    client = KinesisClient(endpoint_url)
    shard_ids = client.list_shard_ids(stream)
    n = len(shard_ids)
    shards_df = spark.range(0, n, 1, n).select(
        F.element_at(
            F.array(*[F.lit(s) for s in shard_ids]), F.col("id").cast("int") + 1
        ).alias("shard_id")
    )
    cp = ShardCheckpointer(checkpoint_dir) if checkpoint_dir else None

    def poll_partition(batches):
        import pandas as pd

        for pdf in batches:
            for shard_id in pdf["shard_id"]:
                after = cp.load(shard_id) if cp else None
                rows = [
                    _polled_row(decode_record(shard_id, r))
                    for recs in read_shard(
                        client, stream, shard_id, after, starting_position
                    )
                    for r in recs
                ]
                if rows:
                    yield pd.DataFrame(rows, columns=_POLLED_COLUMNS)

    return shards_df.mapInPandas(poll_partition, schema=POLLED_SCHEMA)


def commit_poll_checkpoints(rows, checkpoint_dir: str) -> dict[str, str]:
    """Advance per-shard checkpoints from a MATERIALIZED ``distributed_poll``
    result (driver-side, after the caller has persisted the records —
    checkpoint-after-delivery, the same ordering ``poll_shard`` documents).

    ``rows``: an iterable of row-likes carrying ``shard_id`` and
    ``sequence_number`` (``DataFrame.collect()`` output, dicts, or an
    iterable of pandas rows). Returns the {shard_id: sequence_number}
    map that was written.
    """
    latest: dict[str, str] = {}
    for r in rows:
        sid, seq = r["shard_id"], r["sequence_number"]
        if sid not in latest or int(seq) > int(latest[sid]):
            latest[sid] = seq
    cp = ShardCheckpointer(checkpoint_dir)
    for sid, seq in latest.items():
        cp.save(sid, seq)
    return latest

"""Kinesis enhanced fan-out (EFO) consumer: SubscribeToShard push delivery.

The public AWS API offers two read paths. The shared-throughput path is the
GetRecords POLL loop (``kinesis_consumer.poll_shard``). Enhanced fan-out
(docs.aws.amazon.com/kinesis/latest/dev/enhanced-consumers.html) instead
registers a named consumer against the stream (RegisterStreamConsumer,
asynchronous — the caller polls DescribeStreamConsumer until ACTIVE) and
then opens a PUSH subscription per shard (SubscribeToShard): the service
streams SubscribeToShardEvent frames — each carrying Records, a
ContinuationSequenceNumber and MillisBehindLatest — for up to five minutes,
after which the consumer re-subscribes from the continuation. Each
registered consumer gets its own 2 MB/s/shard pipe instead of sharing the
polling quota, and at most ONE subscription per (consumer, shard) may be
active at a time.

This module implements that consumer side over the loopback mock
(``kinesis_mock.py``), which pushes genuine
``application/vnd.amazon.eventstream`` frames (``eventstream.py``) over
HTTP/1.1 chunked transfer; registration lifecycle, event shapes,
continuation/resume rules, the single-active-subscription constraint and
the null-continuation shard-end signal all match the public API, and the
framing is the real wire bytes — botocore's ``subscribe_to_shard`` parses
the mock's stream unmodified. The only residue vs AWS is the carrying
protocol (HTTP/1.1 vs HTTP/2) and SigV4/TLS, as for the polling path.

Checkpoint semantics intentionally MATCH ``poll_shard``: the checkpoint is
saved only after the event's records are appended to the caller-visible
batch (checkpoint-after-delivery, at-least-once), resume is
AFTER_SEQUENCE_NUMBER from the stored checkpoint, and a caller-owned
``sink`` list keeps already-delivered records across a mid-drain
checkpoint failure — the same contract the KCL lease fencing relies on in
``kcl_leases.coordinated_poll``.

Scale shape: one subscription per (consumer, shard) means shard count =
delivery parallelism, same as ``distributed_poll``; the push transport
removes the poll RTT and the shared 5-reads/s/shard quota, which is the
entire point of EFO for multi-consumer 100 TB pipelines.
"""

from __future__ import annotations

import json
import time

from python_kinesis_streaming_spark.sources.eventstream import (
    EventStreamDecoder,
)
from python_kinesis_streaming_spark.sources.kinesis_consumer import (
    KinesisApiError,
    KinesisClient,
    ShardCheckpointer,
    decode_record,
)


def stream_arn(stream: str) -> str:
    """The mock service's ARN scheme for a stream (region/account fixed)."""
    return f"arn:aws:kinesis:mock:000000000000:stream/{stream}"


def register_consumer(
    client: KinesisClient,
    stream: str,
    consumer_name: str,
    poll_interval_s: float = 0.01,
    max_polls: int = 500,
) -> str:
    """RegisterStreamConsumer + poll DescribeStreamConsumer until ACTIVE.

    Registration is asynchronous in the real API (and in the mock): the
    register call answers CREATING and the consumer only becomes usable
    once a later describe reports ACTIVE. Returns the consumer ARN.
    """
    out = client.call(
        "RegisterStreamConsumer",
        {"StreamARN": stream_arn(stream), "ConsumerName": consumer_name},
    )
    arn = out["Consumer"]["ConsumerARN"]
    for _ in range(max_polls):
        desc = client.call("DescribeStreamConsumer", {"ConsumerARN": arn})
        if desc["ConsumerDescription"]["ConsumerStatus"] == "ACTIVE":
            return arn
        time.sleep(poll_interval_s)
    raise KinesisApiError(
        "TimeoutError", f"consumer {consumer_name} never became ACTIVE"
    )


def subscribe_to_shard(
    endpoint_url: str,
    consumer_arn: str,
    shard_id: str,
    starting_position: dict,
    timeout: float = 10.0,
):
    """Open one push subscription; yields SubscribeToShardEvent dicts.

    ``starting_position``: ``{"Type": "TRIM_HORIZON"|"LATEST"|
    "AT_SEQUENCE_NUMBER"|"AFTER_SEQUENCE_NUMBER", "SequenceNumber": ...}``.
    The generator ends when the service closes the subscription window
    (caught-up in the mock; the 5-minute boundary on real AWS) — callers
    re-subscribe from the last event's ContinuationSequenceNumber.
    """
    resp = KinesisClient(endpoint_url, timeout).open(
        "SubscribeToShard",
        {
            "ConsumerARN": consumer_arn,
            "ShardId": shard_id,
            "StartingPosition": starting_position,
        },
    )
    decoder = EventStreamDecoder()
    with resp:
        while True:
            chunk = resp.read(16384)
            if not chunk:
                break
            for headers, payload in decoder.feed(chunk):
                mtype = headers.get(":message-type")
                if mtype == "exception":
                    body = json.loads(payload or b"{}")
                    raise KinesisApiError(
                        headers.get(":exception-type", "UnknownError"),
                        body.get("message", ""),
                    )
                if headers.get(":event-type") == "SubscribeToShardEvent":
                    yield json.loads(payload)
    decoder.close()  # a mid-frame EOF is a broken stream, surface it


def efo_poll_shard(
    client: KinesisClient,
    consumer_arn: str,
    shard_id: str,
    checkpointer=None,
    starting_position: str = "TRIM_HORIZON",
    sink: list | None = None,
    max_subscriptions: int = 100,
) -> list[dict]:
    """Drain one shard via push subscriptions (at-least-once).

    Mirrors ``poll_shard``'s contract exactly — resume
    AFTER_SEQUENCE_NUMBER from the checkpoint, checkpoint saved only
    AFTER an event's records are appended to the caller's list, and a
    caller-owned ``sink`` keeps delivered records if the checkpointer
    raises mid-drain (fenced lease steal). Re-subscribes from the
    continuation when the service ends a subscription window; stops when
    caught up, or at the null continuation of a fully-drained closed
    shard.
    """
    seq = checkpointer.load(shard_id) if checkpointer else None
    if seq is not None:
        position = {"Type": "AFTER_SEQUENCE_NUMBER", "SequenceNumber": seq}
    else:
        position = {"Type": starting_position}

    out: list[dict] = [] if sink is None else sink
    for _ in range(max_subscriptions):
        continuation = None
        caught_up = False
        for event in subscribe_to_shard(
            client.endpoint_url, consumer_arn, shard_id, position
        ):
            recs = event["Records"]
            out.extend(decode_record(shard_id, r) for r in recs)
            if recs and checkpointer:
                checkpointer.save(shard_id, recs[-1]["SequenceNumber"])
            continuation = event["ContinuationSequenceNumber"]
            caught_up = event["MillisBehindLatest"] == 0
        if continuation is None or caught_up:
            return out  # shard end (closed + drained) or fully caught up
        position = {
            "Type": "AT_SEQUENCE_NUMBER",
            "SequenceNumber": continuation,
        }
    raise KinesisApiError(
        "TimeoutError", f"{shard_id}: still behind after max subscriptions"
    )


def efo_poll_stream(
    client: KinesisClient,
    stream: str,
    consumer_arn: str,
    checkpoint_dir: str | None = None,
    starting_position: str = "TRIM_HORIZON",
) -> list[dict]:
    """Drain every shard once through the fan-out consumer (driver-side),
    resuming each shard from its checkpoint; the push twin of
    ``poll_stream``."""
    cp = ShardCheckpointer(checkpoint_dir) if checkpoint_dir else None
    out: list[dict] = []
    for shard_id in client.list_shard_ids(stream):
        efo_poll_shard(
            client,
            consumer_arn,
            shard_id,
            checkpointer=cp,
            starting_position=starting_position,
            sink=out,
        )
    return out

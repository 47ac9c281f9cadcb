"""Multi-batch proofs for the stateful streaming families.

The graded ops drain the chunked replay in ONE micro-batch
(``replay_stream(..., files_per_trigger=None)``). Structured Streaming's
prefix consistency (SIGMOD 2018) says the result must not depend on how
the input is split into batches, so each test here runs the op's own
helper over the 4-batch replay (``files_per_trigger=1``) and asserts it
equals the one-batch op.

The applyInPandasWithState pair (stream_stateful_sessionizer,
stream_fsm_pattern_alert) also runs the 4-batch replay under the RocksDB
state-store provider: swapping the provider is a pure physical knob —
identical sink contents — and the progress metrics must show the RocksDB
provider actually engaged (its metric family present) with real state
traffic across micro-batches (the stream_minhash_dedup pattern of
tests/test_wave2.py).
"""

from __future__ import annotations

import pytest

from python_kinesis_streaming_spark.registry import all_queries
from python_kinesis_streaming_spark.streaming import ops as sops
from python_kinesis_streaming_spark.streaming.replay import replay_stream

Q = all_queries()

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)

#: op name -> its module-level helper (streaming DataFrame -> final result)
HELPERS = {
    "stream_stateful_sessionizer": sops.session_stats,
    "stream_fsm_pattern_alert": sops.fsm_incidents,
}


def _run_three(spark, sf_dir, name, row_key):
    """(op one-batch, helper 4-batch default provider, helper 4-batch
    RocksDB, RocksDB progress)."""
    helper = HELPERS[name]

    def rows(df):
        return sorted(row_key(r) for r in df.collect())

    one = rows(Q[name](spark, sf_dir))
    multi = rows(helper(replay_stream(spark, sf_dir)))
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    prog: list = []
    try:
        spark.conf.set(key, ROCKSDB)
        rocks = rows(helper(replay_stream(spark, sf_dir), progress=prog))
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    return one, multi, rocks, prog


def _assert_state_traffic(prog):
    batches = [p for p in prog if p.get("stateOperators")]
    assert len(batches) >= 2, "expected multiple stateful micro-batches"
    st = [p["stateOperators"][0] for p in batches]
    # per-key state persists across batches and every batch updates keys
    totals = [s["numRowsTotal"] for s in st]
    assert totals[-1] > 0, totals
    assert all(s["numRowsUpdated"] > 0 for s in st), st
    custom = batches[-1]["stateOperators"][0].get("customMetrics", {})
    # presence of the rocksdb metric family proves the provider engaged
    # rather than silently falling back to the in-memory default
    assert any("rocksdb" in k.lower() for k in custom), sorted(custom)


@pytest.mark.parametrize(
    "name,row_key",
    [
        (
            "stream_stateful_sessionizer",
            lambda r: (
                r["user_id"],
                r["n_sessions"],
                r["longest_session"],
                r["n_events"],
            ),
        ),
        (
            "stream_fsm_pattern_alert",
            lambda r: (r["user_id"], r["n_incidents"]),
        ),
    ],
)
def test_rocksdb_provider_parity(spark, sf_dir, name, row_key):
    one, multi, rocks, prog = _run_three(spark, sf_dir, name, row_key)
    assert one, f"{name}: empty result"
    assert multi == one, f"{name}: 4-batch replay differs from one batch"
    assert rocks == one, f"{name}: provider changed the results"
    _assert_state_traffic(prog)


def test_stream_session_multi_batch_matches_one_batch(spark, sf_dir):
    """session_window merge across micro-batches: a session that spans a
    chunk boundary must be merged in the state store, not split."""
    prog: list = []
    multi = sops.session_windows(
        replay_stream(spark, sf_dir, files_per_trigger=1), progress=prog
    )
    assert [p["numInputRows"] > 0 for p in prog] == [True] * 4, prog
    one = Q["stream_session"](spark, sf_dir)
    got, want = sorted(multi.collect()), sorted(one.collect())
    assert got, "stream_session: empty result"
    assert got == want, "stream_session: 4-batch replay differs from one batch"

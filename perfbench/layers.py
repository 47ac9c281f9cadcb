"""Names shared by the workloads, the runner and BENCHMARK.json.

Every traced run reports every per-layer metric below; a layer that a
workload does not exercise reads 0 there (for example ``sink.*`` on
``cold_ops``), which is a measured count, not a missing value.
"""

from __future__ import annotations

import os

#: The input tables: a copy of the engine's sf0.01 fixture tables (the
#: scale its oracle-parity tests and the grader's correctness pass use).
#: The seed never changes them; it only orders and salts Kinesis records.
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.01")

#: cold_ops: the driver-shaped list, run once each through
#: ``__spark_entry__.queries()`` in a bare session. ``stream_dedup`` and
#: ``join_stream_stream`` are left out to keep a run inside the time
#: budget; the other three replay ops keep 200-partition streaming state
#: (window, session and arbitrary state) in the pass.
COLD_OPS = [
    "agg_groupby_q1", "join_multiway", "topk_global", "win_rank_topn",
    "agg_count_distinct", "stream_tumbling", "stream_session",
    "stream_stateful_sessionizer", "sim_knn_cosine",
    "text_heaps_law_fit", "graph_degree_assortativity",
    "emb_triplet_margin_audit", "lakehouse_time_travel_diff",
    "feat_woe_iv_encoding", "ts_ljung_box_whiteness",
    "corpus_token_budget_plan", "media_aiff_au_mulaw_stats",
]

END_TO_END = {"latency_s": "s", "setup_s": "s"}


def _per_layer() -> dict[str, str]:
    m = {
        "session.build_s": "s",
        "registry.import_s": "s",
        "tables.load_s": "s",
        "tables.rows": "count",
        "sink.put_s": "s",
        "sink.api_calls": "count",
        "sink.wire_records": "count",
        "sink.retried_entries": "count",
        "sink.partitions": "count",
        "mock.calls.PutRecords": "count",
        "mock.calls.GetRecords": "count",
        "mock.calls.GetShardIterator": "count",
        "mock.busy_s": "s",
        "mock.getrecords_empty_ratio": "ratio",
        "consumer.poll_s": "s",
        "consumer.records": "count",
        "consumer.tasks": "count",
        "stream_source.batches": "count",
        "stream_source.batch_p50_s": "s",
        "stream_source.latest_offset_ms": "ms",
        "stream_source.get_batch_ms": "ms",
        "stream_source.add_batch_ms": "ms",
        "stream_source.query_planning_ms": "ms",
        "stream_source.wal_commit_ms": "ms",
        "kinesis.produce_rps": "1/s",
        "kinesis.poll_rps": "1/s",
        "kinesis.stream_rps": "1/s",
        "streaming.batches": "count",
        "streaming.trigger_ms": "ms",
        "streaming.state_rows_total": "count",
        "streaming.state_memory_bytes": "bytes",
    }
    for op in COLD_OPS:
        m[f"cold.{op}.construct_s"] = "s"
        m[f"cold.{op}.action_s"] = "s"
    m["cold.jobs"] = "count"
    m["cold.tasks"] = "count"
    m.update({
        "spark.task_run_s": "s",
        "spark.gc_s": "s",
        "spark.shuffle_read_bytes": "bytes",
        "spark.shuffle_write_bytes": "bytes",
        "spark.spill_bytes": "bytes",
        "spark.tasks": "count",
        "trace.latency_s": "s",
    })
    return m


PER_LAYER = _per_layer()

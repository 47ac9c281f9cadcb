"""Shared op classifications for the registry-wide sweep tests.

Two orthogonal sets:

- ``executing_on_build()``: ops whose BUILDER runs real work (streaming
  drains, sinks, snapshot commits, trainer loops, loopback servers, disk
  prep) — excluded from the shared lazy plan corpus (tests/conftest.py
  ``plan_corpus``); their plans are gated by their own suites.
- ``scratch_or_stateful()``: ops that touch ``.scratch`` state or manage
  external processes — these must NEVER run concurrently with each other
  (the r6 single-writer lesson), so the threaded oracle-parity sweep runs
  them sequentially.
"""

from __future__ import annotations

#: prefixes of ops whose builder executes work when the DataFrame is built
EXECUTES_PREFIXES = ("stream_", "source_stream", "join_stream", "sink_")

#: batch ops whose builder executes bounded work (disk prep, count
#: checks, label propagation) but whose RETURNED plan the global-window
#: sweep has always audited — kept inside the plan corpus (built once),
#: while test_plans' nested-loop net keeps skipping them as it always did.
EXECUTES_BUT_AUDITED = {
    "scan_partition_pruned", "scan_schema_evolution", "join_bucketed",
    "join_dpp_partition_pruned",
    "dedup_clusters",
    "edge_empty_inputs",  # runs its five count() checks on build
    "set_ops_all_variants",  # runs its four count() checks on build
}

#: non-prefixed ops whose builder executes heavyweight work (snapshot
#: commit logs) — excluded from the corpus entirely, gated by their suites
EXECUTES_EXTRA = {
    "lakehouse_incremental_dedup",  # writes snapshot versions on build
    "lakehouse_time_travel_diff",  # writes two snapshot versions on build
    "lakehouse_manifest_prune_audit",  # 8 range-append commits on build
    "lakehouse_snapshot_restore_audit",  # v0/v1/restore commits on build
}

#: promotion ops whose builder executes work (snapshot writes, trainer
#: loops, a loopback server, shard/file materialization) — their plan is
#: the final small aggregate, and their scale properties are pinned by
#: their library module's own plan tests. Every other promotion op is
#: lazy: its returned plan IS the op, and the corpus gates it.
EXECUTING_OPS = {
    "shards_tar_roundtrip",
    "zip_shards_roundtrip",
    "warc_response_parity",
    "avro_ocf_roundtrip",
    "lakehouse_delete_modes_parity",
    "lakehouse_merge_upsert_audit",
    "lakehouse_zorder_prune_audit",
    "lakehouse_vacuum_audit",
    "snapshot_cdc_diff",
    "kinesis_loopback_agg",
    "classifier_train_audit",
    "tokenizer_train_audit",
    "avro_schema_evolution_agg",
    "kcl_lease_coordination_agg",
    "tokenizer_eval_report_audit",
    "kinesis_stream_source_agg",
    "kinesis_efo_fanout_agg",
    "lakehouse_compact_audit",
    "lakehouse_schema_evolution_agg",
    "txn_exactly_once_agg",
}

#: the lazy promotion ops: Arrow-seam kernels whose returned plan IS the
#: op, so the corpus gates it (shuffle budget 4 wherever the op is defined;
#: census at r8: the codec/transport parity ops plan 0, the text/web ops
#: 0-4)
PROMOTED_LAZY_OPS = (
    "audio_resample_parity", "audio_standardize_roundtrip",
    "eventstream_framing_parity", "gopher_quality_parity",
    "html_extract_parity", "image_transform_pipeline_checksum",
    "kpl_roundtrip_parity", "media_aiff_au_mulaw_stats",
    "media_au_roundtrip_stats", "media_avi_demux_index",
    "media_bmp_decode_stats", "media_exif_orientation_parity",
    "media_flac_roundtrip_stats", "media_gif_roundtrip_stats",
    "media_image_resize_checksum", "media_jpeg_tolerance_audit",
    "media_mkv_demux_parity", "media_mp4_demux_parity",
    "media_png_roundtrip_stats", "media_tiff_decode_stats",
    "media_wav_roundtrip_stats", "mpegts_psi_parity",
    "pack_best_fit_audit", "pack_chunk_histogram", "pack_concat_audit",
    "robots_verdict_parity", "sim_ann_ivf", "span_dedup_parity",
    "subtitles_align_parity", "urls_normalize_parity",
    "video_frames_seam_stats",
)

#: the 51 ops of the r6-r8 promotion (PROMOTION.md), by name
PROMOTED_OPS = EXECUTING_OPS | set(PROMOTED_LAZY_OPS)


def executing_on_build() -> set[str]:
    """Every op name the plan corpus must NOT build."""
    from python_kinesis_streaming_spark.registry import all_queries

    names = set(all_queries())
    out = {n for n in names if n.startswith(EXECUTES_PREFIXES)}
    out |= EXECUTES_EXTRA & names
    out |= EXECUTING_OPS & names
    return out


def scratch_or_stateful() -> set[str]:
    """Ops that must not run concurrently with each other: anything that
    materializes ``.scratch`` layouts (replay chunks, checkpoints, sinks,
    bucketed/warehouse tables, snapshot logs) or drives external loopback
    servers. Conservatively includes every promotion op — several run
    trainer loops / kinesis mocks / shard writes, and their combined
    sequential cost is small."""
    from python_kinesis_streaming_spark.registry import all_queries

    names = set(all_queries())
    prefixes = (
        "stream_", "source_stream", "join_stream", "sink_", "scan_",
        "lakehouse_", "txn_", "kinesis_",
    )
    out = {n for n in names if n.startswith(prefixes)}
    out |= {"join_bucketed", "join_dpp_partition_pruned"} & names
    out |= PROMOTED_OPS & names
    return out

"""Public, composable library API.

The registry ops (SURVEY §2) are fixture-bound callables for the driver's
correctness gate; THIS module is what an application imports: the same
algorithms as general functions over arbitrary DataFrames. Where a registry
op generalizes to a library function, the op is a binding of this
function: the function lives in the op's module, the op loads the fixture
tables, calls it with its constants and applies its final projection, and
this module re-exports it, so the oracle gate pins the function directly.
The functions defined below are the ones whose op keeps its own plan or
output shape (named in each docstring); tests/test_api.py asserts each
against its op.

Everything returns lazy DataFrames built from built-in expressions; nothing
here collects, nothing is Python-per-row (the documented exceptions:
decode kernels in llm.multimodal).

Scale notes live with each underlying implementation; the API adds none of
its own shuffles.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from python_kinesis_streaming_spark.functions.rounding import cents
from python_kinesis_streaming_spark.functions.vectors import (
    centroid_ord,
    cosine,
    dot,
    l2norm,
    sq_l2,
)
from python_kinesis_streaming_spark.llm.bpe import (
    apply_bpe,
    train_bpe,
    word_frequencies,
)
from python_kinesis_streaming_spark.llm.html_extract import (
    extract_text_frame,
)
from python_kinesis_streaming_spark.llm.corpus import (
    decontaminate,
    shard_assign,
)
from python_kinesis_streaming_spark.llm.dedup import near_dup_candidates
from python_kinesis_streaming_spark.llm.audio_ops import (
    audio_standardize_frame,
    fit_length,
    mixdown_mono,
    resample_linear,
)
from python_kinesis_streaming_spark.llm.flac_codec import (
    decode_flac,
    encode_flac,
)
from python_kinesis_streaming_spark.llm.classifier import (
    binary_metrics,
    hashed_features,
    predict_scores,
    train_logreg,
)
from python_kinesis_streaming_spark.llm.image_ops import (
    center_crop,
    image_transform_frame,
    letterbox,
    resize_bilinear,
    resize_nearest,
)
from python_kinesis_streaming_spark.llm.media_codecs import media_features_frame
from python_kinesis_streaming_spark.llm.ops import (
    pack_sequences,
    train_test_split,
)
from python_kinesis_streaming_spark.llm.packing import (
    pack_concat,
    pack_best_fit,
    packing_report,
)
from python_kinesis_streaming_spark.llm.span_dedup import (
    cut_duplicated_spans,
    duplicated_spans,
    span_dedup_report,
)
from python_kinesis_streaming_spark.llm.subtitles import (
    align_frames_to_cues,
    parse_subtitles,
    subtitles_frame,
)
from python_kinesis_streaming_spark.llm.text import (
    chunk_documents,  # noqa: F401  (re-exported, not in __all__)
    quality_features,
    tokenize,
)
from python_kinesis_streaming_spark.llm.tokenizer_eval import (
    compare_tokenizers,
    tokenizer_report,
)
from python_kinesis_streaming_spark.llm.unigram import (
    train_unigram,
    viterbi_encode,
)
from python_kinesis_streaming_spark.llm.urls import (
    dedup_by_url,
    filter_blocked_domains,
    normalize_url,
    parse_robots_frame,
    registered_domain,
    robots_allowed,
)
from python_kinesis_streaming_spark.llm.mkv_codec import (
    build_mkv,
    decode_mkv_frames,
    parse_mkv,
)
from python_kinesis_streaming_spark.llm.mpegts_codec import (
    build_ts,
    decode_ts_frames,
    parse_ts,
)
from python_kinesis_streaming_spark.llm.video_codecs import (
    probe_video,
    video_frames_frame,
)
from python_kinesis_streaming_spark.llm.quality_rules import gopher_rules
from python_kinesis_streaming_spark.llm.similarity import (
    gram_matrix,  # noqa: F401  (re-exported, not in __all__)
    hamming_knn,
)
from python_kinesis_streaming_spark.llm.shards import (
    read_tar_shards,
    read_zip_shards,
    write_tar_shards,
    write_zip_shards,
)
from python_kinesis_streaming_spark.llm.warc import read_warc
from python_kinesis_streaming_spark.operators.graph import triangle_stats
from python_kinesis_streaming_spark.operators.timeseries import (
    ewma,  # noqa: F401  (re-exported, not in __all__)
    interpolate_hourly,
)
from python_kinesis_streaming_spark.sources.avro_codec import (
    read_avro,
    write_avro,
)
from python_kinesis_streaming_spark.sources.snapshots import (
    compact as compact_snapshot,
)
from python_kinesis_streaming_spark.sources.snapshots import (
    read_snapshot,
    write_snapshot,
)
from python_kinesis_streaming_spark.sources.lakehouse import (
    checkpoint as checkpoint_snapshot,
)
from python_kinesis_streaming_spark.sources.lakehouse import (
    cluster_zorder,
    compact_small_files,  # noqa: F401  (re-exported, not in __all__)
    delete_where,
    purge_deletes,
    read_table,
    vacuum,
)
from python_kinesis_streaming_spark.sources.table_schema import (
    add_column,
    conform,
    drop_column,
    set_schema,
    table_schema,
)
from python_kinesis_streaming_spark.sources.txn import (
    append_batch,
    commit_with_rebase,
    last_committed_batch,
    streaming_sink,
)

# Corpus/ingestion surface (round 6): already general functions over
# arbitrary DataFrames/paths, re-exported verbatim — their own test
# modules (test_warc/test_shards/test_avro_codec/test_snapshots/
# test_bpe/test_media_codecs) are the gate, there is no fixture-bound
# registry twin to mirror.
_CORPUS_SURFACE = [
    "read_warc",
    "write_tar_shards",
    "read_tar_shards",
    "write_zip_shards",
    "read_zip_shards",
    "read_avro",
    "write_avro",
    "write_snapshot",
    "read_snapshot",
    "compact_snapshot",
    "read_table",
    "delete_where",
    "merge_upsert",
    "purge_deletes",
    "cluster_zorder",
    "checkpoint_snapshot",
    "vacuum",
    "append_batch",
    "streaming_sink",
    "last_committed_batch",
    "commit_with_rebase",
    "set_schema",
    "table_schema",
    "add_column",
    "drop_column",
    "conform",
    "train_bpe",
    "apply_bpe",
    "word_frequencies",
    "media_features_frame",
    "extract_text_frame",
    "gopher_rules",
    # round 7: training-set assembly + model-based filtering surface
    "probe_video",
    "video_frames_frame",
    "pack_concat",
    "pack_best_fit",
    "packing_report",
    "hashed_features",
    "train_logreg",
    "predict_scores",
    "binary_metrics",
    "duplicated_spans",
    "cut_duplicated_spans",
    "span_dedup_report",
    "train_unigram",
    "viterbi_encode",
    "tokenizer_report",
    "compare_tokenizers",
    "normalize_url",
    "registered_domain",
    "dedup_by_url",
    "filter_blocked_domains",
    "parse_robots_frame",
    "robots_allowed",
    "encode_flac",
    "decode_flac",
    "parse_mkv",
    "build_mkv",
    "decode_mkv_frames",
    "parse_ts",
    "build_ts",
    "decode_ts_frames",
    "parse_subtitles",
    "subtitles_frame",
    "align_frames_to_cues",
    "resize_bilinear",
    "resize_nearest",
    "center_crop",
    "letterbox",
    "image_transform_frame",
    "mixdown_mono",
    "resample_linear",
    "fit_length",
    "audio_standardize_frame",
]

__all__ = _CORPUS_SURFACE + [
    "asof_join",
    "sessionize",
    "dedup_exact",
    "near_dup_candidates",
    "knn_cosine",
    "tokenize",
    "tfidf",
    "quality_features",
    "cosine",
    "dot",
    "l2norm",
    "train_test_split",
    "stratified_sample",
    "pack_sequences",
    "quantize_embeddings",
    "gap_fill",
    "time_weighted_avg",
    "velocity_features",
    "interpolate_hourly",
    "merge_intervals",
    "scd2",
    "nearest_event_join",
    "decontaminate",
    "weighted_sample",
    "hamming_knn",
    "power_iteration_step",
    "triangle_stats",
    "target_encode",
    "winsorize",
    "merge_upsert",
    "bloom_prefilter",
    "holt_smooth",
    "shard_assign",
]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    value_cols: Sequence[str] = (),
) -> DataFrame:
    """For each LEFT row, attach the latest RIGHT row of the same ``on`` key
    with ``right_time`` ≤ ``left_time`` (generalizes registry op
    ``join_asof``; semantics of DuckDB/pandas ASOF JOIN backward).

    Implementation: union both sides tagged by kind, one window pass with
    ``last(ignorenulls)`` over (key, time, kind) ordering — a single shuffle
    on the key, no range self-join blowup. Output: every left column plus
    ``asof_<right_time>`` and ``asof_<c>`` for each requested value column.
    """
    vcols = list(value_cols)
    r = right.select(
        F.col(on).alias("_k"),
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_kind"),
        F.col(right_time).alias("_rt"),
        *[F.col(c).alias(f"_rv_{c}") for c in vcols],
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"_lc_{c}") for c in left.columns],
    )
    l_ = left.select(
        F.col(on).alias("_k"),
        F.col(left_time).alias("_t"),
        F.lit(1).alias("_kind"),
        F.lit(None).cast(right.schema[right_time].dataType).alias("_rt"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_rv_{c}") for c in vcols],
        *[F.col(c).alias(f"_lc_{c}") for c in left.columns],
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_t", "_kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = r.unionByName(l_).select(
        "*",
        F.last("_rt", ignorenulls=True).over(w).alias(f"asof_{right_time}"),
        *[
            F.last(f"_rv_{c}", ignorenulls=True).over(w).alias(f"asof_{c}")
            for c in vcols
        ],
    )
    out = merged.where(F.col("_kind") == 1).select(
        *[F.col(f"_lc_{c}").alias(c) for c in left.columns],
        f"asof_{right_time}",
        *[f"asof_{c}" for c in vcols],
    )
    return out


def sessionize(
    df: DataFrame, key: str, ts: str, gap_seconds: int = 1800
) -> DataFrame:
    """Per-key event-time sessions with the given inactivity gap (the batch
    twin of registry op ``stream_session``; native ``session_window`` under
    the hood — one shuffle + interval merge)."""
    return (
        df.groupBy(
            F.session_window(F.col(ts), f"{gap_seconds} seconds").alias("_w"),
            F.col(key),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            key,
            F.col("_w.start").alias("session_start"),
            F.col("_w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_exact(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Exact dedup on the given columns' content hash, keeping one arbitrary
    deterministic representative (lowest of all remaining columns is not
    defined — callers needing a specific keep-rule should window instead).
    Generalizes registry op ``dedup_exact``."""
    h = F.sha2(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols]), 256)
    return df.withColumn("_h", h).dropDuplicates(["_h"]).drop("_h")


def knn_cosine(df: DataFrame, vec_col: str, query: Sequence[float], k: int = 10) -> DataFrame:
    """Exact top-k cosine neighbors of a literal query vector (registry op
    ``sim_knn_cosine``): literal-coefficient dot product, codegen'd scan →
    TakeOrderedAndProject, zero shuffles."""
    qv = [float(x) for x in query]
    qnorm = sum(x * x for x in qv) ** 0.5
    d: Column = F.lit(0.0)
    for i, wgt in enumerate(qv):
        d = d + F.col(vec_col)[i].cast("double") * F.lit(wgt)
    sim = d / (l2norm(F.col(vec_col)) * F.lit(qnorm))
    return df.withColumn("sim", sim).orderBy(F.desc("sim")).limit(k)


def tfidf(df: DataFrame, id_col: str, text_col: str, top_k: int = 3) -> DataFrame:
    """Top-k tf·ln(N/df) terms per document (registry op ``text_tfidf``)."""
    tok = tokenize(df, id_col, text_col)
    tf = tok.groupBy(id_col, "tok").agg(F.count("*").alias("tf"))
    dfreq = tok.groupBy("tok").agg(F.countDistinct(id_col).alias("df"))
    n = df.count()
    scored = tf.join(F.broadcast(dfreq), "tok").select(
        id_col,
        "tok",
        (F.col("tf") * F.log(F.lit(float(n)) / F.col("df"))).alias("tfidf"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("tok"))
    return scored.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= top_k
    ).drop("_rn")


def stratified_sample(
    df: DataFrame, stratum_col: str, rates: dict, key_col: str, seed: int = 7
) -> DataFrame:
    """Deterministic per-stratum sampling (registry op ``sample_stratified``):
    keep each row iff hash(key) mod 100 < rates[stratum]·100. ``rates`` maps
    stratum value → keep fraction in [0,1]; absent strata keep everything.
    The class-rebalancing primitive for training corpora — map-side filter,
    reproducible, no RNG."""
    from python_kinesis_streaming_spark.llm.dedup import md5_hash64

    bucket = md5_hash64(F.col(key_col).cast("string"), seed=seed) % 100
    rate100 = None
    for stratum, rate in rates.items():
        pct = F.lit(int(round(rate * 100)))
        rate100 = (
            F.when(F.col(stratum_col) == stratum, pct)
            if rate100 is None
            else rate100.when(F.col(stratum_col) == stratum, pct)
        )
    rate100 = F.lit(100) if rate100 is None else rate100.otherwise(F.lit(100))
    return df.where(bucket < rate100)


def quantize_embeddings(df: DataFrame, vec_col: str) -> DataFrame:
    """L2-normalize and int8-quantize a vector column (registry op
    ``emb_normalize_quantize``): adds ``norm`` (double) and ``qvec``
    (array<long> in [-127,127]). Map-only JVM HOFs — zero shuffles; the
    4× bandwidth cut of ANN index prep."""
    nrm = l2norm(F.col(vec_col))
    return df.withColumn("norm", nrm).withColumn(
        "qvec",
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") / F.col("norm") * 127.0 + F.lit(0.505)).cast("long"),
        ),
    )


def gap_fill(
    df: DataFrame,
    key: str,
    ts: str,
    value: str,
    unit: str = "day",
) -> DataFrame:
    """Regularize an irregular per-key series onto a calendar spine with
    forward fill (generalizes registry op ``ts_gap_fill``).

    Output: (key, ts bucket, filled_value, is_gap). The spine spans each
    key's observed [min, max] at ``unit`` granularity (a ``date_trunc``
    unit: 'day', 'hour', ...), generated executor-side via ``sequence`` —
    no driver loop, no calendar cross join; the fill is one
    ``last(ignorenulls)`` window pass."""
    bucketed = df.groupBy(
        F.col(key).alias("_k"), F.date_trunc(unit, F.col(ts)).alias("_b")
    ).agg(F.sum(F.col(value)).alias("_v"))
    spine = (
        bucketed.groupBy("_k")
        .agg(F.min("_b").alias("_b0"), F.max("_b").alias("_b1"))
        .select(
            "_k",
            F.explode(F.expr(f"sequence(_b0, _b1, interval 1 {unit})")).alias("_b"),
        )
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(bucketed, ["_k", "_b"], "left")
        .select(
            F.col("_k").alias(key),
            F.col("_b").alias(ts),
            F.last("_v", ignorenulls=True).over(w).alias("filled_value"),
            F.col("_v").isNull().alias("is_gap"),
        )
    )


def merge_intervals(
    df: DataFrame, key: str, start: str, end: str
) -> DataFrame:
    """Merge each key's overlapping [start, end) intervals (generalizes
    registry op ``interval_merge``): running max(end) over preceding rows
    flags chain breaks, a running sum numbers islands — O(n log n) per key,
    no pairwise overlap join. Output one row per merged interval:
    (key, island_start, island_end, n_source_rows)."""
    w_prev = (
        Window.partitionBy(key)
        .orderBy(start, end)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(key)
        .orderBy(start, end)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = df.select(
        key,
        start,
        end,
        F.when(
            F.max(end).over(w_prev).isNull() | (F.col(start) > F.max(end).over(w_prev)),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("_new"),
    )
    return (
        flagged.withColumn("_island", F.sum("_new").over(w_run))
        .groupBy(key, "_island")
        .agg(
            F.min(start).alias("island_start"),
            F.max(end).alias("island_end"),
            F.count(F.lit(1)).alias("n_source_rows"),
        )
        .drop("_island")
    )


def scd2(
    df: DataFrame, key: str, state: str, ts: str, order_col: str | None = None
) -> DataFrame:
    """Collapse a changelog into type-2 dimension history (generalizes
    registry op ``scd2_history``): one row per state CHANGE with
    [valid_from, valid_to) and is_current. Two window passes on one key
    shuffle; pass ``order_col`` for a total tie-break when timestamps can
    collide."""
    ordering = [F.col(ts)] + ([F.col(order_col)] if order_col else [])
    w = Window.partitionBy(key).orderBy(*ordering)
    changes = (
        df.select(key, state, ts, *( [order_col] if order_col else [] ))
        .withColumn("_prev", F.lag(state).over(w))
        .where(F.col("_prev").isNull() | (F.col(state) != F.col("_prev")))
    )
    wc = Window.partitionBy(key).orderBy(*ordering)
    return changes.select(
        key,
        F.col(state).alias("state"),
        F.col(ts).alias("valid_from"),
        F.lead(ts).over(wc).alias("valid_to"),
        F.lead(ts).over(wc).isNull().alias("is_current"),
    )


def nearest_event_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
) -> DataFrame:
    """For each LEFT row, the nearest RIGHT timestamp of the same key in
    EITHER direction, ties backward (generalizes registry op
    ``join_asof_nearest``). Two window scans on one key sort — backward
    last(ignorenulls) + forward first(ignorenulls) — never a pairwise
    distance join. Output: left columns + ``nearest_<right_time>``."""
    r = right.select(
        F.col(on).alias("_k"),
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_kind"),
        F.col(right_time).alias("_rt"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"_lc_{c}") for c in left.columns],
    )
    l_ = left.select(
        F.col(on).alias("_k"),
        F.col(left_time).alias("_t"),
        F.lit(1).alias("_kind"),
        F.lit(None).cast(right.schema[right_time].dataType).alias("_rt"),
        *[F.col(c).alias(f"_lc_{c}") for c in left.columns],
    )
    w_back = (
        Window.partitionBy("_k")
        .orderBy("_t", "_kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("_k")
        .orderBy("_t", "_kind")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    merged = r.unionByName(l_).select(
        "*",
        F.last("_rt", ignorenulls=True).over(w_back).alias("_back"),
        F.first("_rt", ignorenulls=True).over(w_fwd).alias("_fwd"),
    )
    back_d = F.unix_micros(F.col("_t")) - F.unix_micros(F.col("_back"))
    fwd_d = F.unix_micros(F.col("_fwd")) - F.unix_micros(F.col("_t"))
    nearest = (
        F.when(F.col("_back").isNull() & F.col("_fwd").isNull(), F.lit(None).cast(right.schema[right_time].dataType))
        .when(F.col("_fwd").isNull(), F.col("_back"))
        .when(F.col("_back").isNull(), F.col("_fwd"))
        .when(back_d <= fwd_d, F.col("_back"))
        .otherwise(F.col("_fwd"))
    )
    return merged.where(F.col("_kind") == 1).select(
        *[F.col(f"_lc_{c}").alias(c) for c in left.columns],
        nearest.alias(f"nearest_{right_time}"),
    )


def kmeans_step(df: DataFrame, vec_col: str, centroids: DataFrame) -> DataFrame:
    """One Lloyd assignment pass (registry op ``emb_kmeans_one_iter``
    generalized): ``centroids`` is a (cid, cv) frame, broadcast against
    ``df``; returns df plus a ``cid`` column (nearest centroid by L2²,
    6-dp-rounded distance, cid tie-break). Loop this + a groupBy mean for
    full k-means; per iteration cost is scan + broadcast + k·d exchange."""
    ordinal = centroid_ord(sq_l2(vec_col, "cv"), int(centroids.count()), "cid")
    cols = df.columns
    return (
        df.crossJoin(F.broadcast(centroids))
        .withColumn("_ord", ordinal)
        .groupBy(*cols)
        .agg(F.min_by("cid", "_ord").alias("cid"))
    )


def weighted_sample(df: DataFrame, id_col: str, rates: DataFrame, key_col: str) -> DataFrame:
    """Deterministic hash-Bernoulli down-sample (registry op
    ``corpus_sample_weighted`` generalized): ``rates`` is a (key_col,
    keep_ppm) frame, broadcast-joined on ``key_col``; a row survives iff
    md5(id) mod 1e6 < its key's keep_ppm. Re-runs, stage retries, and
    other engines select the SAME rows — the reproducibility property
    rand()-based sampling cannot give. Map-only after the broadcast."""
    from python_kinesis_streaming_spark.llm.dedup import md5_hash64

    u = md5_hash64(F.col(id_col).cast("string")) % F.lit(1000000)
    return df.join(F.broadcast(rates), key_col).where(u < F.col("keep_ppm")).drop(
        "keep_ppm"
    )


def power_iteration_step(df: DataFrame, vec_col: str, id_col: str, v: DataFrame) -> DataFrame:
    """One distributed power-iteration matvec (registry op
    ``emb_pca_power_iter`` generalized): given ``v`` as a (j, vj) frame,
    returns the un-normalized (j, vj) of G·v computed as Σ_i e_i(e_i·v) —
    the gram matrix never materializes; per pass the shuffle carries d
    rows per partition. ``id_col`` must uniquely identify rows (a
    nondeterministic generated id would break the self-join). Normalize
    driver-side (d values) and loop."""
    x = df.select(
        F.col(id_col).alias("_rid"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("j", "x"),
    )
    s = (
        x.join(F.broadcast(v.select("j", F.col("vj"))), "j")
        .groupBy("_rid")
        .agg(F.sum(F.col("x") * F.col("vj")).alias("s"))
    )
    return (
        x.join(s, "_rid")
        .groupBy("j")
        .agg(F.sum(F.col("x") * F.col("s")).alias("vj"))
    )


def target_encode(
    df: DataFrame, cat_col: str, value_col: str, out_col: str = "loo_enc"
) -> DataFrame:
    """Leave-one-out target encoding (registry op ``feat_target_encode``
    generalized): appends ``out_col`` = mean of ``value_col`` over the row's
    ``cat_col`` group EXCLUDING the row itself — the standard leakage guard.
    Values are quantized to integer cents before summation so the encoding
    is deterministic under any partial-agg order; the category stats are a
    tiny broadcast, the input never shuffles."""
    stats = (
        df.select(F.col(cat_col), cents(value_col).alias("_cents"))
        .groupBy(cat_col)
        .agg(F.sum("_cents").alias("_s"), F.count("*").alias("_n"))
    )
    return (
        df.withColumn("_cents", cents(value_col))
        .join(F.broadcast(stats), cat_col)
        .withColumn(
            out_col,
            (F.col("_s") - F.col("_cents")) / (100.0 * (F.col("_n") - 1)),
        )
        .drop("_cents", "_s", "_n")
    )


def winsorize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Per-group percentile clamp (registry op ``feat_winsorize``
    generalized): appends ``<value_col>_w`` clamped to the group's
    [p_lo, p_hi]. Exact percentiles here; swap ``percentile`` for
    ``percentile_approx`` at scale — the broadcast-back shape is
    unchanged."""
    cuts = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, {lo})").alias("_lo"),
        F.expr(f"percentile({value_col}, {hi})").alias("_hi"),
    )
    clamped = (
        F.when(F.col(value_col) < F.col("_lo"), F.col("_lo"))
        .when(F.col(value_col) > F.col("_hi"), F.col("_hi"))
        .otherwise(F.col(value_col))
    )
    return (
        df.join(F.broadcast(cuts), group_col)
        .withColumn(f"{value_col}_w", clamped)
        .drop("_lo", "_hi")
    )


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    key: str,
    update_col: str,
    delta_col: str,
    delete_cond: Column | None = None,
) -> DataFrame:
    """MERGE INTO without a table format (registry op ``merge_into_upsert``
    generalized): one full-outer join on ``key`` resolves update / insert /
    delete / keep in a single pass. ``update_col`` (target) is incremented
    by ``delta_col`` (source) on match; source-only keys insert with the
    delta as the initial value; matched rows satisfying ``delete_cond``
    drop. Returns (key, action, <update_col>)."""
    t = target.select(F.col(key).alias("_tk"), F.col(update_col).alias("_tv"))
    s_cols = [F.col(key).alias("_sk"), F.col(delta_col).alias("_sv")]
    src = source.select(*s_cols, *(
        [delete_cond.alias("_del")] if delete_cond is not None else [F.lit(False).alias("_del")]
    ))
    merged = t.join(src, t["_tk"] == src["_sk"], "full_outer").select(
        F.coalesce("_tk", "_sk").alias(key),
        F.when(F.col("_sk").isNull(), "keep")
        .when(F.col("_tk").isNull(), "insert")
        .when(F.col("_del"), "delete")
        .otherwise("update")
        .alias("action"),
        F.when(F.col("_sk").isNull(), F.col("_tv"))
        .when(F.col("_tk").isNull(), F.col("_sv"))
        .otherwise(F.col("_tv") + F.col("_sv"))
        .alias(update_col),
    )
    return merged.where(F.col("action") != "delete")


def bloom_prefilter(
    fact: DataFrame,
    fact_key: str,
    keys: DataFrame,
    key_col: str,
    m_bits: int = 4096,
) -> DataFrame:
    """Explicit bloom-filter semi-join reduction (registry op
    ``join_bloom_prefilter`` generalized): builds an ``m_bits``-bit /
    2-hash bloom of ``keys[key_col]`` as a 32-bit-word bit_or aggregate,
    broadcasts it, and returns the fact rows whose key passes both bit
    tests (supersets the true semi-join by the false-positive rate).
    Use ahead of an expensive shuffle join; all md5 integer arithmetic,
    so the selected candidate set is deterministic."""

    def with_bit(df: DataFrame, col: str) -> DataFrame:
        out = df.select("*", F.explode(F.array(F.lit(1), F.lit(2))).alias("_seed"))
        h = F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("_seed").cast("string"), F.col(col).cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        return out.withColumn("_bit", h % m_bits)

    bloom = (
        with_bit(keys.select(key_col), key_col)
        .groupBy((F.col("_bit") / 32).cast("long").alias("_word"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_bit % 32 AS INT))")
            ).alias("_bits")
        )
    )
    probes = with_bit(fact, fact_key).withColumn(
        "_word", (F.col("_bit") / 32).cast("long")
    ).withColumn(
        "_mask", F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_bit % 32 AS INT))")
    )
    hits = probes.join(F.broadcast(bloom), "_word", "left").withColumn(
        "_hit",
        F.when(
            F.col("_bits").isNotNull()
            & (F.col("_bits").bitwiseAND(F.col("_mask")) == F.col("_mask")),
            1,
        ).otherwise(0),
    )
    passed = (
        hits.groupBy(fact.columns)
        .agg(F.sum("_hit").alias("_nhit"))
        .where(F.col("_nhit") == 2)
        .drop("_nhit")
    )
    return passed


def holt_smooth(
    df: DataFrame,
    key: str,
    ts: str,
    value_col: str,
    alpha: float = 0.6,
    beta: float = 0.3,
) -> DataFrame:
    """Holt linear-trend smoothing per key (registry op ``ts_holt_linear``
    generalized): returns (key, n_events, level, trend) from one bounded
    in-row fold — no window sort, no Python. Order is (ts, value) within
    key; pass a unique tiebreak in ``ts`` ordering via a struct col if
    values can tie."""
    grouped = df.groupBy(key).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(ts).alias("t"), F.col(value_col).alias("v")))
        ).alias("_a")
    )
    hw = F.expr(
        f"aggregate(slice(_a, 2, size(_a) - 1), "
        f"named_struct('l', CAST(element_at(_a, 1).v AS DOUBLE), "
        f"             'b', CAST(0.0 AS DOUBLE)), "
        f"(acc, s) -> named_struct("
        f"  'l', {alpha}D * s.v + {1 - alpha}D * (acc.l + acc.b), "
        f"  'b', {beta}D * ({alpha}D * s.v + {1 - alpha}D * (acc.l + acc.b) - acc.l) "
        f"       + {1 - beta}D * acc.b))"
    )
    return grouped.select(
        key,
        F.size("_a").cast("long").alias("n_events"),
        hw.getField("l").alias("level"),
        hw.getField("b").alias("trend"),
    )


def time_weighted_avg(
    df: DataFrame, key: str, ts: str, value_col: str
) -> DataFrame:
    """Time-weighted average per key (registry op ``ts_time_weighted_avg``
    generalized): each observation is weighted by its holding duration
    until the next one. Returns (key, n_segments, twa_value, naive_avg);
    the twa-vs-naive gap measures sampling bias. One lead() per key, two
    mergeable sums."""
    seg = (
        df.select(
            key,
            F.col(value_col).alias("_v"),
            F.unix_micros(F.col(ts)).alias("_us"),
        )
        .withColumn("_next", F.lead("_us").over(
            Window.partitionBy(key).orderBy("_us")
        ))
        .where(F.col("_next").isNotNull())
        .withColumn("_dur", F.col("_next") - F.col("_us"))
    )
    return seg.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_segments"),
        (F.sum(F.col("_v") * F.col("_dur")) / F.sum("_dur")).alias(
            "twa_value"
        ),
        F.avg("_v").alias("naive_avg"),
    )


def velocity_features(
    df: DataFrame, key: str, ts: str, horizons_hours: Sequence[int] = (1, 6, 24)
) -> DataFrame:
    """Trailing event-count features per row at several horizons (registry
    op ``feat_velocity_multi_horizon`` generalized). All horizons share one
    window spec, so Spark computes them in a single Window operator over a
    single exchange — adding horizons is free."""
    out = df.withColumn("_us", F.unix_micros(F.col(ts)))
    for h in horizons_hours:
        w = (
            Window.partitionBy(key)
            .orderBy("_us")
            .rangeBetween(-h * 3_600_000_000, Window.currentRow)
        )
        out = out.withColumn(f"n_{h}h", F.count(F.lit(1)).over(w))
    return out.drop("_us")

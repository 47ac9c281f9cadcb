"""Promotion ops: the r6/r7 library surface (codecs, lakehouse, Kinesis,
tokenizer/classifier trainers, web/text parity) in the driver contract.

Each op registers with ``registry.op`` like every other operator module;
PROMOTION.md keeps the inventory and the oracle strategy of each one.

Oracle discipline (PROMOTION.md "Oracle strategies"):
- closed-form arithmetic: payloads are built from deterministic integer
  formulas over fixture ids; the REAL codec round-trips them; outputs
  are exact integers (sums/dims/counts) the oracle recomputes directly
  from the formula — the oracle never re-implements the codec.
- roundtrip identity: write fixture rows through the real sink, read
  back, aggregate; the oracle aggregates the fixture directly.
- invariant audit: iterative/hash-bucketed algorithms emit exact
  reproducible values plus invariant booleans; the oracle states the
  expected literals.

Every kernel is a nested function and every module a kernel touches is
``register_pickle_by_value``'d (bare-session invariant); every op that
writes ``.scratch/`` clears its own output first (idempotency
invariant).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_kinesis_streaming_spark.operators.scans import SCRATCH
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table, sf_tag


def _clear_scratch(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)


class _bounded_shuffle:
    """Temporarily pin spark.sql.shuffle.partitions for an op whose
    iterative trainer would otherwise run every tiny aggregation at the
    bare session's default 200 partitions (~3s of task overhead per
    stage). Only valid around ops that COLLECT inside the window — a
    lazily returned DataFrame would plan after the conf is restored."""

    KEY = "spark.sql.shuffle.partitions"

    def __init__(self, spark: SparkSession, n: int = 16):
        self.spark = spark
        self.n = n

    def __enter__(self):
        self.old = self.spark.conf.get(self.KEY, None)
        self.spark.conf.set(self.KEY, str(self.n))
        return self

    def __exit__(self, *exc):
        if self.old is None:
            self.spark.conf.unset(self.KEY)
        else:
            self.spark.conf.set(self.KEY, self.old)


# ---------------------------------------------------------------------------
# §P.1 media codecs — closed-form arithmetic oracles
# ---------------------------------------------------------------------------


@op(
    "media_png_roundtrip_stats",
    oracle="""
        WITH px AS (
            SELECT d.doc_id,
                   (d.doc_id * 31 + y.y * 7 + x.x * 13) % 251 AS v
            FROM documents d,
                 generate_series(0, 7) y(y),
                 generate_series(0, 11) x(x)
        )
        SELECT doc_id,
               8 AS height,
               12 AS width,
               CAST(sum(v) AS BIGINT) AS px_sum,
               CAST(min(v) AS INTEGER) AS px_min,
               CAST(max(v) AS INTEGER) AS px_max
        FROM px GROUP BY doc_id
    """,
    scale=(
        "Real PNG encode+decode per blob behind the Arrow seam — "
        "partition-local; the oracle recomputes the pixel "
        "stats from the generating formula, so a codec regression (not "
        "just a crash) breaks the hash. Since r15 the codec runs over the "
        "distinct doc_id-mod-251 class table and the verdicts "
        "broadcast-join back (guide 8): Python cost a bounded constant at "
        "any corpus size, corpus side pure JVM."
    ),
)
def media_png_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Formula image → encode_png → decode_png → exact pixel stats.

    8x12 grayscale, pixel(y, x) = (doc_id*31 + y*7 + x*13) mod 251.
    Sum/min/max are permutation-invariant, so the check is independent
    of row order / channel-layout conventions.
    """
    from pyspark import cloudpickle

    import python_kinesis_streaming_spark.llm.media_codecs as _media

    cloudpickle.register_pickle_by_value(_media)
    enc, dec = _media.encode_png, _media.decode_png

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    # Class-table reduction (r15, guide §8 — the r14 jpeg/mp4 pattern):
    # every pixel is (doc_id·31 + …) mod 251, so every audited column is a
    # pure function of g = doc_id mod 251. Run the codec over the DISTINCT
    # class table (≤ min(N, 251) rows — a constant at any corpus size) and
    # broadcast-join the verdicts back; the corpus side is pure JVM.
    # pmod, not %: Spark % is negative for negative doc_ids (ADVICE r14).
    def kernel(batches):
        import numpy as np
        import pandas as pd

        y = np.arange(8)[:, None]
        x = np.arange(12)[None, :]
        for pdf in batches:
            rows = []
            for g in pdf["g"]:
                g = int(g)
                img = ((g * 31 + y * 7 + x * 13) % 251).astype(np.uint8)
                arr = dec(enc(img))
                flat = arr.astype(np.int64).ravel()
                rows.append(
                    {
                        "g": g,
                        "height": int(arr.shape[0]),
                        "width": int(arr.shape[1]),
                        "px_sum": int(flat.sum()),
                        "px_min": int(flat.min()),
                        "px_max": int(flat.max()),
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    gcol = F.pmod(F.col("doc_id"), F.lit(251)).alias("g")
    audited = docs.select(gcol).distinct().mapInPandas(
        kernel,
        schema=(
            "g long, height int, width int, px_sum long, "
            "px_min int, px_max int"
        ),
    )
    return (
        docs.select("doc_id", gcol)
        .join(F.broadcast(audited), "g")
        .select("doc_id", "height", "width", "px_sum", "px_min", "px_max")
    )


@op(
    "media_image_resize_checksum",
    oracle="""
        SELECT d.doc_id,
               4 AS height,
               6 AS width,
               CAST(sum((d.doc_id * 31 + y.y * 7 + x.x * 13) % 251)
                    AS BIGINT) AS checksum
        FROM documents d,
             (SELECT unnest([1, 3, 5, 7]) AS y) y,
             (SELECT unnest([1, 3, 5, 7, 9, 11]) AS x) x
        GROUP BY d.doc_id
    """,
    scale=(
        "Nearest-neighbor resize through the single unified kernel "
        "(media_codecs.resize_nearest, centers=True): the oracle hard-"
        "codes the half-pixel-center index map for 8x12→4x6, so a "
        "convention drift in the kernel breaks the hash. Since r15: "
        "distinct mod-251 class table + broadcast join back — bounded "
        "Python at any scale."
    ),
)
def media_image_resize_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Formula image → resize_nearest(centers) 8x12→4x6 → pixel checksum."""
    from pyspark import cloudpickle

    import python_kinesis_streaming_spark.llm.media_codecs as _media

    cloudpickle.register_pickle_by_value(_media)
    nn = _media.resize_nearest

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    # Class-table reduction (r15): pixels are mod-251 in doc_id → audited
    # columns are pure functions of g = doc_id mod 251 (see PNG op above).
    def kernel(batches):
        import numpy as np
        import pandas as pd

        y = np.arange(8)[:, None]
        x = np.arange(12)[None, :]
        for pdf in batches:
            rows = []
            for g in pdf["g"]:
                g = int(g)
                img = ((g * 31 + y * 7 + x * 13) % 251).astype(np.uint8)
                out = nn(img, 4, 6, centers=True)
                rows.append(
                    {
                        "g": g,
                        "height": int(out.shape[0]),
                        "width": int(out.shape[1]),
                        "checksum": int(out.astype(np.int64).sum()),
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    gcol = F.pmod(F.col("doc_id"), F.lit(251)).alias("g")
    audited = docs.select(gcol).distinct().mapInPandas(
        kernel, schema="g long, height int, width int, checksum long"
    )
    return (
        docs.select("doc_id", gcol)
        .join(F.broadcast(audited), "g")
        .select("doc_id", "height", "width", "checksum")
    )


@op(
    "media_wav_roundtrip_stats",
    oracle="""
        WITH s AS (
            SELECT d.doc_id,
                   ((d.doc_id * 13 + i.i * 7) % 2048) - 1024 AS v
            FROM documents d, generate_series(0, 255) i(i)
        )
        SELECT doc_id,
               256 AS n_samples,
               8000 AS sample_rate,
               1 AS channels,
               CAST(sum(v) AS BIGINT) AS s_sum,
               CAST(sum(v * v) AS BIGINT) AS s_sumsq
        FROM s GROUP BY doc_id
    """,
    scale=(
        "PCM16 WAV write (audio_ops) + independent chunk-walk read "
        "(media_codecs): sample-exact roundtrip proven by integer "
        "sum/sum-of-squares against the generating formula. Since r15: "
        "distinct mod-2048 class table + broadcast join back — bounded "
        "Python at any scale."
    ),
)
def media_wav_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Formula PCM16 → encode_wav_pcm16 → decode_wav → exact sums."""
    from pyspark import cloudpickle

    import python_kinesis_streaming_spark.llm.audio_ops as _audio
    import python_kinesis_streaming_spark.llm.media_codecs as _media

    cloudpickle.register_pickle_by_value(_audio)
    cloudpickle.register_pickle_by_value(_media)
    enc, dec = _audio.encode_wav_pcm16, _media.decode_wav

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    # Class-table reduction (r15): samples are mod-2048 in doc_id → every
    # audited column is a pure function of g = doc_id mod 2048; the
    # distinct class table is ≤ min(N, 2048) rows at any corpus size.
    def kernel(batches):
        import numpy as np
        import pandas as pd

        i = np.arange(256)
        for pdf in batches:
            rows = []
            for g in pdf["g"]:
                g = int(g)
                mono = (((g * 13 + i * 7) % 2048) - 1024).astype(
                    np.int16
                )
                samples, rate = dec(enc(mono, 8000))
                s = samples.astype(np.int64)
                rows.append(
                    {
                        "g": g,
                        "n_samples": int(s.shape[0]),
                        "sample_rate": int(rate),
                        "channels": int(s.shape[1]),
                        "s_sum": int(s.sum()),
                        "s_sumsq": int((s * s).sum()),
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    gcol = F.pmod(F.col("doc_id"), F.lit(2048)).alias("g")
    audited = docs.select(gcol).distinct().mapInPandas(
        kernel,
        schema=(
            "g long, n_samples int, sample_rate int, channels int, "
            "s_sum long, s_sumsq long"
        ),
    )
    return (
        docs.select("doc_id", gcol)
        .join(F.broadcast(audited), "g")
        .select(
            "doc_id", "n_samples", "sample_rate", "channels",
            "s_sum", "s_sumsq",
        )
    )


@op(
    "media_flac_roundtrip_stats",
    oracle="""
        WITH s AS (
            SELECT d.doc_id,
                   ((d.doc_id * 29 + i.i * 13) % 4096) - 2048 AS v
            FROM documents d, generate_series(0, 511) i(i)
        )
        SELECT doc_id,
               512 AS n_samples,
               8000 AS sample_rate,
               TRUE AS md5_ok,
               CAST(sum(v) AS BIGINT) AS s_sum,
               CAST(sum(v * v) AS BIGINT) AS s_sumsq
        FROM s GROUP BY doc_id
    """,
    scale=(
        "Full FLAC encode (Levinson-Durbin LPC) + decode with the "
        "STREAMINFO-MD5 gate per blob. Lossless is proven two ways: the "
        "in-stream MD5 check and the formula sums. Pure-Python codec "
        "(~0.55 MB/s) — fixture payloads are 1 KB each so the op stays "
        "sub-second; at scale the same seam carries a native codec."
    ),
)
def media_flac_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Formula PCM → encode_flac → decode_flac(verify_md5) → exact sums."""
    from pyspark import cloudpickle

    import python_kinesis_streaming_spark.llm.flac_codec as _flac

    cloudpickle.register_pickle_by_value(_flac)
    enc, dec = _flac.encode_flac, _flac.decode_flac

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    # Class-table reduction (r15): samples are mod-4096 in doc_id → audited
    # columns are pure functions of g = doc_id mod 4096. The pure-Python
    # FLAC encode (Levinson-Durbin LPC) is the most expensive per-row codec
    # in the repo — bounding it at min(N, 4096) invocations matters most
    # here (never MORE work than per-row at any SF, a 4096-row constant at
    # corpus scale).
    def kernel(batches):
        import numpy as np
        import pandas as pd

        i = np.arange(512)
        for pdf in batches:
            rows = []
            for g in pdf["g"]:
                g = int(g)
                mono = (((g * 29 + i * 13) % 4096) - 2048).astype(
                    np.int32
                )[:, None]
                d = dec(enc(mono, 8000), verify_md5=True)
                s = d["samples"].astype(np.int64)
                rows.append(
                    {
                        "g": g,
                        "n_samples": int(s.shape[0]),
                        "sample_rate": int(d["sample_rate"]),
                        "md5_ok": bool(d["md5_ok"]),
                        "s_sum": int(s.sum()),
                        "s_sumsq": int((s * s).sum()),
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    gcol = F.pmod(F.col("doc_id"), F.lit(4096)).alias("g")
    audited = docs.select(gcol).distinct().mapInPandas(
        kernel,
        schema=(
            "g long, n_samples int, sample_rate int, md5_ok boolean, "
            "s_sum long, s_sumsq long"
        ),
    )
    return (
        docs.select("doc_id", gcol)
        .join(F.broadcast(audited), "g")
        .select(
            "doc_id", "n_samples", "sample_rate", "md5_ok",
            "s_sum", "s_sumsq",
        )
    )


@op(
    "media_avi_demux_index",
    oracle="""
        WITH p AS (
            SELECT d.doc_id,
                   (d.doc_id * 7 + y.y * 11 + x.x * 5 + c.c * 3) % 256 AS v
            FROM documents d,
                 generate_series(0, 3) y(y),
                 generate_series(0, 7) x(x),
                 generate_series(0, 2) c(c)
        )
        SELECT doc_id,
               CAST(2 + doc_id % 3 AS INTEGER) AS n_frames,
               8 AS width,
               4 AS height,
               CAST((2 + doc_id % 3) * 96 AS BIGINT) AS sum_frame_bytes,
               CAST(sum(v) AS BIGINT) AS frame0_px_sum
        FROM p GROUP BY doc_id
    """,
    scale=(
        "AVI mux (DIB) → probe_video frame INDEX (no decode) → decode of "
        "frame 0 only — the sampled-decode discipline: frame byte ranges "
        "come from the index (oracle pins the DIB stride arithmetic), and "
        "only the sampled frame's bytes are touched. Since r15: distinct "
        "mod-768 class table + broadcast join back — bounded Python at "
        "any scale."
    ),
)
def media_avi_demux_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Formula frames → build_avi(DIB) → probe_video → frame-0 stats.

    n_frames = 2 + doc_id mod 3; 4x8 RGB frames with
    pixel(f, y, x, c) = (doc_id*7 + f*31 + y*11 + x*5 + c*3) mod 256.
    """
    from pyspark import cloudpickle

    import python_kinesis_streaming_spark.llm.jpeg_codec as _jpeg
    import python_kinesis_streaming_spark.llm.mkv_codec as _mkv
    import python_kinesis_streaming_spark.llm.video_codecs as _video

    cloudpickle.register_pickle_by_value(_jpeg)
    cloudpickle.register_pickle_by_value(_mkv)
    cloudpickle.register_pickle_by_value(_video)
    build, probe = _video.build_avi, _video.probe_video
    dec_payload = _video._decode_video_payload

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    # Class-table reduction (r15): pixels are mod-256 and the frame count
    # mod-3 in doc_id → audited columns are pure functions of
    # g = doc_id mod 768 (lcm(256, 3); 256 | 768 and 3 | 768).
    def kernel(batches):
        import numpy as np
        import pandas as pd

        y = np.arange(4)[:, None, None]
        x = np.arange(8)[None, :, None]
        c = np.arange(3)[None, None, :]
        for pdf in batches:
            rows = []
            for g in pdf["g"]:
                g = int(g)
                n = 2 + g % 3
                frames = [
                    (
                        (g * 7 + f * 31 + y * 11 + x * 5 + c * 3) % 256
                    ).astype(np.uint8)
                    for f in range(n)
                ]
                blob = build(frames, codec="DIB ")
                info = probe("avi", blob)
                fr0 = info["frames"][0]
                arr = dec_payload(
                    info["codec"],
                    blob[fr0["offset"] : fr0["offset"] + fr0["size"]],
                    info["width"],
                    info["height"],
                )
                rows.append(
                    {
                        "g": g,
                        "n_frames": int(info["n_frames"]),
                        "width": int(info["width"]),
                        "height": int(info["height"]),
                        "sum_frame_bytes": int(
                            sum(fr["size"] for fr in info["frames"])
                        ),
                        "frame0_px_sum": int(arr.astype(np.int64).sum()),
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    gcol = F.pmod(F.col("doc_id"), F.lit(768)).alias("g")
    audited = docs.select(gcol).distinct().mapInPandas(
        kernel,
        schema=(
            "g long, n_frames int, width int, height int, "
            "sum_frame_bytes long, frame0_px_sum long"
        ),
    )
    return (
        docs.select("doc_id", gcol)
        .join(F.broadcast(audited), "g")
        .select(
            "doc_id", "n_frames", "width", "height",
            "sum_frame_bytes", "frame0_px_sum",
        )
    )


# ---------------------------------------------------------------------------
# §P.2 corpus packaging — roundtrip identity / closed-form oracles
# ---------------------------------------------------------------------------


@op(
    "shards_tar_roundtrip",
    oracle="""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes
        FROM documents
    """,
    scale=(
        "WebDataset-style tar shards: write is one task per shard "
        "(crc32 key bucketing caps skew), read is one task per shard "
        "file — no shuffle either way. The oracle proves every document "
        "byte survived the tar roundtrip; shard assignment itself is "
        "deliberately absent from the output (crc32 is not SQL-"
        "replicable) and is covered by the module's manifest tests."
    ),
)
def shards_tar_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → write_tar_shards → read_tar_shards → per-doc bytes."""
    from python_kinesis_streaming_spark.llm.shards import (
        read_tar_shards,
        write_tar_shards,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out_dir = os.path.join(SCRATCH, f"promo_shards_{sf_tag(sf_dir)}")
    os.makedirs(out_dir, exist_ok=True)
    manifest = write_tar_shards(
        docs, out_dir, key_col="doc_id", members={"txt": "text"}, n_shards=8
    )
    manifest.collect()  # bounded: one row per shard; forces the write
    samples = read_tar_shards(spark, os.path.join(out_dir, "shard-*.tar"))
    return samples.select(
        F.col("key").cast("long").alias("doc_id"),
        F.octet_length(F.element_at("parts", "txt"))
        .cast("long")
        .alias("payload_bytes"),
    )


@op(
    "warc_response_parity",
    oracle="""
        SELECT doc_id,
               'http://ex.com/doc/' || doc_id AS target_uri,
               200 AS http_status,
               CAST(45 + octet_length(encode(text)) AS BIGINT)
                   AS payload_bytes,
               CAST(octet_length(encode(text)) AS BIGINT) AS body_bytes
        FROM documents
    """,
    scale=(
        "Common-Crawl-shaped WARC: per-record-gzip members written one "
        "file per partition, read back one task per file with the HTTP "
        "header/body split. The oracle pins the fixed 45-byte response "
        "header arithmetic, so a framing bug (not just a crash) breaks "
        "the hash. No shuffle in either direction."
    ),
)
def warc_response_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → build_warc (per partition) → read_warc → parity rows."""
    from pyspark import cloudpickle

    import python_kinesis_streaming_spark.llm.warc as _warc

    cloudpickle.register_pickle_by_value(_warc)
    build = _warc.build_warc
    read_warc = _warc.read_warc

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out_dir = os.path.join(SCRATCH, f"promo_warc_{sf_tag(sf_dir)}")
    _clear_scratch(out_dir)
    out_dir_b = out_dir

    def write_part(batches):
        import os as _os
        import uuid as _uuid

        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            records = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                body = str(text).encode("utf-8")
                payload = (
                    b"HTTP/1.1 200 OK\r\n"
                    b"Content-Type: text/plain\r\n\r\n" + body
                )
                records.append(
                    {
                        "type": "response",
                        "uri": f"http://ex.com/doc/{int(doc_id)}",
                        "date": "2024-01-01T00:00:00Z",
                        "record_id": f"<urn:doc:{int(doc_id)}>",
                        "content_type": "application/http; msgtype=response",
                        "payload": payload,
                    }
                )
            blob = build(records, gzip_per_record=True)
            path = _os.path.join(
                out_dir_b, f"part-{_uuid.uuid4().hex}.warc.gz"
            )
            with open(path, "wb") as f:
                f.write(blob)
            yield pd.DataFrame([{"path": path, "n": len(records)}])

    docs.mapInPandas(write_part, schema="path string, n long").collect()
    recs = read_warc(spark, os.path.join(out_dir, "part-*.warc.gz"))
    return recs.where(F.col("warc_type") == "response").select(
        F.regexp_extract("target_uri", r"doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        "target_uri",
        F.col("http_status").cast("int").alias("http_status"),
        F.octet_length("payload").cast("long").alias("payload_bytes"),
        F.octet_length("http_body").cast("long").alias("body_bytes"),
    )


@op(
    "avro_ocf_roundtrip",
    oracle="""
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        GROUP BY lang
    """,
    scale=(
        "Avro OCF interchange leg (hand-derived spec bytes, deflate "
        "codec): one container per partition out, one task per file "
        "back. Roundtrip-identity oracle — the aggregate can only match "
        "if every row survived the binary encode/decode. The only "
        "shuffle is the final small groupBy."
    ),
)
def avro_ocf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → write_avro → read_avro → per-lang aggregate."""
    from python_kinesis_streaming_spark.sources.avro_codec import (
        read_avro,
        write_avro,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    out_dir = os.path.join(SCRATCH, f"promo_avro_{sf_tag(sf_dir)}")
    os.makedirs(out_dir, exist_ok=True)
    write_avro(docs, out_dir).collect()  # manifest: one row per partition
    back = read_avro(spark, os.path.join(out_dir, "part-*.avro"))
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


# ---------------------------------------------------------------------------
# §P.3 lakehouse mutations — roundtrip identity oracles
# ---------------------------------------------------------------------------


@op(
    "lakehouse_delete_modes_parity",
    oracle="""
        SELECT 'dv' AS mode,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents WHERE NOT (n_chars % 7 < 2)
        UNION ALL
        SELECT 'rewrite' AS mode,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents WHERE NOT (n_chars % 7 < 2)
    """,
    scale=(
        "DELETE both ways against the same predicate: merge-on-read "
        "deletion vectors (sidecars built executor-side, driver traffic "
        "bounded by file count) vs copy-on-write rewrite of only the "
        "matched files. The oracle pins both modes to the logical "
        "`WHERE NOT pred` answer — mutation I/O proportional to the "
        "delete, never the table."
    ),
)
def lakehouse_delete_modes_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seed snapshot → delete_where in dv AND rewrite mode → identical
    survivors (read through the DV-aware reader)."""
    from python_kinesis_streaming_spark.sources.lakehouse import (
        delete_where,
        read_table,
    )
    from python_kinesis_streaming_spark.sources.snapshots import (
        write_snapshot,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    outs = []
    for mode in ("dv", "rewrite"):
        tdir = os.path.join(
            SCRATCH, f"promo_lakehouse_{mode}_{sf_tag(sf_dir)}"
        )
        _clear_scratch(tdir)
        write_snapshot(docs.repartition(4, "doc_id"), tdir, message="seed")
        delete_where(spark, tdir, "n_chars % 7 < 2", mode=mode)
        outs.append(
            read_table(spark, tdir).agg(
                F.lit(mode).alias("mode"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("n_chars").cast("long").alias("sum_chars"),
            )
        )
    return outs[0].unionByName(outs[1])


@op(
    "lakehouse_merge_upsert_audit",
    oracle="""
        WITH merged AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 10 = 3
                        THEN o_totalprice + 1000.0
                        ELSE o_totalprice END AS p
            FROM orders
            UNION ALL
            SELECT o_orderkey + 1000000000, o_totalprice
            FROM orders WHERE o_orderkey % 10 = 7
        )
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(*) FILTER (o_orderkey >= 1000000000) AS BIGINT)
                   AS n_inserted,
               floor(sum(p) * 100.0 + 0.505) / 100.0 AS sum_price
        FROM merged
    """,
    scale=(
        "Copy-on-write MERGE: manifest min/max prune then an exact "
        "file-path semi-join pick only files CONTAINING a matched key, "
        "so upserting into a 10B-row table rewrites a handful of files. "
        "The oracle is the logical upsert (replace matched ∪ insert "
        "unmatched) — file targeting is covered by the module tests."
    ),
)
def lakehouse_merge_upsert_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seed orders snapshot → merge updates (+1000 on key%10==3) and
    inserts (key+1e9 clones of key%10==7) → logical-result aggregate."""
    from python_kinesis_streaming_spark.functions.rounding import rnd
    from python_kinesis_streaming_spark.sources.lakehouse import (
        merge_upsert,
        read_table,
    )
    from python_kinesis_streaming_spark.sources.snapshots import (
        write_snapshot,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    tdir = os.path.join(SCRATCH, f"promo_merge_{sf_tag(sf_dir)}")
    _clear_scratch(tdir)
    write_snapshot(orders.repartition(4, "o_orderkey"), tdir, message="seed")
    updates = orders.where(F.col("o_orderkey") % 10 == 3).select(
        "o_orderkey", (F.col("o_totalprice") + 1000.0).alias("o_totalprice")
    )
    inserts = orders.where(F.col("o_orderkey") % 10 == 7).select(
        (F.col("o_orderkey") + 1_000_000_000).alias("o_orderkey"),
        "o_totalprice",
    )
    merge_upsert(
        spark, tdir, updates.unionByName(inserts), key_cols=["o_orderkey"]
    )
    final = read_table(spark, tdir)
    return final.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("o_orderkey") >= 1_000_000_000, 1)).alias(
            "n_inserted"
        ),
        rnd(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# §P.4 packing / span dedup / training — closed-form + invariant audits
# ---------------------------------------------------------------------------


@op(
    "pack_chunk_histogram",
    oracle="""
        WITH t AS (
            SELECT len(list_filter(string_split(text, ' '),
                                   w -> length(w) > 0)) AS nt
            FROM documents
        ), chunks AS (
            SELECT nt // 32 + CASE WHEN nt % 32 = 0 THEN 0 ELSE 1 END
                       AS n_chunks,
                   CASE WHEN nt % 32 = 0 THEN 32 ELSE nt % 32 END
                       AS last_len
            FROM t WHERE nt > 0
        )
        SELECT chunk_len, CAST(sum(cnt) AS BIGINT) AS n_chunks
        FROM (
            SELECT 32 AS chunk_len, n_chunks - 1 AS cnt FROM chunks
            UNION ALL
            SELECT last_len AS chunk_len, 1 AS cnt FROM chunks
        ) u
        GROUP BY chunk_len
        HAVING sum(cnt) > 0
    """,
    scale=(
        "The packing pre-split (docs longer than seq_len explode into "
        "seq_len-sized chunks, in-row via sequence+explode) summarized "
        "as a histogram — pure ceil/mod arithmetic the oracle "
        "recomputes without any expansion. One small shuffle for the "
        "histogram groupBy."
    ),
)
def pack_chunk_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """with_token_lengths → _split_long_docs(32) → chunk-length histogram."""
    from python_kinesis_streaming_spark.llm.packing import (
        _split_long_docs,
        with_token_lengths,
    )

    docs = load_table(spark, sf_dir, "documents")
    lengths = with_token_lengths(docs, "doc_id", "text")
    chunks = _split_long_docs(lengths, 32)
    return chunks.groupBy(
        F.col("n_tokens").cast("int").alias("chunk_len")
    ).agg(F.count(F.lit(1)).alias("n_chunks"))


@op(
    "pack_concat_audit",
    oracle="""
        SELECT CAST(sum(len(list_filter(string_split(text, ' '),
                                        w -> length(w) > 0)))
                    AS BIGINT) AS total_tokens,
               TRUE AS seqs_within_cap,
               TRUE AS offsets_valid,
               TRUE AS chunks_conserved
        FROM documents
    """,
    scale=(
        "pack_concat is JVM-only (one window shuffle per 4096-way hash "
        "bucket; plan-pinned ≤2 shuffles in tests). Sequence ids depend "
        "on xxhash64 bucketing, so the oracle checks INVARIANTS instead "
        "of ids: exact token conservation (every input token lands in "
        "exactly one output row) plus capacity/offset bounds — the "
        "properties that make packed batches trainable."
    ),
)
def pack_concat_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pack_concat(seq_len=32) invariants as an auditable single row."""
    from python_kinesis_streaming_spark.llm.packing import (
        _split_long_docs,
        pack_concat,
        with_token_lengths,
    )

    docs = load_table(spark, sf_dir, "documents")
    lengths = with_token_lengths(docs, "doc_id", "text")
    # Three invariant aggregates consume packed — cache so the concat
    # layout derives once (same diamond fix as pack_best_fit_audit).
    # No unpersist: feeds the RETURNED lazy plan; MEMORY_AND_DISK + LRU
    # bounds a long session (VERDICT r14 item 7).
    packed = pack_concat(lengths, 32).cache()

    per_seq = packed.groupBy("seq_id").agg(
        F.sum("tokens_in_seq").alias("fill")
    )
    seq_ok = per_seq.agg(
        (F.max("fill") <= 32).alias("seqs_within_cap")
    )
    off_ok = packed.agg(
        ((F.min("offset") >= 0) & (F.max("offset") < 32)).alias(
            "offsets_valid"
        ),
        F.sum("tokens_in_seq").cast("long").alias("total_tokens"),
    )
    chunks = _split_long_docs(lengths, 32)
    conserved = (
        packed.groupBy("doc_id", "chunk_idx")
        .agg(F.sum("tokens_in_seq").alias("got"))
        .join(chunks, ["doc_id", "chunk_idx"])
        .agg(
            F.min(F.col("got") == F.col("n_tokens")).alias(
                "chunks_conserved"
            )
        )
    )
    return (
        off_ok.crossJoin(seq_ok).crossJoin(conserved).select(
            "total_tokens",
            "seqs_within_cap",
            "offsets_valid",
            "chunks_conserved",
        )
    )


@op(
    "span_dedup_parity",
    oracle="""
        WITH corpus AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 5 = 0 THEN text || ' ' || text
                        ELSE text END AS t
            FROM documents
        ), toks AS (
            SELECT doc_id,
                   list_filter(string_split(t, ' '),
                               w -> length(w) > 0) AS ws
            FROM corpus
        ), g AS (
            SELECT d.doc_id, i.i - 1 AS pos,
                   array_to_string(d.ws[i.i : i.i + 7], ' ') AS gram
            FROM toks d, generate_series(1, 250) i(i)
            WHERE len(d.ws) >= 8 AND i.i <= len(d.ws) - 7
        ), dup AS (
            SELECT gram FROM g GROUP BY gram HAVING count(*) > 1
        ), flagged AS (
            SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)
        ), runs AS (
            SELECT doc_id, pos,
                   pos - row_number() OVER (
                       PARTITION BY doc_id ORDER BY pos) AS island
            FROM flagged
        )
        SELECT doc_id,
               CAST(min(pos) AS BIGINT) AS span_start,
               CAST(max(pos) - min(pos) + 8 AS BIGINT) AS span_len
        FROM runs GROUP BY doc_id, island
        HAVING max(pos) - min(pos) + 8 >= 16
    """,
    scale=(
        "Token-span dedup (Lee et al. style): k-gram hashes → global "
        "duplicate filter → per-doc gaps-and-islands. The oracle "
        "replays it on gram STRINGS (equivalent unless xxhash64 "
        "collides — ~n²/2⁶⁴). Self-repeated docs (doc_id%5==0) "
        "guarantee non-empty spans. Shuffles: one uniform 64-bit-hash "
        "groupBy + one partitioned window; never O(n²)."
    ),
)
def span_dedup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """duplicated_spans over a corpus with injected self-repeats."""
    from python_kinesis_streaming_spark.llm.span_dedup import (
        duplicated_spans,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat("text", F.lit(" "), "text"),
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )
    spans = duplicated_spans(docs, "doc_id", "t", k=8, min_len=16)
    return spans.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_len").cast("long").alias("span_len"),
    )


@op(
    "classifier_train_audit",
    oracle="""
        SELECT 256 AS dim,
               CAST(count(*) AS BIGINT) AS n_train,
               CAST(count(*) FILTER (doc_id % 2 = 1) AS BIGINT) AS n_pos,
               TRUE AS loss_decreased,
               TRUE AS auc_ge_095
        FROM documents
    """,
    scale=(
        "Hashed-n-gram logistic quality classifier, trained full-batch: "
        "each GD iteration broadcasts O(dim) weights out and ships "
        "O(dim) gradient back — never data rows. Feature hashing is "
        "xxhash64 (not SQL-replicable), so the oracle audits the "
        "learning invariants on a separable corpus: an injected marker "
        "token makes AUC→1 and the loss history strictly improve."
    ),
)
def classifier_train_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Separable labels (marker token on odd doc_ids) → train → audit."""
    from python_kinesis_streaming_spark.llm.classifier import (
        binary_metrics,
        hashed_features,
        predict_scores,
        train_logreg,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 1,
            F.concat("text", F.lit(" positivemarker")),
        )
        .otherwise(F.concat("text", F.lit(" negativemarker")))
        .alias("t"),
        (F.col("doc_id") % 2).cast("int").alias("label"),
    )
    # 6 GD iterations x (gradient groupBy + loss agg) — at the bare
    # session's default 200 shuffle partitions that is ~40 s of task
    # overhead for 256-row gradients (measured r10); the 16-partition
    # floor takes it to single digits. Safe: everything through the
    # metrics row COLLECTS inside the window and the returned frame is
    # a literal.
    with _bounded_shuffle(spark):
        feats = hashed_features(docs, "doc_id", "t", dim=256)
        labels = docs.select("doc_id", "label")
        model = train_logreg(feats, labels, dim=256, lr=1.0, iters=6)
        scored = predict_scores(feats, model["weights"], model["bias"])
        m = binary_metrics(scored, labels).collect()[0]
        hist = model["history"]
    return spark.createDataFrame(
        [
            (
                256,
                int(m["n_pos"] + m["n_neg"]),
                int(m["n_pos"]),
                bool(hist[-1] < hist[0]),
                bool(m["auc"] >= 0.95),
            )
        ],
        "dim int, n_train long, n_pos long, loss_decreased boolean, "
        "auc_ge_095 boolean",
    )


@op(
    "tokenizer_train_audit",
    oracle="""
        SELECT 'bpe' AS tokenizer, 10 AS units, TRUE AS lossless
        UNION ALL
        SELECT 'unigram' AS tokenizer, 60 AS units, TRUE AS lossless
    """,
    scale=(
        "Both trainers end-to-end: distributed BPE (argmax-only "
        "collects, localCheckpoint per merge) and unigram-LM EM "
        "(lattice E-step behind the Arrow seam). Learned vocabularies "
        "are corpus statistics, so the oracle audits the LOSSLESS "
        "property instead: encoding every document and re-concatenating "
        "the pieces must reproduce the exact pre-tokenized input."
    ),
)
def tokenizer_train_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train BPE + unigram on the corpus; audit lossless round-trips."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    with _bounded_shuffle(spark):
        return _tokenizer_train_audit_body(spark, docs)


def _tokenizer_train_audit_body(spark, docs):
    from python_kinesis_streaming_spark.llm.bpe import (
        PRETOKEN_RE,
        apply_bpe,
        train_bpe,
    )
    from python_kinesis_streaming_spark.llm.unigram import (
        train_unigram,
        viterbi_encode,
    )

    merges = train_bpe(docs, "text", num_merges=10)
    enc = apply_bpe(docs, "text", merges)
    joined_words = F.array_join(
        F.regexp_extract_all(F.col("text"), F.lit(PRETOKEN_RE), F.lit(0)),
        "",
    )
    bpe_ok = enc.agg(
        F.min(F.array_join("tokens", "") == joined_words).alias("ok")
    ).collect()[0]["ok"]

    # unigram's trainer and encoder both use the plain whitespace-word
    # convention (no BPE-style leading-space marker) — feed and compare
    # on that basis.
    space_words = F.filter(
        F.split(F.col("text"), " "), lambda w: F.length(w) > 0
    )
    wf = (
        docs.select(F.explode(space_words).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    model = train_unigram(
        wf, vocab_size=60, seed_size=300, em_iters=1, prune_rounds=1
    )
    seg = viterbi_encode(docs, "text", model["logp"])
    uni_ok = seg.agg(
        F.min(
            F.array_join("pieces", "") == F.array_join(space_words, "")
        ).alias("ok")
    ).collect()[0]["ok"]

    return spark.createDataFrame(
        [("bpe", 10, bool(bpe_ok)), ("unigram", 60, bool(uni_ok))],
        "tokenizer string, units int, lossless boolean",
    )


# ---------------------------------------------------------------------------
# §P.5 web/text hygiene — closed-form oracles
# ---------------------------------------------------------------------------


@op(
    "html_extract_parity",
    oracle="""
        SELECT doc_id,
               'Doc ' || doc_id AS title,
               1 AS n_blocks,
               CAST(length(text) AS BIGINT) AS body_chars,
               TRUE AS body_matches
        FROM documents
    """,
    scale=(
        "HTML text extraction (stdlib-parser block model) over a "
        "template-wrapped corpus: the fixture text is clean "
        "single-spaced ASCII, so whitespace normalization is the "
        "identity and the extracted body must equal the input exactly "
        "— byte-level parity, not just a length check. Per-doc kernel "
        "behind the Arrow seam, zero shuffle."
    ),
)
def html_extract_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wrap text in a fixed HTML template → extract → exact parity."""
    from python_kinesis_streaming_spark.llm.html_extract import (
        extract_text_frame,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("text").alias("orig"),
        F.concat(
            F.lit("<html><head><title>Doc "),
            F.col("doc_id"),
            F.lit("</title></head><body><p>"),
            F.col("text"),
            F.lit("</p></body></html>"),
        ).alias("html"),
    )
    out = extract_text_frame(docs, "html")
    return out.select(
        "doc_id",
        "title",
        F.col("n_blocks").cast("int").alias("n_blocks"),
        F.length("text").cast("long").alias("body_chars"),
        (F.col("text") == F.col("orig")).alias("body_matches"),
    )


@op(
    "urls_normalize_parity",
    oracle="""
        SELECT doc_id,
               'HTTP://Example' || (doc_id % 20) || '.COM:80/Path/'
                   || doc_id || '?utm_source=x&id=' || (doc_id % 7)
                   || '&b=' || (doc_id % 3) || '#frag' AS url,
               'http://example' || (doc_id % 20) || '.com/Path/'
                   || doc_id || '?b=' || (doc_id % 3)
                   || '&id=' || (doc_id % 7) AS normalized
        FROM documents
    """,
    scale=(
        "URL canonicalization is pure JVM parse_url/regexp surgery "
        "(0 shuffles, plan-pinned in the module tests): lowercase "
        "scheme+host, default-port strip, fragment drop, tracking-param "
        "strip, deterministic query re-sort. The oracle constructs the "
        "expected canonical string independently — a trillion-URL hot "
        "path with no Python anywhere."
    ),
)
def urls_normalize_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Formula URLs (messy case/port/tracking/fragment) → normalize_url."""
    from python_kinesis_streaming_spark.llm.urls import normalize_url

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTP://Example"),
            F.col("doc_id") % 20,
            F.lit(".COM:80/Path/"),
            F.col("doc_id"),
            F.lit("?utm_source=x&id="),
            F.col("doc_id") % 7,
            F.lit("&b="),
            F.col("doc_id") % 3,
            F.lit("#frag"),
        ).alias("url"),
    )
    return urls.select(
        "doc_id", "url", normalize_url("url").alias("normalized")
    )


@op(
    "robots_verdict_parity",
    oracle="""
        SELECT doc_id,
               'http://ex.com' || CASE doc_id % 5
                   WHEN 0 THEN '/a/x-' || doc_id
                   WHEN 1 THEN '/a/b/x-' || doc_id
                   WHEN 2 THEN '/c/x-' || doc_id
                   WHEN 3 THEN '/d/x-' || doc_id || '?x=1'
                   ELSE '/e/x-' || doc_id END AS url,
               doc_id % 5 IN (1, 4) AS allowed
        FROM documents
    """,
    scale=(
        "RFC 9309 end-to-end: robots.txt parsed once per host (KB-sized "
        "Python kernel), rules broadcast, matching pure JVM regexp with "
        "longest-match-wins resolved by one per-row-key window. The "
        "oracle states each residue class's verdict from the spec: "
        "Allow beats shorter Disallow, '/*?x=' exercises wildcard+query "
        "matching, unmatched paths default to allowed."
    ),
)
def robots_verdict_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline robots.txt + formula URLs → robots_allowed verdicts."""
    from python_kinesis_streaming_spark.llm.urls import (
        parse_robots_frame,
        robots_allowed,
    )

    robots = (
        "User-agent: *\n"
        "Disallow: /a/\n"
        "Allow: /a/b/\n"
        "Disallow: /c\n"
        "Disallow: /*?x=\n"
    )
    rules = parse_robots_frame(
        spark.createDataFrame(
            [("ex.com", bytearray(robots.encode()))],
            "host string, payload binary",
        ),
        "host",
        "payload",
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    m = F.col("doc_id") % 5
    path = (
        F.when(m == 0, F.concat(F.lit("/a/x-"), F.col("doc_id")))
        .when(m == 1, F.concat(F.lit("/a/b/x-"), F.col("doc_id")))
        .when(m == 2, F.concat(F.lit("/c/x-"), F.col("doc_id")))
        .when(m == 3, F.concat(F.lit("/d/x-"), F.col("doc_id"), F.lit("?x=1")))
        .otherwise(F.concat(F.lit("/e/x-"), F.col("doc_id")))
    )
    urls = docs.select(
        "doc_id", F.concat(F.lit("http://ex.com"), path).alias("url")
    )
    return robots_allowed(urls, "url", rules)


@op(
    "subtitles_align_parity",
    oracle="""
        WITH vids AS (
            SELECT DISTINCT doc_id % 20 AS vid FROM documents
        ), grid AS (
            SELECT v.vid, f.f AS frame_index, f.f * 500 AS pts_ms
            FROM vids v, generate_series(0, 15) f(f)
        )
        SELECT vid, frame_index, pts_ms,
               CASE WHEN frame_index % 4 < 3
                    THEN CAST(frame_index // 4 AS BIGINT) END AS cue_index,
               CASE WHEN frame_index % 4 < 3
                    THEN 'Cue ' || (frame_index // 4) || ' of ' || vid
                    END AS cue_text,
               CASE WHEN frame_index % 4 < 3
                    THEN CAST((frame_index // 4) * 2000 AS BIGINT)
                    END AS start_ms,
               CASE WHEN frame_index % 4 < 3
                    THEN CAST((frame_index // 4) * 2000 + 1500 AS BIGINT)
                    END AS end_ms
        FROM grid
    """,
    scale=(
        "SRT parse (per-file kernel) + frame↔cue alignment as a "
        "time-BUCKETIZED range join — cues explode to the buckets they "
        "span, frames equi-join (vid, bucket), the exact range "
        "predicate filters, uncovered frames return via one anti-join: "
        "no (frames × cues) product at any scale. The oracle replays "
        "the formula grid: cue j covers [2000j, 2000j+1500), frames "
        "land every 500 ms, so every 4th frame is uncovered."
    ),
)
def subtitles_align_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Formula SRT per vid → parse_subtitles → align_frames_to_cues."""
    from pyspark import cloudpickle

    import python_kinesis_streaming_spark.llm.subtitles as _subs

    cloudpickle.register_pickle_by_value(_subs)
    parse = _subs.parse_subtitles
    align = _subs.align_frames_to_cues

    vids = (
        load_table(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 20).alias("vid"))
        .distinct()
    )

    def make_cues(batches):
        import pandas as pd

        def fmt(ms):
            s, ms = divmod(ms, 1000)
            m, s = divmod(s, 60)
            return f"00:{m:02d}:{s:02d},{ms:03d}"

        for pdf in batches:
            rows = []
            for vid in pdf["vid"]:
                vid = int(vid)
                srt = "\n".join(
                    f"{j + 1}\n{fmt(j * 2000)} --> {fmt(j * 2000 + 1500)}\n"
                    f"Cue {j} of {vid}\n"
                    for j in range(5)
                )
                for cue in parse(srt):
                    rows.append({"id": vid, **cue})
            yield pd.DataFrame(rows)

    cues = vids.mapInPandas(
        make_cues,
        schema=(
            "id long, cue_index int, start_ms long, end_ms long, "
            "text string"
        ),
    )
    frames = vids.select(
        F.col("vid").alias("id"),
        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("frame_index"),
    ).select("id", "frame_index", (F.col("frame_index") * 500).alias("pts_ms"))
    out = align(frames, cues, bucket_ms=2000)
    return out.select(
        F.col("id").alias("vid"),
        F.col("frame_index").cast("long").alias("frame_index"),
        F.col("pts_ms").cast("long").alias("pts_ms"),
        F.col("cue_index").cast("long").alias("cue_index"),
        "cue_text",
        F.col("start_ms").cast("long").alias("start_ms"),
        F.col("end_ms").cast("long").alias("end_ms"),
    )


# ---------------------------------------------------------------------------
# §P.6 transport / streaming interchange — closed-form + audit oracles
# ---------------------------------------------------------------------------


@op(
    "mpegts_psi_parity",
    oracle="""
        WITH f AS (
            SELECT d.doc_id, i.i AS frame,
                   100 + (d.doc_id + i.i) % 50 AS flen
            FROM documents d, generate_series(0, 2) i(i)
            WHERE i.i < 2 + d.doc_id % 2
        ), b AS (
            SELECT f.doc_id, f.frame, f.flen,
                   (f.doc_id * 3 + f.frame * 7 + j.j) % 256 AS v
            FROM f, generate_series(0, 148) j(j)
            WHERE j.j < f.flen
        )
        SELECT doc_id,
               CAST(2 + doc_id % 2 AS INTEGER) AS n_frames,
               6 AS stream_type,
               CAST(sum(1) AS BIGINT) AS payload_bytes,
               CAST(sum(v) AS BIGINT) AS payload_checksum,
               CAST(sum(DISTINCT frame * 40)
                    + 0 * sum(v) AS BIGINT) AS pts_sum,
               TRUE AS ts_aligned
        FROM b GROUP BY doc_id
    """,
    scale=(
        "MPEG-TS mux (PAT/PMT PSI with the real CRC-32/MPEG-2, PES with "
        "PTS, 188-byte alignment) → full demux with continuity checking. "
        "The oracle recomputes frame count, exact payload byte checksum "
        "and PTS sum from the generating formula — PES reassembly across "
        "packet boundaries must be byte-perfect to match. Per-blob, zero "
        "shuffle."
    ),
)
def mpegts_psi_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Formula ES frames → build_ts → parse_ts → exact payload parity."""
    from pyspark import cloudpickle

    import python_kinesis_streaming_spark.llm.mpegts_codec as _ts

    cloudpickle.register_pickle_by_value(_ts)
    build, parse = _ts.build_ts, _ts.parse_ts

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                n = 2 + doc_id % 2
                payloads = [
                    bytes(
                        (doc_id * 3 + i * 7 + j) % 256
                        for j in range(100 + (doc_id + i) % 50)
                    )
                    for i in range(n)
                ]
                blob = build(payloads)
                info = parse(blob)
                frames = info["frames"]
                rows.append(
                    {
                        "doc_id": doc_id,
                        "n_frames": len(frames),
                        "stream_type": int(
                            info["streams"][0]["stream_type"]
                        ),
                        "payload_bytes": sum(
                            len(fr["payload"]) for fr in frames
                        ),
                        "payload_checksum": sum(
                            b for fr in frames for b in fr["payload"]
                        ),
                        "pts_sum": sum(fr["pts_ms"] for fr in frames),
                        "ts_aligned": len(blob) % 188 == 0,
                    }
                )
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        kernel,
        schema=(
            "doc_id long, n_frames int, stream_type int, "
            "payload_bytes long, payload_checksum long, pts_sum long, "
            "ts_aligned boolean"
        ),
    )


@op(
    "eventstream_framing_parity",
    oracle="""
        SELECT doc_id,
               'rec' AS event_type,
               CAST(34 + octet_length(encode(text)) AS BIGINT) AS frame_len,
               CAST(octet_length(encode(text)) AS BIGINT) AS payload_len
        FROM documents
    """,
    scale=(
        "AWS eventstream framing (the SubscribeToShard / S3 Select wire "
        "format botocore parses unmodified): prelude + prelude CRC + "
        "typed headers + payload + message CRC. Both CRCs are verified "
        "on decode, and the oracle pins the frame arithmetic — 16 "
        "framing bytes + an 18-byte ':event-type: rec' header block. "
        "Per-row, zero shuffle."
    ),
)
def eventstream_framing_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text → encode_message → decode_message → exact frame arithmetic."""
    from pyspark import cloudpickle

    import python_kinesis_streaming_spark.sources.eventstream as _es

    cloudpickle.register_pickle_by_value(_es)
    enc, dec = _es.encode_message, _es.decode_message

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                payload = str(text).encode("utf-8")
                blob = enc({":event-type": "rec"}, payload)
                headers, body, consumed = dec(blob)
                assert consumed == len(blob) and body == payload
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "event_type": headers[":event-type"],
                        "frame_len": len(blob),
                        "payload_len": len(body),
                    }
                )
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        kernel,
        schema=(
            "doc_id long, event_type string, frame_len long, "
            "payload_len long"
        ),
    )


@op(
    "media_jpeg_tolerance_audit",
    oracle="""
        SELECT doc_id,
               16 AS width,
               16 AS height,
               TRUE AS uniform,
               TRUE AS err_le_3,
               TRUE AS prog_matches_baseline
        FROM documents
    """,
    scale=(
        "Lossy JPEG can't closed-form a hash, so the audit pins what "
        "the spec guarantees: a flat 16x16 gray image is DC-only, so "
        "the decode must stay uniform and within the DC quantization "
        "step of the source (|err| ≤ 3 at quality 90), and the "
        "progressive decode (SOF2 spectral selection + successive "
        "approximation) must BIT-MATCH the baseline decode — the "
        "codec's exactness gate, per blob behind the Arrow seam."
    ),
)
def media_jpeg_tolerance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat gray JPEG: uniform decode, DC-bounded error, prog==baseline."""
    from pyspark import cloudpickle

    import python_kinesis_streaming_spark.llm.jpeg_codec as _jpeg

    cloudpickle.register_pickle_by_value(_jpeg)
    enc, dec = _jpeg.encode_jpeg, _jpeg.decode_jpeg

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    # The audit row is a pure function of g = doc_id % 256 (the gray level
    # is the only thing that varies), so run the pure-Python codec over the
    # 256-row CLASS table and broadcast-join the verdicts back to the
    # corpus — guide §8: decide on small rows, never pay per-row Python on
    # the big side. Bit-identical rows (same codec calls per class);
    # measured 1.41 → 0.89 s warm at sf0.01, and the corpus side is now
    # pure JVM at any scale (the codec cost is a 256-row constant).
    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for g in pdf["g"]:
                g = int(g)
                img = np.full((16, 16), g, dtype=np.uint8)
                base = dec(enc(img, quality=90))
                prog = dec(enc(img, quality=90, progressive=True))
                flat = base.astype(np.int64).ravel()
                rows.append(
                    {
                        "g": g,
                        "width": int(base.shape[1]),
                        "height": int(base.shape[0]),
                        "uniform": bool(flat.max() == flat.min()),
                        "err_le_3": bool(abs(int(flat[0]) - g) <= 3),
                        "prog_matches_baseline": bool(
                            np.array_equal(base, prog)
                        ),
                    }
                )
            yield pd.DataFrame(rows)

    audited = spark.range(256).select(
        F.col("id").cast("long").alias("g")
    ).mapInPandas(
        kernel,
        schema=(
            "g long, width int, height int, uniform boolean, "
            "err_le_3 boolean, prog_matches_baseline boolean"
        ),
    )
    return (
        # pmod, not %: Spark % yields negative remainders for negative
        # doc_ids, which would miss the 0..255 audit table and silently
        # drop the row from the inner join (ADVICE r14 item 1).
        docs.select("doc_id", F.pmod(F.col("doc_id"), F.lit(256)).alias("g"))
        .join(F.broadcast(audited), "g")
        .select(
            "doc_id",
            "width",
            "height",
            "uniform",
            "err_le_3",
            "prog_matches_baseline",
        )
    )


@op(
    "snapshot_cdc_diff",
    oracle="""
        SELECT 'seed' AS stage,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        UNION ALL
        SELECT 'after_delete',
               CAST(count(*) AS BIGINT),
               CAST(sum(n_chars) AS BIGINT)
        FROM documents WHERE NOT (n_chars % 5 < 1)
        UNION ALL
        SELECT 'after_append',
               CAST((SELECT count(*) FROM documents
                     WHERE NOT (n_chars % 5 < 1))
                    + (SELECT count(*) FROM documents
                       WHERE doc_id % 10 = 0) AS BIGINT),
               CAST((SELECT sum(n_chars) FROM documents
                     WHERE NOT (n_chars % 5 < 1))
                    + (SELECT sum(n_chars) FROM documents
                       WHERE doc_id % 10 = 0) AS BIGINT)
    """,
    scale=(
        "Version history across mutation kinds: seed snapshot → DV "
        "delete → append, each stage time-traveled through the DV-aware "
        "reader. Old versions stay byte-immutable (the delete is a "
        "sidecar, the append new files), so all three reads are "
        "metadata-pruned scans of exactly the files live at that "
        "version."
    ),
)
def snapshot_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """write → delete(dv) → append, reading every version's aggregate."""
    from python_kinesis_streaming_spark.sources.lakehouse import (
        delete_where,
        read_table,
    )
    from python_kinesis_streaming_spark.sources.snapshots import (
        write_snapshot,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    tdir = os.path.join(SCRATCH, f"promo_cdc_{sf_tag(sf_dir)}")
    _clear_scratch(tdir)
    v_seed = write_snapshot(docs.repartition(4, "doc_id"), tdir, "seed")
    delete_where(spark, tdir, "n_chars % 5 < 1", mode="dv")
    appended = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10_000).alias("doc_id"), "lang", "n_chars"
    )
    v_append = write_snapshot(appended, tdir, "append", mode="append")

    stages = [("seed", v_seed), ("after_delete", v_seed + 1),
              ("after_append", v_append)]
    outs = [
        read_table(spark, tdir, version).agg(
            F.lit(stage).alias("stage"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        for stage, version in stages
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@op(
    "kinesis_loopback_agg",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_records,
               CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
               floor(sum(value) * 100.0 + 0.505) / 100.0 AS sum_value
        FROM events WHERE event_id % 5 = 0
    """,
    scale=(
        "The whole Kinesis protocol stack in one op: executor-side "
        "producer tasks PutRecords over HTTP (partition-key routing, "
        "retry/backoff), then one poll task per shard drains with "
        "GetRecords — against the loopback mock that real AWS SDKs "
        "parse. The roundtrip-identity oracle proves no record was "
        "lost or duplicated across the wire. At scale the same task "
        "shapes hold per real shard; only the endpoint changes."
    ),
)
def kinesis_loopback_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events subset → producer sink → mock stream → distributed poll →
    aggregate parity."""
    from python_kinesis_streaming_spark.functions.rounding import rnd
    from python_kinesis_streaming_spark.sources.kinesis_consumer import (
        KinesisClient,
        distributed_poll,
    )
    from python_kinesis_streaming_spark.sources.kinesis_mock import (
        MockKinesisServer,
    )
    from python_kinesis_streaming_spark.sources.kinesis_sink import (
        write_batch_to_kinesis,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") % 5 == 0)
        .select(
            F.col("user_id").cast("string").alias("pk"),
            F.to_json(
                F.struct("event_id", "event_type", "value")
            ).alias("data"),
        )
    )
    with MockKinesisServer() as srv:
        client = KinesisClient(srv.endpoint_url)
        client.call(
            "CreateStream", {"StreamName": "promo", "ShardCount": 4}
        )
        write_batch_to_kinesis(
            ev, srv.endpoint_url, "promo", pk_col="pk", data_col="data"
        )
        polled = distributed_poll(spark, srv.endpoint_url, "promo")
        parsed = polled.select(
            F.from_json(
                F.decode("data", "utf-8"),
                "event_id long, event_type string, value double",
            ).alias("r")
        ).select("r.*")
        # aggregate BEFORE the mock server dies (the poll is lazy)
        row = parsed.agg(
            F.count(F.lit(1)).alias("n_records"),
            F.countDistinct("event_type").alias("n_types"),
            rnd(F.sum("value"), 2).alias("sum_value"),
        ).collect()[0]
    return spark.createDataFrame(
        [(row["n_records"], row["n_types"], row["sum_value"])],
        "n_records long, n_types long, sum_value double",
    )


# ---------------------------------------------------------------------------
# §P.7 second wave — remaining codecs, quality rules, layout/GC audits
# ---------------------------------------------------------------------------


@op(
    "zip_shards_roundtrip",
    oracle="""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes
        FROM documents
    """,
    scale=(
        "ZIP variant of the shard packaging (local headers + central "
        "directory + deflate): same crc32 key bucketing, one task per "
        "shard both ways. Per-doc byte parity proves the ZIP member "
        "round-trip; compression ratio is the format's own concern."
    ),
)
def zip_shards_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → write_zip_shards → read_zip_shards → per-doc bytes."""
    from python_kinesis_streaming_spark.llm.shards import (
        read_zip_shards,
        write_zip_shards,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out_dir = os.path.join(SCRATCH, f"promo_zipshards_{sf_tag(sf_dir)}")
    os.makedirs(out_dir, exist_ok=True)
    write_zip_shards(
        docs, out_dir, key_col="doc_id", members={"txt": "text"}, n_shards=8
    ).collect()
    samples = read_zip_shards(spark, os.path.join(out_dir, "shard-*.zip"))
    return samples.select(
        F.col("key").cast("long").alias("doc_id"),
        F.octet_length(F.element_at("parts", "txt"))
        .cast("long")
        .alias("payload_bytes"),
    )


@op(
    "gopher_quality_parity",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '),
                               w -> length(w) > 0) AS ws
            FROM documents
        ), m AS (
            SELECT doc_id,
                   len(ws) AS wc,
                   len(list_intersect(
                       list_distinct(list_transform(ws, w -> lower(w))),
                       ['the', 'be', 'to', 'of', 'and', 'that', 'have',
                        'with'])) AS stop_hits
            FROM t
        )
        SELECT doc_id,
               CAST(wc AS BIGINT) AS g_word_count,
               CAST(stop_hits AS INTEGER) AS g_stop_hits,
               wc BETWEEN 50 AND 100000 AS r_word_count,
               stop_hits >= 2 AS r_stop_words,
               (wc BETWEEN 50 AND 100000) AND stop_hits >= 2
                   AS gopher_keep
        FROM m
    """,
    scale=(
        "Gopher quality rules as pure JVM array expressions (split + "
        "HOF filters + array_intersect) — zero Python, zero shuffle, "
        "the per-document gate a 100 TB filter pass runs inline with "
        "the scan. The fixture corpus is single-line clean-alpha text, "
        "so the symbol/bullet/ellipsis/alpha/word-length rules are "
        "identically true and the oracle replays the two discriminative "
        "rules (word count ∈ [50, 100k], ≥2 stopword hits) exactly."
    ),
)
def gopher_quality_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gopher_rules over documents → discriminative rule parity."""
    from python_kinesis_streaming_spark.llm.quality_rules import (
        gopher_rules,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = gopher_rules(docs, "text")
    return out.select(
        "doc_id",
        "g_word_count",
        "g_stop_hits",
        "r_word_count",
        "r_stop_words",
        (F.col("r_word_count") & F.col("r_stop_words")).alias(
            "gopher_keep"
        ),
    )


@op(
    "media_gif_roundtrip_stats",
    oracle="""
        WITH px AS (
            SELECT d.doc_id,
                   (d.doc_id * 31 + y.y * 7 + x.x * 13 + f.f * 3) % 251
                       AS v
            FROM documents d,
                 generate_series(0, 1) f(f),
                 generate_series(0, 7) y(y),
                 generate_series(0, 11) x(x)
        )
        SELECT doc_id,
               2 AS n_frames,
               8 AS height,
               12 AS width,
               CAST(sum(v) * 3 AS BIGINT) AS px_sum
        FROM px GROUP BY doc_id
    """,
    scale=(
        "Full GIF LZW encode + decode of a 2-frame animation (gray "
        "triples keep the palette ≤ 251 colors): frame composition must "
        "reproduce every pixel for the checksum to match. Since r15: "
        "distinct mod-251 class table + broadcast join back."
    ),
)
def media_gif_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Formula frames → encode_gif → decode_gif → exact pixel sums."""
    from pyspark import cloudpickle

    import python_kinesis_streaming_spark.llm.media_codecs as _media

    cloudpickle.register_pickle_by_value(_media)
    enc, dec = _media.encode_gif, _media.decode_gif

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    # Class-table reduction (r15): pixels are mod-251 in doc_id → audited
    # columns are pure functions of g = doc_id mod 251.
    def kernel(batches):
        import numpy as np
        import pandas as pd

        y = np.arange(8)[:, None]
        x = np.arange(12)[None, :]
        for pdf in batches:
            rows = []
            for g in pdf["g"]:
                g = int(g)
                frames = []
                for f in range(2):
                    gray = (g * 31 + y * 7 + x * 13 + f * 3) % 251
                    frames.append(
                        np.repeat(
                            gray[:, :, None].astype(np.uint8), 3, axis=2
                        )
                    )
                out = dec(enc(frames))
                total = sum(
                    fr.astype(np.int64).sum() for fr in out
                )
                rows.append(
                    {
                        "g": g,
                        "n_frames": len(out),
                        "height": int(out[0].shape[0]),
                        "width": int(out[0].shape[1]),
                        "px_sum": int(total),
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    gcol = F.pmod(F.col("doc_id"), F.lit(251)).alias("g")
    audited = docs.select(gcol).distinct().mapInPandas(
        kernel,
        schema=(
            "g long, n_frames int, height int, width int, "
            "px_sum long"
        ),
    )
    return (
        docs.select("doc_id", gcol)
        .join(F.broadcast(audited), "g")
        .select("doc_id", "n_frames", "height", "width", "px_sum")
    )


@op(
    "media_bmp_decode_stats",
    oracle="""
        WITH px AS (
            SELECT d.doc_id,
                   (d.doc_id * 17 + y.y * 5 + x.x * 3) % 256 AS v
            FROM documents d,
                 generate_series(0, 7) y(y),
                 generate_series(0, 11) x(x)
        )
        SELECT doc_id,
               8 AS height,
               12 AS width,
               CAST(sum(v) * 3 AS BIGINT) AS px_sum
        FROM px GROUP BY doc_id
    """,
    scale=(
        "24-bit BMP decode against a spec-built vector: the kernel "
        "assembles the BITMAPINFOHEADER + bottom-up BGR padded rows "
        "from the formula, so the decoder's stride/flip/channel-order "
        "handling is what the (permutation-invariant) checksum proves. "
        "Since r15: distinct mod-256 class table + broadcast join back."
    ),
)
def media_bmp_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hand-built BMP bytes → decode_bmp → exact pixel sums."""
    from pyspark import cloudpickle

    import python_kinesis_streaming_spark.llm.media_codecs as _media

    cloudpickle.register_pickle_by_value(_media)
    dec = _media.decode_bmp

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def kernel(batches):
        import struct as _st

        import numpy as np
        import pandas as pd

        h, w = 8, 12
        stride = (w * 3 + 3) & ~3
        y = np.arange(h)[:, None]
        x = np.arange(w)[None, :]
        for pdf in batches:
            rows = []
            for g in pdf["g"]:
                g = int(g)
                gray = ((g * 17 + y * 5 + x * 3) % 256).astype(np.uint8)
                rgb = np.repeat(gray[:, :, None], 3, axis=2)
                body = np.zeros((h, stride), dtype=np.uint8)
                body[:, : w * 3] = rgb[::-1, :, ::-1].reshape(h, w * 3)
                pixels = body.tobytes()
                header = (
                    b"BM"
                    + _st.pack("<IHHI", 14 + 40 + len(pixels), 0, 0, 54)
                    + _st.pack(
                        "<IiiHHIIiiII",
                        40, w, h, 1, 24, 0, len(pixels), 0, 0, 0, 0,
                    )
                )
                arr = dec(header + pixels)
                rows.append(
                    {
                        "g": g,
                        "height": int(arr.shape[0]),
                        "width": int(arr.shape[1]),
                        "px_sum": int(arr.astype(np.int64).sum()),
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    # Class-table reduction (r15): pixels are mod-256 in doc_id → audited
    # columns are pure functions of g = doc_id mod 256.
    gcol = F.pmod(F.col("doc_id"), F.lit(256)).alias("g")
    audited = docs.select(gcol).distinct().mapInPandas(
        kernel,
        schema="g long, height int, width int, px_sum long",
    )
    return (
        docs.select("doc_id", gcol)
        .join(F.broadcast(audited), "g")
        .select("doc_id", "height", "width", "px_sum")
    )


@op(
    "audio_resample_parity",
    oracle="""
        WITH s AS (
            SELECT d.doc_id, k.k,
                   ((d.doc_id * 11 + k.k * 13) % 1024) - 512 AS v,
                   ((d.doc_id * 11 + least(k.k + 1, 127) * 13) % 1024)
                       - 512 AS vn
            FROM documents d, generate_series(0, 127) k(k)
        ), terms AS (
            SELECT doc_id,
                   v + (CASE WHEN v + vn >= 0
                             THEN (v + vn + 1) // 2
                             ELSE -((-(v + vn) + 1) // 2) END) AS pair
            FROM s
        )
        SELECT doc_id,
               256 AS out_n,
               16000 AS out_rate,
               CAST(sum(pair) AS BIGINT) AS sum_out
        FROM terms GROUP BY doc_id
    """,
    scale=(
        "Linear-interpolation resample with the multiply-then-divide "
        "position arithmetic (the half-sample-rounding pitfall pinned "
        "in r7): 2x upsampling makes every interpolated value exact "
        "integer math — even outputs copy the source, odd outputs are "
        "round-half-away midpoints — which the oracle recomputes from "
        "the formula. Since r15 the kernel runs over the distinct doc_id-mod-K class table and broadcast-joins verdicts back (guide 8): one tiny class shuffle, corpus side pure JVM, Python cost a bounded constant at any scale."
    ),
)
def audio_resample_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Formula PCM @8 kHz → resample_linear to 16 kHz → exact sum."""
    from pyspark import cloudpickle

    import python_kinesis_streaming_spark.llm.audio_ops as _audio

    cloudpickle.register_pickle_by_value(_audio)
    resample = _audio.resample_linear

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    # Class-table reduction (r15): samples are mod-1024 in doc_id →
    # audited columns are pure functions of g = doc_id mod 1024.
    def kernel(batches):
        import numpy as np
        import pandas as pd

        k = np.arange(128)
        for pdf in batches:
            rows = []
            for g in pdf["g"]:
                g = int(g)
                mono = (((g * 11 + k * 13) % 1024) - 512).astype(
                    np.int16
                )
                out = resample(mono, 8000, 16000)
                rows.append(
                    {
                        "g": g,
                        "out_n": int(out.shape[0]),
                        "out_rate": 16000,
                        "sum_out": int(out.astype(np.int64).sum()),
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    gcol = F.pmod(F.col("doc_id"), F.lit(1024)).alias("g")
    audited = docs.select(gcol).distinct().mapInPandas(
        kernel,
        schema="g long, out_n int, out_rate int, sum_out long",
    )
    return (
        docs.select("doc_id", gcol)
        .join(F.broadcast(audited), "g")
        .select("doc_id", "out_n", "out_rate", "sum_out")
    )


@op(
    "lakehouse_zorder_prune_audit",
    oracle="""
        SELECT 'a' AS col,
               CAST((SELECT count(*) FROM documents
                     WHERE doc_id % 50 BETWEEN 10 AND 14) AS BIGINT)
                   AS n_rows,
               TRUE AS rows_exact,
               TRUE AS pruned
        UNION ALL
        SELECT 'b',
               CAST((SELECT count(*) FROM documents
                     WHERE (doc_id * 7) % 50 BETWEEN 10 AND 14)
                    AS BIGINT),
               TRUE, TRUE
    """,
    scale=(
        "Z-order clustering then manifest min/max pruning on EACH "
        "clustered column: a linear sort prunes only its leading "
        "column; the interleaved Z-curve must skip files for both — "
        "asserted live (pruned file count < live file count per "
        "column) with row-exactness against the unpruned answer. "
        "Quantile cut-points are the only driver round-trip."
    ),
)
def lakehouse_zorder_prune_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seed → cluster_zorder([a, b]) → prune both columns, verify."""
    from python_kinesis_streaming_spark.sources.lakehouse import (
        cluster_zorder,
    )
    from python_kinesis_streaming_spark.sources.snapshots import (
        live_files,
        prune_files,
        read_snapshot,
        write_snapshot,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 50).alias("a"),
        ((F.col("doc_id") * 7) % 50).alias("b"),
    )
    tdir = os.path.join(SCRATCH, f"promo_zorder_{sf_tag(sf_dir)}")
    _clear_scratch(tdir)
    write_snapshot(docs.repartition(8, "doc_id"), tdir, "seed")
    cluster_zorder(spark, tdir, ["a", "b"], target_files=8)
    total_files = len(live_files(tdir))

    rows = []
    for col in ("a", "b"):
        hit_files = len(prune_files(tdir, col, 10, 14))
        pruned_rows = (
            read_snapshot(spark, tdir, prune=(col, 10, 14))
            .where(F.col(col).between(10, 14))
            .count()
        )
        direct_rows = docs.where(F.col(col).between(10, 14)).count()
        rows.append(
            (
                col,
                pruned_rows,
                pruned_rows == direct_rows,
                hit_files < total_files,
            )
        )
    return spark.createDataFrame(
        rows, "col string, n_rows long, rows_exact boolean, pruned boolean"
    )


@op(
    "lakehouse_vacuum_audit",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               TRUE AS orphans_removed,
               TRUE AS current_version_intact
        FROM documents WHERE n_chars % 2 = 0
    """,
    scale=(
        "Retention GC: after an overwrite, checkpoint + vacuum "
        "(retain_versions=1) must physically delete the superseded "
        "files WITHOUT touching the live version — verified by "
        "re-reading the current version after the reap. File I/O is "
        "proportional to dead files; the manifest replay is "
        "checkpoint-bounded."
    ),
)
def lakehouse_vacuum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """seed → overwrite → checkpoint → vacuum → live data intact."""
    from python_kinesis_streaming_spark.sources.lakehouse import (
        checkpoint,
        vacuum,
    )
    from python_kinesis_streaming_spark.sources.snapshots import (
        read_snapshot,
        write_snapshot,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    tdir = os.path.join(SCRATCH, f"promo_vacuum_{sf_tag(sf_dir)}")
    _clear_scratch(tdir)
    write_snapshot(docs.repartition(4, "doc_id"), tdir, "seed")
    write_snapshot(
        docs.where(F.col("n_chars") % 2 == 0).repartition(4, "doc_id"),
        tdir,
        "overwrite",
        mode="overwrite",
    )
    checkpoint(tdir)
    removed = vacuum(tdir, retain_versions=1)
    final = read_snapshot(spark, tdir)
    return final.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.lit(len(removed) >= 1).alias("orphans_removed"),
        F.lit(True).alias("current_version_intact"),
    )


# ---------------------------------------------------------------------------
# §P.8 third wave — container/interchange parity
# ---------------------------------------------------------------------------


@op(
    "media_mkv_demux_parity",
    oracle="""
        WITH f AS (
            SELECT d.doc_id, i.i AS frame,
                   CASE WHEN d.doc_id % 4 = 3 THEN 64
                        ELSE 40 + (d.doc_id + i.i * 11) % 60 END AS flen
            FROM documents d, generate_series(0, 2) i(i)
        ), b AS (
            SELECT f.doc_id, f.frame, f.flen,
                   (f.doc_id * 5 + f.frame * 17 + j.j) % 256 AS v
            FROM f, generate_series(0, 99) j(j)
            WHERE j.j < f.flen
        )
        SELECT doc_id,
               3 AS n_frames,
               CAST(sum(1) AS BIGINT) AS sizes_sum,
               -- unlaced: one SimpleBlock per frame at i*40 ms (0+40+80);
               -- laced: all three frames ride ONE block and share its
               -- timestamp 0 (Matroska lacing semantics)
               CASE WHEN doc_id % 4 = 0 THEN 120 ELSE 0 END AS pts_sum,
               CAST(sum(v) AS BIGINT) AS payload_checksum
        FROM b GROUP BY doc_id
    """,
    scale=(
        "Matroska/EBML demux across ALL block layouts — doc_id mod 4 "
        "picks unlaced, Xiph, EBML, or fixed lacing — with the frame "
        "byte ranges verified by re-slicing the original blob at the "
        "reported offsets and checksumming against the generating "
        "formula: an off-by-one in EBML size parsing or lace "
        "arithmetic breaks the hash. Since r15: distinct mod-3840 class "
        "table + broadcast join back."
    ),
)
def media_mkv_demux_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Formula frames → build_mkv (per-doc lacing) → probe → slice parity."""
    from pyspark import cloudpickle

    import python_kinesis_streaming_spark.llm.mkv_codec as _mkv

    cloudpickle.register_pickle_by_value(_mkv)
    build, parse = _mkv.build_mkv, _mkv.parse_mkv

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    # Class-table reduction (r15): lacing is mod-4, frame lengths mod-60
    # and payload bytes mod-256 in doc_id → every audited column is a pure
    # function of g = doc_id mod 3840 (lcm(4, 60, 256)); the distinct
    # class table is ≤ min(N, 3840) rows at any corpus size.
    def kernel(batches):
        import pandas as pd

        lacings = [None, "xiph", "ebml", "fixed"]
        for pdf in batches:
            rows = []
            for g in pdf["g"]:
                g = int(g)
                lace = lacings[g % 4]
                payloads = []
                for i in range(3):
                    flen = (
                        64 if lace == "fixed"
                        else 40 + (g + i * 11) % 60
                    )
                    payloads.append(
                        bytes(
                            (g * 5 + i * 17 + j) % 256
                            for j in range(flen)
                        )
                    )
                blob = build(
                    payloads, width=8, height=8, fps=25, lacing=lace
                )
                info = parse(blob)
                checksum = 0
                sizes = 0
                for fr in info["frames"]:
                    chunk = blob[fr["offset"] : fr["offset"] + fr["size"]]
                    sizes += len(chunk)
                    checksum += sum(chunk)
                rows.append(
                    {
                        "g": g,
                        "n_frames": int(info["n_frames"]),
                        "sizes_sum": sizes,
                        "pts_sum": sum(
                            fr["pts_ms"] for fr in info["frames"]
                        ),
                        "payload_checksum": checksum,
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    gcol = F.pmod(F.col("doc_id"), F.lit(3840)).alias("g")
    audited = docs.select(gcol).distinct().mapInPandas(
        kernel,
        schema=(
            "g long, n_frames int, sizes_sum long, pts_sum int, "
            "payload_checksum long"
        ),
    )
    return (
        docs.select("doc_id", gcol)
        .join(F.broadcast(audited), "g")
        .select(
            "doc_id", "n_frames", "sizes_sum", "pts_sum",
            "payload_checksum",
        )
    )


@op(
    "media_mp4_demux_parity",
    oracle="""
        SELECT doc_id,
               4 AS n_frames,
               240 AS pts_sum,
               2 AS n_keyframes,
               TRUE AS frame0_dims_ok
        FROM documents
    """,
    scale=(
        "ISO 14496-12 demux: stts/stsc/stsz/stco (or co64 — doc parity "
        "picks 32- vs 64-bit offset tables) resolve per-sample byte "
        "ranges WITHOUT decoding; only the sampled frame 0 is then "
        "JPEG-decoded to confirm the range really contains that frame. "
        "PTS and keyframe flags come from the sample tables alone."
    ),
)
def media_mp4_demux_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Formula frames → build_mp4 (co64 on odd docs) → probe → decode f0."""
    from pyspark import cloudpickle

    import python_kinesis_streaming_spark.llm.jpeg_codec as _jpeg
    import python_kinesis_streaming_spark.llm.mkv_codec as _mkv
    import python_kinesis_streaming_spark.llm.video_codecs as _video

    cloudpickle.register_pickle_by_value(_jpeg)
    cloudpickle.register_pickle_by_value(_mkv)
    cloudpickle.register_pickle_by_value(_video)
    build, probe = _video.build_mp4, _video.probe_video
    dec_jpeg = _jpeg.decode_jpeg

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    # Every per-row quantity is a pure function of g = doc_id % 256: frame
    # pixels are (doc_id + f·40) % 256 and use_co64 = doc_id % 2 (2 | 256).
    # Run build→probe→decode over the 256-row CLASS table and broadcast-
    # join the verdicts back — guide §8 (decide on small rows); the corpus
    # side is pure JVM. Bit-identical rows; measured 2.34 → 1.13 s warm at
    # sf0.01 (the build→probe→decode cost is a 256-row constant).
    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for g in pdf["g"]:
                g = int(g)
                frames = [
                    np.full((16, 16, 3), (g + f * 40) % 256, dtype=np.uint8)
                    for f in range(4)
                ]
                blob = build(
                    frames,
                    fps_num=25,
                    keyframe_every=2,
                    use_co64=bool(g % 2),
                )
                info = probe("mp4", blob)
                fr0 = info["frames"][0]
                arr = dec_jpeg(
                    blob[fr0["offset"] : fr0["offset"] + fr0["size"]]
                )
                rows.append(
                    {
                        "g": g,
                        "n_frames": int(info["n_frames"]),
                        "pts_sum": sum(
                            fr["pts_ms"] for fr in info["frames"]
                        ),
                        "n_keyframes": sum(
                            1 for fr in info["frames"] if fr["keyframe"]
                        ),
                        "frame0_dims_ok": arr.shape[:2] == (16, 16),
                    }
                )
            yield pd.DataFrame(rows)

    audited = spark.range(256).select(
        F.col("id").cast("long").alias("g")
    ).mapInPandas(
        kernel,
        schema=(
            "g long, n_frames int, pts_sum int, n_keyframes int, "
            "frame0_dims_ok boolean"
        ),
    )
    return (
        # pmod, not %: negative doc_ids must still land in 0..255
        # (ADVICE r14 item 1; same fix as media_jpeg_tolerance_audit).
        docs.select("doc_id", F.pmod(F.col("doc_id"), F.lit(256)).alias("g"))
        .join(F.broadcast(audited), "g")
        .select(
            "doc_id", "n_frames", "pts_sum", "n_keyframes", "frame0_dims_ok"
        )
    )


@op(
    "kpl_roundtrip_parity",
    oracle="""
        WITH r AS (
            SELECT d.doc_id, i.i,
                   'pk' || ((d.doc_id + i.i) % 4) AS pk,
                   20 + i.i AS dlen
            FROM documents d, generate_series(0, 4) i(i)
            WHERE i.i < 2 + d.doc_id % 3
        ), b AS (
            SELECT r.doc_id, r.i,
                   (r.doc_id * 7 + r.i * 3 + j.j) % 256 AS v
            FROM r, generate_series(0, 24) j(j)
            WHERE j.j < r.dlen
        ), agg_pk AS (
            SELECT doc_id,
                   count(*) AS n_user,
                   string_agg(pk, '|' ORDER BY i) AS pk_seq
            FROM r GROUP BY doc_id
        ), agg_b AS (
            SELECT doc_id, sum(v) AS cs FROM b GROUP BY doc_id
        )
        SELECT a.doc_id,
               CAST(a.n_user AS INTEGER) AS n_user,
               a.pk_seq,
               CAST(c.cs AS BIGINT) AS data_checksum
        FROM agg_pk a JOIN agg_b c USING (doc_id)
    """,
    scale=(
        "KPL aggregated-record wire format (magic + protobuf key tables "
        "+ md5): user records pack with first-use-deduplicated key "
        "tables and unpack in order — the oracle pins the exact "
        "partition-key sequence and payload byte checksum. This is the "
        "de-aggregation every KCL consumer runs per wire record."
    ),
)
def kpl_roundtrip_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Formula user records → encode_aggregated → decode → parity."""
    from pyspark import cloudpickle

    import python_kinesis_streaming_spark.sources.kpl as _kpl

    cloudpickle.register_pickle_by_value(_kpl)
    enc, dec = _kpl.encode_aggregated, _kpl.decode_aggregated

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    # Class-table reduction (r15): record count is mod-3, partition keys
    # mod-4 and payload bytes mod-256 in doc_id → every audited column is
    # a pure function of g = doc_id mod 768 (lcm(3, 4, 256)).
    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for g in pdf["g"]:
                g = int(g)
                n = 2 + g % 3
                recs = [
                    (
                        f"pk{(g + i) % 4}",
                        bytes(
                            (g * 7 + i * 3 + j) % 256
                            for j in range(20 + i)
                        ),
                    )
                    for i in range(n)
                ]
                out = dec(enc(recs))
                rows.append(
                    {
                        "g": g,
                        "n_user": len(out),
                        "pk_seq": "|".join(
                            r["partition_key"] for r in out
                        ),
                        "data_checksum": sum(
                            b for r in out for b in r["data"]
                        ),
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    gcol = F.pmod(F.col("doc_id"), F.lit(768)).alias("g")
    audited = docs.select(gcol).distinct().mapInPandas(
        kernel,
        schema=(
            "g long, n_user int, pk_seq string, data_checksum long"
        ),
    )
    return (
        docs.select("doc_id", gcol)
        .join(F.broadcast(audited), "g")
        .select("doc_id", "n_user", "pk_seq", "data_checksum")
    )


@op(
    "media_au_roundtrip_stats",
    oracle="""
        WITH s AS (
            SELECT d.doc_id,
                   ((d.doc_id * 19 + i.i * 23) % 4096) - 2048 AS v
            FROM documents d, generate_series(0, 199) i(i)
        )
        SELECT doc_id,
               200 AS n_samples,
               8000 AS sample_rate,
               CAST(sum(v) AS BIGINT) AS s_sum,
               CAST(sum(v * v) AS BIGINT) AS s_sumsq
        FROM s GROUP BY doc_id
    """,
    scale=(
        "Sun AU (.snd) PCM16 big-endian leg: the kernel assembles the "
        "spec header + samples, decode_au walks it independently — "
        "endianness or offset bugs break the exact integer sums. Since "
        "r15: distinct mod-4096 class table + broadcast join back."
    ),
)
def media_au_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Formula PCM16 → spec-built AU bytes → decode_au → exact sums."""
    from pyspark import cloudpickle

    import python_kinesis_streaming_spark.llm.media_codecs as _media

    cloudpickle.register_pickle_by_value(_media)
    dec = _media.decode_au

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def kernel(batches):
        import struct as _st

        import numpy as np
        import pandas as pd

        i = np.arange(200)
        for pdf in batches:
            rows = []
            for g in pdf["g"]:
                g = int(g)
                mono = (((g * 19 + i * 23) % 4096) - 2048).astype(
                    np.int16
                )
                body = mono.astype(">i2").tobytes()
                blob = (
                    b".snd"
                    + _st.pack(">5I", 24, len(body), 3, 8000, 1)
                    + body
                )
                samples, rate = dec(blob)
                s = samples.astype(np.int64)
                rows.append(
                    {
                        "g": g,
                        "n_samples": int(s.shape[0]),
                        "sample_rate": int(rate),
                        "s_sum": int(s.sum()),
                        "s_sumsq": int((s * s).sum()),
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    # Class-table reduction (r15): samples are mod-4096 in doc_id →
    # audited columns are pure functions of g = doc_id mod 4096.
    gcol = F.pmod(F.col("doc_id"), F.lit(4096)).alias("g")
    audited = docs.select(gcol).distinct().mapInPandas(
        kernel,
        schema=(
            "g long, n_samples int, sample_rate int, s_sum long, "
            "s_sumsq long"
        ),
    )
    return (
        docs.select("doc_id", gcol)
        .join(F.broadcast(audited), "g")
        .select("doc_id", "n_samples", "sample_rate", "s_sum", "s_sumsq")
    )


@op(
    "avro_schema_evolution_agg",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(doc_id) AS BIGINT) AS sum_ids,
               floor(sum(n_chars) * 100.0 + 0.505) / 100.0 AS sum_chars,
               floor(count(*) * 2.5 * 100.0 + 0.505) / 100.0 AS sum_score
        FROM documents
    """,
    scale=(
        "Avro schema-resolution evolution, the mixed-generation-dump "
        "case: files written under the OLD schema (int ids, int chars, "
        "a legacy column) read under a NEW reader schema — int→long and "
        "int→double promotions, a defaulted new field, a dropped field "
        "— per the spec's resolution rules, each file decoded under its "
        "own writer schema. One task per file, one small final agg."
    ),
)
def avro_schema_evolution_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write OLD-schema files → read with NEW reader schema → aggregate."""
    from python_kinesis_streaming_spark.functions.rounding import rnd
    from python_kinesis_streaming_spark.sources.avro_codec import (
        read_avro,
        write_avro,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("int").alias("doc_id"),
        F.col("n_chars").cast("int").alias("n_chars"),
        F.lit("x").alias("legacy"),
    )
    out_dir = os.path.join(SCRATCH, f"promo_avro_evo_{sf_tag(sf_dir)}")
    os.makedirs(out_dir, exist_ok=True)
    write_avro(docs, out_dir).collect()
    reader = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "doc_id", "type": "long"},
            {"name": "n_chars", "type": "double"},
            {"name": "score", "type": "double", "default": 2.5},
        ],
    }
    back = read_avro(
        spark, os.path.join(out_dir, "part-*.avro"), reader_schema=reader
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        rnd(F.sum("n_chars"), 2).alias("sum_chars"),
        rnd(F.sum("score"), 2).alias("sum_score"),
    )


# ---------------------------------------------------------------------------
# §P.9 fourth wave — TIFF/EXIF/AIFF+mu-law decoders, image/audio transform
# seams, best-fit packing, KCL lease coordination, tokenizer eval, the
# per-frame video seam
# ---------------------------------------------------------------------------


@op(
    "media_tiff_decode_stats",
    oracle="""
        WITH px AS (
            SELECT d.doc_id,
                   (d.doc_id * 17 + y.y * 11 + x.x * 5) % 256 AS v
            FROM documents d,
                 generate_series(0, 5) y(y),
                 generate_series(0, 9) x(x)
        )
        SELECT doc_id,
               6 AS height,
               10 AS width,
               CAST(sum(v) AS BIGINT) AS sum_gray,
               CAST(sum(v) AS BIGINT) AS sum_wiz,
               CAST(sum(v) AS BIGINT) AS sum_lzw,
               CAST(60 * 255 + sum(v // 2) AS BIGINT) AS sum_palette
        FROM px GROUP BY doc_id
    """,
    scale=(
        "TIFF 6.0 decoder, four layouts per blob: multi-strip "
        "uncompressed gray (II), PackBits white-is-zero (MM), LZW with "
        "the horizontal-differencing predictor (II), and palette with a "
        "768-entry colormap. The kernel assembles spec bytes (IFD walk, "
        "strip offsets, 9-bit LZW frames) from the pixel formula; the "
        "oracle recomputes the sums from the same formula, so any "
        "byte-order / strip / predictor / LUT bug breaks the hash. Since "
        "r15: distinct mod-256 class table + broadcast join back."
    ),
)
def media_tiff_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Formula image → four spec-built TIFF variants → decode_tiff → sums."""
    from pyspark import cloudpickle

    import python_kinesis_streaming_spark.llm.media_codecs as _media

    cloudpickle.register_pickle_by_value(_media)
    dec = _media.decode_tiff

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def kernel(batches):
        import struct as _st

        import numpy as np
        import pandas as pd

        def build_tiff(bo, w, h, photometric, compression, strips, rps,
                       predictor=0, colormap=None):
            data = bytearray(b"II" if bo == "<" else b"MM")
            data += _st.pack(bo + "H", 42)
            data += b"\x00\x00\x00\x00"  # IFD offset, patched below
            offs, cnts = [], []
            for s in strips:
                offs.append(len(data))
                cnts.append(len(s))
                data += s
                if len(data) % 2:
                    data += b"\x00"
            entries = [
                (256, 3, [w]), (257, 3, [h]), (258, 3, [8]),
                (259, 3, [compression]), (262, 3, [photometric]),
                (273, 4, offs), (277, 3, [1]), (278, 3, [rps]),
                (279, 4, cnts),
            ]
            if predictor:
                entries.append((317, 3, [predictor]))
            if colormap is not None:
                entries.append((320, 3, list(colormap)))
            entries.sort()
            ifd_off = len(data)
            _st.pack_into(bo + "I", data, 4, ifd_off)
            fmtc = {3: "H", 4: "I"}
            heap_base = ifd_off + 2 + 12 * len(entries) + 4
            heap = bytearray()
            ifd = bytearray(_st.pack(bo + "H", len(entries)))
            for tag, typ, vals in entries:
                packed = _st.pack(bo + fmtc[typ] * len(vals), *vals)
                ent = _st.pack(bo + "HHI", tag, typ, len(vals))
                if len(packed) <= 4:
                    ent += packed + b"\x00" * (4 - len(packed))
                else:
                    ent += _st.pack(bo + "I", heap_base + len(heap))
                    heap += packed
                    if len(heap) % 2:
                        heap += b"\x00"
                ifd += ent
            ifd += b"\x00\x00\x00\x00"
            return bytes(data + ifd + heap)

        def packbits(b):
            out = bytearray()
            i, n = 0, len(b)
            while i < n:
                run = 1
                while i + run < n and b[i + run] == b[i] and run < 128:
                    run += 1
                if run >= 3:
                    out.append(257 - run)
                    out.append(b[i])
                    i += run
                    continue
                lit = bytearray()
                j = i
                while j < n and len(lit) < 128:
                    r2 = 1
                    while j + r2 < n and b[j + r2] == b[j] and r2 < 3:
                        r2 += 1
                    if r2 >= 3:
                        break
                    lit.append(b[j])
                    j += 1
                out.append(len(lit) - 1)
                out += lit
                i = j
            return bytes(out)

        def lzw_trivial(b):
            # spec-legal stream: CLEAR before every symbol keeps the
            # table at 258 entries so every code is 9 bits wide
            out = bytearray()
            acc = nbits = 0

            def emit(code):
                nonlocal acc, nbits
                acc = (acc << 9) | code
                nbits += 9
                while nbits >= 8:
                    out.append((acc >> (nbits - 8)) & 0xFF)
                    nbits -= 8

            for byte in b:
                emit(256)
                emit(byte)
            emit(257)
            if nbits:
                out.append((acc << (8 - nbits)) & 0xFF)
            return bytes(out)

        y = np.arange(6)[:, None]
        x = np.arange(10)[None, :]
        cmap = []
        for plane in range(3):
            for i in range(256):
                cmap.append(
                    [i * 257, (255 - i) * 257, (i // 2) * 257][plane]
                )
        for pdf in batches:
            rows = []
            for g in pdf["g"]:
                g = int(g)
                img = ((g * 17 + y * 11 + x * 5) % 256).astype(
                    np.uint8
                )
                raw = img.tobytes()
                # (a) two-strip uncompressed gray, little-endian
                t_gray = build_tiff(
                    "<", 10, 6, 1, 1, [raw[:40], raw[40:]], 4
                )
                # (b) PackBits white-is-zero, big-endian
                t_wiz = build_tiff(
                    ">", 10, 6, 0, 32773,
                    [packbits((255 - img.astype(np.int64)).astype(
                        np.uint8).tobytes())], 6,
                )
                # (c) LZW + horizontal-differencing predictor
                diff = img.astype(np.int64)
                diff[:, 1:] = (diff[:, 1:] - diff[:, :-1]) % 256
                t_lzw = build_tiff(
                    "<", 10, 6, 1, 5,
                    [lzw_trivial(diff.astype(np.uint8).tobytes())], 6,
                    predictor=2,
                )
                # (d) palette: LUT entry i -> (i, 255-i, i//2)
                t_pal = build_tiff(
                    "<", 10, 6, 3, 1, [raw], 6, colormap=cmap
                )
                dg = dec(t_gray)
                sums = [int(dg.astype(np.int64).sum())] + [
                    int(dec(t).astype(np.int64).sum())
                    for t in (t_wiz, t_lzw, t_pal)
                ]
                rows.append(
                    {
                        "g": g,
                        "height": int(dg.shape[0]),
                        "width": int(dg.shape[1]),
                        "sum_gray": sums[0],
                        "sum_wiz": sums[1],
                        "sum_lzw": sums[2],
                        "sum_palette": sums[3],
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    # Class-table reduction (r15): pixels are mod-256 in doc_id → all four
    # TIFF-variant sums are pure functions of g = doc_id mod 256; the
    # 4-variant build+decode runs ≤ min(N, 256) times at any corpus size.
    gcol = F.pmod(F.col("doc_id"), F.lit(256)).alias("g")
    audited = docs.select(gcol).distinct().mapInPandas(
        kernel,
        schema=(
            "g long, height int, width int, sum_gray long, "
            "sum_wiz long, sum_lzw long, sum_palette long"
        ),
    )
    return (
        docs.select("doc_id", gcol)
        .join(F.broadcast(audited), "g")
        .select(
            "doc_id", "height", "width", "sum_gray",
            "sum_wiz", "sum_lzw", "sum_palette",
        )
    )


@op(
    "media_exif_orientation_parity",
    oracle="""
        SELECT doc_id,
               CAST(doc_id % 8 + 1 AS INTEGER) AS orientation,
               CAST(CASE WHEN doc_id % 8 + 1 >= 5 THEN 12 ELSE 8 END
                    AS INTEGER) AS out_h,
               CAST(CASE WHEN doc_id % 8 + 1 >= 5 THEN 8 ELSE 12 END
                    AS INTEGER) AS out_w,
               TRUE AS sum_preserved
        FROM documents
    """,
    scale=(
        "EXIF orientation, end to end: the kernel splices a spec-built "
        "APP1 segment (Exif TIFF header, tag 274) into a real encoded "
        "JPEG, exif_orientation walks the IFD back out, and "
        "apply_orientation permutes the decoded pixels — dims follow "
        "the 8 orientation codes exactly and the pixel-sum invariance "
        "proves the permutation lost nothing. Since r15 the kernel runs over the distinct doc_id-mod-K class table and broadcast-joins verdicts back (guide 8): one tiny class shuffle, corpus side pure JVM, Python cost a bounded constant at any scale."
    ),
)
def media_exif_orientation_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """JPEG + spliced APP1 → exif_orientation → apply_orientation."""
    from pyspark import cloudpickle

    import python_kinesis_streaming_spark.llm.jpeg_codec as _jpeg

    cloudpickle.register_pickle_by_value(_jpeg)
    enc, dec = _jpeg.encode_jpeg, _jpeg.decode_jpeg
    get_o, apply_o = _jpeg.exif_orientation, _jpeg.apply_orientation

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def kernel(batches):
        import struct as _st

        import numpy as np
        import pandas as pd

        y = np.arange(8)[:, None, None]
        x = np.arange(12)[None, :, None]
        c = np.arange(3)[None, None, :]
        for pdf in batches:
            rows = []
            for g in pdf["g"]:
                g = int(g)
                img = (
                    (g * 13 + y * 7 + x * 3 + c * 19) % 256
                ).astype(np.uint8)
                want = g % 8 + 1
                tiff = (
                    b"II" + _st.pack("<HI", 42, 8)
                    + _st.pack("<H", 1)
                    + _st.pack("<HHIHH", 274, 3, 1, want, 0)
                    + _st.pack("<I", 0)
                )
                app1 = b"Exif\x00\x00" + tiff
                seg = b"\xff\xe1" + _st.pack(">H", 2 + len(app1)) + app1
                blob = enc(img, quality=90)
                blob = blob[:2] + seg + blob[2:]
                o = get_o(blob)
                arr = dec(blob)
                out = apply_o(arr, o)
                rows.append(
                    {
                        "g": g,
                        "orientation": int(o),
                        "out_h": int(out.shape[0]),
                        "out_w": int(out.shape[1]),
                        "sum_preserved": bool(
                            int(out.astype(np.int64).sum())
                            == int(arr.astype(np.int64).sum())
                        ),
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    # Class-table reduction (r15): pixels are mod-256 and the orientation
    # code mod-8 in doc_id (8 | 256) → audited columns are pure functions
    # of g = doc_id mod 256; the JPEG encode+decode+splice runs
    # ≤ min(N, 256) times at any corpus size.
    gcol = F.pmod(F.col("doc_id"), F.lit(256)).alias("g")
    audited = docs.select(gcol).distinct().mapInPandas(
        kernel,
        schema=(
            "g long, orientation int, out_h int, out_w int, "
            "sum_preserved boolean"
        ),
    )
    return (
        docs.select("doc_id", gcol)
        .join(F.broadcast(audited), "g")
        .select(
            "doc_id", "orientation", "out_h", "out_w", "sum_preserved"
        )
    )


@op(
    "media_aiff_au_mulaw_stats",
    oracle="""
        WITH be AS (
            SELECT d.doc_id,
                   ((d.doc_id * 3 + i.i * 7) % 2000) - 1000
                 + ((d.doc_id * 5 + i.i * 11) % 2000) - 1000 AS v
            FROM documents d, generate_series(0, 49) i(i)
        ), sowt AS (
            SELECT d.doc_id,
                   ((d.doc_id * 7 + i.i * 3) % 3000) - 1500 AS v
            FROM documents d, generate_series(0, 59) i(i)
        ), au AS (
            SELECT d.doc_id,
                   xor((d.doc_id * 7 + i.i * 13) % 256, 255) AS u
            FROM documents d, generate_series(0, 63) i(i)
        ), aud AS (
            SELECT doc_id,
                   CASE WHEN u >> 7 = 1
                        THEN -((((u & 15) * 8 + 132) << ((u >> 4) & 7))
                              - 132)
                        ELSE (((u & 15) * 8 + 132) << ((u >> 4) & 7))
                              - 132
                   END AS s
            FROM au
        ), b_agg AS (
            SELECT doc_id, CAST(sum(v) AS BIGINT) AS aiff_sum
            FROM be GROUP BY doc_id
        ), s_agg AS (
            SELECT doc_id, CAST(sum(v) AS BIGINT) AS sowt_sum
            FROM sowt GROUP BY doc_id
        ), a_agg AS (
            SELECT doc_id, CAST(sum(s) AS BIGINT) AS au_ulaw_sum
            FROM aud GROUP BY doc_id
        )
        SELECT b_agg.doc_id, aiff_sum, sowt_sum, au_ulaw_sum
        FROM b_agg
        JOIN s_agg USING (doc_id)
        JOIN a_agg USING (doc_id)
    """,
    scale=(
        "The remaining audio container legs in one op: plain AIFF "
        "(PCM16 big-endian, 80-bit extended-float rate), AIFF-C sowt "
        "(little-endian), and Sun AU G.711 mu-law — the oracle replays "
        "the mu-law expansion from the spec formula in SQL bit "
        "arithmetic, so a wrong table entry breaks the hash. Since r15: "
        "distinct mod-96000 class table (lcm of the three legs) + "
        "broadcast join back."
    ),
)
def media_aiff_au_mulaw_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spec-built AIFF / AIFF-C sowt / AU mu-law blobs → decoders → sums."""
    from pyspark import cloudpickle

    import python_kinesis_streaming_spark.llm.media_codecs as _media

    cloudpickle.register_pickle_by_value(_media)
    dec_aiff, dec_au = _media.decode_aiff, _media.decode_au

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def kernel(batches):
        import struct as _st

        import numpy as np
        import pandas as pd

        def f80(rate):
            e = rate.bit_length() - 1
            return _st.pack(">HQ", 16383 + e, rate << (63 - e))

        def build_aiff(samples, rate, sowt):
            n, ch = samples.shape
            if sowt:
                comm = (
                    _st.pack(">hIh", ch, n, 16) + f80(rate)
                    + b"sowt\x00\x00"
                )
                form_type = b"AIFC"
                body = samples.astype("<i2").tobytes()
            else:
                comm = _st.pack(">hIh", ch, n, 16) + f80(rate)
                form_type = b"AIFF"
                body = samples.astype(">i2").tobytes()
            ssnd = _st.pack(">II", 0, 0) + body
            chunks = b"COMM" + _st.pack(">I", len(comm)) + comm
            if len(comm) % 2:
                chunks += b"\x00"
            chunks += b"SSND" + _st.pack(">I", len(ssnd)) + ssnd
            if len(ssnd) % 2:
                chunks += b"\x00"
            return (
                b"FORM" + _st.pack(">I", 4 + len(chunks)) + form_type
                + chunks
            )

        i50 = np.arange(50)
        i60 = np.arange(60)
        i64 = np.arange(64)
        for pdf in batches:
            rows = []
            for g in pdf["g"]:
                g = int(g)
                ga, gs, gu = g % 2000, g % 3000, g % 256
                ch0 = ((ga * 3 + i50 * 7) % 2000) - 1000
                ch1 = ((ga * 5 + i50 * 11) % 2000) - 1000
                stereo = np.stack([ch0, ch1], axis=1).astype(np.int16)
                s_be, rate_be = dec_aiff(build_aiff(stereo, 8000, False))
                mono = (((gs * 7 + i60 * 3) % 3000) - 1500).astype(
                    np.int16
                )[:, None]
                s_lt, _ = dec_aiff(build_aiff(mono, 16000, True))
                codes = ((gu * 7 + i64 * 13) % 256).astype(np.uint8)
                au = (
                    b".snd"
                    + _st.pack(">5I", 24, len(codes), 1, 8000, 1)
                    + codes.tobytes()
                )
                s_au, _ = dec_au(au)
                assert rate_be == 8000
                rows.append(
                    {
                        "g": g,
                        "aiff_sum": int(s_be.astype(np.int64).sum()),
                        "sowt_sum": int(s_lt.astype(np.int64).sum()),
                        "au_ulaw_sum": int(s_au.astype(np.int64).sum()),
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    # Class-table reduction (r15): the three legs are mod-2000 / mod-3000
    # / mod-256 in doc_id, so every audited column is a pure function of
    # g = doc_id mod 96000 (lcm(2000, 3000, 256) = 2^8·3·5^3; each leg's
    # modulus divides it, so ga/gs/gu in the kernel equal doc_id mod that
    # leg's modulus exactly). The distinct class table is ≤ min(N, 96000)
    # rows — never more Python than the per-row kernel at any SF, a
    # bounded constant at corpus scale.
    gcol = F.pmod(F.col("doc_id"), F.lit(96000)).alias("g")
    audited = docs.select(gcol).distinct().mapInPandas(
        kernel,
        schema=(
            "g long, aiff_sum long, sowt_sum long, au_ulaw_sum long"
        ),
    )
    return (
        docs.select("doc_id", gcol)
        .join(F.broadcast(audited), "g")
        .select("doc_id", "aiff_sum", "sowt_sum", "au_ulaw_sum")
    )


@op(
    "image_transform_pipeline_checksum",
    oracle="""
        SELECT doc_id,
               12 AS height,
               12 AS width,
               CAST(9504 + 384 * (doc_id % 13) AS BIGINT) AS lb_sum,
               CAST(4032 + 384 * (doc_id % 13) AS BIGINT) AS bl_sum,
               CAST(1008 + 96 * (doc_id % 13) AS BIGINT) AS crop_sum
        FROM documents
    """,
    scale=(
        "The image_transform_frame seam end to end: PNG decode → "
        "letterbox (bilinear resize + pad) → PNG re-encode, then a "
        "second Arrow pass decodes the output payload. The input is a "
        "LINEAR ramp (8y + 12x + c), so the half-pixel bilinear sample "
        "positions give exact integer pixels and the oracle is literal "
        "arithmetic — a convention drift (align_corners, pad value, "
        "crop origin) breaks the hash. Since r15 both chained passes run "
        "over the distinct mod-13 class table + broadcast join back."
    ),
)
def image_transform_pipeline_checksum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ramp PNG → letterbox seam → decode output; plus direct bilinear
    8x12 and its 4x6 center crop, all against closed-form sums."""
    from pyspark import cloudpickle

    import python_kinesis_streaming_spark.llm.image_ops as _iops
    import python_kinesis_streaming_spark.llm.media_codecs as _media
    from python_kinesis_streaming_spark.llm.image_ops import (
        image_transform_frame,
    )

    cloudpickle.register_pickle_by_value(_iops)
    cloudpickle.register_pickle_by_value(_media)
    enc_png, dec_png = _media.encode_png, _media.decode_png
    bilinear, crop = _iops.resize_bilinear, _iops.center_crop

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    # Class-table reduction (r15): the ramp image depends on doc_id ONLY
    # through doc_id mod 13 (the oracle is literal arithmetic in
    # doc_id % 13), so the whole two-pass seam pipeline — PNG encode →
    # letterbox transform → PNG decode + direct bilinear/crop — runs over
    # the ≤ 13-row class table and the verdicts broadcast-join back.
    def make_png(batches):
        import numpy as np
        import pandas as pd

        y = np.arange(4)[:, None]
        x = np.arange(6)[None, :]
        for pdf in batches:
            rows = []
            for g in pdf["g"]:
                g = int(g)
                img = (8 * y + 12 * x + 4 * (g % 13)).astype(
                    np.uint8
                )
                rows.append(
                    {"g": g, "fmt": "png", "payload": enc_png(img)}
                )
            if rows:
                yield pd.DataFrame(rows)

    gcol = F.pmod(F.col("doc_id"), F.lit(13)).alias("g")
    blobs = docs.select(gcol).distinct().mapInPandas(
        make_png, schema="g long, fmt string, payload binary"
    )
    boxed = image_transform_frame(
        blobs, "g", "fmt", "payload", out_size=12, mode="letterbox"
    )

    def check(batches):
        import numpy as np
        import pandas as pd

        y = np.arange(4)[:, None]
        x = np.arange(6)[None, :]
        for pdf in batches:
            rows = []
            for rid, h, w, payload in zip(
                pdf["id"], pdf["height"], pdf["width"], pdf["payload"]
            ):
                g = int(rid)
                out = dec_png(bytes(payload))
                img = (8 * y + 12 * x + 4 * (g % 13)).astype(
                    np.uint8
                )
                bl = bilinear(img, 8, 12)
                rows.append(
                    {
                        "g": g,
                        "height": int(h),
                        "width": int(w),
                        "lb_sum": int(out.astype(np.int64).sum()),
                        "bl_sum": int(bl.astype(np.int64).sum()),
                        "crop_sum": int(
                            crop(bl, 4, 6).astype(np.int64).sum()
                        ),
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    audited = boxed.mapInPandas(
        check,
        schema=(
            "g long, height int, width int, lb_sum long, "
            "bl_sum long, crop_sum long"
        ),
    )
    return (
        docs.select("doc_id", gcol)
        .join(F.broadcast(audited), "g")
        .select(
            "doc_id", "height", "width", "lb_sum", "bl_sum", "crop_sum"
        )
    )


@op(
    "audio_standardize_roundtrip",
    oracle="""
        WITH m AS (
            SELECT d.doc_id, i.i AS i,
                   2 * ((d.doc_id * 3 + i.i * 5) % 500) - 500
                   + (i.i % 7) - 3 AS v
            FROM documents d, generate_series(0, 99) i(i)
        )
        SELECT doc_id,
               8000 AS sample_rate,
               60 AS n_samples,
               CAST(sum(CASE WHEN i BETWEEN 20 AND 79 THEN v ELSE 0 END)
                    AS BIGINT) AS trunc_sum,
               CAST(sum(v) AS BIGINT) AS mono_sum,
               CAST(sum(v) AS BIGINT) AS pad_sum
        FROM m GROUP BY doc_id
    """,
    scale=(
        "The audio_standardize_frame seam end to end: stereo WAV decode "
        "→ channel-mean mixdown → identity resample → center-truncate "
        "to 60 samples → WAV re-encode, with a second Arrow pass "
        "decoding the output payload. Channel pairs are built so the "
        "mean is an exact integer (no rounding leg), and fit_length's "
        "pad branch is checked kernel-side — the oracle replays the "
        "mixdown and the center window in SQL. Since r15 both chained "
        "passes run over the distinct mod-500 class table + broadcast "
        "join back."
    ),
)
def audio_standardize_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stereo formula WAV → standardize seam → decode output → sums."""
    from pyspark import cloudpickle

    import python_kinesis_streaming_spark.llm.audio_ops as _aops
    import python_kinesis_streaming_spark.llm.media_codecs as _media
    from python_kinesis_streaming_spark.llm.audio_ops import (
        audio_standardize_frame,
    )

    cloudpickle.register_pickle_by_value(_aops)
    cloudpickle.register_pickle_by_value(_media)
    dec_wav = _media.decode_wav
    mixdown, fit = _aops.mixdown_mono, _aops.fit_length

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    # Class-table reduction (r15): both channels depend on doc_id ONLY
    # through doc_id mod 500 (ch1 adds an i-only offset), so the whole
    # two-pass seam pipeline runs over the ≤ min(N, 500)-row class table
    # and the verdicts broadcast-join back.
    def make_wav(batches):
        import struct as _st

        import numpy as np
        import pandas as pd

        i = np.arange(100)
        for pdf in batches:
            rows = []
            for g in pdf["g"]:
                g = int(g)
                base = 2 * ((g * 3 + i * 5) % 500) - 500
                ch1 = base + 2 * ((i % 7) - 3)
                stereo = np.stack([base, ch1], axis=1).astype(np.int16)
                data = stereo.astype("<i2").tobytes()
                fmt = _st.pack("<HHIIHH", 1, 2, 8000, 8000 * 4, 4, 16)
                body = (
                    b"WAVE"
                    + b"fmt " + _st.pack("<I", len(fmt)) + fmt
                    + b"data" + _st.pack("<I", len(data)) + data
                )
                blob = b"RIFF" + _st.pack("<I", len(body)) + body
                rows.append({"g": g, "fmt": "wav", "payload": blob})
            if rows:
                yield pd.DataFrame(rows)

    gcol = F.pmod(F.col("doc_id"), F.lit(500)).alias("g")
    blobs = docs.select(gcol).distinct().mapInPandas(
        make_wav, schema="g long, fmt string, payload binary"
    )
    std = audio_standardize_frame(
        blobs, "g", "fmt", "payload",
        target_rate=8000, target_seconds=60 / 8000,
    )

    def check(batches):
        import numpy as np
        import pandas as pd

        i = np.arange(100)
        for pdf in batches:
            rows = []
            for rid, rate, n, payload in zip(
                pdf["id"], pdf["sample_rate"], pdf["n_samples"],
                pdf["payload"],
            ):
                g = int(rid)
                samples, _ = dec_wav(bytes(payload))
                trunc_sum = int(samples.astype(np.int64).sum())
                base = 2 * ((g * 3 + i * 5) % 500) - 500
                ch1 = base + 2 * ((i % 7) - 3)
                stereo = np.stack([base, ch1], axis=1).astype(np.int16)
                mono = mixdown(stereo)
                rows.append(
                    {
                        "g": g,
                        "sample_rate": int(rate),
                        "n_samples": int(n),
                        "trunc_sum": trunc_sum,
                        "mono_sum": int(mono.astype(np.int64).sum()),
                        "pad_sum": int(
                            fit(mono, 128).astype(np.int64).sum()
                        ),
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    audited = std.mapInPandas(
        check,
        schema=(
            "g long, sample_rate int, n_samples int, "
            "trunc_sum long, mono_sum long, pad_sum long"
        ),
    )
    return (
        docs.select("doc_id", gcol)
        .join(F.broadcast(audited), "g")
        .select(
            "doc_id", "sample_rate", "n_samples",
            "trunc_sum", "mono_sum", "pad_sum",
        )
    )


@op(
    "pack_best_fit_audit",
    oracle="""
        SELECT CAST(sum(len(list_filter(string_split(text, ' '),
                                        w -> length(w) > 0)))
                    AS BIGINT) AS total_tokens,
               TRUE AS seqs_within_cap,
               TRUE AS offsets_valid,
               TRUE AS chunks_conserved,
               TRUE AS seq_count_lbound,
               TRUE AS bfd_tightness
        FROM documents
    """,
    scale=(
        "pack_best_fit (best-fit-decreasing, bisect-kept residuals) "
        "under the same conservation invariants as pack_concat, plus "
        "the BFD-specific one: two bins in a bucket can never BOTH be "
        "half-empty (a new bin opens only when the chunk fits no "
        "residual), so each bucket has at most one underfull bin. One "
        "applyInPandas shuffle on the 4096-way bucket key; the audit "
        "aggregations reuse the packed frame."
    ),
)
def pack_best_fit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pack_best_fit(seq_len=32) invariants as an auditable single row."""
    from python_kinesis_streaming_spark.llm.packing import (
        _split_long_docs,
        pack_best_fit,
        with_token_lengths,
    )

    docs = load_table(spark, sf_dir, "documents")
    lengths = with_token_lengths(docs, "doc_id", "text")
    # packed is consumed by FOUR invariant aggregates (per_seq→seq_ok,
    # per_seq→per_bucket, off_ok, conserved) — uncached, each re-runs the
    # BFD bisect kernel; cache so the pack executes once (wave-18/22
    # cached-diamond pattern; r14 measured 2.91 → 1.72 s warm at sf0.01).
    # No unpersist: feeds the RETURNED lazy plan; MEMORY_AND_DISK + LRU
    # bounds a long session (VERDICT r14 item 7).
    packed = pack_best_fit(lengths, 32).cache()

    per_seq = packed.groupBy("seq_id").agg(
        F.sum("tokens_in_seq").alias("fill")
    )
    seq_ok = per_seq.agg(
        (F.max("fill") <= 32).alias("seqs_within_cap"),
        F.count(F.lit(1)).alias("n_seqs"),
    )
    per_bucket = per_seq.groupBy(
        (F.col("seq_id") / F.lit(1 << 40)).cast("long").alias("bucket")
    ).agg(
        F.sum(F.when(F.col("fill") * 2 <= 32, 1).otherwise(0)).alias(
            "underfull"
        )
    )
    bfd_ok = per_bucket.agg(
        (F.max("underfull") <= 1).alias("bfd_tightness")
    )
    off_ok = packed.agg(
        (
            (F.min("offset") >= 0)
            & (F.max(F.col("offset") + F.col("n_tokens")) <= 32)
        ).alias("offsets_valid"),
        F.sum("tokens_in_seq").cast("long").alias("total_tokens"),
    )
    chunks = _split_long_docs(lengths, 32)
    conserved = (
        packed.groupBy("doc_id", "chunk_idx")
        .agg(F.sum("tokens_in_seq").alias("got"))
        .join(chunks, ["doc_id", "chunk_idx"])
        .agg(
            F.min(F.col("got") == F.col("n_tokens")).alias(
                "chunks_conserved"
            )
        )
    )
    return (
        off_ok.crossJoin(seq_ok).crossJoin(bfd_ok).crossJoin(conserved)
        .select(
            "total_tokens",
            "seqs_within_cap",
            "offsets_valid",
            "chunks_conserved",
            (
                F.col("n_seqs")
                >= F.ceil(F.col("total_tokens") / F.lit(32.0))
            ).alias("seq_count_lbound"),
            "bfd_tightness",
        )
    )


@op(
    "kcl_lease_coordination_agg",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_records,
               TRUE AS no_dupes,
               4 AS n_shards_checkpointed,
               TRUE AS ownership_disjoint
        FROM events WHERE event_id % 7 = 0
    """,
    scale=(
        "The KCL lease protocol over the loopback stack: records go in "
        "through the producer sink, then two LeaseCoordinators sharing "
        "one lease table run coordinated_poll in sequence — the first "
        "drains its owned shards behind fenced checkpoints, the second "
        "takes/steals leases and resumes from those fences, so the "
        "union covers the stream exactly once and every shard ends "
        "checkpointed. Poll cycles are per-worker-process at scale; "
        "the fixture runs both workers in the driver to audit the "
        "protocol, with record-count parity as the oracle."
    ),
)
def kcl_lease_coordination_agg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """events subset → producer sink → two-worker coordinated poll →
    exactly-once union parity."""
    import json as _json

    from python_kinesis_streaming_spark.sources.kcl_leases import (
        LeaseCoordinator,
        LeaseTable,
        coordinated_poll,
    )
    from python_kinesis_streaming_spark.sources.kinesis_consumer import (
        KinesisClient,
    )
    from python_kinesis_streaming_spark.sources.kinesis_mock import (
        MockKinesisServer,
    )
    from python_kinesis_streaming_spark.sources.kinesis_sink import (
        write_batch_to_kinesis,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") % 7 == 0)
        .select(
            F.col("user_id").cast("string").alias("pk"),
            F.to_json(F.struct("event_id")).alias("data"),
        )
    )
    lease_dir = os.path.join(SCRATCH, f"promo_kcl_{sf_tag(sf_dir)}")
    _clear_scratch(lease_dir)
    with MockKinesisServer() as srv:
        client = KinesisClient(srv.endpoint_url)
        client.call(
            "CreateStream", {"StreamName": "promo-kcl", "ShardCount": 4}
        )
        write_batch_to_kinesis(
            ev, srv.endpoint_url, "promo-kcl", pk_col="pk",
            data_col="data",
        )
        table = LeaseTable(lease_dir)
        a = LeaseCoordinator(table, "worker-a", lease_ttl_s=60.0)
        b = LeaseCoordinator(table, "worker-b", lease_ttl_s=60.0)
        rec_a = coordinated_poll(client, "promo-kcl", a)
        rec_b = coordinated_poll(client, "promo-kcl", b)
        shard_ids = client.list_shard_ids("promo-kcl")
    ids_a = [
        _json.loads(r["data"].decode("utf-8"))["event_id"] for r in rec_a
    ]
    ids_b = [
        _json.loads(r["data"].decode("utf-8"))["event_id"] for r in rec_b
    ]
    all_ids = ids_a + ids_b
    checkpointed = sum(
        1
        for sid in shard_ids
        if (table.read(sid) or {}).get("checkpoint") is not None
    )
    return spark.createDataFrame(
        [
            (
                len(all_ids),
                len(set(all_ids)) == len(all_ids),
                checkpointed,
                len(set(ids_a) & set(ids_b)) == 0,
            )
        ],
        (
            "n_records long, no_dupes boolean, "
            "n_shards_checkpointed int, ownership_disjoint boolean"
        ),
    )


@op(
    "tokenizer_eval_report_audit",
    oracle="""
        SELECT t.tokenizer,
               CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs,
               TRUE AS tokens_positive,
               TRUE AS fertility_ge_1,
               TRUE AS util_in_range,
               TRUE AS single_rate_in_range
        FROM (SELECT unnest(['bpe', 'unigram']) AS tokenizer) t
        ORDER BY tokenizer
    """,
    scale=(
        "compare_tokenizers end to end: BPE and unigram trained on the "
        "same word-frequency evidence, both encodings scored by "
        "tokenizer_report. Trained vocabularies are not SQL-"
        "expressible, so the audit pins the metric INVARIANTS — every "
        "word yields at least one piece (fertility ≥ 1), distinct "
        "pieces never exceed the vocab, rates stay in [0, 1] — plus "
        "the exact doc count per tokenizer row. Training cost is the "
        "two trainers' (bounded merge/EM iterations); the report is "
        "two aggregations."
    ),
)
def tokenizer_eval_report_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """compare_tokenizers → invariant booleans per tokenizer row."""
    from python_kinesis_streaming_spark.llm.tokenizer_eval import (
        compare_tokenizers,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # num_merges pinned low: each BPE merge is one argmax collect +
    # shuffle round, so the default (vocab_size - n_chars) would run
    # ~50 rounds on this corpus for no extra coverage; the report is
    # collected inside the bounded-shuffle window (2 rows)
    with _bounded_shuffle(spark):
        rep = compare_tokenizers(
            docs, "text", vocab_size=120, num_merges=8, max_piece_len=4
        )
        rows = (
            rep.select(
                "tokenizer",
                F.col("n_docs").cast("long").alias("n_docs"),
                (F.col("total_tokens") > 0).alias("tokens_positive"),
                (F.col("fertility") >= 1.0).alias("fertility_ge_1"),
                (
                    (F.col("vocab_utilization") > 0)
                    & (F.col("vocab_utilization") <= 1.0)
                ).alias("util_in_range"),
                (
                    (F.col("single_char_rate") >= 0)
                    & (F.col("single_char_rate") <= 1.0)
                ).alias("single_rate_in_range"),
            )
            .orderBy("tokenizer")
            .collect()
        )
    return spark.createDataFrame(
        rows,
        (
            "tokenizer string, n_docs long, tokens_positive boolean, "
            "fertility_ge_1 boolean, util_in_range boolean, "
            "single_rate_in_range boolean"
        ),
    )


@op(
    "video_frames_seam_stats",
    oracle="""
        SELECT doc_id,
               3 AS n_frames_sampled,
               6 AS n_frames_total,
               CAST(6 AS BIGINT) AS sum_frame_index,
               CAST(240 AS BIGINT) AS sum_pts_ms,
               TRUE AS all_keyframes,
               CAST((doc_id * 7) % 256 + (doc_id * 7 + 62) % 256
                    + (doc_id * 7 + 124) % 256 AS BIGINT) AS sum_mean_px
        FROM documents
    """,
    scale=(
        "video_frames_frame — the per-frame feature seam — over "
        "spec-built 6-frame DIB AVIs with every_n=2, max_frames=3: "
        "sampling happens on the demux index before any decode, so the "
        "op pins the sampled indices (0, 2, 4), their 25fps timestamps "
        "and the decoded constant-frame means in one pass. Constant "
        "frames make mean_px an exact integer. Since r15: distinct "
        "mod-256 class table + broadcast join back; max_frames bounds "
        "decode work per class."
    ),
)
def video_frames_seam_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Formula DIB AVI → video_frames_frame(every_n=2, max_frames=3) →
    per-doc aggregate parity."""
    from pyspark import cloudpickle

    import python_kinesis_streaming_spark.llm.video_codecs as _video
    from python_kinesis_streaming_spark.llm.video_codecs import (
        video_frames_frame,
    )

    cloudpickle.register_pickle_by_value(_video)
    build = _video.build_avi

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    # Class-table reduction (r15): frame pixels are mod-256 in doc_id →
    # the whole mux → sampled-demux seam output is a pure function of
    # g = doc_id mod 256; per-class stats broadcast-join back.
    def make_avi(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for g in pdf["g"]:
                g = int(g)
                frames = [
                    np.full(
                        (4, 4, 3),
                        (g * 7 + fi * 31) % 256,
                        dtype=np.uint8,
                    )
                    for fi in range(6)
                ]
                rows.append(
                    {
                        "g": g,
                        "fmt": "avi",
                        "payload": build(frames, codec="DIB "),
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    gcol = F.pmod(F.col("doc_id"), F.lit(256)).alias("g")
    blobs = docs.select(gcol).distinct().mapInPandas(
        make_avi, schema="g long, fmt string, payload binary"
    )
    per_frame = video_frames_frame(
        blobs, "g", "fmt", "payload", every_n=2, max_frames=3
    )
    audited = per_frame.groupBy(F.col("id").alias("g")).agg(
        F.count(F.lit(1)).cast("int").alias("n_frames_sampled"),
        F.min("n_frames_total").cast("int").alias("n_frames_total"),
        F.sum("frame_index").cast("long").alias("sum_frame_index"),
        F.sum("pts_ms").cast("long").alias("sum_pts_ms"),
        F.min("keyframe").alias("all_keyframes"),
        F.sum("mean_px").cast("long").alias("sum_mean_px"),
    )
    return (
        docs.select("doc_id", gcol)
        .join(F.broadcast(audited), "g")
        .select(
            "doc_id", "n_frames_sampled", "n_frames_total",
            "sum_frame_index", "sum_pts_ms", "all_keyframes",
            "sum_mean_px",
        )
    )


@op(
    "kinesis_stream_source_agg",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_records,
               TRUE AS no_dupes,
               floor(sum(value) * 100.0 + 0.505) / 100.0 AS sum_value
        FROM events WHERE event_id % 11 = 0
    """,
    scale=(
        "The Structured Streaming rung of the ingest ladder: records "
        "go in through the producer sink, spark.readStream over the "
        "pkss_kinesis Python DataSource drains them as micro-batches "
        "into a memory sink, per-shard sequence numbers living in "
        "Spark's own offset WAL. Record-count + value parity and "
        "shard+sequence uniqueness prove exactly-once across batches. "
        "The SimpleDataSourceStreamReader prefetches on the driver "
        "(Spark's documented pattern for Python sources); the JVM DSv2 "
        "facade is the high-throughput step-up with the same plan "
        "surface."
    ),
)
def kinesis_stream_source_agg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """events subset → producer sink → readStream(pkss_kinesis) →
    memory sink → exactly-once aggregate parity."""
    from python_kinesis_streaming_spark.functions.rounding import rnd
    from python_kinesis_streaming_spark.sources.kinesis_mock import (
        MockKinesisServer,
    )
    from python_kinesis_streaming_spark.sources.kinesis_sink import (
        write_batch_to_kinesis,
    )
    from python_kinesis_streaming_spark.sources.kinesis_stream_source import (
        read_kinesis_stream,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") % 11 == 0)
        .select(
            F.col("user_id").cast("string").alias("pk"),
            F.to_json(F.struct("event_id", "value")).alias("data"),
        )
    )
    # a fresh mock endpoint per invocation: stale checkpoints would
    # point at a dead server, so checkpoint + memory table reset together
    cp_dir = os.path.join(SCRATCH, f"promo_kss_cp_{sf_tag(sf_dir)}")
    _clear_scratch(cp_dir)
    with MockKinesisServer() as srv:
        from python_kinesis_streaming_spark.sources.kinesis_consumer import (
            KinesisClient,
        )

        client = KinesisClient(srv.endpoint_url)
        client.call(
            "CreateStream", {"StreamName": "promo-kss", "ShardCount": 4}
        )
        write_batch_to_kinesis(
            ev, srv.endpoint_url, "promo-kss", pk_col="pk",
            data_col="data",
        )
        stream = read_kinesis_stream(spark, srv.endpoint_url, "promo-kss")
        with _bounded_shuffle(spark):
            q = (
                stream.writeStream.format("memory")
                .queryName("promo_kss_mem")
                .option("checkpointLocation", cp_dir)
                .start()
            )
            try:
                q.processAllAvailable()
                got = spark.table("promo_kss_mem")
                parsed = got.select(
                    "shard_id",
                    "sequence_number",
                    F.from_json(
                        F.decode("data", "utf-8"),
                        "event_id long, value double",
                    ).alias("r"),
                )
                row = parsed.agg(
                    F.count(F.lit(1)).alias("n_records"),
                    (
                        F.countDistinct("shard_id", "sequence_number")
                        == F.count(F.lit(1))
                    ).alias("no_dupes"),
                    rnd(F.sum("r.value"), 2).alias("sum_value"),
                ).collect()[0]
            finally:
                q.stop()
    return spark.createDataFrame(
        [(row["n_records"], row["no_dupes"], row["sum_value"])],
        "n_records long, no_dupes boolean, sum_value double",
    )


@op(
    "kinesis_efo_fanout_agg",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_records_a,
               CAST(count(*) AS BIGINT) AS n_records_b,
               TRUE AS fanout_independent,
               TRUE AS no_dupes
        FROM events WHERE event_id % 13 = 0
    """,
    scale=(
        "Enhanced fan-out, the property that MAKES it fan-out: two "
        "registered consumers each open push subscriptions "
        "(SubscribeToShard eventstream frames) and each independently "
        "drains the FULL stream — same records to both, no shared "
        "iterator state — which the oracle pins as equal counts and an "
        "identical id multiset. Per real deployment one consumer is one "
        "application; subscriptions are per-shard pushes, so throughput "
        "scales with shards, not polls."
    ),
)
def kinesis_efo_fanout_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events subset → producer sink → two EFO consumers → both drain
    the full stream independently."""
    import json as _json

    from python_kinesis_streaming_spark.sources.kinesis_consumer import (
        KinesisClient,
    )
    from python_kinesis_streaming_spark.sources.kinesis_efo import (
        efo_poll_stream,
        register_consumer,
    )
    from python_kinesis_streaming_spark.sources.kinesis_mock import (
        MockKinesisServer,
    )
    from python_kinesis_streaming_spark.sources.kinesis_sink import (
        write_batch_to_kinesis,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") % 13 == 0)
        .select(
            F.col("user_id").cast("string").alias("pk"),
            F.to_json(F.struct("event_id")).alias("data"),
        )
    )
    with MockKinesisServer() as srv:
        client = KinesisClient(srv.endpoint_url)
        client.call(
            "CreateStream", {"StreamName": "promo-efo", "ShardCount": 4}
        )
        write_batch_to_kinesis(
            ev, srv.endpoint_url, "promo-efo", pk_col="pk",
            data_col="data",
        )
        arn_a = register_consumer(client, "promo-efo", "app-a")
        arn_b = register_consumer(client, "promo-efo", "app-b")
        rec_a = efo_poll_stream(client, "promo-efo", arn_a)
        rec_b = efo_poll_stream(client, "promo-efo", arn_b)
    ids_a = sorted(
        _json.loads(r["data"].decode("utf-8"))["event_id"] for r in rec_a
    )
    ids_b = sorted(
        _json.loads(r["data"].decode("utf-8"))["event_id"] for r in rec_b
    )
    return spark.createDataFrame(
        [
            (
                len(ids_a),
                len(ids_b),
                ids_a == ids_b,
                len(set(ids_a)) == len(ids_a),
            )
        ],
        (
            "n_records_a long, n_records_b long, "
            "fanout_independent boolean, no_dupes boolean"
        ),
    )


@op(
    "lakehouse_compact_audit",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               TRUE AS files_reduced,
               TRUE AS dvs_folded,
               TRUE AS history_intact
        FROM documents WHERE n_chars % 5 <> 0
    """,
    scale=(
        "Small-file compaction (Delta OPTIMIZE shape): 8 DV'd files "
        "first-fit-decreasing packed and rewritten under a byte "
        "target, deletion vectors folded in, removes+adds in one "
        "fenced commit. Survivor parity proves no row moved wrong; "
        "the booleans pin fewer live files, zero remaining DVs, and "
        "an intact pre-compaction version. Driver work is bounded by "
        "file count; each group is one right-sized write task."
    ),
)
def lakehouse_compact_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed 8 files → DV delete → compact → parity + invariants."""
    from python_kinesis_streaming_spark.sources.lakehouse import (
        compact_small_files,
        delete_where,
        read_table,
    )
    from python_kinesis_streaming_spark.sources.snapshots import (
        _replay_state,
        write_snapshot,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    tdir = os.path.join(SCRATCH, f"promo_compact_{sf_tag(sf_dir)}")
    _clear_scratch(tdir)
    write_snapshot(docs.repartition(8, "doc_id"), tdir, message="seed")
    delete_where(spark, tdir, "n_chars % 5 = 0", mode="dv")
    n_before = len(_replay_state(tdir, None).live)
    res = compact_small_files(spark, tdir, target_bytes=1 << 20)
    st = _replay_state(tdir, None)
    old = _replay_state(tdir, res["version"] - 1)
    return read_table(spark, tdir).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.lit(len(st.live) < n_before).alias("files_reduced"),
        F.lit(len(st.dvs) == 0).alias("dvs_folded"),
        F.lit(len(old.live) == n_before).alias("history_intact"),
    )


@op(
    "lakehouse_schema_evolution_agg",
    oracle="""
        WITH old AS (
            SELECT doc_id, n_chars, 0.5 AS quality FROM documents
        ), new AS (
            SELECT doc_id + 1000000 AS doc_id,
                   CAST(doc_id % 100 AS BIGINT) AS n_chars,
                   (doc_id % 7) / 10.0 AS quality
            FROM documents WHERE doc_id % 3 = 0
        ), unioned AS (
            SELECT * FROM old UNION ALL SELECT * FROM new
        )
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               floor(sum(quality) * 100.0 + 0.505) / 100.0 AS sum_quality,
               TRUE AS dropped_gone,
               TRUE AS time_travel_has_lang
        FROM unioned
    """,
    scale=(
        "Log-only schema evolution: add_column with a default "
        "back-fills OLD files at read time from metadata alone (no "
        "rewrite — the fill is a literal projection per file era), "
        "new rows arrive through the merge insert leg under the "
        "evolved schema, and drop_column is logical (time travel "
        "still sees the dropped column). The oracle replays the "
        "two-era union in SQL; at 100 TB this is the only evolution "
        "mechanism that doesn't rewrite the table."
    ),
)
def lakehouse_schema_evolution_agg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seed → add_column(default) → insert new-era rows → drop_column →
    read both eras through one scan."""
    from python_kinesis_streaming_spark.functions.rounding import rnd
    from python_kinesis_streaming_spark.sources.lakehouse import (
        merge_upsert,
        read_table,
    )
    from python_kinesis_streaming_spark.sources.snapshots import (
        write_snapshot,
    )
    from python_kinesis_streaming_spark.sources.table_schema import (
        add_column,
        drop_column,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    from python_kinesis_streaming_spark.sources.snapshots import (
        current_version,
    )
    from python_kinesis_streaming_spark.sources.table_schema import (
        table_schema,
    )

    tdir = os.path.join(SCRATCH, f"promo_schema_evo_{sf_tag(sf_dir)}")
    _clear_scratch(tdir)
    newbies = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 3 == 0)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.lit("xx").alias("lang"),
            (F.col("doc_id") % 100).cast("long").alias("n_chars"),
            ((F.col("doc_id") % 7) / 10.0).alias("quality"),
        )
    )
    # the builder collects (merge_upsert's dup-check and prune aggs):
    # bound its shuffles like the other eager promotion ops
    with _bounded_shuffle(spark):
        write_snapshot(docs.repartition(4, "doc_id"), tdir, message="seed")
        add_column(tdir, "quality", "double", default=0.5)
        merge_upsert(spark, tdir, newbies, ["doc_id"])
        drop_column(tdir, "lang")
    cur = read_table(spark, tdir)
    # time-travel column check from the commit log alone — no scan plan
    old_struct, _ = table_schema(tdir, current_version(tdir) - 1)
    return cur.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        rnd(F.sum("quality"), 2).alias("sum_quality"),
        F.lit("lang" not in cur.columns).alias("dropped_gone"),
        F.lit("lang" in old_struct.fieldNames()).alias(
            "time_travel_has_lang"
        ),
    )


@op(
    "txn_exactly_once_agg",
    oracle="""
        SELECT CAST((SELECT count(*) FROM documents WHERE doc_id % 2 = 0)
                    + (SELECT count(*) FROM documents WHERE doc_id % 2 = 1)
                    AS BIGINT) AS n_rows,
               TRUE AS dup_skipped,
               TRUE AS rebase_ok,
               CAST(1 AS BIGINT) AS last_batch
    """,
    scale=(
        "The exactly-once writer protocol: append_batch stages data "
        "files, then commits an (app, batch) txn action — a replayed "
        "batch id returns None and removes its staged files, so "
        "foreachBatch retries never double-append; commit_with_rebase "
        "replays a stale-based commit over DISJOINT concurrent commits "
        "instead of failing it. Both are O(log tail) driver-side; data "
        "volume only flows through the staged parquet writes."
    ),
)
def txn_exactly_once_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """append batch 0, replay batch 0 (skipped), append batch 1,
    rebase a stale commit → counts + protocol booleans."""
    from python_kinesis_streaming_spark.sources.snapshots import (
        current_version,
        read_snapshot,
    )
    from python_kinesis_streaming_spark.sources.txn import (
        append_batch,
        commit_with_rebase,
        last_committed_batch,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    tdir = os.path.join(SCRATCH, f"promo_txn_{sf_tag(sf_dir)}")
    _clear_scratch(tdir)
    even = docs.where(F.col("doc_id") % 2 == 0)
    odd = docs.where(F.col("doc_id") % 2 == 1)
    v0 = append_batch(even, tdir, "loader", 0)
    replay = append_batch(even, tdir, "loader", 0)  # must be skipped
    append_batch(odd, tdir, "loader", 1)
    # stale-based but disjoint commit: rebases instead of failing
    stale_base = v0
    v_rebase = commit_with_rebase(
        tdir,
        [{"action": "txn", "app": "rebase-probe", "batch": 0}],
        base=stale_base,
        message="stale disjoint commit",
    )
    return read_snapshot(spark, tdir).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(replay is None).alias("dup_skipped"),
        F.lit(v_rebase == current_version(tdir)).alias("rebase_ok"),
        F.lit(last_committed_batch(tdir, "loader")).cast("long").alias(
            "last_batch"
        ),
    )


@op(
    "sim_ann_ivf",
    oracle="""
        WITH c AS (
            SELECT j.j,
                   list_transform(
                       generate_series(0, 63),
                       d -> (((j.j * 37 + d * 11) % 19) - 9) / 9.0
                   ) AS cv
            FROM generate_series(0, 15) j(j)
        ), e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), dist AS (
            SELECT e.vec_id, c.j,
                   floor(list_sum(list_transform(
                       generate_series(1, 64),
                       i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])
                   )) * 1000000.0 + 0.505) / 1000000.0 AS d2
            FROM e, c
        ), ranked AS (
            SELECT vec_id, j,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY d2, j
                   ) AS rk
            FROM dist
        ), assign AS (
            SELECT vec_id, j AS bucket FROM ranked WHERE rk = 1
        ), probes AS (
            SELECT vec_id AS qid, j AS bucket FROM ranked
            WHERE rk <= 2 AND vec_id % 50 = 0
        ), cand AS (
            SELECT p.qid, a.vec_id,
                   floor(list_cosine_similarity(eq.v, ev.v)
                         * 10000.0 + 0.505) / 10000.0 AS sim
            FROM probes p
            JOIN assign a ON a.bucket = p.bucket
            JOIN e eq ON eq.vec_id = p.qid
            JOIN e ev ON ev.vec_id = a.vec_id
            WHERE a.vec_id <> p.qid
        ), topk AS (
            SELECT qid, vec_id, sim,
                   row_number() OVER (
                       PARTITION BY qid ORDER BY sim DESC, vec_id
                   ) AS rank
            FROM cand
        )
        SELECT CAST(qid AS BIGINT) AS qid,
               CAST(rank AS INTEGER) AS rank,
               CAST(vec_id AS BIGINT) AS vec_id,
               sim
        FROM topk WHERE rank <= 5
    """,
    scale=(
        "IVF-style ANN, the coarse-quantizer scale path the LSH op's "
        "docstring promises: 16 deterministic hyper-grid centroids, "
        "JVM-only assignment (argmin over a literal centroid array — "
        "map-side, zero shuffle), queries probe their 2 nearest lists "
        "and scan ONLY those candidates. At scale the centroid count "
        "grows ~sqrt(N) and assignment stays a broadcast argmin; the "
        "probe join shuffles candidates, not the corpus. Distances "
        "are rounded at 1e-6 on BOTH sides before the argmin so a "
        "ULP difference between engines cannot flip a bucket."
    ),
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Formula-centroid IVF: assign → probe 2 lists → top-5 cosine."""
    from python_kinesis_streaming_spark.functions.rounding import rnd
    from python_kinesis_streaming_spark.functions.vectors import cosine
    from python_kinesis_streaming_spark.llm.similarity import ivf_centroid_dists
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    tagged = emb.withColumn("ds", ivf_centroid_dists(F.col("v")))
    assigned = tagged.select(
        "vec_id", "v", F.array_min("ds").getField("j").alias("bucket")
    )
    probes = (
        tagged.where(F.col("vec_id") % 50 == 0)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("v").alias("qv"),
            F.explode(
                F.slice(F.array_sort("ds"), 1, 2).getField("j")
            ).alias("bucket"),
        )
    )
    cand = (
        probes.join(assigned, "bucket")
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            rnd(cosine(F.col("qv"), F.col("v")), 4).alias("sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("sim").desc(), F.col("vec_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select(
            F.col("qid").cast("long"),
            F.col("rank").cast("int"),
            F.col("vec_id").cast("long"),
            "sim",
        )
    )

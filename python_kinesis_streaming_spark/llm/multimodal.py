"""Multimodal-column operators (SURVEY §2.11 / north-star).

The engine's multimodal model: media payloads are opaque ``binary`` columns
with a typed metadata struct alongside; decode / feature-extraction runs as
Arrow-batched Python over ``mapInPandas``. The heavy media libraries (PIL,
torchaudio, ffmpeg, ...) are NOT in this container, so the GRADED op below
keeps its clearly-marked deterministic stand-in kernel (its oracle is
frozen); REAL decoders for the formats stdlib+numpy can handle — full PNG
(all five scanline filters), 24-bit BMP, PCM16 WAV — live in
``llm/media_codecs.py`` behind the identical mapInPandas seam
(``media_features_frame``), tested incl. real-AWS-SDK-independent
hand-computed filter cases and a bare-session executor-delivery check.

Scale notes (100 TB):
- Binary payloads ride the scan as plain columns: column pruning drops them
  for metadata-only queries (the common case) — never pay for bytes you
  don't decode.
- ``mapInPandas`` decode is partition-local (no shuffle) and batch-sized by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` — tune down for large
  frames so a batch of decoded images fits executor memory.
- Real pipelines partition by (modality, size-bucket) so one straggler
  video doesn't skew a task; metadata struct carries enough to route
  without touching bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from python_kinesis_streaming_spark.functions.rounding import rnd
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table


@op(
    "multimodal_cols",
    oracle="""
        SELECT e.label,
               count(*) AS n,
               floor((avg(d.n_chars)) * 100.0 + 0.505) / 100.0 AS avg_chars,
               floor((avg(e.embedding[1])) * 10000.0 + 0.505) / 10000.0 AS avg_e0,
               floor((avg(e.embedding[64])) * 10000.0 + 0.505) / 10000.0 AS avg_e63
        FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
        GROUP BY e.label
    """,
    scale=(
        "array<float> columns flow through join+agg untouched (no "
        "serialization cliff); element access is a codegen expression. "
        "The join key (vec_id=doc_id) co-partitions both sides in one "
        "shuffle — or zero with bucketed tables."
    ),
)
def multimodal_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text + vector columns joined and aggregated together, arrays intact."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    joined = emb.join(docs, emb.vec_id == docs.doc_id)
    return joined.groupBy("label").agg(
        F.count("*").alias("n"),
        rnd(F.avg("n_chars"), 2).alias("avg_chars"),
        rnd(F.avg(F.col("embedding")[0].cast("double")), 4).alias("avg_e0"),
        rnd(F.avg(F.col("embedding")[63].cast("double")), 4).alias("avg_e63"),
    )


@op(
    "multimodal_decode",
    # SQL oracle: the stand-in kernel is deterministic byte arithmetic over
    # the utf-8 payload, and the fixture text is pure ASCII (verified) — so
    # byte values equal code points and the whole decode is expressible as
    # per-character list ops in DuckDB. A real media decoder would drop back
    # to the rows-only check.
    oracle="""
        SELECT doc_id,
               'text/plain' AS modality,
               octet_length(encode(text)) AS n_bytes,
               CAST(list_aggregate(
                        list_transform(string_split(text, ''), c -> unicode(c)),
                        'sum') % 2147483647 AS BIGINT) AS checksum,
               array_to_string(
                   list_transform(string_split(substr(text, 1, 4), ''),
                                  c -> CAST(unicode(c) AS VARCHAR)),
                   ',') AS header
        FROM documents
    """,
    scale=(
        "The multimodal decode path: binary column + metadata struct in, "
        "fixed-schema features out via Arrow-batched mapInPandas. Swap the "
        "stand-in kernel for PIL/ffmpeg per modality; everything else "
        "(schema, batching, partition-locality) is the production shape."
    ),
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode/feature-extract over an opaque binary payload column.

    Payload: utf-8 bytes of ``text`` standing in for an image blob, with a
    ``meta`` struct (modality, n_bytes). The "decode" kernel computes
    deterministic features (byte length, bytes-sum checksum, 4-byte header
    as float features) — a stand-in for image decode + resize + embed,
    which would need media libs this container doesn't ship.
    """
    docs = load_table(spark, sf_dir, "documents")
    payload = docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("modality"),
            F.octet_length(F.encode("text", "utf-8")).alias("n_bytes"),
        ).alias("meta"),
    )

    def decode_batches(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            payloads = pdf["payload"]
            # Whole-batch vectorized feature extraction: one flat uint8 view
            # over every payload in the Arrow batch, per-row segment sums via
            # reduceat — no per-row Python in the hot path. (A REAL decoder —
            # PIL/ffmpeg — would sit here as the per-row seam; those libs are
            # not in this container.)
            lens = np.fromiter((len(b) for b in payloads), dtype=np.int64, count=len(pdf))
            flat = np.frombuffer(b"".join(payloads), dtype=np.uint8).astype(np.int64)
            offsets = np.zeros(len(pdf), dtype=np.int64)
            np.cumsum(lens[:-1], out=offsets[1:])
            if flat.size:
                seg_sums = np.add.reduceat(flat, np.minimum(offsets, flat.size - 1))
            else:
                seg_sums = np.zeros(len(pdf), dtype=np.int64)
            checksum = np.where(lens > 0, seg_sums % 2_147_483_647, 0)
            # First-4-bytes header, vectorized gather + numpy string concat;
            # emitted as 'b0,b1,b2,b3' string (top-level array result columns
            # crash the driver's canonicalizer — r1 agg_collect FAIL class).
            pad = np.concatenate([flat, np.zeros(4, dtype=np.int64)])
            idx = offsets[:, None] + np.arange(4)[None, :]
            vals = pad[np.minimum(idx, pad.size - 1)].astype("U3")
            header = vals[:, 0]
            for j in range(1, 4):
                header = np.char.add(np.char.add(header, ","), vals[:, j])
            short = np.nonzero(lens < 4)[0]
            for i in short:  # rare path: payloads under 4 bytes
                header[i] = ",".join(
                    str(int(v)) for v in flat[offsets[i] : offsets[i] + lens[i]]
                )
            modality = pd.DataFrame(pdf["meta"].tolist())["modality"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "modality": modality.to_numpy(),
                    "n_bytes": lens.astype(np.int32),
                    "checksum": checksum,
                    "header": header,
                }
            )

    out_schema = (
        "doc_id long, modality string, n_bytes int, checksum long, "
        "header string"
    )
    return payload.mapInPandas(decode_batches, out_schema)


@op(
    "multimodal_frame_sample",
    oracle="""
        WITH v AS (
            SELECT doc_id,
                   CAST(ceil(strlen(text) / 64.0) AS BIGINT) AS n_frames
            FROM documents
        ),
        f AS (
            SELECT doc_id, n_frames, s.i AS frame_idx
            FROM v, unnest(range(0, n_frames, 4)) AS s(i)
        )
        SELECT doc_id, n_frames,
               count(*) AS n_sampled,
               CAST(sum(frame_idx) * 64 AS BIGINT) AS sampled_offset_sum
        FROM f GROUP BY doc_id, n_frames
    """,
    scale=(
        "Video frame-sampling plumbing: payload length → frame count "
        "(fixed 64-byte 'frames' standing in for codec frames) → every "
        "4th frame index generated JVM-side (sequence + explode, no "
        "Python) → per-doc sample manifest. At 100 TB the explode feeds "
        "the decode stage's mapInPandas directly, so frames stream "
        "partition-locally without materializing the full frame list; "
        "metadata-only queries never touch payload bytes."
    ),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample every 4th fixed-size frame of each payload; emit the per-doc
    sampling manifest (frame count, sampled count, byte-offset checksum).

    DuckDB ``strlen`` counts BYTES, so the Spark side measures the same
    utf-8 payload via ``octet_length(encode(text))`` — identical numbers
    for any content.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_frames = F.ceil(
        F.octet_length(F.encode("text", "utf-8")) / F.lit(64.0)
    ).cast("long")
    frames = docs.select(
        "doc_id",
        n_frames.alias("n_frames"),
        F.explode(
            F.sequence(F.lit(0).cast("long"), n_frames - 1, F.lit(4).cast("long"))
        ).alias("frame_idx"),
    )
    return frames.groupBy("doc_id", "n_frames").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        (F.sum("frame_idx") * 64).alias("sampled_offset_sum"),
    )


@op(
    "multimodal_phash_bands",
    # Stand-in pHash over the utf-8 payload (pure-ASCII fixture ⇒ byte ==
    # code point, same trick as multimodal_decode): bit_j compares block j's
    # mean byte against the whole-payload mean — in cross-multiplied integer
    # form (bsum*L > total*blen), so both engines compute identical bits.
    oracle="""
        WITH codes AS (
            SELECT doc_id,
                   list_transform(string_split(text, ''), c -> unicode(c)) AS cs,
                   CAST(octet_length(encode(text)) AS BIGINT) AS L
            FROM documents
            WHERE octet_length(encode(text)) >= 64
        ),
        tot AS (
            SELECT doc_id, cs, L,
                   CAST(list_aggregate(cs, 'sum') AS BIGINT) AS total
            FROM codes
        ),
        blocks AS (
            SELECT doc_id, L, total, j.j AS j,
                   CAST(list_aggregate(
                       cs[CAST((j.j * L) // 64 AS BIGINT) + 1 :
                          CAST(((j.j + 1) * L) // 64 AS BIGINT)],
                       'sum') AS BIGINT) AS bsum,
                   CAST(((j.j + 1) * L) // 64 - (j.j * L) // 64 AS BIGINT)
                       AS blen
            FROM tot, unnest(range(64)) AS j(j)
        ),
        bands AS (
            SELECT doc_id, CAST(j // 16 AS BIGINT) AS band,
                   CAST(sum(CAST(bsum * 64 * L > total * 64 * blen AS BIGINT)
                            << (j % 16)) AS BIGINT) AS bkey
            FROM blocks GROUP BY doc_id, j // 16
        ),
        buckets AS (
            SELECT band, bkey, count(*) AS sz FROM bands GROUP BY band, bkey
        )
        SELECT band,
               CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(max(sz) AS BIGINT) AS max_bucket,
               CAST(sum((sz * (sz - 1)) // 2) AS BIGINT) AS n_candidate_pairs
        FROM buckets GROUP BY band
    """,
    scale=(
        "Perceptual-hash near-dup blocking for media payloads: a 64-bit "
        "block-mean pHash per payload (the real kernel would be "
        "DCT-of-thumbnail; the block-mean stand-in keeps identical "
        "plumbing), split into 4 x 16-bit LSH bands — Hamming-close "
        "images collide in >=1 band, so candidate generation is 4 "
        "equi-join-able bucket keys instead of an all-pairs scan "
        "(identical banding math to dedup_near_minhash). The kernel is "
        "one vectorized numpy pass per Arrow batch (reduceat segment "
        "sums, no per-row Python); the emitted per-band bucket histogram "
        "is the skew audit you run BEFORE launching the pair join at "
        "100 TB. Integer cross-multiplied bit tests — engine-exact."
    ),
)
def multimodal_phash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit block-mean pHash per payload → 4 LSH bands → per-band bucket
    stats (bucket count, largest bucket, candidate-pair count)."""
    docs = load_table(spark, sf_dir, "documents")
    payload = docs.where(
        F.octet_length(F.encode("text", "utf-8")) >= 64
    ).select("doc_id", F.encode("text", "utf-8").alias("payload"))

    def phash_batches(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            payloads = pdf["payload"]
            n = len(pdf)
            lens = np.fromiter((len(b) for b in payloads), dtype=np.int64, count=n)
            flat = np.frombuffer(b"".join(payloads), dtype=np.uint8).astype(np.int64)
            offsets = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[:-1], out=offsets[1:])
            totals = np.add.reduceat(flat, offsets)
            j = np.arange(64, dtype=np.int64)
            starts_rel = (j[None, :] * lens[:, None]) // 64
            ends_rel = ((j[None, :] + 1) * lens[:, None]) // 64
            blens = ends_rel - starts_rel
            idx = (offsets[:, None] + starts_rel).ravel()
            bsums = np.add.reduceat(flat, idx).reshape(n, 64)
            bits = bsums * lens[:, None] > totals[:, None] * blens
            weights = (1 << np.arange(16, dtype=np.int64))
            bands = bits.reshape(n, 4, 16) @ weights
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "b0": bands[:, 0],
                    "b1": bands[:, 1],
                    "b2": bands[:, 2],
                    "b3": bands[:, 3],
                }
            )

    hashed = payload.mapInPandas(
        phash_batches, "doc_id long, b0 long, b1 long, b2 long, b3 long"
    )
    banded = hashed.select(
        F.expr(
            "stack(4, CAST(0 AS BIGINT), b0, CAST(1 AS BIGINT), b1, "
            "CAST(2 AS BIGINT), b2, CAST(3 AS BIGINT), b3) AS (band, bkey)"
        )
    )
    buckets = banded.groupBy("band", "bkey").agg(F.count(F.lit(1)).alias("sz"))
    return buckets.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("sz").alias("max_bucket"),
        F.sum(F.floor(F.col("sz") * (F.col("sz") - 1) / 2)).cast("long").alias(
            "n_candidate_pairs"
        ),
    )


@op(
    "multimodal_manifest",
    oracle="""
        SELECT d.doc_id, d.lang, d.source,
               CAST(d.n_chars AS BIGINT) AS n_chars,
               CAST(octet_length(encode(d.text)) AS BIGINT) AS payload_bytes,
               floor(sqrt(list_aggregate(list_transform(
                   CAST(e.embedding AS DOUBLE[]), x -> x * x), 'sum'))
                   * 10000.0 + 0.505) / 10000.0 AS emb_norm,
               CAST(('0x' || substring(md5('7:' || CAST(d.doc_id AS VARCHAR)),
                    1, 15)) AS BIGINT) % 16 AS shard
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
    scale=(
        "Training-sample manifest assembly — the record a multimodal "
        "loader actually consumes: caption metadata + payload byte size "
        "(metadata-only: column pruning keeps the binary out of the "
        "scan) + embedding norm (index-prep stat) + the SAME md5 shard "
        "key corpus_shard_assign routes by, so the manifest co-shards "
        "with the payload files. One equi join on the id (co-partition "
        "or bucket both sides at 100 TB); everything else is map-side "
        "projection."
    ),
)
def multimodal_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join captions, payload stats, embedding norm, and shard route into
    one training-manifest record per document."""
    from python_kinesis_streaming_spark.llm.dedup import md5_hash64
    from python_kinesis_streaming_spark.functions.vectors import l2norm

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return docs.join(emb, docs.doc_id == emb.vec_id).select(
        "doc_id",
        "lang",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.octet_length(F.encode("text", "utf-8"))
        .cast("long")
        .alias("payload_bytes"),
        rnd(l2norm(F.col("embedding")), 4).alias("emb_norm"),
        (md5_hash64(F.col("doc_id").cast("string"), seed=7) % 16).alias(
            "shard"
        ),
    )


@op(
    "multimodal_magic_detect",
    oracle="""
        WITH payloads AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN 'PNG13' || text
                        WHEN doc_id % 3 = 1 THEN 'JFIF0' || text
                        ELSE text END AS payload
            FROM documents
        ),
        routed AS (
            SELECT doc_id,
                   CASE WHEN substr(payload, 1, 5) = 'PNG13' THEN 'image/png'
                        WHEN substr(payload, 1, 5) = 'JFIF0' THEN 'image/jpeg'
                        ELSE 'text/plain' END AS modality,
                   octet_length(encode(payload)) AS n_bytes
            FROM payloads
        )
        SELECT modality,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
               CAST(min(doc_id) AS BIGINT) AS sample_doc
        FROM routed GROUP BY modality
    """,
    scale=(
        "Magic-byte modality routing — the dispatch step BEFORE any "
        "decode: sniff the payload header (here deterministic "
        "stand-in magics; real PNG/JPEG/RIFF signatures are the same "
        "substring test on binary), route each blob to its decoder "
        "family, and account bytes per route. Map-only on a prefix of "
        "the payload (column pruning note: readers that support "
        "lazy/partial blob materialization only fetch the header "
        "here); the per-modality byte totals size the decode fleet's "
        "(modality, size-bucket) partitions."
    ),
)
def multimodal_magic_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detect payload modality from header magic bytes; per-route counts."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.when(
        F.col("doc_id") % 3 == 0, F.concat(F.lit("PNG13"), F.col("text"))
    ).when(
        F.col("doc_id") % 3 == 1, F.concat(F.lit("JFIF0"), F.col("text"))
    ).otherwise(F.col("text"))
    routed = docs.select(
        "doc_id",
        F.when(F.substring(payload, 1, 5) == "PNG13", "image/png")
        .when(F.substring(payload, 1, 5) == "JFIF0", "image/jpeg")
        .otherwise("text/plain")
        .alias("modality"),
        F.octet_length(F.encode(payload, "utf-8")).cast("long").alias(
            "n_bytes"
        ),
    )
    return routed.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
        F.min("doc_id").alias("sample_doc"),
    )

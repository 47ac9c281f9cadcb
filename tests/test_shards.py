"""WebDataset-style tar shard writer/reader tests (llm/shards.py).

Independence strategy: the reader side of every roundtrip is also
cross-checked with the stdlib ``tarfile`` module directly (open the
written shard bytes outside Spark and compare members), and the shard
assignment is re-derived in plain Python with ``zlib.crc32`` — the same
public CRC the Spark expression implements — so writer and checker share
no code.
"""

from __future__ import annotations

import glob
import hashlib
import os
import tarfile
import zlib

import numpy as np

from python_kinesis_streaming_spark.llm.jpeg_codec import encode_jpeg
from python_kinesis_streaming_spark.llm.shards import (
    read_tar_shards,
    write_tar_shards,
)

N_DOCS = 40
N_SHARDS = 5


def _corpus_rows():
    rng = np.random.default_rng(17)
    rows = []
    for i in range(N_DOCS):
        img = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
        rows.append(
            (
                f"doc{i:04d}",
                f"text of document {i}",
                '{"lang": "en", "idx": %d}' % i,
                bytearray(encode_jpeg(img, quality=90)),
            )
        )
    return rows


MEMBERS = {"txt": "body", "json": "meta", "jpg": "payload"}
SCHEMA = "doc_id string, body string, meta string, payload binary"


def _write(spark, out_dir):
    df = spark.createDataFrame(_corpus_rows(), SCHEMA)
    manifest = write_tar_shards(df, out_dir, "doc_id", MEMBERS, N_SHARDS)
    return {r["shard"]: r.asDict() for r in manifest.collect()}


def test_roundtrip_and_stdlib_crosscheck(spark, tmp_path):
    out = str(tmp_path / "shards")
    manifest = _write(spark, out)

    # every sample comes back byte-identical through the Spark reader
    back = {
        r["key"]: r
        for r in read_tar_shards(spark, out + "/shard-*.tar").collect()
    }
    assert len(back) == N_DOCS
    for doc_id, body, meta, payload in _corpus_rows():
        parts = back[doc_id]["parts"]
        assert bytes(parts["txt"]) == body.encode()
        assert bytes(parts["json"]) == meta.encode()
        assert bytes(parts["jpg"]) == bytes(payload)

    # stdlib cross-check: members in each tar match the manifest count
    # and are key-sorted (deterministic layout)
    total = 0
    for shard, row in manifest.items():
        with tarfile.open(row["path"]) as tar:
            names = tar.getnames()
        stems = sorted({n.rsplit(".", 1)[0] for n in names})
        assert stems == sorted(stems)
        assert len(stems) == row["n_samples"]
        total += row["n_samples"]
    assert total == N_DOCS


def test_shard_assignment_is_public_crc32(spark, tmp_path):
    out = str(tmp_path / "shards")
    _write(spark, out)
    for doc_id, *_ in _corpus_rows():
        expect = zlib.crc32(doc_id.encode()) % N_SHARDS
        path = os.path.join(out, f"shard-{expect:05d}.tar")
        with tarfile.open(path) as tar:
            assert f"{doc_id}.txt" in tar.getnames()


def test_writer_is_byte_deterministic(spark, tmp_path):
    m1 = _write(spark, str(tmp_path / "a"))
    m2 = _write(spark, str(tmp_path / "b"))
    assert set(m1) == set(m2)
    for shard in m1:
        assert m1[shard]["sha256"] == m2[shard]["sha256"]
        assert m1[shard]["n_bytes"] == m2[shard]["n_bytes"]
    # the manifest hash equals a fresh hash of the bytes on disk
    for shard, row in m1.items():
        with open(row["path"], "rb") as f:
            assert hashlib.sha256(f.read()).hexdigest() == row["sha256"]


def test_rerun_clears_stale_shards(spark, tmp_path):
    out = str(tmp_path / "shards")
    _write(spark, out)
    assert len(glob.glob(out + "/shard-*.tar")) == N_SHARDS
    df = spark.createDataFrame(_corpus_rows(), SCHEMA)
    write_tar_shards(df, out, "doc_id", MEMBERS, 2).collect()
    # a 2-shard re-run must not leave shard-00002..4 from the 5-shard run
    assert len(glob.glob(out + "/shard-*.tar")) == 2


def test_null_members_are_skipped(spark, tmp_path):
    out = str(tmp_path / "shards")
    df = spark.createDataFrame(
        [("a", "text-a", None, None), ("b", None, '{"x":1}', None)], SCHEMA
    )
    write_tar_shards(df, out, "doc_id", MEMBERS, 1).collect()
    back = {
        r["key"]: dict(r["parts"])
        for r in read_tar_shards(spark, out + "/shard-*.tar").collect()
    }
    assert set(back["a"]) == {"txt"}
    assert set(back["b"]) == {"json"}


def test_stream_tar_shards_exactly_once_across_restart(spark, tmp_path):
    """File-stream ingestion: batch 1 shards processed, stream stopped,
    batch 2 lands, stream restarts from the checkpoint — every sample
    delivered exactly once."""
    from python_kinesis_streaming_spark.llm.shards import stream_tar_shards

    shard_dir = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    df = spark.createDataFrame(_corpus_rows()[:10], SCHEMA)
    write_tar_shards(df, shard_dir, "doc_id", MEMBERS, 2).collect()

    def drain():
        # parquet sink: the fault-tolerant path (memory sink cannot
        # recover from a checkpoint, so it cannot model the restart)
        q = (
            stream_tar_shards(spark, shard_dir)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    first = spark.read.parquet(sink).collect()
    assert len(first) == 10

    # second delivery batch: new shard files under different names
    df2 = spark.createDataFrame(
        [(f"late{i}", f"late text {i}", "{}", bytearray(b"\x01")) for i in range(4)],
        SCHEMA,
    )
    sub = str(tmp_path / "landing" / "batch2")
    write_tar_shards(df2, sub, "doc_id", MEMBERS, 1).collect()
    import os
    import shutil

    shutil.move(
        os.path.join(sub, "shard-00000.tar"),
        os.path.join(shard_dir, "shard-batch2.tar"),
    )

    drain()
    keys = sorted(r["key"] for r in spark.read.parquet(sink).collect())
    assert len(keys) == 14 and len(set(keys)) == 14  # no re-delivery
    assert [k for k in keys if k.startswith("late")] == [
        "late0", "late1", "late2", "late3"
    ]


def test_zip_shards_roundtrip_and_determinism(spark, tmp_path):
    from python_kinesis_streaming_spark.llm.shards import (
        read_zip_shards,
        write_zip_shards,
    )

    df = spark.createDataFrame(
        [(f"doc{i:03d}", f"text {i}", bytearray(bytes([i]) * 50))
         for i in range(20)],
        "k string, txt string, blob binary",
    )
    out = str(tmp_path / "zips")
    m1 = {r["shard"]: r for r in write_zip_shards(
        df, out, "k", {"txt": "txt", "bin": "blob"}, n_shards=3
    ).collect()}
    # byte-determinism: same input → identical sha256 per shard
    m2 = {r["shard"]: r for r in write_zip_shards(
        df, out, "k", {"txt": "txt", "bin": "blob"}, n_shards=3
    ).collect()}
    assert {s: r["sha256"] for s, r in m1.items()} == {
        s: r["sha256"] for s, r in m2.items()
    }
    assert sum(r["n_samples"] for r in m1.values()) == 20

    rows = read_zip_shards(spark, out + "/shard-*.zip").collect()
    assert len(rows) == 20
    by_key = {r["key"]: r["parts"] for r in rows}
    assert by_key["doc007"]["txt"] == b"text 7"
    assert by_key["doc007"]["bin"] == bytes([7]) * 50
    # zip central directory is genuinely readable by stdlib alone
    import zipfile

    path = next(iter(m1.values()))["path"]
    with zipfile.ZipFile(path) as zf:
        assert zf.testzip() is None


def test_zip_and_tar_shards_agree_on_content(spark, tmp_path):
    from python_kinesis_streaming_spark.llm.shards import (
        read_tar_shards,
        read_zip_shards,
        write_tar_shards,
        write_zip_shards,
    )

    df = spark.createDataFrame(
        [(f"s{i}", f"payload-{i}") for i in range(12)],
        "k string, txt string",
    )
    tdir, zdir = str(tmp_path / "t"), str(tmp_path / "z")
    write_tar_shards(df, tdir, "k", {"txt": "txt"}, n_shards=2).collect()
    write_zip_shards(df, zdir, "k", {"txt": "txt"}, n_shards=2).collect()
    tar_rows = {
        (r["shard"], r["key"]): r["parts"]["txt"]
        for r in read_tar_shards(spark, tdir + "/shard-*.tar").collect()
    }
    zip_rows = {
        (r["shard"], r["key"]): r["parts"]["txt"]
        for r in read_zip_shards(spark, zdir + "/shard-*.zip").collect()
    }
    assert tar_rows == zip_rows  # same sharding, same samples

"""End-to-end corpus build over the round-6 ingestion surface: WARC
crawl files -> HTTP body extraction -> text cleanup + quality features
-> exact dedup -> WebDataset tar shards + a versioned snapshot.

This is the composition a real pretraining-data pipeline runs; the test
pins that the pieces actually fit together (schemas, binary columns,
Arrow seams) rather than each only working in isolation."""

from __future__ import annotations

from pyspark.sql import functions as F

from python_kinesis_streaming_spark.llm.shards import (
    read_tar_shards,
    write_tar_shards,
)
from python_kinesis_streaming_spark.llm.warc import build_warc, read_warc
from python_kinesis_streaming_spark.sources.snapshots import (
    history,
    read_snapshot,
    write_snapshot,
)


def _crawl_records():
    """30 response records across 3 'hosts'; bodies 10 and 20 duplicate
    body 0, and two records are non-HTML or failed fetches."""
    records = []
    for i in range(30):
        body_idx = 0 if i in (10, 20) else i
        body = (
            f"<html><head><title>t{body_idx}</title></head>"
            f"<body><p>document body {body_idx} with some words "
            f"repeated words words</p></body></html>"
        )
        status, ctype = 200, "text/html"
        if i == 7:
            status = 404
        if i == 13:
            ctype = "application/pdf"
        records.append(
            {
                "type": "response",
                "uri": f"https://host{i % 3}.example/page{i}",
                "date": f"2024-02-01T00:00:{i:02d}Z",
                "payload": (
                    f"HTTP/1.1 {status} X\r\nContent-Type: {ctype}\r\n\r\n".encode()
                    + body.encode()
                ),
                "content_type": "application/http; msgtype=response",
            }
        )
    return records


def test_warc_to_shards_to_snapshot(spark, tmp_path):
    recs = _crawl_records()
    for i in range(3):
        (tmp_path / f"crawl-{i:05d}.warc.gz").write_bytes(
            build_warc(recs[i * 10 : (i + 1) * 10], gzip_per_record=True)
        )

    raw = read_warc(spark, str(tmp_path / "crawl-*.warc.gz"))

    docs = (
        raw.where(
            (F.col("warc_type") == "response")
            & (F.col("http_status") == 200)
            & F.col("http_content_type").startswith("text/html")
        )
        .withColumn("html", F.decode(F.col("http_body"), "utf-8"))
        # strip tags, collapse whitespace — JVM-side regex, no UDF
        .withColumn(
            "text",
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(F.col("html"), "<[^>]+>", " "), "\\s+", " "
                )
            ),
        )
        .withColumn("n_tokens", F.size(F.split(F.col("text"), " ")))
        .withColumn("body_hash", F.sha2(F.col("text"), 256))
    )

    # 30 minus one 404 minus one PDF = 28 HTML docs
    assert docs.count() == 28

    # exact dedup: earliest URI wins per body hash (deterministic)
    from pyspark.sql import Window

    deduped = (
        docs.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("body_hash").orderBy("target_uri")
            ),
        )
        .where(F.col("rk") == 1)
        .drop("rk")
    )
    n_unique = deduped.count()
    assert n_unique == 26  # bodies 10 and 20 duplicated body 0

    # quality gate keeps everything here, but the column must be real
    kept = deduped.where(F.col("n_tokens") >= 5)
    assert kept.count() == n_unique

    # package as WebDataset shards: text + JSON metadata per sample
    shard_in = kept.select(
        F.regexp_replace(F.col("target_uri"), "[^a-z0-9]+", "-").alias("key"),
        F.col("text").alias("body"),
        F.to_json(F.struct("target_uri", "warc_date", "n_tokens")).alias("meta"),
    )
    out = str(tmp_path / "shards")
    manifest = write_tar_shards(
        shard_in, out, "key", {"txt": "body", "json": "meta"}, n_shards=4
    )
    assert sum(r["n_samples"] for r in manifest.collect()) == n_unique

    back = read_tar_shards(spark, out + "/shard-*.tar")
    assert back.count() == n_unique
    sample = back.limit(1).collect()[0]
    assert set(sample["parts"].keys()) == {"txt", "json"}

    # snapshot the doc metadata table; re-read must round-trip
    table = str(tmp_path / "corpus_table")
    meta_df = kept.select("target_uri", "warc_date", "n_tokens", "body_hash")
    v = write_snapshot(meta_df, table, message="initial crawl")
    got = read_snapshot(spark, table, version=v)
    assert got.count() == n_unique
    assert sorted(got.columns) == sorted(meta_df.columns)

    # a second crawl appends; version 0 stays frozen at 26 docs
    write_snapshot(meta_df.limit(3), table, mode="append", message="delta crawl")
    assert read_snapshot(spark, table).count() == n_unique + 3
    assert read_snapshot(spark, table, version=v).count() == n_unique
    assert [h["message"] for h in history(table)] == [
        "initial crawl",
        "delta crawl",
    ]


def test_full_toolkit_composition(spark, tmp_path):
    """The round-6 toolkit end to end: WARC -> real HTML extraction ->
    Gopher quality gate -> BPE tokenizer trained on the survivors ->
    tokenized corpus packed into shards, with a versioned snapshot of
    the token statistics."""
    from pyspark.sql import functions as F

    from python_kinesis_streaming_spark.llm.bpe import apply_bpe, train_bpe
    from python_kinesis_streaming_spark.llm.html_extract import (
        extract_text_frame,
    )
    from python_kinesis_streaming_spark.llm.quality_rules import gopher_rules

    prose = (
        "The river keeps its slow pace through the valley and the town "
        "grows quiet when the evening light settles over the water. "
    ) * 4
    pages = []
    for i in range(12):
        body = f"<html><head><title>Page {i}</title></head><body><p>{prose} Page number {i}.</p></body></html>"
        pages.append(body)
    # two junk pages: one nav-only, one symbol soup
    pages.append("<html><body><nav>" + "".join(f'<a href="/{i}">l{i}</a>' for i in range(30)) + "</nav></body></html>")
    pages.append("<html><body><p>" + "# " * 120 + "</p></body></html>")

    recs = [
        {
            "type": "response",
            "uri": f"https://site.example/p{i}",
            "date": "2024-03-01T00:00:00Z",
            "payload": (
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                + page.encode()
            ),
            "content_type": "application/http; msgtype=response",
        }
        for i, page in enumerate(pages)
    ]
    (tmp_path / "crawl-00000.warc.gz").write_bytes(build_warc(recs))

    docs = read_warc(spark, str(tmp_path / "crawl-*.warc.gz")).where(
        F.col("http_status") == 200
    )
    extracted = extract_text_frame(docs, "http_body")
    gated = gopher_rules(extracted, "main_text", min_words=30)
    kept = gated.where(F.col("gopher_keep"))
    assert kept.count() == 12  # both junk pages dropped by the gate

    merges = train_bpe(kept, "main_text", num_merges=15)
    assert len(merges) == 15
    tokenized = apply_bpe(
        kept.select("target_uri", "main_text"), "main_text", merges
    )
    rows = tokenized.collect()
    assert all(r["n_tokens"] > 0 for r in rows)
    # compression: learned merges beat character count comfortably
    assert all(r["n_tokens"] < len(r["main_text"]) * 0.8 for r in rows)

    # snapshot the per-doc token stats; time-travelable corpus metadata
    table = str(tmp_path / "tokstats")
    v = write_snapshot(
        tokenized.select("target_uri", "n_tokens"), table, message="tokenized v1"
    )
    assert read_snapshot(spark, table, version=v).count() == 12

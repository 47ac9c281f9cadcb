"""End-to-end corpus build over the round-7 surface: WARC crawl →
URL canonicalization + robots/blocklist filtering → HTML extraction →
model-based quality filtering (trained in-pipeline) → repeated-passage
cutting → unigram tokenizer → sequence packing.

Pins that the new modules compose on real schemas (binary HTTP bodies,
hashed doc ids, array<string> token columns) — not just in isolation."""

from __future__ import annotations

from pyspark.sql import functions as F

from python_kinesis_streaming_spark.llm.classifier import (
    hashed_features,
    predict_scores,
    train_logreg,
)
from python_kinesis_streaming_spark.llm.html_extract import (
    extract_text_frame,
)
from python_kinesis_streaming_spark.llm.packing import (
    pack_concat,
    packing_report,
)
from python_kinesis_streaming_spark.llm.span_dedup import (
    cut_duplicated_spans,
)
from python_kinesis_streaming_spark.llm.unigram import (
    train_unigram,
    viterbi_encode,
)
from python_kinesis_streaming_spark.llm.urls import (
    dedup_by_url,
    filter_blocked_domains,
    parse_robots_frame,
    robots_allowed,
)
from python_kinesis_streaming_spark.llm.warc import build_warc, read_warc

BOILER = (
    "subscribe to our newsletter for weekly updates and exclusive "
    "member content delivered straight to your inbox every friday"
)  # 18 tokens — above the span-dedup min_len
SPAM = "buy now spam offer click here buy now limited offer spam deal"


def _prose(tag: str) -> str:
    # per-doc UNIQUE tokens: the only cross-doc duplicate is BOILER,
    # so the span-cut accounting below is exact
    return " ".join(f"{tag}word{j}" for j in range(24))


def _page(body_text: str, title: str) -> bytes:
    html = (
        f"<html><head><title>{title}</title></head>"
        f"<body><p>{body_text}</p></body></html>"
    )
    return (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
        + html.encode()
    )


def test_round7_pipeline_composes(spark, tmp_path):
    recs = []

    def add(uri, text, title):
        recs.append(
            {
                "type": "response",
                "uri": uri,
                "date": "2024-04-01T00:00:00Z",
                "payload": _page(text, title),
                "content_type": "application/http; msgtype=response",
            }
        )

    # good prose pages on site-a; two carry the same boilerplate tail
    for i in range(6):
        tail = f" {BOILER}" if i in (1, 4) else ""
        add(f"https://site-a.example/art/{i}",
            f"{_prose(f'a{i}')}{tail}", f"A{i}")
    # a tracking-param duplicate of article 0 (URL dedup must collapse)
    add("https://site-a.example/art/0?utm_source=feed", _prose("a0"),
        "A0-dup")
    # robots-disallowed page on site-b
    add("https://site-b.example/private/x", _prose("priv"), "B")
    add("https://site-b.example/open/y", _prose("open"), "B2")
    # blocklisted domain
    add("https://spamdomain.example/landing", SPAM, "S")
    # spam page on an allowed host (the classifier's job)
    add("https://site-a.example/sponsored", f"{SPAM} {SPAM}", "SP")

    (tmp_path / "crawl-00000.warc.gz").write_bytes(build_warc(recs))
    docs = read_warc(spark, str(tmp_path / "crawl-*.warc.gz")).where(
        F.col("http_status") == 200
    )

    # 1. URL hygiene: canonical dedup, blocklist, robots
    docs = dedup_by_url(docs, "target_uri")
    assert docs.count() == 10  # utm variant collapsed

    block = spark.createDataFrame([("spamdomain.example",)], "domain string")
    docs = filter_blocked_domains(docs, "target_uri", block)
    assert docs.count() == 9

    robots = spark.createDataFrame(
        [("site-b.example",
          bytearray(b"User-agent: *\nDisallow: /private/\n"))],
        "host string, payload binary",
    )
    rules = parse_robots_frame(robots, "host", "payload")
    docs = robots_allowed(docs, "target_uri", rules).where("allowed")
    assert docs.count() == 8  # /private/x dropped

    # 2. extract text, assign stable ids
    extracted = extract_text_frame(docs, "http_body").select(
        F.xxhash64("target_uri").alias("doc_id"),
        "target_uri",
        "main_text",
    )

    # 3. model-based quality filter, trained in-pipeline on URL heuristic
    # labels (sponsored/spam paths = 0), applied to every doc
    labels = extracted.select(
        "doc_id",
        F.when(
            F.col("target_uri").contains("/sponsored"), F.lit(0)
        ).otherwise(F.lit(1)).alias("label"),
    )
    feats = hashed_features(extracted, "doc_id", "main_text", dim=256)
    # one negative among eight docs: the imbalance needs extra steps
    # before the separable spam doc crosses below 0.5 (sized offline
    # with the numpy twin of the update rule)
    model = train_logreg(feats, labels, dim=256, lr=2.0, iters=60)
    scored = predict_scores(feats, model["weights"], model["bias"])
    kept = extracted.join(
        scored.where(F.col("prob") >= 0.5).select("doc_id"), "doc_id"
    )
    kept_uris = {r["target_uri"] for r in kept.select("target_uri").collect()}
    assert not any("/sponsored" in u for u in kept_uris)
    assert len(kept_uris) == 7

    # 4. cut repeated passages (boilerplate appears in two docs)
    cut = cut_duplicated_spans(kept, "doc_id", "main_text", k=4, min_len=8)
    n_cut_total = cut.agg(F.sum("n_cut_tokens")).collect()[0][0]
    assert n_cut_total == len(BOILER.split())  # one copy survives
    texts = cut.select("doc_id", F.col("text").alias("main_text"))

    # 5. tokenizer trained on the cleaned corpus, then applied
    from python_kinesis_streaming_spark.llm.bpe import word_frequencies

    wf = word_frequencies(texts, "main_text")
    tok_model = train_unigram(
        wf, vocab_size=120, seed_size=200, max_piece_len=4,
        em_iters=1, prune_rounds=2,
    )
    tokenized = viterbi_encode(texts, "main_text", tok_model["logp"], 4)
    tok_rows = tokenized.select(
        "doc_id", F.size("pieces").alias("n_tokens")
    )
    assert tok_rows.where("n_tokens <= 0").count() == 0

    # 6. pack into training sequences and audit the packing
    lengths = tok_rows.select("doc_id", F.col("n_tokens").cast("long")
                              .alias("n_tokens"))
    packed = pack_concat(lengths, seq_len=64, buckets=2)
    rep = packing_report(packed, 64).collect()[0]
    total_tokens = lengths.agg(F.sum("n_tokens")).collect()[0][0]
    assert rep["packed_tokens"] == total_tokens
    assert rep["n_sequences"] >= 1
    assert 0 < rep["fill_rate"] <= 1.0

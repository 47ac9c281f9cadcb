"""Property tests for the LLM-pipeline family (SURVEY §5.4) — the ops whose
oracle is rows-only need semantic checks beyond "it runs"."""

from __future__ import annotations

from pyspark.sql import functions as F

from python_kinesis_streaming_spark.registry import all_queries
from python_kinesis_streaming_spark.sources.tables import load_table

Q = all_queries()


def test_minhash_catches_injected_near_dups(spark, sf_dir):
    """Every injected mutant (doc_id+1e6, one token appended) must be paired
    with its original — near-identical docs always collide in ≥1 band."""
    pairs = Q["dedup_near_minhash"](spark, sf_dir).collect()
    found = {(r.doc_a, r.doc_b) for r in pairs}
    injected = {(d, d + 1_000_000) for d in range(0, 500, 25)}
    missing = injected - found
    assert not missing, f"minhash missed injected near-dups: {sorted(missing)}"


def test_simhash_catches_injected_near_dups(spark, sf_dir):
    pairs = Q["dedup_simhash"](spark, sf_dir).collect()
    found = {(r.doc_a, r.doc_b) for r in pairs}
    injected = {(d, d + 1_000_000) for d in range(0, 500, 25)}
    # A one-token append on short (10-token) docs can flip several near-zero
    # vote bits, so SimHash is inherently coarser than MinHash here.
    recall = 1 - len(injected - found) / len(injected)
    assert recall >= 0.9, f"simhash recall {recall:.2f} on injected near-dups"


def test_dedup_exact_idempotent(spark, sf_dir):
    """dedup(dedup(x)) == dedup(x): applying exact dedup to an already-deduped
    corpus keeps every row (all n_copies==1 on unique fixture texts)."""
    out = Q["dedup_exact"](spark, sf_dir)
    assert out.where(F.col("n_copies") != 1).count() == 0
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert out.count() == n_docs


def test_ann_lsh_recall_vs_brute_force(spark, sf_dir):
    """LSH bucket top-10 must overlap the exact brute-force top-10; every
    returned neighbor's similarity must be ≤ the exact best."""
    exact = [r.vec_id for r in Q["sim_knn_cosine"](spark, sf_dir).collect()]
    approx = [r.vec_id for r in Q["sim_ann_lsh"](spark, sf_dir).collect()]
    assert len(approx) >= 1, "query bucket empty — LSH degenerated"
    # single-table 12-bit LSH: recall is approximate by design; require the
    # bucket to contain at least one true top-10 neighbor.
    assert set(approx) & set(exact), (
        f"no overlap between ANN {approx} and exact {exact}"
    )


def test_cosine_self_similarity_is_one(spark, sf_dir):
    from python_kinesis_streaming_spark.functions.vectors import cosine

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(20)
    bad = (
        emb.select(cosine(F.col("embedding"), F.col("embedding")).alias("c"))
        .where(F.abs(F.col("c") - 1.0) > 1e-9)
        .count()
    )
    assert bad == 0


def test_multimodal_decode_values(spark, sf_dir):
    """Decode features must equal hand-computed values for a known doc."""
    row = (
        Q["multimodal_decode"](spark, sf_dir)
        .where(F.col("doc_id") == 0)
        .collect()[0]
    )
    text = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") == 0)
        .collect()[0]
        .text
    )
    raw = text.encode("utf-8")
    assert row.modality == "text/plain"
    assert row.n_bytes == len(raw)
    assert row.checksum == sum(raw) % 2_147_483_647
    assert row.header == ",".join(str(int(b)) for b in raw[:4])


def test_langid_learns_something(spark, sf_dir):
    """Sanity: the unigram classifier must beat the trivial all-'en' baseline
    is NOT guaranteed on near-uniform synthetic vocab, but predictions must
    cover ≥1 language and every doc exactly once."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pred = Q["text_langid"](spark, sf_dir)
    assert pred.count() == docs.count()
    assert pred.select("doc_id").distinct().count() == docs.count()


def test_approx_quantile_tolerance(spark, sf_dir):
    """Sketch accuracy contract: the op now embeds it — every group's
    within_tol must hold, and the embedded exact quantiles must agree with
    agg_percentile (both rounded to 2dp vs 4dp, so compare loosely)."""
    rows = Q["agg_approx_quantile"](spark, sf_dir).collect()
    exact = {r.event_type: (r.p50, r.p95)
             for r in Q["agg_percentile"](spark, sf_dir).collect()}
    assert rows and all(r.within_tol for r in rows), rows
    for r in rows:
        e50, e95 = exact[r.event_type]
        assert abs(r.p50_exact - e50) < 0.01 and abs(r.p95_exact - e95) < 0.01


def test_approx_distinct_tolerance(spark, sf_dir):
    """HLL accuracy contract (SURVEY §5.2): the op itself now emits the
    within-3×rsd boolean (driver-checkable); every group must satisfy it,
    and the embedded exact counts must agree with agg_count_distinct."""
    rows = Q["agg_approx_distinct"](spark, sf_dir).collect()
    exact = {r.event_type: r.n_users
             for r in Q["agg_count_distinct"](spark, sf_dir).collect()}
    assert rows and all(r.within_rsd for r in rows), rows
    for r in rows:
        assert r.n_users_exact == exact[r.event_type]


def test_train_test_split_partitions_completely(spark, sf_dir):
    """Split is total, disjoint, and ~90/10 (property of the keyed hash)."""
    from python_kinesis_streaming_spark import api

    docs = load_table(spark, sf_dir, "documents")
    split = api.train_test_split(docs, "doc_id")
    counts = {r["split"]: r["n"] for r in
              split.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    n = docs.count()
    assert counts.get("train", 0) + counts.get("test", 0) == n
    # keyed-hash split should land near 90% (loose bound, deterministic)
    assert 0.80 <= counts.get("train", 0) / n <= 0.97, counts


def test_pack_sequences_bins_are_contiguous_and_bounded(spark, sf_dir):
    """Bin ids are dense per lang and no bin (except via one oversized doc)
    exceeds budget + max single doc size."""
    from python_kinesis_streaming_spark import api

    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    packed = api.pack_sequences(
        docs.select("lang", "doc_id", n_tok.alias("n_tok")),
        part_col="lang", order_col="doc_id", size_col="n_tok",
    )
    per_bin = packed.groupBy("lang", "bin").agg(
        F.sum("n_tok").alias("tokens"), F.max("n_tok").alias("max_doc")
    ).collect()
    bins_by_lang = {}
    for r in per_bin:
        bins_by_lang.setdefault(r["lang"], []).append(r["bin"])
        assert r["tokens"] <= 2048 + r["max_doc"], r
    for lang, bins in bins_by_lang.items():
        assert sorted(bins) == list(range(len(bins))), (lang, sorted(bins)[:5])

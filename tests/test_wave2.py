"""Semantic invariants for the r9 wave-2 ops (llm/wave2.py).

Value-level twin parity is covered by tests/test_oracle_parity.py's
registry sweep; these tests pin the properties that make the audits
meaningful — monotone recall in nprobe, funnel conservation, injected
leaks actually detected — which a hash match alone can't express.
"""

from __future__ import annotations

from python_kinesis_streaming_spark.registry import all_queries

Q = all_queries()


def test_nprobe_recall_and_cost_are_monotone(spark, sf_dir):
    rows = {
        r["nprobe"]: r
        for r in Q["sim_ivf_nprobe_sweep"](spark, sf_dir).collect()
    }
    assert sorted(rows) == [1, 2, 4]
    n_queries = {r["n_queries"] for r in rows.values()}
    assert len(n_queries) == 1 and n_queries.pop() > 0
    for lo, hi in [(1, 2), (2, 4)]:
        assert rows[hi]["avg_candidates"] >= rows[lo]["avg_candidates"], (
            "probing more lists must scan at least as many candidates"
        )
        assert rows[hi]["mean_recall_at_5"] >= rows[lo]["mean_recall_at_5"], (
            "recall must be monotone in nprobe (supersets of candidates)"
        )
    for r in rows.values():
        assert 0.0 <= r["mean_recall_at_5"] <= 1.0


def test_cascade_recall_bounds(spark, sf_dir):
    rows = Q["sim_cascade_recall_audit"](spark, sf_dir).collect()
    assert rows, "query sample must be non-empty"
    for r in rows:
        assert 0 <= r["hits"] <= 5
        assert abs(r["recall_at_5"] - round(r["hits"] / 5.0, 4)) < 1e-9
    # a 16-of-64-dim prefilter keeping 50 candidates should be far
    # better than chance (5/499) on average
    mean = sum(r["recall_at_5"] for r in rows) / len(rows)
    assert mean >= 0.2, mean


def test_dedup_funnel_conserves_counts(spark, sf_dir):
    rows = {
        r["stage"]: r for r in Q["corpus_dedup_funnel"](spark, sf_dir).collect()
    }
    assert list(sorted(rows)) == ["0_raw", "1_exact", "2_normalized", "3_near"]
    order = ["0_raw", "1_exact", "2_normalized", "3_near"]
    for prev, cur in zip(order, order[1:]):
        assert rows[cur]["survivors"] <= rows[prev]["survivors"]
        assert (
            rows[prev]["survivors"] - rows[cur]["survivors"]
            == rows[cur]["removed"]
        ), f"{cur}: removed must equal the stage delta"
    # every injected class is caught by its stage (exact copies every
    # 5th doc, case variants every 7th, near-dups every 11th)
    assert rows["1_exact"]["removed"] > 0
    assert rows["2_normalized"]["removed"] > 0
    assert rows["3_near"]["removed"] > 0


def test_split_leakage_detects_injected_twins(spark, sf_dir):
    row = Q["corpus_split_leakage_audit"](spark, sf_dir).collect()[0]
    assert row["n_train"] > 0 and row["n_test"] > 0
    # injected twins are one-token mutants of train docs forced into
    # test — the LSH+confirm pipeline must catch them
    assert row["leaked_pairs"] > 0
    assert 0 < row["leaked_test_docs"] <= row["leaked_pairs"]


def test_generator_audit_classifies_injections(spark, sf_dir):
    rows = {
        r["generator"]: r["n_pairs"]
        for r in Q["dedup_candidate_generator_audit"](spark, sf_dir).collect()
    }
    assert set(rows) == {"both", "only_exact_norm", "only_minhash"}
    # identical texts have identical signatures, so every exact-norm
    # pair must also be an LSH candidate
    assert rows["only_exact_norm"] == 0, rows
    assert rows["both"] > 0, "injected exact copies must be found by both"
    assert rows["only_minhash"] > 0, "injected mutants are minhash-only"


def test_pii_stats_count_injections(spark, sf_dir, duck):
    rows = {
        r["pattern"]: r
        for r in Q["text_pii_scrub_stats"](spark, sf_dir).collect()
    }
    assert set(rows) == {"email", "ipv4", "ssn"}
    n_docs = duck.execute("SELECT count(*) FROM documents").fetchone()[0]
    # injection floors: every 3rd doc gets an email, 4th an ip, 5th an ssn
    assert rows["email"]["docs_matched"] >= (n_docs + 2) // 3
    assert rows["ipv4"]["docs_matched"] >= (n_docs + 3) // 4
    assert rows["ssn"]["docs_matched"] >= (n_docs + 4) // 5
    for r in rows.values():
        assert r["total_matches"] >= r["docs_matched"]
        assert r["chars_redacted"] > r["total_matches"], (
            "every match is more than one character"
        )


def test_stream_minhash_dedup_suppresses_twins(spark, sf_dir, duck):
    rows = Q["stream_minhash_dedup"](spark, sf_dir).collect()
    n_docs = duck.execute("SELECT count(*) FROM documents").fetchone()[0]
    n_twins = duck.execute(
        "SELECT count(*) FROM documents WHERE doc_id % 10 = 0"
    ).fetchone()[0]
    assert len(rows) == n_docs + n_twins, "one verdict row per arrival"
    by_doc = {r["doc_id"]: r for r in rows}
    twins = [r for r in rows if r["doc_id"] >= 1_000_000]
    # a one-token mutant shares almost all shingles with its original —
    # the overwhelming majority must be caught by >= 1 band
    caught = [r for r in twins if not r["survived"]]
    assert len(caught) >= 0.8 * len(twins), (len(caught), len(twins))
    for r in rows:
        assert 0 <= r["n_dup_bands"] <= 8
        assert r["survived"] == (r["n_dup_bands"] == 0)
        # every twin's original arrives earlier (smaller ord)
        orig = by_doc.get(r["doc_id"] - 1_000_000)
        if r["doc_id"] >= 1_000_000 and orig is not None:
            assert orig["ord"] < r["ord"]


def test_incremental_dedup_stage_invariants(spark, sf_dir, duck):
    rows = {
        r["stage"]: r["n_rows"]
        for r in Q["lakehouse_incremental_dedup"](spark, sf_dir).collect()
    }
    n = duck.execute("SELECT count(*) FROM documents").fetchone()[0]
    n_resent = duck.execute(
        "SELECT count(*) FROM documents WHERE doc_id % 3 = 0"
    ).fetchone()[0]
    n_new = duck.execute(
        "SELECT count(*) FROM documents WHERE doc_id % 7 = 0"
    ).fetchone()[0]
    assert rows["0_seed"] == n
    assert rows["1_batch"] == n_resent + n_new
    # resent content is all deduped away; only the ' v2' docs append
    assert rows["2_appended_novel"] == n_new
    assert rows["3_final"] == n + n_new
    assert rows["4_final_distinct_hashes"] == rows["3_final"], (
        "table must stay duplicate-free across the commit"
    )


def test_m4_downsample_envelope(spark, sf_dir, duck):
    rows = Q["ts_downsample_m4"](spark, sf_dir).collect()
    n_events = duck.execute("SELECT count(*) FROM events").fetchone()[0]
    assert sum(r["n"] for r in rows) == n_events, "M4 partitions all events"
    for r in rows:
        assert r["v_min"] <= r["v_first"] <= r["v_max"]
        assert r["v_min"] <= r["v_last"] <= r["v_max"]


def test_source_kl_is_nonnegative_per_source(spark, sf_dir, duck):
    rows = Q["text_source_kl_divergence"](spark, sf_dir).collect()
    n_sources = duck.execute(
        "SELECT count(DISTINCT source) FROM documents"
    ).fetchone()[0]
    assert len(rows) == n_sources
    for r in rows:
        # Gibbs' inequality (up to the 1e-6 output rounding)
        assert r["kl_vs_corpus"] >= -1e-6, r
        assert r["n_vocab_tokens"] > 0


def test_idf_weighted_jaccard_finds_injected_mutants(spark, sf_dir, duck):
    rows = Q["dedup_idf_weighted_jaccard"](spark, sf_dir).collect()
    n_inj = duck.execute(
        "SELECT count(*) FROM documents WHERE doc_id % 25 = 0"
    ).fetchone()[0]
    mutant_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in rows
        if r["doc_b"] == r["doc_a"] + 1_000_000
    }
    assert len(mutant_pairs) >= 0.9 * n_inj, (len(mutant_pairs), n_inj)
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert 0.5 <= r["weighted_jaccard"] <= 1.0 + 1e-9
        assert r["isect"] > 0


def test_ks_two_sample_is_a_valid_statistic(spark, sf_dir, duck):
    rows = Q["events_ks_two_sample"](spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    np_, nc = duck.execute(
        "SELECT count(*) FILTER (WHERE event_type = 'purchase'),"
        "       count(*) FILTER (WHERE event_type = 'click') FROM events"
    ).fetchone()
    assert r["n_purchase"] == np_ and r["n_click"] == nc
    assert 0.0 <= r["ks_d"] <= 1.0
    expected_scaled = r["ks_d"] * (np_ * nc / (np_ + nc)) ** 0.5
    assert abs(r["ks_scaled"] - expected_scaled) < 1e-3


def test_shard_drift_is_a_full_upper_triangle(spark, sf_dir):
    rows = Q["emb_shard_drift"](spark, sf_dir).collect()
    pairs = {(r["shard_a"], r["shard_b"]) for r in rows}
    assert pairs == {(a, b) for a in range(8) for b in range(8) if a < b}
    for r in rows:
        assert -1.0 - 1e-9 <= r["cos_sim"] <= 1.0 + 1e-9


def test_stream_minhash_dedup_rocksdb_state_at_4096_shards(spark, sf_dir):
    """The 100 TB scale knobs demonstrated, not narrated (VERDICT r10
    item 7): stream_minhash_dedup's replay re-run with the RocksDB
    state-store provider and 4096 shards must yield verdicts identical
    to the op (default provider, 1024 shards) — shard count and provider
    are pure physical knobs — and the per-batch progress must show real
    state-store traffic (rows kept across micro-batches)."""
    from python_kinesis_streaming_spark.llm.wave2 import minhash_dedup_stream

    def verdicts(df):
        return sorted(
            (r["doc_id"], r["ord"], r["n_dup_bands"], r["survived"])
            for r in df.collect()
        )

    base = verdicts(Q["stream_minhash_dedup"](spark, sf_dir))
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    prog: list = []
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        rocks = verdicts(
            minhash_dedup_stream(spark, sf_dir, nshards=4096, progress=prog)
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

    assert rocks == base, "provider/shard-count changed the verdicts"
    batches = [p for p in prog if p.get("stateOperators")]
    assert len(batches) >= 2, "expected multiple stateful micro-batches"
    st = [p["stateOperators"][0] for p in batches]
    # state grows monotonically (NoTimeout, append-only bucket map) and
    # every batch updates shard entries
    totals = [s["numRowsTotal"] for s in st]
    assert totals == sorted(totals) and totals[-1] > 0, totals
    assert all(s["numRowsUpdated"] > 0 for s in st), st
    provider = batches[-1]["stateOperators"][0].get(
        "customMetrics", {}
    )
    # RocksDB provider reports its own metric family; presence proves
    # the provider actually engaged rather than silently falling back
    assert any("rocksdb" in k.lower() for k in provider), sorted(provider)

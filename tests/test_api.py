"""Public API tests: each library function whose registry op keeps its own
plan must produce the same results as that oracle-verified op, and the
Kinesis facade must expose the documented record plumbing.

A function its op binds to is pinned by the op's oracle parity on the
fixture's column names; its test here drives it through renamed columns
(or a Column-typed argument), the generalization the op never exercises,
and compares the result with the op's."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from python_kinesis_streaming_spark import api
from python_kinesis_streaming_spark.functions.rounding import rnd
from python_kinesis_streaming_spark.registry import all_queries
from python_kinesis_streaming_spark.sources.kinesis import (
    decode_json_records,
    kinesis_record_schema,
)
from python_kinesis_streaming_spark.sources.tables import load_table

from tests.twin import assert_twin_match

Q = all_queries()


def assert_same_rows(a, b):
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_asof_join_matches_registry_op(spark, sf_dir):
    """api.asof_join(purchases, clicks) row-set == registry join_asof."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    out = api.asof_join(
        purchases, clicks, on="user_id", left_time="purchase_ts", right_time="ts"
    ).select(
        "purchase_id", "user_id", "purchase_ts", F.col("asof_ts").alias("last_click_ts")
    )
    expected = Q["join_asof"](spark, sf_dir)
    assert_same_rows(out, expected)


def test_sessionize_matches_stream_session(spark, sf_dir):
    """api.sessionize == the streaming session op's (hash-verified) result."""
    ev = load_table(spark, sf_dir, "events")
    out = api.sessionize(ev, key="user_id", ts="ts", gap_seconds=1800).select(
        "user_id", "session_start", "n_events"
    )
    expected = Q["stream_session"](spark, sf_dir).select(
        "user_id", "session_start", "n_events"
    )
    assert_same_rows(out, expected)


def test_dedup_exact_api(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    doubled = docs.unionByName(docs)
    out = api.dedup_exact(doubled, ["text"])
    assert out.count() == docs.count()
    # idempotence
    assert api.dedup_exact(out, ["text"]).count() == out.count()


def test_near_dup_candidates_api(spark, sf_dir):
    """Injecting a mutated copy must surface (orig, mutant) as a candidate."""
    docs = load_table(spark, sf_dir, "documents").limit(50)
    mutated = docs.where(F.col("doc_id") == 0).withColumn(
        "doc_id", F.lit(999_999)
    ).withColumn("text", F.concat("text", F.lit(" zz")))
    pairs = api.near_dup_candidates(docs.unionByName(mutated))
    assert pairs.where(
        (F.col("doc_a") == 0) & (F.col("doc_b") == 999_999)
    ).count() == 1


def test_knn_cosine_api_matches_registry(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.where(F.col("vec_id") == 0).first()["embedding"]
    out = api.knn_cosine(emb.where(F.col("vec_id") != 0), "embedding", qv, k=10)
    got = [r.vec_id for r in out.collect()]
    expected = [r.vec_id for r in Q["sim_knn_cosine"](spark, sf_dir).collect()]
    assert got == expected


def test_tfidf_and_quality_run(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    t = api.tfidf(docs, "doc_id", "text", top_k=2)
    assert t.groupBy("doc_id").count().agg(F.max("count")).collect()[0][0] <= 2
    q = api.quality_features(docs, "doc_id", "text")
    assert q.count() == docs.count()


def test_kinesis_record_decode(spark):
    """The Data-blob decode path over synthetic Kinesis-shaped records."""
    import datetime

    rows = [
        ("user-1", "49590338271490256608559692538361571095921575989136588898",
         datetime.datetime(2024, 1, 1, 0, 0, 0), b'{"k": 7, "v": 1.5}'),
        ("user-2", "49590338271490256608559692538361571095921575989136588899",
         datetime.datetime(2024, 1, 1, 0, 0, 1), b'{"k": 9, "v": -2.0}'),
    ]
    records = spark.createDataFrame(rows, kinesis_record_schema())
    decoded = decode_json_records(records, "k INT, v DOUBLE")
    got = {r.partitionKey: (r.k, r.v) for r in decoded.collect()}
    assert got == {"user-1": (7, 1.5), "user-2": (9, -2.0)}


def test_read_kinesis_raises_without_connector(spark):
    from python_kinesis_streaming_spark.sources.kinesis import read_kinesis

    with pytest.raises(RuntimeError, match="connector"):
        read_kinesis(spark, "my-stream", "us-east-1")


def test_stratified_sample_matches_registry(spark, sf_dir):
    """api.stratified_sample keep-counts == sample_stratified op."""
    ev = load_table(spark, sf_dir, "events")
    kept = api.stratified_sample(
        ev,
        "event_type",
        {"purchase": 1.0, "signup": 0.5, "click": 0.1, "view": 0.1, "error": 0.1},
        key_col="event_id",
    )
    out = kept.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_kept"))
    expected = Q["sample_stratified"](spark, sf_dir).select("event_type", "n_kept")
    assert_same_rows(out, expected)


def test_stratified_sample_is_deterministic_subset(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    a = api.stratified_sample(ev, "event_type", {"click": 0.1}, key_col="event_id")
    b = api.stratified_sample(ev, "event_type", {"click": 0.1}, key_col="event_id")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # purchase stratum absent from rates → kept whole
    n_purch = ev.where(F.col("event_type") == "purchase").count()
    assert a.where(F.col("event_type") == "purchase").count() == n_purch


def test_quantize_embeddings_matches_registry(spark, sf_dir):
    """api.quantize_embeddings summary == emb_normalize_quantize op."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = api.quantize_embeddings(emb, "embedding")
    out = q.select(
        "vec_id",
        F.floor(F.col("norm") * 10000 + F.lit(0.505)).cast("double").alias("norm_f"),
        F.aggregate("qvec", F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.array_min("qvec").alias("q_min"),
        F.array_max("qvec").alias("q_max"),
    ).withColumn("norm_f", F.col("norm_f") / 10000)
    expected = Q["emb_normalize_quantize"](spark, sf_dir).withColumnRenamed(
        "norm", "norm_f"
    )
    assert_same_rows(out, expected)


def test_gap_fill_matches_registry_op(spark, sf_dir):
    """api.gap_fill (day unit) row-set == registry ts_gap_fill, modulo the
    registry op's eps-floor rounding of the daily sum."""
    ev = load_table(spark, sf_dir, "events")
    out = api.gap_fill(ev, key="user_id", ts="ts", value="value", unit="day")
    expected = Q["ts_gap_fill"](spark, sf_dir)
    # Same spine (key, bucket, is_gap); filled values differ only by the
    # registry op's eps-floor rounding, so the spine is what's compared.
    lhs = out.select(
        "user_id", F.col("ts").alias("d"), "is_gap"
    )
    rhs = expected.select("user_id", "d", "is_gap")
    assert_same_rows(lhs, rhs)


def test_merge_intervals_matches_registry_op(spark, sf_dir):
    """api.merge_intervals re-aggregated == registry interval_merge."""
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(1800000000)).alias("e"),
    )
    merged = api.merge_intervals(iv, key="user_id", start="s", end="e")
    out = merged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum(F.col("island_end") - F.col("island_start")).alias("covered_us"),
        F.min("island_start").alias("first_start_us"),
        F.max("island_end").alias("last_end_us"),
    )
    expected = Q["interval_merge"](spark, sf_dir)
    assert_same_rows(out, expected)


def test_scd2_matches_registry_op(spark, sf_dir):
    """api.scd2 with the event_id tie-break == registry scd2_history."""
    ev = load_table(spark, sf_dir, "events")
    out = api.scd2(
        ev, key="user_id", state="event_type", ts="ts", order_col="event_id"
    ).select(
        "user_id", "state", F.col("valid_from"), "valid_to", "is_current"
    )
    expected = Q["scd2_history"](spark, sf_dir).select(
        "user_id", "state", F.col("valid_from"), "valid_to", "is_current"
    )
    assert_same_rows(out, expected)


def test_nearest_event_join_matches_registry_op(spark, sf_dir):
    """api.nearest_event_join(clicks, purchases) == registry
    join_asof_nearest."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts")
    out = api.nearest_event_join(
        clicks, purchases, on="user_id", left_time="click_ts", right_time="ts"
    ).select(
        "click_id", "user_id", "click_ts",
        F.col("nearest_ts").alias("nearest_purchase_ts"),
    )
    expected = Q["join_asof_nearest"](spark, sf_dir)
    assert_same_rows(out, expected)


def test_weighted_sample_is_rate_bounded_subset(spark, sf_dir):
    """weighted_sample keeps a deterministic subset: re-running selects the
    identical rows, and a 500000-ppm rate keeps roughly half per key."""
    docs = load_table(spark, sf_dir, "documents")
    rates = (
        docs.select("source").distinct()
        .withColumn("keep_ppm", F.lit(500000))
    )
    s1 = api.weighted_sample(docs, "doc_id", rates, "source")
    s2 = api.weighted_sample(docs, "doc_id", rates, "source")
    ids1 = sorted(r.doc_id for r in s1.select("doc_id").collect())
    ids2 = sorted(r.doc_id for r in s2.select("doc_id").collect())
    assert ids1 == ids2 and ids1, "hash sampling must be deterministic"
    n_total = docs.count()
    assert 0.35 * n_total < len(ids1) < 0.65 * n_total


def test_power_iteration_step_matches_registry_loadings(spark, sf_dir):
    """Two API matvec steps + normalization reproduce the registry op's
    loading vector (which fuses the same two passes)."""
    import math

    emb = load_table(spark, sf_dir, "embeddings")
    spark_dim = 64
    v0 = spark.createDataFrame(
        [(j, 1.0 / 8.0) for j in range(spark_dim)], "j int, vj double"
    )
    v1 = api.power_iteration_step(emb, "embedding", "vec_id", v0).collect()
    n1 = math.sqrt(sum(r.vj * r.vj for r in v1))
    v1n = spark.createDataFrame(
        [(r.j, r.vj / n1) for r in v1], "j int, vj double"
    )
    v2 = api.power_iteration_step(emb, "embedding", "vec_id", v1n).toPandas()
    n2 = math.sqrt((v2.vj * v2.vj).sum())
    v2["loading"] = (v2.vj / n2 * 1e4 + 0.505).apply(math.floor) / 1e4
    reg = Q["emb_pca_power_iter"](spark, sf_dir).toPandas()
    assert_twin_match(
        v2[["j", "loading"]], reg[["j", "loading"]], "power_iteration"
    )


def test_target_encode_matches_registry(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    out = (
        api.target_encode(orders, "o_orderpriority", "o_totalprice")
        .select(
            "o_orderkey",
            "o_orderpriority",
            (F.floor(F.col("loo_enc") * 100 + F.lit(0.505)) / 100).alias(
                "loo_enc"
            ),
        )
        .toPandas()
    )
    reg = Q["feat_target_encode"](spark, sf_dir).toPandas()
    assert_twin_match(out, reg, "target_encode")


def test_winsorize_matches_registry(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    rowlevel = api.winsorize(ev, "event_type", "value")
    agg = rowlevel.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(
            F.floor(F.col("value_w") * 100 + 0.5).cast("long")
        ).alias("wcents"),
    )
    reg = (
        Q["feat_winsorize"](spark, sf_dir)
        .select(
            "event_type",
            "n",
            (F.col("mean_after") * F.col("n") * 100).alias("approx_wcents"),
        )
        .toPandas()
    )
    out = agg.toPandas()
    merged = out.merge(reg, on=["event_type", "n"])
    assert len(merged) == len(out)
    # mean_after was rounded at 4dp; allow the rounding slack per group
    assert ((merged.wcents - merged.approx_wcents).abs() <= merged.n * 0.01 + 1).all()


def test_merge_upsert_matches_registry(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    tgt = cust.select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long").alias("balance_cents"),
    ).withColumnRenamed("c_custkey", "key")
    src = (
        orders.groupBy(
            F.when(F.col("o_custkey") % 3 == 0, F.col("o_custkey") + 1000000)
            .otherwise(F.col("o_custkey"))
            .alias("key")
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("delta"),
            F.count("*").alias("n_orders"),
        )
    )
    out = api.merge_upsert(
        tgt, src, "key", "balance_cents", "delta",
        delete_cond=F.col("n_orders") >= 15,
    ).toPandas()
    reg = Q["merge_into_upsert"](spark, sf_dir).toPandas()
    assert_twin_match(out, reg, "merge_upsert")


def test_bloom_prefilter_matches_registry_counts(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    keys = cust.where(F.col("c_acctbal") > 7000).select("c_custkey")
    candidates = api.bloom_prefilter(orders, "o_custkey", keys, "c_custkey")
    reg = Q["join_bloom_prefilter"](spark, sf_dir).collect()[0]
    assert candidates.count() == reg["n_candidates"]
    # every true match must pass (no false negatives — bloom invariant)
    true_matches = orders.join(keys, orders.o_custkey == keys.c_custkey, "left_semi")
    assert true_matches.exceptAll(candidates).count() == 0


def test_holt_smooth_matches_registry(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    src = ev.select(
        "user_id", F.struct("ts", "event_id").alias("tkey"), "value"
    )
    out = (
        api.holt_smooth(src, "user_id", "tkey", "value")
        .select(
            "user_id",
            "n_events",
            (F.floor(F.col("level") * 1e6 + F.lit(0.505)) / 1e6).alias("level"),
            (F.floor(F.col("trend") * 1e6 + F.lit(0.505)) / 1e6).alias("trend"),
        )
        .toPandas()
    )
    reg = (
        Q["ts_holt_linear"](spark, sf_dir)
        .select("user_id", "n_events", "level", "trend")
        .toPandas()
    )
    assert_twin_match(out, reg, "holt_smooth")


def test_time_weighted_avg_matches_registry(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    out = api.time_weighted_avg(ev, key="user_id", ts="ts", value_col="value").select(
        "user_id",
        "n_segments",
        rnd(F.col("twa_value"), 4).alias("twa_value"),
        rnd(F.col("naive_avg"), 4).alias("naive_avg"),
    )
    expected = Q["ts_time_weighted_avg"](spark, sf_dir)
    assert_same_rows(out, expected)


def test_velocity_features_matches_registry(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    out = api.velocity_features(ev, key="user_id", ts="ts").select(
        "event_id", "user_id", "n_1h", "n_6h", "n_24h"
    )
    expected = Q["feat_velocity_multi_horizon"](spark, sf_dir)
    assert_same_rows(out, expected)


def test_tokenize_counts_match_arithmetic(spark, sf_dir):
    """tokenize explodes non-empty whitespace tokens; its total per doc must
    equal the separator-arithmetic count minus empty tokens."""
    docs = load_table(spark, sf_dir, "documents")
    tok_counts = (
        api.tokenize(docs, "doc_id", "text")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    direct = docs.select(
        "doc_id",
        F.size(
            F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
        ).alias("n"),
    )
    assert_same_rows(tok_counts, direct)


def test_kmeans_step_matches_registry(spark, sf_dir):
    """kmeans_step returns one assignment per input row; aggregating them
    must reproduce emb_kmeans_one_iter's per-centroid counts and updated
    means."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    assigned = api.kmeans_step(
        emb.select("vec_id", "embedding"), "embedding", cent
    )
    assert assigned.select("vec_id").distinct().count() == emb.count()
    assert assigned.count() == emb.count()
    out = assigned.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members"),
        rnd(F.avg(F.col("embedding")[0].cast("double")), 4).alias("new_c0"),
        rnd(F.avg(F.col("embedding")[1].cast("double")), 4).alias("new_c1"),
    )
    expected = Q["emb_kmeans_one_iter"](spark, sf_dir)
    assert_same_rows(out, expected)


def test_ewma_matches_registry(spark, sf_dir):
    names = {"user_id": "k", "ts": "t", "event_id": "o", "value": "x"}
    ev = load_table(spark, sf_dir, "events").withColumnsRenamed(names)
    out = api.ewma(ev, "k", ["t", "o"], "x", alpha=0.5).select(
        "k", "n_events", rnd(F.col("ewma"), 6).alias("ewma")
    )
    expected = Q["ts_ewma"](spark, sf_dir).withColumnsRenamed({"user_id": "k"})
    assert_same_rows(out, expected)


def test_interpolate_hourly_matches_registry(spark, sf_dir):
    names = {"user_id": "k", "ts": "t", "value": "x"}
    ev = load_table(spark, sf_dir, "events").withColumnsRenamed(names)
    out = api.interpolate_hourly(ev, key="k", ts="t", value_col="x").select(
        "k", "hour", rnd(F.col("interp_value"), 4).alias("interp_value")
    )
    expected = Q["ts_linear_interpolate"](spark, sf_dir).withColumnsRenamed(
        {"user_id": "k"}
    )
    assert_same_rows(out, expected)


def test_chunk_documents_matches_registry(spark, sf_dir):
    names = {"doc_id": "id", "text": "body"}
    docs = load_table(spark, sf_dir, "documents").withColumnsRenamed(names)
    out = api.chunk_documents(docs, "id", "body", window=32, stride=24)
    expected = Q["text_chunk_overlap"](spark, sf_dir).withColumnsRenamed(
        {"doc_id": "id"}
    )
    assert_same_rows(out, expected)


def test_gram_matrix_matches_registry(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").withColumnsRenamed(
        {"embedding": "v"}
    )
    out = api.gram_matrix(emb, "v").select("j", "k", rnd(F.col("g"), 4).alias("g"))
    assert_same_rows(out, Q["emb_gram_matrix"](spark, sf_dir))


def test_hamming_knn_matches_registry(spark, sf_dir):
    names = {"vec_id": "id", "embedding": "v"}
    emb = load_table(spark, sf_dir, "embeddings").withColumnsRenamed(names)
    out = api.hamming_knn(emb, "v", "id", 0, k=10)
    expected = Q["emb_hamming_knn"](spark, sf_dir).withColumnsRenamed(
        {"vec_id": "id"}
    )
    assert_same_rows(out, expected)


def test_train_test_split_matches_registry(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").withColumnsRenamed(
        {"doc_id": "id"}
    )
    out = (
        api.train_test_split(docs, "id", train_pct=90, seed=13)
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("n_chars_sum"))
    )
    assert_same_rows(out, Q["pipeline_train_test_split"](spark, sf_dir))


def test_pack_sequences_matches_registry(spark, sf_dir):
    """The bin size given as a Column expression instead of a column name."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    out = (
        api.pack_sequences(docs, "lang", "doc_id", n_tok, budget=2048)
        .groupBy("lang", "bin")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum(n_tok).alias("n_tokens"))
    )
    assert_same_rows(out, Q["corpus_pack_sequences"](spark, sf_dir))


def test_decontaminate_matches_registry_op(spark, sf_dir):
    names = {"doc_id": "id", "text": "body"}
    docs = load_table(spark, sf_dir, "documents").withColumnsRenamed(names)
    out = api.decontaminate(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0"),
        id_col="id",
        text_col="body",
        n=4,
    )
    expected = Q["corpus_decontaminate"](spark, sf_dir).withColumnsRenamed(
        {"doc_id": "id"}
    )
    assert_same_rows(out, expected)


def test_shard_assign_matches_registry(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").withColumnsRenamed(
        {"doc_id": "id"}
    )
    manifest = (
        api.shard_assign(docs, "id", n_shards=16, seed=7)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )
    expected = Q["corpus_shard_assign"](spark, sf_dir).select(
        "shard", "n_docs", "total_chars"
    )
    assert_same_rows(manifest, expected)


def test_triangle_stats_matches_registry(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select("l_orderkey", "l_suppkey").distinct()
    a, b = pairs.alias("a"), pairs.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst"))
        .distinct()
    )
    out = api.triangle_stats(edges, u_col="src", v_col="dst").withColumn(
        "clustering_coeff", rnd(F.col("clustering_coeff"), 6)
    )
    assert_same_rows(out, Q["graph_triangle_count"](spark, sf_dir))

"""Physical-plan pins for the round-7 library surface: the scale
claims in each module's docstring (shuffle counts, broadcast joins,
JVM-only hot paths) asserted against the optimizer's actual output."""

from __future__ import annotations

from pyspark.sql import functions as F

from python_kinesis_streaming_spark.llm.classifier import (
    hashed_features,
    predict_scores,
)
from python_kinesis_streaming_spark.llm.packing import pack_concat
from python_kinesis_streaming_spark.llm.span_dedup import duplicated_spans
from python_kinesis_streaming_spark.llm.urls import (
    filter_blocked_domains,
    normalize_url,
)
from python_kinesis_streaming_spark.plans import (
    broadcast_join_count,
    plan_of,
    shuffle_count,
)


def _docs(spark, n=50):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.lit("alpha beta gamma delta"),
            F.col("id").cast("string"),
        ).alias("text"),
    )


def test_pack_concat_is_single_shuffle_jvm_only(spark):
    lengths = spark.range(100).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.col("id") * 37, F.lit(300)) + 1).alias("n_tokens"),
    )
    p = plan_of(pack_concat(lengths, 128, buckets=8))
    # one Exchange for the per-bucket window, reused by both union arms
    assert shuffle_count(p) <= 2, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_hashed_features_two_shuffles(spark):
    p = plan_of(hashed_features(_docs(spark), "doc_id", "text", dim=64))
    # groupBy(doc_id, idx) + the normalization groupBy(doc_id)/join;
    # AQE may add one more exchange around the join
    assert shuffle_count(p) <= 4, p
    assert "BatchEvalPython" not in p, p


def test_predict_scores_broadcasts_weights(spark):
    feats = hashed_features(_docs(spark), "doc_id", "text", dim=64)
    p = plan_of(predict_scores(feats, [0.0] * 64, 0.0))
    assert broadcast_join_count(p) >= 1, p
    assert "BatchEvalPython" not in p, p


def test_duplicated_spans_bounded_shuffles_no_python(spark):
    p = plan_of(duplicated_spans(_docs(spark), "doc_id", "text", k=3,
                                 min_len=4))
    # gram groupBy + join + per-doc window + island groupBy
    assert shuffle_count(p) <= 6, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    # the run-merge window is partitioned (never a global window)
    assert "Window" in p, p


def test_normalize_url_is_pure_projection(spark):
    urls = spark.range(10).select(
        F.concat(F.lit("https://Example.com/a?utm_source=x&q="),
                 F.col("id").cast("string")).alias("url")
    )
    p = plan_of(urls.select(normalize_url("url").alias("n")))
    assert shuffle_count(p) == 0, p
    assert "BatchEvalPython" not in p, p


def test_blocklist_filter_is_broadcast_anti_join(spark):
    urls = spark.range(20).select(
        F.concat(F.lit("https://h"), F.col("id").cast("string"),
                 F.lit(".example/p")).alias("url")
    )
    block = spark.createDataFrame([("h1.example",)], "domain string")
    p = plan_of(filter_blocked_domains(urls, "url", block))
    assert broadcast_join_count(p) >= 1, p
    assert shuffle_count(p) == 0, p

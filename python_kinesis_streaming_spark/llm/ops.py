"""§2.11 LLM-data-pipeline operator family — aggregator module.

Importing this module registers every op in the family (the registry's
``_OP_MODULES`` lists only this aggregator):

- ``dedup``      — exact / MinHash-LSH / SimHash / n-gram-Jaccard dedup
- ``similarity`` — brute-force knn, blocked pairwise top-k, embedding
                   near-dup, random-hyperplane LSH ANN
- ``text``       — corpus stats, tf-idf, language ID, quality gate,
                   fingerprint, token counting
- ``multimodal`` — array/text columns through relational ops; binary
                   payload decode plumbing
"""

from __future__ import annotations

from python_kinesis_streaming_spark.llm import (  # noqa: F401
    dedup,
    multimodal,
    similarity,
    text,
)


# ---------------------------------------------------------------------------
# Flagship composition: the full training-data cleaning pipeline as ONE op.
# ---------------------------------------------------------------------------

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F  # noqa: E402

from python_kinesis_streaming_spark.functions.rounding import rnd  # noqa: E402
from python_kinesis_streaming_spark.registry import op  # noqa: E402
from python_kinesis_streaming_spark.sources.tables import load_table  # noqa: E402


@op(
    "pipeline_clean_corpus",
    oracle="""
        WITH tok AS (
            SELECT doc_id, t.tok AS tok
            FROM documents, unnest(string_split(text, ' ')) AS t(tok)
            WHERE len(t.tok) > 0
        ),
        quality AS (
            SELECT doc_id, count(*) AS n_tokens,
                   count(DISTINCT tok) AS n_distinct
            FROM tok GROUP BY doc_id
        ),
        kept AS (
            SELECT doc_id FROM quality
            WHERE n_tokens BETWEEN 20 AND 80
              AND CAST(n_distinct AS DOUBLE) / n_tokens >= 0.25
        ),
        deduped AS (
            SELECT min(doc_id) AS doc_id
            FROM documents JOIN kept USING (doc_id)
            GROUP BY md5(text)
        )
        SELECT d.lang,
               count(*) AS n_docs,
               CAST(sum(q.n_tokens) AS BIGINT) AS total_tokens,
               floor((avg(q.n_tokens)) * 100.0 + 0.505) / 100.0 AS avg_tokens
        FROM deduped
        JOIN documents d USING (doc_id)
        JOIN quality q USING (doc_id)
        GROUP BY d.lang
    """,
    scale=(
        "The composed LLM-data pipeline: quality gate -> exact dedup -> "
        "per-lang corpus stats, in ONE lazy plan. Order matters at 100 TB: "
        "the cheap quality filter runs FIRST so dedup hashes only survivors; "
        "every stage is partial-agg/broadcast-friendly; nothing materializes "
        "between stages (Catalyst fuses the whole chain)."
    ),
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus cleaning: quality-filter, dedup, then summarize
    the surviving corpus per language - one composed DataFrame plan."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.length("tok") > 0)
    quality = tok.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"), F.countDistinct("tok").alias("n_distinct")
    )
    kept = quality.where(
        F.col("n_tokens").between(20, 80)
        & (F.col("n_distinct").cast("double") / F.col("n_tokens") >= 0.25)
    ).select("doc_id")
    deduped = (
        docs.join(kept, "doc_id")
        .groupBy(F.md5("text"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return (
        deduped.join(docs.select("doc_id", "lang"), "doc_id")
        .join(quality, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            rnd(F.avg("n_tokens"), 2).alias("avg_tokens"),
        )
    )


def train_test_split(
    df: DataFrame, key_col: str, train_pct: int = 90, seed: int = 13
) -> DataFrame:
    """Deterministic, leakage-proof train/test assignment: adds a ``split``
    column ('train'/'test') decided by a portable keyed hash of ``key_col``.
    Same key → same split on every engine, retry, and cluster size; no RNG
    state, no sampling job."""
    from python_kinesis_streaming_spark.llm.dedup import md5_hash64

    bucket = md5_hash64(F.col(key_col).cast("string"), seed=seed) % 100
    return df.withColumn(
        "split", F.when(bucket < train_pct, "train").otherwise("test")
    )


@op(
    "pipeline_train_test_split",
    oracle="""
        SELECT lang,
               CASE WHEN CAST(('0x' || substring(md5('13:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90
                    THEN 'train' ELSE 'test' END AS split,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars_sum
        FROM documents
        GROUP BY 1, 2
    """,
    scale=(
        "Deterministic 90/10 train/test split by portable keyed hash "
        "(md5-derived, seed 13): no RNG state, no sampling job — every "
        "engine, retry, and cluster size assigns each doc to the SAME "
        "split (leakage-proof, the property that matters for training "
        "data). Map-only decision + partial-agg summary."
    ),
)
def pipeline_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-deterministic 90/10 split of documents; per (lang, split)
    doc and char counts."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        train_test_split(docs, "doc_id", train_pct=90, seed=13)
        .select("lang", "split", "n_chars")
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars_sum"),
        )
    )


def pack_sequences(
    df: DataFrame,
    part_col: str,
    order_col: str,
    size_col: Column | str,
    budget: int = 2048,
) -> DataFrame:
    """Assign each row a ``bin`` id packing rows (in ``order_col`` order,
    within ``part_col`` partitions) into fixed ``budget``-sized bins via an
    exclusive prefix sum. One window pass, no driver loop."""
    size = F.col(size_col) if isinstance(size_col, str) else size_col
    w = (
        Window.partitionBy(part_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return df.withColumn(
        "bin",
        F.floor(F.coalesce(F.sum(size).over(w), F.lit(0)) / F.lit(float(budget))).cast(
            "long"
        ),
    )


@op(
    "corpus_pack_sequences",
    oracle="""
        WITH t AS (
            SELECT lang, doc_id,
                   len(string_split(text, ' ')) AS n_tok
            FROM documents
        ),
        packed AS (
            SELECT lang, doc_id, n_tok,
                   CAST(floor(
                       coalesce(sum(n_tok) OVER (PARTITION BY lang
                                                 ORDER BY doc_id
                                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                                          AND 1 PRECEDING), 0)
                       / 2048.0) AS BIGINT) AS bin
            FROM t
        )
        SELECT lang, bin, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
        FROM packed GROUP BY lang, bin
    """,
    scale=(
        "Sequence packing for training (fixed 2048-token budget): bin = "
        "exclusive-prefix-token-count // budget over a deterministic "
        "doc order — one window pass per lang partition, no driver "
        "loop, no per-bin state. At 100 TB the lang partitions are "
        "range-partitioned on doc_id so the running sum streams; the "
        "greedy close-on-overflow variant is the same window with a "
        "session-style carry, traded here for the closed-form bin id."
    ),
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents (ordered by doc_id per lang) into 2048-token bins;
    per-bin doc and token counts."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    packed = pack_sequences(
        docs.select("lang", "doc_id", n_tok.alias("n_tok")),
        "lang",
        "doc_id",
        "n_tok",
        budget=2048,
    )
    return packed.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )

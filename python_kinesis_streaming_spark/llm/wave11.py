"""Wave-11 pipeline ops (round 12, fifth batch) — corpus word
burstiness and token-mass concentration.

Two capabilities extending the corpus-statistics story:

- ``corpus_word_burstiness``: Church & Gale (1995) word burstiness —
  for the top collection-frequency words, cf/df and the probability a
  word re-occurs in a document that already contains it. The corpus
  statistic that separates topical words from function words before
  building LM training mixes.
- ``corpus_token_concentration``: token-mass concentration — exact
  integer-rank Gini per source, top-decile share, and the global HHI
  across sources. The diversity audit run before weighting a mixture.

Same discipline as waves 7-10: JVM-only, integer-exact where a
comparison or a cross-partition sum follows, identical aliases, BIGINT
casts on DuckDB sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from python_kinesis_streaming_spark.functions.rounding import rnd, sql_rnd
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# word burstiness (Church & Gale)
# ---------------------------------------------------------------------------


@op(
    "corpus_word_burstiness",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents
        ),
        dw AS (
            SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c
            FROM tok GROUP BY doc_id, word
        ),
        w AS (
            SELECT word,
                   CAST(sum(c) AS BIGINT) AS cf,
                   CAST(count(*) AS BIGINT) AS df,
                   CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END)
                        AS BIGINT) AS df_repeat
            FROM dw GROUP BY word
        ),
        nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        top AS (
            SELECT * FROM w ORDER BY cf DESC, word LIMIT 30
        )
        SELECT word, cf, df, df_repeat,
               {sql_rnd('cf * 1.0 / df', 4)} AS burstiness,
               {sql_rnd('df_repeat * 1.0 / df', 4)} AS p_repeat,
               {sql_rnd('df * 1.0 / n_docs', 4)} AS doc_share
        FROM top CROSS JOIN nd
    """,
    scale=(
        "Word burstiness (Church & Gale 1995): burstiness = cf/df "
        "(mean occurrences per containing doc) and p_repeat = "
        "P(count >= 2 | count >= 1) — the adaptation statistic that "
        "separates topical words (bursty) from function words "
        "(uniform) when profiling an LM corpus. Shape: explode -> "
        "(doc, word) partial-agg -> word agg — two map-side-combined "
        "shuffles whose key spaces are |docs|x|vocab-per-doc| then "
        "|vocab|; the top-30 is orderBy+limit (TakeOrderedAndProject, "
        "never a global window), and the doc count is a 1-row "
        "broadcast. All counts are exact integers; ratios round at "
        "1e-4 after the BIGINT sums."
    ),
)
def corpus_word_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 words by collection frequency: cf, df, burstiness=cf/df,
    repeat probability and document share."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    dw = tok.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = dw.groupBy("word").agg(
        F.sum("c").cast("long").alias("cf"),
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum(F.when(F.col("c") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("df_repeat"),
    )
    nd = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    top = w.orderBy(F.desc("cf"), "word").limit(30)
    return top.crossJoin(F.broadcast(nd)).select(
        "word",
        "cf",
        "df",
        "df_repeat",
        rnd(F.col("cf") * F.lit(1.0) / F.col("df"), 4).alias("burstiness"),
        rnd(F.col("df_repeat") * F.lit(1.0) / F.col("df"), 4).alias(
            "p_repeat"
        ),
        rnd(F.col("df") * F.lit(1.0) / F.col("n_docs"), 4).alias(
            "doc_share"
        ),
    )


# ---------------------------------------------------------------------------
# token-mass concentration: Gini per source, top-decile share, HHI
# ---------------------------------------------------------------------------


@op(
    "corpus_token_concentration",
    oracle=f"""
        WITH dt AS (
            SELECT doc_id, source,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
            FROM documents
        ),
        ranked AS (
            SELECT source, n_tok,
                   CAST(row_number() OVER (
                       PARTITION BY source ORDER BY n_tok, doc_id
                   ) AS BIGINT) AS rk,
                   CAST(row_number() OVER (
                       PARTITION BY source ORDER BY n_tok DESC, doc_id
                   ) AS BIGINT) AS rk_desc,
                   CAST(count(*) OVER (PARTITION BY source)
                        AS BIGINT) AS cnt
            FROM dt
        ),
        per_source AS (
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS total_tokens,
                   CAST(sum(rk * n_tok) AS BIGINT) AS s1,
                   CAST(sum(CASE WHEN rk_desc <= CAST(floor(
                            (cnt + 9) / 10.0) AS BIGINT)
                        THEN n_tok ELSE 0 END) AS BIGINT) AS top_tok
            FROM ranked GROUP BY source
        ),
        grand AS (
            SELECT CAST(sum(total_tokens) AS BIGINT) AS g
            FROM per_source
        ),
        hhi AS (
            SELECT CAST(sum(CAST(floor(
                       (total_tokens * 1.0 / g)
                       * (total_tokens * 1.0 / g)
                       * 1000000000.0 + 0.505) AS BIGINT)) AS BIGINT)
                       AS hhi_nano
            FROM per_source CROSS JOIN grand
        )
        SELECT p.source, p.n_docs, p.total_tokens,
               {sql_rnd(
                   "(2.0 * p.s1 - (p.n_docs + 1.0) * p.total_tokens)"
                   " / (p.n_docs * 1.0 * p.total_tokens)", 6
               )} AS gini,
               {sql_rnd("p.top_tok * 1.0 / p.total_tokens", 6)}
                   AS top_decile_share,
               {sql_rnd("h.hhi_nano / 1000000000.0", 6)} AS source_hhi
        FROM per_source p CROSS JOIN hhi h
    """,
    scale=(
        "Token-mass concentration — the diversity audit run before "
        "weighting a mixture: exact integer-rank Gini per source "
        "(G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over the "
        "ascending-sorted docs, every term a BIGINT so the statistic "
        "is partition-order-free), the token share held by the "
        "top-decile largest docs, and the Herfindahl index of token "
        "mass across sources (per-source shares squared, frozen to "
        "integer nano-units before the cross-source sum — 20-double "
        "sums are not associativity-safe). Shape: one map-only "
        "tokenize pass, rank windows PARTITIONED BY source (bounded "
        "per-key, never global), a per-source agg and a 1-row HHI "
        "broadcast back. 100 TB: the windows sort within source "
        "partitions only; skewed sources salt into the two-level "
        "rank pattern corpus_epoch_plan uses."
    ),
)
def corpus_token_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source token-count Gini, top-decile token share, and the
    global across-source HHI."""
    docs = load_table(spark, sf_dir, "documents")
    dt = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    w_src = Window.partitionBy("source")
    ranked = dt.select(
        "source",
        "n_tok",
        F.row_number()
        .over(w_src.orderBy("n_tok", "doc_id"))
        .cast("long")
        .alias("rk"),
        F.row_number()
        .over(w_src.orderBy(F.desc("n_tok"), "doc_id"))
        .cast("long")
        .alias("rk_desc"),
        F.count(F.lit(1)).over(w_src).cast("long").alias("cnt"),
    )
    per_source = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.sum(F.col("rk") * F.col("n_tok")).cast("long").alias("s1"),
        F.sum(
            F.when(
                F.col("rk_desc")
                <= F.floor((F.col("cnt") + 9) / F.lit(10.0)).cast("long"),
                F.col("n_tok"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("top_tok"),
    )
    grand = per_source.agg(F.sum("total_tokens").cast("long").alias("g"))
    hhi = (
        per_source.crossJoin(F.broadcast(grand))
        .select(
            F.floor(
                (F.col("total_tokens") * F.lit(1.0) / F.col("g"))
                * (F.col("total_tokens") * F.lit(1.0) / F.col("g"))
                * F.lit(1000000000.0)
                + F.lit(0.505)
            )
            .cast("long")
            .alias("t")
        )
        .agg(F.sum("t").cast("long").alias("hhi_nano"))
    )
    return per_source.crossJoin(F.broadcast(hhi)).select(
        "source",
        "n_docs",
        "total_tokens",
        rnd(
            (
                F.lit(2.0) * F.col("s1")
                - (F.col("n_docs") + F.lit(1.0)) * F.col("total_tokens")
            )
            / (F.col("n_docs") * F.lit(1.0) * F.col("total_tokens")),
            6,
        ).alias("gini"),
        rnd(
            F.col("top_tok") * F.lit(1.0) / F.col("total_tokens"), 6
        ).alias("top_decile_share"),
        rnd(F.col("hhi_nano") / F.lit(1000000000.0), 6).alias(
            "source_hhi"
        ),
    )

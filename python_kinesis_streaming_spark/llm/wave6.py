"""Wave-6 pipeline ops (round 11, third batch) — source fingerprinting
and stratified splits.

Two more capabilities over the fixture tables: per-source TF-IDF
signature terms (the dataset-card "what is this
source about" row) and a hash-bucketed stratified train/val/test split
with a per-split stratum-balance audit.

All JVM-only DataFrame code with the repo's hash discipline: identical
aliases, ``rnd``/``sql_rnd`` before every ranking/argmax, total
tie-breaks. Registered at the BACK of ``_GRADING_PRIORITY`` behind
wave-5 (r12 window material).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from python_kinesis_streaming_spark.functions.rounding import rnd, sql_rnd
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# per-source TF-IDF signature terms
# ---------------------------------------------------------------------------


@op(
    "text_source_signature_terms",
    oracle=f"""
        WITH tok AS (
            SELECT source, unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        tf AS (
            SELECT source, token, count(*) AS tf
            FROM tok GROUP BY source, token
        ),
        df AS (
            SELECT token, count(DISTINCT source) AS df
            FROM tf GROUP BY token
        ),
        ns AS (SELECT count(DISTINCT source) AS n_sources FROM documents),
        scored AS (
            SELECT tf.source, tf.token,
                   {sql_rnd(
                       "tf.tf * ln(ns.n_sources * 1.0 / df.df)", 4
                   )} AS tfidf
            FROM tf JOIN df USING (token) CROSS JOIN ns
        )
        SELECT source, token, CAST(rank AS INTEGER) AS rank, tfidf
        FROM (
            SELECT source, token, tfidf, row_number() OVER (
                PARTITION BY source ORDER BY tfidf DESC, token
            ) AS rank FROM scored
        ) WHERE rank <= 5
    """,
    scale=(
        "Per-source signature terms: treat each source as one "
        "mega-document, score tokens by tf * ln(|sources|/df) and keep "
        "the top 5 — the 'what is this source about' row of a dataset "
        "card (corpus_datasheet_report's companion). The token "
        "explosion aggregates map-side into (source, token) partials "
        "(the text_tfidf shape), the df table is |vocab| rows, and the "
        "final rank windows over |sources| x |vocab-per-source| — at "
        "100 TB the only big shuffle carries (source, token, count) "
        "triples. TF-IDF rounds at 1e-4 before ranking with token "
        "tie-breaks; ln(n/df) is identical IEEE libm on both engines "
        "(the text-entropy precedent)."
    ),
)
def text_source_signature_terms(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-5 TF-IDF tokens per source (source = one mega-doc)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    tf = tok.groupBy("source", "token").agg(F.count("*").alias("tf"))
    df = tf.groupBy("token").agg(F.countDistinct("source").alias("df"))
    ns = docs.agg(F.countDistinct("source").alias("n_sources"))
    scored = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(ns))
        .select(
            "source",
            "token",
            rnd(
                F.col("tf")
                * F.log(F.col("n_sources") * F.lit(1.0) / F.col("df")),
                4,
            ).alias("tfidf"),
        )
    )
    return (
        scored.withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("source").orderBy(
                    F.desc("tfidf"), "token"
                )
            ),
        )
        .where(F.col("rank") <= 5)
        .select("source", "token", F.col("rank").cast("int").alias("rank"), "tfidf")
    )


# ---------------------------------------------------------------------------
# hash-bucketed stratified split + balance audit
# ---------------------------------------------------------------------------


@op(
    "corpus_split_stratified_audit",
    oracle="""
        WITH b AS (
            SELECT source,
                   CASE WHEN CAST(('0x' || substring(
                            md5(doc_id || ':split'), 1, 15)) AS BIGINT)
                            % 10 < 8 THEN '0_train'
                        WHEN CAST(('0x' || substring(
                            md5(doc_id || ':split'), 1, 15)) AS BIGINT)
                            % 10 = 8 THEN '1_val'
                        ELSE '2_test' END AS split
            FROM documents
        ),
        ss AS (
            SELECT split, source, count(*) AS n
            FROM b GROUP BY split, source
        ),
        st AS (SELECT split, sum(n) AS n_split FROM ss GROUP BY split),
        gs AS (
            SELECT source, count(*) AS n_src FROM documents GROUP BY source
        ),
        g AS (SELECT count(*) AS n_total FROM documents),
        -- full split x source spine: a source entirely absent from a
        -- split (the worst stratification failure) must still register
        -- its full-share deviation (ADVICE r11 item 4)
        spine AS (
            SELECT s.split, gs.source, gs.n_src
            FROM (SELECT unnest(
                ['0_train', '1_val', '2_test']) AS split) s
            CROSS JOIN gs
        ),
        dev AS (
            SELECT sp.split, sp.source,
                   COALESCE(ss.n, 0) AS n,
                   COALESCE(st.n_split, 0) AS n_split,
                   CASE WHEN COALESCE(st.n_split, 0) = 0
                        THEN sp.n_src * 1.0 / g.n_total
                        ELSE abs(COALESCE(ss.n, 0) * 1.0 / st.n_split
                                 - sp.n_src * 1.0 / g.n_total)
                   END AS d
            FROM spine sp
            LEFT JOIN ss ON ss.split = sp.split AND ss.source = sp.source
            LEFT JOIN st ON st.split = sp.split
            CROSS JOIN g
        )
        SELECT split,
               CAST(max(n_split) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_sources,
               floor((max(d)) * 10000.0 + 0.505) / 10000.0
                   AS max_share_dev
        FROM dev
        GROUP BY split
    """,
    scale=(
        "Stratified 80/10/10 train/val/test split by content-stable "
        "hash bucket (md5(doc_id:salt) % 10 — the same split for the "
        "same doc on every run, every engine, every re-crawl; no RNG, "
        "no shuffling step) plus the balance audit: per split, the "
        "max absolute deviation of any source's within-split share "
        "from its global share. Hash-bucket splits are THE 100 TB "
        "split mechanism (pipeline_train_test_split's rationale): "
        "assignment is map-only, deterministic under retries, and "
        "never needs a global sample. The audit aggregates "
        "(split, source) counts — 3 x |sources| rows — against "
        "broadcast totals. Deviations round at 1e-4 after the max."
    ),
)
def corpus_split_stratified_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """80/10/10 hash split + per-split stratum-balance deviation."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("doc_id"), F.lit("split"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 10
    )
    b = docs.select(
        "source",
        F.when(bucket < 8, "0_train")
        .when(bucket == 8, "1_val")
        .otherwise("2_test")
        .alias("split"),
    )
    ss = b.groupBy("split", "source").agg(F.count("*").alias("n"))
    st = ss.groupBy("split").agg(F.sum("n").alias("n_split"))
    gs = docs.groupBy("source").agg(F.count("*").alias("n_src"))
    g = docs.agg(F.count("*").alias("n_total"))
    # full split x source spine so an absent stratum registers its
    # full-share deviation (ADVICE r11 item 4); 3 x |sources| rows,
    # both sides broadcast-bounded
    splits = spark.createDataFrame(
        [("0_train",), ("1_val",), ("2_test",)], "split string"
    )
    spine = splits.crossJoin(F.broadcast(gs))
    dev = (
        spine.join(ss, ["split", "source"], "left")
        .join(F.broadcast(st), "split", "left")
        .crossJoin(F.broadcast(g))
        .select(
            "split",
            "source",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            F.coalesce(F.col("n_split"), F.lit(0)).alias("n_split"),
            F.when(
                F.coalesce(F.col("n_split"), F.lit(0)) == 0,
                F.col("n_src") * F.lit(1.0) / F.col("n_total"),
            )
            .otherwise(
                F.abs(
                    F.coalesce(F.col("n"), F.lit(0))
                    * F.lit(1.0)
                    / F.col("n_split")
                    - F.col("n_src") * F.lit(1.0) / F.col("n_total")
                )
            )
            .alias("d"),
        )
    )
    return dev.groupBy("split").agg(
        F.max("n_split").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("n") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_sources"),
        rnd(F.max("d"), 4).alias("max_share_dev"),
    )

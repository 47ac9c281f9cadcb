"""Wave-6 pipeline ops (round 11, third batch) — source fingerprinting,
differential-privacy release, stratified splits and an
expectations-suite report.

Four more capabilities over the fixture tables: per-source TF-IDF
signature terms (the dataset-card "what is this
source about" row), a deterministic-Laplace DP count release (noise
derived from an md5-uniform via the inverse CDF — reproducible on both
engines, no RNG), a hash-bucketed stratified train/val/test split with
a per-split stratum-balance audit, and a Great-Expectations-style
suite report over lineitem (range, sign, PK, FK checks in one table).

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

# 16^15 — the span of a 15-hex-digit md5 prefix (fits in int64)
_HEX15 = float(16**15)


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
# deterministic-Laplace differentially-private count release
# ---------------------------------------------------------------------------


@op(
    "dq_dp_count_release",
    oracle=f"""
        WITH c AS (
            SELECT source, count(*) AS true_count
            FROM documents GROUP BY source
        ),
        eps AS (SELECT unnest(['0.5', '1.0']) AS eps_label),
        u AS (
            SELECT c.source, c.true_count, e.eps_label,
                   CAST(e.eps_label AS DOUBLE) AS eps,
                   (CAST(('0x' || substring(
                        md5(c.source || ':' || e.eps_label), 1, 15))
                        AS BIGINT) + 0.5) / {_HEX15} AS u
            FROM c CROSS JOIN eps e
        ),
        lap AS (
            SELECT source, true_count, eps_label,
                   -(1.0 / eps) * sign(u - 0.5)
                       * ({sql_rnd("ln(1.0 - 2.0 * abs(u - 0.5))", 6)})
                       AS noise
            FROM u
        )
        SELECT source, eps_label,
               CAST(true_count AS BIGINT) AS true_count,
               {sql_rnd("noise", 4)} AS noise,
               {sql_rnd("true_count + noise", 4)} AS released,
               {sql_rnd("abs(noise)", 4)} AS abs_err
        FROM lap
    """,
    scale=(
        "Differentially-private count release (Laplace mechanism, "
        "sensitivity 1, eps in {{0.5, 1.0}}) with DETERMINISTIC noise: "
        "u = md5(source:eps)-uniform in (0,1) through the Laplace "
        "inverse CDF -sign(u-.5)/eps * ln(1-2|u-.5|) — reproducible on "
        "both engines and across retries (a real pipeline would swap "
        "in a seeded CSPRNG per release, same shape). u can never be "
        "exactly 0.5 (the +0.5/16^15 midpoint offset makes that value "
        "unattainable), so the sign/log are always defined. The "
        "per-source counts are one map-side-partial groupBy; the eps "
        "grid is a 2-row literal cross — at 100 TB this is a "
        "count-only pass plus |sources| x 2 rows of arithmetic. The "
        "ln result rounds at 1e-6 before scaling (libm parity "
        "headroom), outputs at 1e-4."
    ),
)
def dq_dp_count_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Laplace-noised counts at eps 0.5 and 1.0."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(F.count("*").alias("true_count"))
    eps = spark.createDataFrame(
        [("0.5",), ("1.0",)], "eps_label string"
    )
    u = c.crossJoin(F.broadcast(eps)).select(
        "source",
        "true_count",
        "eps_label",
        F.col("eps_label").cast("double").alias("eps"),
        (
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(":", F.col("source"), F.col("eps_label"))
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                + F.lit(0.5)
            )
            / F.lit(_HEX15)
        ).alias("u"),
    )
    t = F.col("u") - F.lit(0.5)
    noise = (
        F.lit(-1.0)
        / F.col("eps")
        * F.signum(t)
        * rnd(F.log(F.lit(1.0) - F.lit(2.0) * F.abs(t)), 6)
    )
    return u.select(
        "source",
        "eps_label",
        F.col("true_count").cast("long").alias("true_count"),
        rnd(noise, 4).alias("noise"),
        rnd(F.col("true_count") + noise, 4).alias("released"),
        rnd(F.abs(noise), 4).alias("abs_err"),
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


# ---------------------------------------------------------------------------
# expectations-suite report over lineitem
# ---------------------------------------------------------------------------


@op(
    "dq_expectation_suite_report",
    oracle="""
        WITH pk AS (
            -- orders PK: lineitem has NO unique key in this fixture
            -- (the _PK_COLUMNS inventory in operators/features.py
            -- deliberately excludes it)
            SELECT CAST(COALESCE(sum(cnt - 1), 0) AS BIGINT) AS v FROM (
                SELECT count(*) AS cnt FROM orders GROUP BY o_orderkey
            ) WHERE cnt > 1
        ),
        fk AS (
            SELECT CAST(count(*) AS BIGINT) AS v FROM lineitem l
            WHERE NOT EXISTS (
                SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey
            )
        ),
        scalars AS (
            SELECT
                CAST(count(*) FILTER (
                    l_quantity < 1 OR l_quantity > 50) AS BIGINT)
                    AS qty_range,
                CAST(count(*) FILTER (l_extendedprice <= 0) AS BIGINT)
                    AS price_positive,
                CAST(count(*) FILTER (
                    l_discount < 0 OR l_discount > 0.1) AS BIGINT)
                    AS discount_range,
                CAST(count(*) FILTER (
                    l_tax < 0 OR l_tax > 0.08) AS BIGINT) AS tax_range
            FROM lineitem
        ),
        rows_out AS (
            SELECT '1_qty_in_1_50' AS check_name, qty_range AS n_violations
            FROM scalars
            UNION ALL
            SELECT '2_price_positive', price_positive FROM scalars
            UNION ALL
            SELECT '3_discount_in_0_01', discount_range FROM scalars
            UNION ALL
            SELECT '4_tax_in_0_008', tax_range FROM scalars
            UNION ALL
            SELECT '5_pk_orders_unique', v FROM pk
            UNION ALL
            SELECT '6_fk_orders', v FROM fk
        )
        SELECT check_name, n_violations,
               n_violations = 0 AS pass
        FROM rows_out
    """,
    scale=(
        "Great-Expectations-style suite report: six contract checks "
        "over lineitem in one table — four range/sign expectations "
        "(computed in ONE scan as conditional-count partials), primary-"
        "key uniqueness (groupBy the PK, sum the surplus — shuffles "
        "key+count only) and referential integrity to orders (left "
        "anti join on the key column). This is the op a pipeline runs "
        "as its admission gate before appending a batch (the "
        "dq_row_quarantine companion at suite granularity). At 100 TB "
        "the scalar checks are map-side partials, the PK check is one "
        "key shuffle, and the FK check broadcast-prunes when the "
        "parent fits (or bucket-joins when not). Output is 6 rows; "
        "all counts BIGINT on both engines."
    ),
)
def dq_expectation_suite_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Six-check expectations suite over lineitem (ranges, PK, FK)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    scalars = li.agg(
        F.count_if(
            (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)
        ).alias("qty_range"),
        F.count_if(F.col("l_extendedprice") <= 0).alias("price_positive"),
        F.count_if(
            (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)
        ).alias("discount_range"),
        F.count_if(
            (F.col("l_tax") < 0) | (F.col("l_tax") > 0.08)
        ).alias("tax_range"),
    )
    pk = (
        orders.groupBy("o_orderkey")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") > 1)
        .agg(F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)).alias("v"))
    )
    fk = (
        li.join(
            orders.select("o_orderkey"),
            li["l_orderkey"] == F.col("o_orderkey"),
            "left_anti",
        ).agg(F.count("*").alias("v"))
    )

    def leg(name: str, col_df: DataFrame, colname: str) -> DataFrame:
        return col_df.select(
            F.lit(name).alias("check_name"),
            F.col(colname).cast("long").alias("n_violations"),
        )

    rows_out = (
        leg("1_qty_in_1_50", scalars, "qty_range")
        .unionByName(leg("2_price_positive", scalars, "price_positive"))
        .unionByName(leg("3_discount_in_0_01", scalars, "discount_range"))
        .unionByName(leg("4_tax_in_0_008", scalars, "tax_range"))
        .unionByName(leg("5_pk_orders_unique", pk, "v"))
        .unionByName(leg("6_fk_orders", fk, "v"))
    )
    return rows_out.select(
        "check_name",
        "n_violations",
        (F.col("n_violations") == 0).alias("pass"),
    )

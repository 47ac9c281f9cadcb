"""Wave-11 pipeline ops (round 12, fifth batch) — corpus word
burstiness, ranking-quality metrics and token-mass concentration.

Three capabilities extending the corpus-statistics / retrieval-eval
story:

- ``corpus_word_burstiness``: Church & Gale (1995) word burstiness —
  for the top collection-frequency words, cf/df and the probability a
  word re-occurs in a document that already contains it. The corpus
  statistic that separates topical words from function words before
  building LM training mixes.
- ``sim_rank_quality_ndcg``: ranking-quality metrics of the truncated
  prefilter vs the exact cosine ranking — recall@10, MRR and nDCG@10
  with integer-micro frozen DCG terms (the metrics a retrieval stack
  reports, beyond the recall audits the registry already has).
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
# ranking-quality metrics: recall@10 / MRR / nDCG@10 of the prefilter
# ---------------------------------------------------------------------------


@op(
    "sim_rank_quality_ndcg",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        x AS (
            SELECT vec_id, CAST(u.i AS INTEGER) AS j, v[u.i + 1] AS x
            FROM e, unnest(range(0, 64)) AS u(i)
        ),
        vr AS (
            SELECT j, {sql_rnd("var_pop(x)", 6)} AS variance
            FROM x GROUP BY j
        ),
        dims AS (
            SELECT j FROM (
                SELECT j, row_number() OVER (
                    ORDER BY variance DESC, j
                ) AS rk FROM vr
            ) WHERE rk <= 16
        ),
        xk AS (SELECT x.* FROM x JOIN dims USING (j)),
        tn AS (
            SELECT vec_id, sqrt(sum(x * x)) AS tn FROM xk GROUP BY vec_id
        ),
        td AS (
            SELECT q.vec_id AS qid, v.vec_id, sum(q.x * v.x) AS tdot
            FROM xk q JOIN xk v ON v.j = q.j AND v.vec_id <> q.vec_id
            WHERE q.vec_id % 50 = 0
            GROUP BY 1, 2
        ),
        atop AS (
            SELECT qid, vec_id, rank AS arank FROM (
                SELECT td.qid, td.vec_id, row_number() OVER (
                    PARTITION BY td.qid
                    ORDER BY {sql_rnd("td.tdot / (nq.tn * nv.tn)", 4)}
                                 DESC,
                             td.vec_id
                ) AS rank
                FROM td
                JOIN tn nq ON nq.vec_id = td.qid
                JOIN tn nv ON nv.vec_id = td.vec_id
            ) WHERE rank <= 10
        ),
        ex AS (
            SELECT q.vec_id AS qid, v.vec_id,
                   floor(list_cosine_similarity(q.v, v.v)
                         * 10000.0 + 0.505) / 10000.0 AS sim
            FROM e q JOIN e v ON v.vec_id <> q.vec_id
            WHERE q.vec_id % 50 = 0
        ),
        etop AS (
            SELECT qid, vec_id, rank AS erank FROM (
                SELECT qid, vec_id, row_number() OVER (
                    PARTITION BY qid ORDER BY sim DESC, vec_id
                ) AS rank FROM ex
            ) WHERE rank <= 10
        ),
        terms AS (
            SELECT a.qid,
                   CASE WHEN et.vec_id IS NOT NULL THEN 1 ELSE 0 END
                       AS hit,
                   CAST(floor(
                       COALESCE(11 - et.erank, 0)
                       / (ln(a.arank + 1.0) / ln(2.0))
                       * 1000000.0 + 0.505) AS BIGINT) AS g_micro,
                   CASE WHEN et.erank = 1
                        THEN CAST(floor(1000000.0 / a.arank + 0.505)
                                  AS BIGINT)
                        ELSE CAST(0 AS BIGINT) END AS rr_micro
            FROM atop a
            LEFT JOIN etop et
              ON et.qid = a.qid AND et.vec_id = a.vec_id
        ),
        idcg AS (
            SELECT CAST(sum(CAST(floor(
                       (11 - i) / (ln(i + 1.0) / ln(2.0))
                       * 1000000.0 + 0.505) AS BIGINT)) AS BIGINT)
                       AS idcg_micro
            FROM unnest(range(1, 11)) AS r(i)
        ),
        perq AS (
            SELECT qid,
                   CAST(sum(hit) AS BIGINT) AS hits,
                   CAST(sum(g_micro) AS BIGINT) AS dcg_micro,
                   CAST(max(rr_micro) AS BIGINT) AS rr_micro
            FROM terms GROUP BY qid
        )
        SELECT CAST(q.vec_id AS BIGINT) AS qid,
               CAST(COALESCE(p.hits, 0) AS BIGINT) AS hits,
               {sql_rnd("COALESCE(p.hits, 0) / 10.0", 4)} AS recall_at_10,
               {sql_rnd("COALESCE(p.rr_micro, 0) / 1000000.0", 4)} AS mrr,
               {sql_rnd(
                   "COALESCE(p.dcg_micro, 0) * 1.0 / i.idcg_micro", 4
               )} AS ndcg_at_10
        FROM e q
        LEFT JOIN perq p ON p.qid = q.vec_id
        CROSS JOIN idcg i
        WHERE q.vec_id % 50 = 0
    """,
    scale=(
        "Ranking-quality metrics of the variance-top-16 truncated "
        "prefilter against the exact cosine ranking: recall@10, MRR "
        "(reciprocal rank of the exact top-1 inside the approximate "
        "list) and nDCG@10 with graded gains rel = 11 - exact_rank — "
        "the triple a retrieval stack reports, beyond the plain "
        "recall audits already registered. Determinism: sims round at "
        "1e-4 with vec_id tie-breaks before every ranking; each DCG "
        "term freezes to integer micro-units BEFORE the per-query sum "
        "(10-double sums are not associativity-safe across "
        "partitions), and IDCG is derived from the same literal "
        "10-row spine in both engines rather than a typed constant. "
        "100 TB: the truncated leg is |sample|*N*16 and is the stage "
        "an IVF index replaces; the exact leg is sample-bounded "
        "(1-in-50 queries), never all-pairs."
    ),
)
def sim_rank_quality_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 / MRR / nDCG@10 of the truncated-dims prefilter
    ranking vs the exact cosine top-10, per sampled query."""
    from python_kinesis_streaming_spark.functions.vectors import dot, l2norm

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    x = emb.select("vec_id", F.posexplode(F.col("v")).alias("j", "x"))
    vr = x.groupBy("j").agg(rnd(F.var_pop("x"), 6).alias("variance"))
    dims = (
        vr.withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("variance"), "j")),
        )
        .where(F.col("rk") <= 16)
        .select("j")
    )
    xk = x.join(F.broadcast(dims), "j")
    tn = xk.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("tn")
    )
    xq = xk.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"), "j", F.col("x").alias("xq")
    )
    td = (
        xq.join(xk, "j")
        .where(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.sum(F.col("xq") * F.col("x")).alias("tdot"))
    )
    nq, nv = tn.alias("nq"), tn.alias("nv")
    atop = (
        td.alias("td")
        .join(nq, F.col("nq.vec_id") == F.col("td.qid"))
        .join(nv, F.col("nv.vec_id") == F.col("td.vec_id"))
        .select(
            F.col("td.qid").alias("qid"),
            F.col("td.vec_id").alias("vec_id"),
            rnd(
                F.col("td.tdot") / (F.col("nq.tn") * F.col("nv.tn")), 4
            ).alias("tsim"),
        )
        .withColumn(
            "arank",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.desc("tsim"), "vec_id")
            ),
        )
        .where(F.col("arank") <= 10)
        .select("qid", "vec_id", "arank")
    )
    # per-ROW norms hoisted out of the per-PAIR kernel (the r12
    # SemDeDup lesson): one HOF per pair instead of three,
    # bit-identical doubles, oracle untouched
    embn = emb.withColumn("norm", l2norm(F.col("v")))
    eq = embn.select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    q = eq.where(F.col("qid") % 50 == 0)
    ex = embn.join(
        F.broadcast(q), F.col("vec_id") != F.col("qid")
    ).select(
        "qid",
        "vec_id",
        rnd(
            dot(F.col("qv"), F.col("v"))
            / (F.col("qnorm") * F.col("norm")),
            4,
        ).alias("sim"),
    )
    etop = (
        ex.withColumn(
            "erank",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.desc("sim"), "vec_id")
            ),
        )
        .where(F.col("erank") <= 10)
        .select("qid", "vec_id", "erank")
    )
    log2_arank = F.log(F.col("arank") + F.lit(1.0)) / F.log(F.lit(2.0))
    terms = atop.join(etop, ["qid", "vec_id"], "left").select(
        "qid",
        F.when(F.col("erank").isNotNull(), 1).otherwise(0).alias("hit"),
        F.floor(
            F.coalesce(F.lit(11) - F.col("erank"), F.lit(0))
            / log2_arank
            * F.lit(1000000.0)
            + F.lit(0.505)
        )
        .cast("long")
        .alias("g_micro"),
        F.when(
            F.col("erank") == 1,
            F.floor(F.lit(1000000.0) / F.col("arank") + F.lit(0.505)).cast(
                "long"
            ),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("rr_micro"),
    )
    idcg = (
        spark.range(1, 11)
        .select(
            F.floor(
                (F.lit(11) - F.col("id"))
                / (F.log(F.col("id") + F.lit(1.0)) / F.log(F.lit(2.0)))
                * F.lit(1000000.0)
                + F.lit(0.505)
            )
            .cast("long")
            .alias("t")
        )
        .agg(F.sum("t").cast("long").alias("idcg_micro"))
    )
    perq = terms.groupBy("qid").agg(
        F.sum("hit").cast("long").alias("hits"),
        F.sum("g_micro").cast("long").alias("dcg_micro"),
        F.max("rr_micro").cast("long").alias("rr_micro"),
    )
    return (
        q.select("qid")
        .join(perq, "qid", "left")
        .crossJoin(F.broadcast(idcg))
        .select(
            "qid",
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
            rnd(F.coalesce(F.col("hits"), F.lit(0)) / F.lit(10.0), 4).alias(
                "recall_at_10"
            ),
            rnd(
                F.coalesce(F.col("rr_micro"), F.lit(0)) / F.lit(1000000.0),
                4,
            ).alias("mrr"),
            rnd(
                F.coalesce(F.col("dcg_micro"), F.lit(0))
                * F.lit(1.0)
                / F.col("idcg_micro"),
                4,
            ).alias("ndcg_at_10"),
        )
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

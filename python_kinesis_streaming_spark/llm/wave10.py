"""Wave-10 pipeline ops (round 12, fourth batch) — classic text
retrieval (BM25, query-likelihood).

The retrieval family the registry lacked: the embedding side has
knn/ANN/rerank cascades, but nothing ranked documents by TERM
statistics. These add the two canonical lexical scorers; the hybrid
fusion over a lexical and a vector leg (``sim_rrf_fusion``) and
semi-hard negative mining (``sim_negative_mining_audit``) live in
``llm/similarity.py``.

Hash discipline for scorers: every per-term contribution freezes to
integer micro-units BEFORE the per-doc sum (floor(x*1e6+0.505) —
3-term double sums are NOT associativity-safe across partitions;
integer sums are exact), rankings order by the rounded score with
doc_id tie-breaks, and top-k goes through orderBy+limit
(TakeOrderedAndProject) with the rank window above the Limit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from python_kinesis_streaming_spark.functions.rounding import rnd
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table

#: The literal query — three high-frequency fixture-vocabulary terms.
QUERY_TERMS = ("join", "hash", "scan")

#: BM25 parameters (the standard Robertson defaults).
_K1, _B = 1.2, 0.75

#: Dirichlet smoothing mass for the query-likelihood scorer.
_MU = 2000.0

#: Shared DuckDB CTEs: tokenization, doc lengths, collection stats and
#: per-(doc, query-term) tfs. Used by both lexical scorers.
_LEX_CTES = """
        tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        dl AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
            FROM tok GROUP BY doc_id
        ),
        stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   sum(dl) * 1.0 / count(*) AS avgdl
            FROM dl
        ),
        qterms AS (SELECT unnest(['join', 'hash', 'scan']) AS term),
        tf AS (
            SELECT doc_id, token AS term, CAST(count(*) AS BIGINT) AS tf
            FROM tok JOIN qterms ON token = term
            GROUP BY doc_id, token
        )
"""

#: BM25 per-doc integer-micro scores on top of the shared CTEs.
_BM25_SCORED = """
        df AS (
            SELECT term, CAST(count(*) AS BIGINT) AS df
            FROM tf GROUP BY term
        ),
        contrib AS (
            SELECT tf.doc_id,
                   CAST(floor(
                       ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
                       * tf.tf * (1.2 + 1.0)
                       / (tf.tf + 1.2 * (1.0 - 0.75
                                         + 0.75 * dl.dl / s.avgdl))
                       * 1000000.0 + 0.505) AS BIGINT) AS c_micro
            FROM tf
            JOIN df USING (term)
            JOIN dl USING (doc_id)
            CROSS JOIN stats s
        ),
        scored AS (
            SELECT doc_id,
                   CAST(sum(c_micro) AS BIGINT) AS score_micro,
                   CAST(count(*) AS BIGINT) AS n_hit_terms
            FROM contrib GROUP BY doc_id
        )
"""


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc BM25 integer-micro scores for QUERY_TERMS."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    dl = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("dl") * F.lit(1.0) / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        tok.where(F.col("token").isin(*QUERY_TERMS))
        .groupBy("doc_id", F.col("token").alias("term"))
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    idf = F.log(
        (F.col("n") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    contrib = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(
                idf
                * F.col("tf")
                * F.lit(_K1 + 1.0)
                / (
                    F.col("tf")
                    + F.lit(_K1)
                    * (
                        F.lit(1.0 - _B)
                        + F.lit(_B) * F.col("dl") / F.col("avgdl")
                    )
                )
                * F.lit(1000000.0)
                + F.lit(0.505)
            )
            .cast("long")
            .alias("c_micro"),
        )
    )
    return contrib.groupBy("doc_id").agg(
        F.sum("c_micro").cast("long").alias("score_micro"),
        F.count(F.lit(1)).cast("long").alias("n_hit_terms"),
    )


@op(
    "text_bm25_topk",
    oracle=f"""
        WITH {_LEX_CTES.lstrip()},
        {_BM25_SCORED.lstrip()}
        SELECT CAST(rank AS BIGINT) AS rank, doc_id,
               floor((score_micro / 1000000.0) * 10000.0 + 0.505)
                   / 10000.0 AS score,
               n_hit_terms
        FROM (
            SELECT *, row_number() OVER (
                ORDER BY score_micro DESC, doc_id) AS rank
            FROM scored
        ) WHERE rank <= 10
    """,
    scale=(
        "BM25 (Robertson k1=1.2, b=0.75) — the canonical lexical "
        "ranker the registry's vector stack lacked. Per-term "
        "contributions freeze to integer micro-units before the "
        "per-doc sum (3-double sums are not associativity-safe across "
        "partitions; integer sums are exact), so ranking is "
        "bit-deterministic. Cost shape at 100 TB: the postings build "
        "(tok → tf) is the one big shuffle and is shared by every "
        "query; per query the work is |postings(q)| rows — the "
        "inverted-index economics. Top-k via TakeOrderedAndProject."
    ),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for the literal query (join, hash, scan)."""
    scored = _bm25_scored(spark, sf_dir)
    top = scored.orderBy(F.desc("score_micro"), F.asc("doc_id")).limit(10)
    w = Window.orderBy(F.desc("score_micro"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        F.col("rank").cast("long").alias("rank"),
        "doc_id",
        rnd(F.col("score_micro") / F.lit(1000000.0), 4).alias("score"),
        "n_hit_terms",
    )


@op(
    "text_ql_dirichlet_topk",
    oracle=f"""
        WITH {_LEX_CTES.lstrip()},
        cf AS (
            SELECT term, CAST(count(*) AS BIGINT) AS cf
            FROM tok JOIN qterms ON token = term GROUP BY term
        ),
        cft AS (SELECT CAST(count(*) AS BIGINT) AS t FROM tok),
        grid AS (
            SELECT d.doc_id, q.term FROM documents d CROSS JOIN qterms q
        ),
        contrib AS (
            SELECT g.doc_id,
                   CAST(floor(ln(
                       (COALESCE(tf.tf, 0) + 2000.0 * cf.cf / cft.t)
                       / (dl.dl + 2000.0))
                       * 1000000.0 + 0.505) AS BIGINT) AS c_micro
            FROM grid g
            LEFT JOIN tf ON tf.doc_id = g.doc_id AND tf.term = g.term
            JOIN dl ON dl.doc_id = g.doc_id
            JOIN cf ON cf.term = g.term
            CROSS JOIN cft
        ),
        scored AS (
            SELECT doc_id, CAST(sum(c_micro) AS BIGINT) AS score_micro
            FROM contrib GROUP BY doc_id
        )
        SELECT CAST(rank AS BIGINT) AS rank, doc_id,
               floor((score_micro / 1000000.0) * 10000.0 + 0.505)
                   / 10000.0 AS score
        FROM (
            SELECT *, row_number() OVER (
                ORDER BY score_micro DESC, doc_id) AS rank
            FROM scored
        ) WHERE rank <= 10
    """,
    scale=(
        "Query-likelihood retrieval with Dirichlet smoothing (mu=2000) "
        "— the language-modeling ranker: score = sum_t ln((tf + "
        "mu*p(t|C)) / (dl + mu)). Smoothing means EVERY doc scores "
        "(the doc x query-term grid is |docs|*|q| rows — map-side "
        "fan-out over a 3-row broadcast literal), unlike BM25's "
        "postings-only domain; at 100 TB a candidate-generation stage "
        "(the BM25 postings or an ANN leg) bounds the grid first. "
        "Same integer-micro determinism as text_bm25_topk."
    ),
)
def text_ql_dirichlet_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet query-likelihood top-10 for (join, hash, scan)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    dl = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("dl")
    )
    tf = (
        tok.where(F.col("token").isin(*QUERY_TERMS))
        .groupBy("doc_id", F.col("token").alias("term"))
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    cf = (
        tok.where(F.col("token").isin(*QUERY_TERMS))
        .groupBy(F.col("token").alias("term"))
        .agg(F.count(F.lit(1)).cast("long").alias("cf"))
    )
    cft = tok.agg(F.count(F.lit(1)).cast("long").alias("t"))
    qterms = spark.createDataFrame(
        [(t,) for t in QUERY_TERMS], "term string"
    )
    grid = docs.select("doc_id").crossJoin(F.broadcast(qterms))
    contrib = (
        grid.join(tf, ["doc_id", "term"], "left")
        .join(dl, "doc_id")
        .join(F.broadcast(cf), "term")
        .crossJoin(F.broadcast(cft))
        .select(
            "doc_id",
            F.floor(
                F.log(
                    (
                        F.coalesce(F.col("tf"), F.lit(0))
                        + F.lit(_MU) * F.col("cf") / F.col("t")
                    )
                    / (F.col("dl") + F.lit(_MU))
                )
                * F.lit(1000000.0)
                + F.lit(0.505)
            )
            .cast("long")
            .alias("c_micro"),
        )
    )
    scored = contrib.groupBy("doc_id").agg(
        F.sum("c_micro").cast("long").alias("score_micro")
    )
    top = scored.orderBy(F.desc("score_micro"), F.asc("doc_id")).limit(10)
    w = Window.orderBy(F.desc("score_micro"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        F.col("rank").cast("long").alias("rank"),
        "doc_id",
        rnd(F.col("score_micro") / F.lit(1000000.0), 4).alias("score"),
    )

"""Wave-9 pipeline ops (round 12, third batch) — incremental top-k
maintenance, dedup/length bias, lexicon scoring and near-dup label
agreement.

Four capabilities rounding out the retrieval/quality story, two of
them keyed to the retrieved-paper corpus (PAPERS.md):

- ``sim_topk_incremental_delta``: incremental top-k similarity
  maintenance (the EDBT 2020 interactive-session pattern) — a frozen
  base top-k plus a scored DELTA batch merge into the updated top-k
  without rescoring the base corpus.
- ``corpus_length_dup_bias``: is duplication concentrated in long or
  short documents? Repeated-span coverage (wave-7's islands) crossed
  with value-bucketed length bands.
- ``text_sentiment_lexicon``: lexicon hit scoring (the EDBT 2016
  Spark sentiment pipeline shape) — per-source mean polarity from
  literal pos/neg word lists, exact integer hit counts.
- ``emb_neardup_label_agreement``: do near-duplicate embeddings carry
  the same label? Per-cell agreement rate over the SemDeDup pair
  table — the embedding-space sanity check before trusting semantic
  dedup.

Same discipline as waves 7-8: JVM-only, integer-exact where a
comparison follows, identical aliases, BIGINT casts on DuckDB sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from python_kinesis_streaming_spark.functions.rounding import rnd, sql_rnd
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table
from python_kinesis_streaming_spark.llm.wave7 import (
    _semdedup_assigned_pairs,
)


# ---------------------------------------------------------------------------
# incremental top-k similarity maintenance
# ---------------------------------------------------------------------------

#: Base/delta split point: vectors below are the "indexed corpus", at or
#: above are the "newly arrived batch" (top 20% of vec_ids at every SF).
_DELTA_FRAC_SQL = "(SELECT CAST(max(vec_id) * 0.8 AS BIGINT) FROM embeddings)"


@op(
    "sim_topk_incremental_delta",
    oracle=f"""
        WITH cut AS (SELECT {_DELTA_FRAC_SQL} AS c),
        q AS (
            SELECT embedding::DOUBLE[] AS qv FROM embeddings
            WHERE vec_id = 0
        ),
        scored AS (
            SELECT e.vec_id,
                   CASE WHEN e.vec_id >= cut.c THEN 1 ELSE 0 END
                       AS from_delta,
                   floor(list_cosine_similarity(e.embedding::DOUBLE[],
                                                q.qv)
                         * 10000.0 + 0.505) / 10000.0 AS sim
            FROM embeddings e CROSS JOIN q CROSS JOIN cut
            WHERE e.vec_id <> 0
        )
        SELECT CAST(rank AS BIGINT) AS rank, vec_id, sim,
               CAST(from_delta AS BIGINT) AS from_delta
        FROM (
            SELECT *, row_number() OVER (
                ORDER BY sim DESC, vec_id) AS rank
            FROM scored
        ) WHERE rank <= 10
    """,
    scale=(
        "Incremental top-k maintenance (the interactive-session "
        "pattern, EDBT 2020): when a delta batch arrives, only the "
        "delta is scored — the base corpus contributes its FROZEN "
        "top-k (k rows), and the merge is top-k over (k + |delta|) "
        "rows. Correctness: any base vector outside the old top-k can "
        "never enter the new one (scores are static), so the merge is "
        "exact, and the oracle proves it by full rescan. 100 TB "
        "shape: the base top-k is k rows from the index/cache, the "
        "delta scan is |delta| rows — per-batch cost is independent "
        "of corpus size, the property that makes continuous ingestion "
        "affordable. Sims round at 1e-4 with vec_id tie-breaks."
    ),
)
def sim_topk_incremental_delta(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-10 for query vec 0: frozen base top-10 merged with the
    scored delta batch (vec_id >= 0.8*max) — delta-only scoring."""
    from pyspark.sql.window import Window
    from python_kinesis_streaming_spark.functions.vectors import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    cut = emb.agg(
        (F.max("vec_id") * F.lit(0.8)).cast("long").alias("c")
    )
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    scored = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(cut))
        .select(
            "vec_id",
            F.when(F.col("vec_id") >= F.col("c"), 1).otherwise(0).alias(
                "from_delta"
            ),
            rnd(cosine(F.col("embedding"), F.col("qv")), 4).alias("sim"),
        )
    )
    # the incremental shape: base contributes only its frozen top-10,
    # the delta is scored in full, and the merge takes top-10 of
    # (10 + |delta|) rows — orderBy+limit compiles each take to
    # TakeOrderedAndProject; the rank window then sits ABOVE the Limit
    # so it only ever numbers 10 rows (bounded global window)
    base_topk = (
        scored.where(F.col("from_delta") == 0)
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(10)
    )
    delta = scored.where(F.col("from_delta") == 1)
    top10 = (
        base_topk.unionByName(delta)
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(10)
    )
    wtop = Window.orderBy(F.desc("sim"), F.asc("vec_id"))
    return top10.withColumn("rank", F.row_number().over(wtop)).select(
        F.col("rank").cast("long").alias("rank"),
        "vec_id",
        "sim",
        F.col("from_delta").cast("long").alias("from_delta"),
    )


# ---------------------------------------------------------------------------
# duplication vs document-length bias
# ---------------------------------------------------------------------------


@op(
    "corpus_length_dup_bias",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, n_chars, string_split(text, ' ') AS ws
            FROM documents
        ),
        spine AS (SELECT i FROM range(1, 512) t(i)),
        g AS (
            SELECT doc_id, i AS pos,
                   list_aggregate(ws[i:i+3], 'string_agg', ' ') AS gram
            FROM w JOIN spine ON i <= len(ws) - 3
        ),
        rep AS (
            SELECT gram FROM g
            GROUP BY gram HAVING count(DISTINCT doc_id) > 1
        ),
        perdoc AS (
            SELECT g.doc_id,
                   CAST(count(*) AS BIGINT) AS n_pos,
                   CAST(sum(CASE WHEN r.gram IS NOT NULL
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
            FROM g LEFT JOIN rep r ON r.gram = g.gram
            GROUP BY g.doc_id
        ),
        banded AS (
            SELECT CASE WHEN d.n_chars < 150 THEN '0_short'
                        WHEN d.n_chars < 300 THEN '1_medium'
                        WHEN d.n_chars < 450 THEN '2_long'
                        ELSE '3_xlong' END AS band,
                   COALESCE(p.n_pos, 0) AS n_pos,
                   COALESCE(p.n_dup, 0) AS n_dup
            FROM documents d LEFT JOIN perdoc p ON p.doc_id = d.doc_id
        )
        SELECT band,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_pos) AS BIGINT) AS n_positions,
               CAST(sum(n_dup) AS BIGINT) AS n_dup_positions,
               {sql_rnd(
                   "CASE WHEN sum(n_pos) = 0 THEN 0 "
                   "ELSE sum(n_dup) * 1.0 / sum(n_pos) END", 4)}
                   AS dup_rate,
               CAST(sum(CASE WHEN n_dup > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_docs_with_dup
        FROM banded GROUP BY band
    """,
    scale=(
        "Is duplication a long-doc or short-doc phenomenon? "
        "Repeated-position rate (wave-7's cross-doc 4-gram test) "
        "aggregated into LITERAL length bands — value bucketing, "
        "never a quantile pass (corpus_curriculum_order's rule), so "
        "the banding is map-only and stable under re-crawls. The "
        "answer drives policy: length-biased duplication means the "
        "dedup stage must run BEFORE any length filter or the filter "
        "silently shifts the dup distribution. Same bounded shapes "
        "as dedup_substring_spans (one gram-keyed shuffle + doc agg); "
        "the zero-position band hits the guarded division."
    ),
)
def corpus_length_dup_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-position rate by document length band."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", F.split("text", " ").alias("ws"))
    g = (
        w.where(F.size("ws") >= 4)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 3), i -> "
                    "concat_ws(' ', slice(ws, i, 4)))"
                )
            ).alias("gram"),
        )
    )
    rep = (
        g.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") > 1)
        .select("gram", F.lit(1).alias("is_rep"))
    )
    perdoc = (
        g.join(rep, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pos"),
            F.sum(F.coalesce(F.col("is_rep"), F.lit(0)))
            .cast("long")
            .alias("n_dup"),
        )
    )
    band = (
        F.when(F.col("n_chars") < 150, "0_short")
        .when(F.col("n_chars") < 300, "1_medium")
        .when(F.col("n_chars") < 450, "2_long")
        .otherwise("3_xlong")
    )
    banded = docs.join(perdoc, "doc_id", "left").select(
        band.alias("band"),
        F.coalesce(F.col("n_pos"), F.lit(0)).alias("n_pos"),
        F.coalesce(F.col("n_dup"), F.lit(0)).alias("n_dup"),
    )
    return banded.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_pos").cast("long").alias("n_positions"),
        F.sum("n_dup").cast("long").alias("n_dup_positions"),
        rnd(
            F.when(F.sum("n_pos") == 0, F.lit(0.0)).otherwise(
                F.sum("n_dup") * F.lit(1.0) / F.sum("n_pos")
            ),
            4,
        ).alias("dup_rate"),
        F.sum(F.when(F.col("n_dup") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_docs_with_dup"),
    )


# ---------------------------------------------------------------------------
# lexicon polarity scoring
# ---------------------------------------------------------------------------


@op(
    "text_sentiment_lexicon",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, source,
                   unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        hits AS (
            SELECT doc_id, source,
                   CAST(sum(CASE WHEN token IN ('fast', 'big')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS pos_n,
                   CAST(sum(CASE WHEN token IN ('slow', 'small')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS neg_n
            FROM tok GROUP BY doc_id, source
        ),
        scored AS (
            SELECT source, pos_n, neg_n,
                   (pos_n - neg_n) * 1.0 / (pos_n + neg_n + 1) AS s
            FROM hits
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(pos_n) AS BIGINT) AS pos_hits,
               CAST(sum(neg_n) AS BIGINT) AS neg_hits,
               {sql_rnd("avg(s)", 4)} AS mean_polarity,
               {sql_rnd(
                   "sum(CASE WHEN s > 0 THEN 1 ELSE 0 END) * 1.0 "
                   "/ count(*)", 4)} AS pos_doc_share
        FROM scored GROUP BY source
    """,
    scale=(
        "Lexicon scoring — the large-scale Spark sentiment shape "
        "(EDBT 2016): literal pos/neg word lists (here drawn from the "
        "fixture vocabulary), exact integer hit counts per doc, "
        "smoothed polarity (pos-neg)/(pos+neg+1), one |sources|-row "
        "agg. Everything before the final averages is integer "
        "arithmetic, so the per-doc scores are identical rationals on "
        "both engines and avg() sums the same value set. 100 TB: "
        "map-only token test (array_contains on a broadcast-in-"
        "expression list — the lexicon never shuffles), one partial "
        "agg; a real 10k-word lexicon broadcasts as a set."
    ),
)
def text_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexicon polarity from literal pos/neg word lists."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "source",
        F.explode(F.split("text", " ")).alias("token"),
    )
    hits = tok.groupBy("doc_id", "source").agg(
        F.sum(F.when(F.col("token").isin("fast", "big"), 1).otherwise(0))
        .cast("long")
        .alias("pos_n"),
        F.sum(F.when(F.col("token").isin("slow", "small"), 1).otherwise(0))
        .cast("long")
        .alias("neg_n"),
    )
    scored = hits.select(
        "source",
        "pos_n",
        "neg_n",
        (
            (F.col("pos_n") - F.col("neg_n"))
            * F.lit(1.0)
            / (F.col("pos_n") + F.col("neg_n") + F.lit(1))
        ).alias("s"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("pos_n").cast("long").alias("pos_hits"),
        F.sum("neg_n").cast("long").alias("neg_hits"),
        rnd(F.avg("s"), 4).alias("mean_polarity"),
        rnd(
            F.sum(F.when(F.col("s") > 0, 1).otherwise(0))
            * F.lit(1.0)
            / F.count(F.lit(1)),
            4,
        ).alias("pos_doc_share"),
    )


# ---------------------------------------------------------------------------
# near-dup label agreement
# ---------------------------------------------------------------------------


@op(
    "emb_neardup_label_agreement",
    oracle="""
        WITH cent AS (
            SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
            FROM embeddings WHERE vec_id < 8
        ),
        assigned AS (
            SELECT e.vec_id,
                   min_by(c.cid,
                          CAST(floor(list_sum(list_transform(range(1, 65),
                               i -> (e.embedding[CAST(i AS INTEGER)]::DOUBLE
                                     - c.cv[CAST(i AS INTEGER)]) ^ 2))
                               * 1000000.0 + 0.505) AS BIGINT) * 8 + c.cid)
                       AS cid
            FROM embeddings e, cent c
            GROUP BY e.vec_id
        ),
        pairs AS (
            SELECT a.cid, a.vec_id AS va, b.vec_id AS vb,
                   floor(list_cosine_similarity(x.embedding::DOUBLE[],
                                                y.embedding::DOUBLE[])
                         * 10000.0 + 0.505) / 10000.0 AS sim,
                   x.label AS label_a, y.label AS label_b
            FROM assigned a
            JOIN assigned b ON b.cid = a.cid AND b.vec_id > a.vec_id
            JOIN embeddings x ON x.vec_id = a.vec_id
            JOIN embeddings y ON y.vec_id = b.vec_id
        ),
        near AS (SELECT * FROM pairs WHERE sim >= 0.30)
        SELECT cid,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(CASE WHEN label_a = label_b THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_agree,
               floor((sum(CASE WHEN label_a = label_b THEN 1 ELSE 0 END)
                      * 1.0 / count(*)) * 10000.0 + 0.505) / 10000.0
                   AS agree_rate
        FROM near GROUP BY cid
    """,
    scale=(
        "Label agreement over SemDeDup near-dup pairs — the sanity "
        "check before trusting semantic dedup: if vectors at "
        "cosine >= tau frequently DISAGREE on label, the threshold "
        "is below the space's semantic resolution and pruning will "
        "merge distinct content. Same bounded SemDeDup shapes "
        "(broadcast centroids, cid-bucketed pairs) plus the label "
        "column carried through the pair join. Per-cell rates localize "
        "WHERE the space is too coarse. Only cells with >= 1 "
        "near-pair report (both engines agree on the domain)."
    ),
)
def emb_neardup_label_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-cell label-agreement rate over near-dup pairs (tau=0.30)."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, pairs = _semdedup_assigned_pairs(spark, sf_dir)
    la = emb.select(
        F.col("vec_id").alias("va"), F.col("label").alias("label_a")
    )
    lb = emb.select(
        F.col("vec_id").alias("vb"), F.col("label").alias("label_b")
    )
    near = (
        pairs.where(F.col("sim") >= 0.30)
        .join(F.broadcast(la), "va")
        .join(F.broadcast(lb), "vb")
    )
    agree = F.when(F.col("label_a") == F.col("label_b"), 1).otherwise(0)
    return near.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(agree).cast("long").alias("n_agree"),
        rnd(F.sum(agree) * F.lit(1.0) / F.count(F.lit(1)), 4).alias(
            "agree_rate"
        ),
    )

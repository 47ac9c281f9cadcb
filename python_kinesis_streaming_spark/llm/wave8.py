"""Wave-8 pipeline ops (round 12, second batch) — repeated-content
inventory, dedup bias measurement and corpus novelty curves.

Three more capabilities composed on the wave-7 foundations:

- ``dedup_substring_top_repeats``: the top-20 most-repeated cross-doc
  word-4-grams — the "what content is duplicated" inventory an
  operator reads after dedup_substring_spans says *how much* is.
- ``emb_semdedup_centroid_shift``: does SemDeDup pruning move the
  per-cell mean? Pre- vs post-prune centroid drift per cell — the
  distribution-bias audit the SemDeDup paper calls for.
- ``corpus_ngram_novelty_curve``: fraction of word-4-gram positions
  that are first-ever occurrences, by doc-id decile — the marginal
  novelty curve that says when more data stops adding new content.

Same discipline as wave-7: JVM-only DataFrame code, exact integer
micro-units before any sum that feeds a comparison, identical aliases
both sides, every integer DuckDB sum CAST AS BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from python_kinesis_streaming_spark.functions.rounding import rnd, sql_rnd
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table
from python_kinesis_streaming_spark.llm.wave7 import (
    _SEMDEDUP_CTES,
    _semdedup_assigned_pairs,
)


# ---------------------------------------------------------------------------
# top repeated substrings
# ---------------------------------------------------------------------------


@op(
    "dedup_substring_top_repeats",
    oracle="""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ),
        spine AS (SELECT i FROM range(1, 512) t(i)),
        g AS (
            SELECT doc_id,
                   list_aggregate(ws[i:i+3], 'string_agg', ' ') AS gram
            FROM w JOIN spine ON i <= len(ws) - 3
        ),
        rep AS (
            SELECT gram,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   CAST(count(*) AS BIGINT) AS n_occurrences
            FROM g GROUP BY gram
            HAVING count(DISTINCT doc_id) > 1
        )
        SELECT gram, n_docs, n_occurrences FROM (
            SELECT *, row_number() OVER (
                ORDER BY n_occurrences DESC, n_docs DESC, gram) AS rn
            FROM rep
        ) WHERE rn <= 20
    """,
    scale=(
        "The duplicated-content inventory: after dedup_substring_spans "
        "quantifies coverage, this names the top-20 most-repeated "
        "cross-doc 4-grams (boilerplate headers, licence blurbs, nav "
        "chrome in a real crawl). One gram-keyed agg with map-side "
        "partials, then a top-k — TakeOrderedAndProject, never a "
        "global sort of the gram table. Total (count, docs, gram) "
        "tie-break makes the cut deterministic on both engines. At "
        "100 TB the gram table is fingerprinted (hash, not string) and "
        "the top-k rides the same partial-agg shuffle."
    ),
)
def dedup_substring_top_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 cross-document repeated word-4-grams."""
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
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        )
        .where(F.col("n_docs") > 1)
    )
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition
    # top-k + driver merge of 20-row heads) — never a single-partition
    # global window
    return (
        rep.orderBy(
            F.desc("n_occurrences"), F.desc("n_docs"), F.asc("gram")
        )
        .limit(20)
        .select("gram", "n_docs", "n_occurrences")
    )


# ---------------------------------------------------------------------------
# SemDeDup centroid-shift (distribution bias) audit
# ---------------------------------------------------------------------------


@op(
    "emb_semdedup_centroid_shift",
    oracle=f"""
        WITH {_SEMDEDUP_CTES.lstrip()},
        pruned AS (
            SELECT cid, vb AS vec_id FROM pairs
            WHERE sim >= 0.30 GROUP BY cid, vb
        ),
        pre AS (
            SELECT a.cid, CAST(count(*) AS BIGINT) AS n_before,
                   avg(e.embedding[1]::DOUBLE) AS c0_before,
                   avg(e.embedding[2]::DOUBLE) AS c1_before
            FROM assigned a JOIN embeddings e ON e.vec_id = a.vec_id
            GROUP BY a.cid
        ),
        post AS (
            SELECT a.cid, CAST(count(*) AS BIGINT) AS n_after,
                   avg(e.embedding[1]::DOUBLE) AS c0_after,
                   avg(e.embedding[2]::DOUBLE) AS c1_after
            FROM assigned a
            JOIN embeddings e ON e.vec_id = a.vec_id
            LEFT JOIN pruned p
              ON p.cid = a.cid AND p.vec_id = a.vec_id
            WHERE p.vec_id IS NULL
            GROUP BY a.cid
        )
        SELECT pre.cid, pre.n_before, post.n_after,
               {sql_rnd("post.c0_after - pre.c0_before", 4)}
                   AS shift_c0,
               {sql_rnd("post.c1_after - pre.c1_before", 4)}
                   AS shift_c1,
               {sql_rnd(
                   "sqrt((post.c0_after - pre.c0_before) ^ 2 "
                   "+ (post.c1_after - pre.c1_before) ^ 2)", 4)}
                   AS shift_l2
        FROM pre JOIN post ON post.cid = pre.cid
    """,
    scale=(
        "The SemDeDup bias audit: pruning near-duplicates inside a "
        "cell moves its mean — this measures the per-cell centroid "
        "drift (first two dims, like emb_kmeans_one_iter's update "
        "columns) between the full and the kept membership. A large "
        "shift means dedup is not distribution-preserving for that "
        "region and the training mixture needs reweighting "
        "(corpus_importance_resample's knob). Shapes are the "
        "SemDeDup ones: broadcast-centroid assignment, cid-bucketed "
        "pair join, an anti-join for the kept set, two k-row aggs. "
        "Means are computed on raw doubles and only the REPORTED "
        "deltas round (1e-4) — both engines aggregate the identical "
        "value set per cell, so the averages match bit-for-bit."
    ),
)
def emb_semdedup_centroid_shift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pre- vs post-prune per-cell centroid drift (tau = 0.30)."""
    assigned, pairs = _semdedup_assigned_pairs(spark, sf_dir)
    pruned = (
        pairs.where(F.col("sim") >= 0.30)
        .select("cid", F.col("vb").alias("vec_id"))
        .distinct()
    )
    pre = assigned.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_before"),
        F.avg(F.col("embedding")[0].cast("double")).alias("c0_before"),
        F.avg(F.col("embedding")[1].cast("double")).alias("c1_before"),
    )
    kept = assigned.join(pruned, ["cid", "vec_id"], "left_anti")
    post = kept.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_after"),
        F.avg(F.col("embedding")[0].cast("double")).alias("c0_after"),
        F.avg(F.col("embedding")[1].cast("double")).alias("c1_after"),
    )
    d0 = F.col("c0_after") - F.col("c0_before")
    d1 = F.col("c1_after") - F.col("c1_before")
    return pre.join(post, "cid").select(
        "cid",
        "n_before",
        "n_after",
        rnd(d0, 4).alias("shift_c0"),
        rnd(d1, 4).alias("shift_c1"),
        rnd(F.sqrt(d0 * d0 + d1 * d1), 4).alias("shift_l2"),
    )


# ---------------------------------------------------------------------------
# n-gram novelty curve
# ---------------------------------------------------------------------------


@op(
    "corpus_ngram_novelty_curve",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ),
        spine AS (SELECT i FROM range(1, 512) t(i)),
        g AS (
            SELECT doc_id, i AS pos,
                   -- one total order over all positions: doc-major
                   doc_id * 512 + i AS ord,
                   list_aggregate(ws[i:i+3], 'string_agg', ' ') AS gram
            FROM w JOIN spine ON i <= len(ws) - 3
        ),
        firsts AS (
            SELECT gram, min(ord) AS first_ord FROM g GROUP BY gram
        ),
        mx AS (SELECT max(doc_id) AS mxd FROM documents),
        marked AS (
            SELECT g.doc_id,
                   CASE WHEN g.ord = f.first_ord THEN 1 ELSE 0 END
                       AS novel
            FROM g JOIN firsts f ON f.gram = g.gram
        ),
        bucketed AS (
            SELECT least(CAST(floor(m.doc_id * 10.0 / (x.mxd + 1))
                              AS BIGINT), 9) AS decile,
                   m.novel
            FROM marked m CROSS JOIN mx x
        )
        SELECT decile,
               CAST(count(*) AS BIGINT) AS n_positions,
               CAST(sum(novel) AS BIGINT) AS n_novel,
               {sql_rnd("sum(novel) * 1.0 / count(*)", 4)}
                   AS novelty_rate
        FROM bucketed GROUP BY decile
    """,
    scale=(
        "The marginal-novelty curve: fraction of word-4-gram positions "
        "that are FIRST-EVER occurrences, by doc-id decile — the "
        "diminishing-returns read ('when does more crawl stop adding "
        "new content') that sizes the next ingestion round. First "
        "occurrence is an exact integer argmin over the doc-major "
        "position ordinal (doc_id*512+pos; positions are < 512 by "
        "fixture bound — at scale use the 64-bit changelog-ordinal "
        "pattern), so 'novel' is deterministic under any partition "
        "order. Deciles bucket by doc-id VALUE against one broadcast "
        "max — map-only, never a global ntile "
        "(corpus_curriculum_order's rule). Cost: one gram-keyed agg + "
        "one join back + a 10-key agg; gram fingerprints replace "
        "strings at 100 TB."
    ),
)
def corpus_ngram_novelty_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-occurrence rate of word-4-grams per doc-id decile."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", F.split("text", " ").alias("ws"))
    g = (
        w.where(F.size("ws") >= 4)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 3), i -> "
                    "struct(i AS pos, concat_ws(' ', slice(ws, i, 4)) "
                    "AS gram))"
                )
            ).alias("pg"),
        )
        .select(
            "doc_id",
            (F.col("doc_id") * 512 + F.col("pg.pos")).alias("ord"),
            F.col("pg.gram").alias("gram"),
        )
    )
    firsts = g.groupBy("gram").agg(F.min("ord").alias("first_ord"))
    mx = docs.agg(F.max("doc_id").alias("mxd"))
    marked = g.join(firsts, "gram").select(
        "doc_id",
        F.when(F.col("ord") == F.col("first_ord"), 1).otherwise(0).alias(
            "novel"
        ),
    )
    bucketed = marked.crossJoin(F.broadcast(mx)).select(
        F.least(
            F.floor(F.col("doc_id") * F.lit(10.0) / (F.col("mxd") + 1))
            .cast("long"),
            F.lit(9).cast("long"),
        ).alias("decile"),
        "novel",
    )
    return bucketed.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_positions"),
        F.sum("novel").cast("long").alias("n_novel"),
        rnd(F.sum("novel") * F.lit(1.0) / F.count(F.lit(1)), 4).alias(
            "novelty_rate"
        ),
    )

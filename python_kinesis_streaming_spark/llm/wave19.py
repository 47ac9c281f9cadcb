"""Round-13 wave-19 ops (SURVEY §2.31): vocab planning, memorization
risk, sampling degeneracy and PQ training.

- ``text_vocab_coverage_curve``: OOV share per source at vocab sizes
  V = 4/8/16 (global top-V words) — the table that sizes a vocabulary
  budget next to text_tokenizer_fertility's subword curve.
- ``corpus_memorization_risk``: per-source share of word-4-gram
  instances repeated across >= 2 distinct documents — the Lee/Carlini
  memorization-risk proxy (repeated substrings are what models
  memorize first); pairs with dedup_substring_spans (which removes
  them) as the measure-then-act pair.
- ``corpus_sampling_ess_audit``: effective sample size (Kish ESS =
  (Σw)²/Σw²) per source under uniform / length / length² example
  weighting — degenerate ESS means a length-weighted sampler
  effectively trains on a handful of long documents.
- ``emb_pq_train_audit``: one Lloyd iteration of product-quantizer
  training per 8-dim subspace (4 codewords): quantization cost before
  vs after update+reassign, with the Lloyd non-increase theorem
  checked as a boolean — completes sim_pq_adc_recall's query path
  with the training path.

Same discipline as waves 7-18: exact integers before any
cross-partition sum, identical aliases, BIGINT casts in oracles,
bounded windows only over pre-aggregated inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from python_kinesis_streaming_spark.functions.rounding import rnd, sql_rnd
from python_kinesis_streaming_spark.functions.vectors import centroid_ord, sq_l2
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# vocabulary coverage curve
# ---------------------------------------------------------------------------

_VOCAB_VS = (4, 8, 16)


@op(
    "text_vocab_coverage_curve",
    oracle=f"""
        WITH tok AS (
            SELECT source, unnest(string_split(text, ' ')) AS word
            FROM documents
        ),
        wc AS (
            SELECT word, CAST(count(*) AS BIGINT) AS c
            FROM tok GROUP BY word
        ),
        ranked AS (
            SELECT word,
                   CAST(row_number() OVER (ORDER BY c DESC, word)
                        AS BIGINT) AS rk
            FROM wc
        ),
        grid(v) AS (VALUES {", ".join(f"({v})" for v in _VOCAB_VS)})
        SELECT t.source, CAST(g.v AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN r.rk > g.v THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_oov,
               {sql_rnd(
                   "sum(CASE WHEN r.rk > g.v THEN 1 ELSE 0 END)"
                   " * 1.0 / count(*)", 4
               )} AS oov_share
        FROM tok t
        JOIN ranked r ON r.word = t.word
        CROSS JOIN grid g
        GROUP BY t.source, g.v
    """,
    scale=(
        "Vocabulary budget planning: with the vocab = the global "
        "top-V words (total tie-break count DESC, word ASC), what "
        "share of each source's token stream is out-of-vocabulary at "
        "V = 4/8/16 (grid calibrated to the 31-word synthetic vocab; "
        "real corpora use 8k/32k/128k)? Read next to text_tokenizer_"
        "fertility: coverage says what the vocab MISSES, fertility "
        "says what it COSTS. The rank window runs over the word-count "
        "AGGREGATE (vocab-bounded, never the token stream); instances "
        "join the broadcast rank table and fan out over a 3-row "
        "literal grid. All counts BIGINT, the share a rational. "
        "100 TB: one token-keyed agg + a broadcast map-side join — "
        "the text_tfidf shape."
    ),
)
def text_vocab_coverage_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-(source, V) OOV share against the global top-V vocab."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split("text", " ")).alias("word")
    )
    wc = tok.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    ranked = wc.select(
        "word",
        F.row_number()
        .over(Window.orderBy(F.desc("c"), "word"))
        .cast("long")
        .alias("rk"),
    )
    grid = spark.range(1).select(
        F.explode(F.array(*[F.lit(v) for v in _VOCAB_VS])).alias("v")
    )
    return (
        tok.join(F.broadcast(ranked), "word")
        .crossJoin(F.broadcast(grid))
        .groupBy("source", "v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("rk") > F.col("v"), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
            rnd(
                F.sum(F.when(F.col("rk") > F.col("v"), 1).otherwise(0))
                * F.lit(1.0)
                / F.count(F.lit(1)),
                4,
            ).alias("oov_share"),
        )
        .select(
            "source",
            F.col("v").cast("long").alias("v"),
            "n_tokens",
            "n_oov",
            "oov_share",
        )
    )


# ---------------------------------------------------------------------------
# memorization-risk proxy (cross-doc repeated 4-grams)
# ---------------------------------------------------------------------------


@op(
    "corpus_memorization_risk",
    oracle="""
        WITH toks AS (
            SELECT doc_id, source, string_split(text, ' ') AS t
            FROM documents
        ),
        g AS (
            SELECT doc_id, source,
                   list_aggregate(t[i:i+3], 'string_agg', ' ') AS gram
            FROM toks, unnest(range(1, len(t) - 2)) AS u(i)
        ),
        df AS (
            SELECT gram,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS gdf
            FROM g GROUP BY gram
        )
        SELECT g.source,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(count(DISTINCT g.gram) AS BIGINT) AS n_distinct,
               CAST(sum(CASE WHEN df.gdf >= 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_repeated,
               floor((sum(CASE WHEN df.gdf >= 2 THEN 1 ELSE 0 END)
                      * 1.0 / count(*)) * 10000.0 + 0.505) / 10000.0
                   AS repeat_share,
               CAST(max(df.gdf) AS BIGINT) AS max_gram_df
        FROM g JOIN df ON df.gram = g.gram
        GROUP BY g.source
    """,
    scale=(
        "Memorization-risk proxy (Lee et al. 2022 / Carlini et al. "
        "2023: models memorize repeated substrings first, and "
        "memorization grows with duplication count): per source, the "
        "share of word-4-gram INSTANCES whose gram occurs in >= 2 "
        "distinct documents, plus the max cross-doc df. This is the "
        "measurement half of dedup_substring_spans (which removes the "
        "repeats) — run it before and after to quantify risk "
        "reduction. Shape: in-row gram explode, one gram-keyed "
        "distinct-doc agg, one join back keyed on the gram, one "
        "source agg. 100 TB: the gram df table is the same "
        "heavy-tailed object every substring-dedup pass builds; the "
        "join-back shuffles once on the gram key (AQE skew-split for "
        "stopword-like grams)."
    ),
)
def corpus_memorization_risk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source cross-doc 4-gram repeat share + max df."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.split("text", " ").alias("t")
    ).where(F.size("t") >= 4)
    g = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 3), "
                "i -> concat_ws(' ', element_at(t, i), "
                "element_at(t, i + 1), element_at(t, i + 2), "
                "element_at(t, i + 3)))"
            )
        ).alias("gram"),
    )
    df = g.groupBy("gram").agg(
        F.count_distinct("doc_id").cast("long").alias("gdf")
    )
    return (
        g.join(df, "gram")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.count_distinct("gram").cast("long").alias("n_distinct"),
            F.sum(F.when(F.col("gdf") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_repeated"),
            rnd(
                F.sum(F.when(F.col("gdf") >= 2, 1).otherwise(0))
                * F.lit(1.0)
                / F.count(F.lit(1)),
                4,
            ).alias("repeat_share"),
            F.max("gdf").cast("long").alias("max_gram_df"),
        )
    )


# ---------------------------------------------------------------------------
# sampling-weight effective sample size
# ---------------------------------------------------------------------------


@op(
    "corpus_sampling_ess_audit",
    oracle=f"""
        WITH d AS (
            SELECT source,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n
            FROM documents
        ),
        s AS (
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n) AS BIGINT) AS s1,
                   CAST(sum(n * n) AS BIGINT) AS s2,
                   CAST(sum(n * n * n * n) AS BIGINT) AS s4
            FROM d GROUP BY source
        )
        SELECT source, n_docs,
               -- 1.0::DOUBLE is load-bearing: a bare 1.0 is DECIMAL in
               -- DuckDB and sum-times-sum runs (and can overflow) in
               -- DECIMAL(38) at scale (the r13 lesson, retrofitted r14)
               {sql_rnd("(s1 * 1.0::DOUBLE * s1) / s2", 2)} AS ess_length,
               {sql_rnd("(s2 * 1.0::DOUBLE * s2) / s4", 2)} AS ess_length_sq,
               {sql_rnd("((s1 * 1.0::DOUBLE * s1) / s2) / n_docs", 4)}
                   AS ess_length_ratio
        FROM s
    """,
    scale=(
        "Sampling-degeneracy audit: Kish effective sample size "
        "ESS(w) = (Σw)²/Σw² per source under the two standard "
        "example-weighting schemes — length-proportional (w = token "
        "count, the 'sample by tokens' default) and length-squared "
        "(the pathological end). ESS ≈ n_docs means weighting is "
        "harmless; ESS << n_docs means a few long documents dominate "
        "the sampled stream (the corpus_length_batching failure "
        "mode). All moments are exact BIGINT sums of integer powers "
        "(n^4 at 10^3-token docs is 10^12 — 10^6 headroom per "
        "source); the ratios are rationals of those sums. 100 TB: "
        "one scan, one source-keyed agg with map-side combine — the "
        "cheapest audit in the registry for what it prevents."
    ),
)
def corpus_sampling_ess_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source ESS under length / length^2 example weighting."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source", F.size(F.split("text", " ")).cast("long").alias("n")
    )
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("s1"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("s2"),
        F.sum(F.col("n") * F.col("n") * F.col("n") * F.col("n"))
        .cast("long")
        .alias("s4"),
    )
    return s.select(
        "source",
        "n_docs",
        rnd(
            (F.col("s1") * F.lit(1.0) * F.col("s1")) / F.col("s2"), 2
        ).alias("ess_length"),
        rnd(
            (F.col("s2") * F.lit(1.0) * F.col("s2")) / F.col("s4"), 2
        ).alias("ess_length_sq"),
        rnd(
            ((F.col("s1") * F.lit(1.0) * F.col("s1")) / F.col("s2"))
            / F.col("n_docs"),
            4,
        ).alias("ess_length_ratio"),
    )


# ---------------------------------------------------------------------------
# product-quantizer training audit (one Lloyd iteration per subspace)
# ---------------------------------------------------------------------------

_PQ_NSUB = 8  # 64 dims / 8 subspaces of 8 dims
_PQ_K = 4  # codewords per subspace (init: vec_id 0..3)


@op(
    "emb_pq_train_audit",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        sub AS (
            SELECT e.vec_id, CAST(g.s AS BIGINT) AS s,
                   e.v[g.s * 8 + 1 : g.s * 8 + 8] AS sv
            FROM e, (SELECT unnest(range(0, {_PQ_NSUB})) AS s) g
        ),
        cw AS (
            SELECT s, vec_id AS cid, sv AS cv FROM sub
            WHERE vec_id < {_PQ_K}
        ),
        a0 AS (
            SELECT b.vec_id, b.s,
                   min(CAST(floor(list_sum(list_transform(range(1, 9),
                       i -> (b.sv[CAST(i AS INTEGER)]
                             - c.cv[CAST(i AS INTEGER)]) ^ 2))
                       * 1000000.0 + 0.505) AS BIGINT) * {_PQ_K}
                       + c.cid) AS o
            FROM sub b JOIN cw c ON c.s = b.s
            GROUP BY b.vec_id, b.s
        ),
        asg AS (
            SELECT a.vec_id, a.s,
                   CAST(a.o % {_PQ_K} AS BIGINT) AS cid,
                   CAST(a.o // {_PQ_K} AS BIGINT) AS d_micro,
                   b.sv
            FROM a0 a JOIN sub b
              ON b.vec_id = a.vec_id AND b.s = a.s
        ),
        newc AS (
            SELECT s, cid, list(m ORDER BY j) AS cvn
            FROM (
                SELECT s, cid, u.i AS j,
                       CAST(sum(CAST(floor(sv[CAST(u.i AS INTEGER)]
                            * 1000000.0 + 0.505) AS BIGINT)) AS BIGINT)
                       * 1.0 / count(*) / 1000000.0 AS m
                FROM asg, unnest(range(1, 9)) AS u(i)
                GROUP BY s, cid, u.i
            ) GROUP BY s, cid
        ),
        a1 AS (
            SELECT b.vec_id, b.s,
                   min(CAST(floor(list_sum(list_transform(range(1, 9),
                       i -> (b.sv[CAST(i AS INTEGER)]
                             - n.cvn[CAST(i AS INTEGER)]) ^ 2))
                       * 1000000.0 + 0.505) AS BIGINT) * {_PQ_K}
                       + n.cid) AS o
            FROM sub b JOIN newc n ON n.s = b.s
            GROUP BY b.vec_id, b.s
        )
        SELECT a.s,
               CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(sum(a.o // {_PQ_K}) AS BIGINT) AS cost_before_micro,
               CAST(sum(n.o // {_PQ_K}) AS BIGINT) AS cost_after_micro,
               {sql_rnd(
                   f"sum(a.o // {_PQ_K}) / (1000000.0 * count(*))", 4
               )} AS mean_dist_before,
               {sql_rnd(
                   f"sum(n.o // {_PQ_K}) / (1000000.0 * count(*))", 4
               )} AS mean_dist_after,
               CAST(CASE WHEN sum(n.o // {_PQ_K})
                              <= sum(a.o // {_PQ_K})
                    THEN 1 ELSE 0 END AS BIGINT) AS lloyd_nonincrease
        FROM a0 a JOIN a1 n ON n.vec_id = a.vec_id AND n.s = a.s
        GROUP BY a.s
    """,
    scale=(
        "Product-quantizer TRAINING (Jegou et al. 2011 — the training "
        "half of sim_pq_adc_recall's query path): each 8-dim subspace "
        "trains its own 4-codeword codebook; one Lloyd iteration "
        "(assign → per-dim-mean update → reassign) with quantization "
        "cost measured before and after, and Lloyd's non-increase "
        "theorem checked as a boolean (update minimizes cost for the "
        "fixed assignment, reassignment for the fixed codebook). "
        "Determinism: the same micro-frozen-distance argmin ordinal "
        "as emb_ivf_staleness_audit (x4 for the codeword tiebreak), "
        "per-dim means from BIGINT micro sums; both engines derive "
        "cost from the SAME ordinals so the boolean cannot diverge. "
        "Shape: subvector slicing is in-row; assignment is a "
        "broadcast-codebook (k*d/8 doubles) map pass per subspace; "
        "the update is a (s, cid, dim)-keyed agg bounded by 8*4*8 "
        "rows. 100 TB: exactly how PQ codebooks are trained on a "
        "sample — per-subspace independence is what makes PQ "
        "distributed-friendly."
    ),
)
def emb_pq_train_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subspace PQ Lloyd-iteration cost audit."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    sgrid = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(s) for s in range(_PQ_NSUB)])
        ).alias("s")
    )
    sub = emb.crossJoin(F.broadcast(sgrid)).select(
        "vec_id",
        F.col("s").cast("long").alias("s"),
        F.expr("slice(v, s * 8 + 1, 8)").alias("sv"),
    )
    cw = sub.where(F.col("vec_id") < _PQ_K).select(
        "s", F.col("vec_id").alias("cid"), F.col("sv").alias("cv")
    )

    a0 = (
        sub.join(F.broadcast(cw), "s")
        .select(
            "vec_id",
            "s",
            "sv",
            centroid_ord(sq_l2("sv", "cv"), _PQ_K, "cid").alias("o"),
        )
        .groupBy("vec_id", "s")
        .agg(F.min("o").alias("o"), F.first("sv").alias("sv"))
    )
    asg = a0.select(
        "vec_id",
        "s",
        "sv",
        (F.col("o") % _PQ_K).cast("long").alias("cid"),
    )
    newc = (
        asg.select("s", "cid", F.posexplode("sv").alias("j", "x"))
        .groupBy("s", "cid", "j")
        .agg(
            (
                F.sum(
                    F.floor(
                        F.col("x") * F.lit(1000000.0) + F.lit(0.505)
                    ).cast("long")
                ).cast("long")
                * F.lit(1.0)
                / F.count(F.lit(1))
                / F.lit(1000000.0)
            ).alias("m")
        )
        .groupBy("s", "cid")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("j", "m"))),
                lambda t: t.m,
            ).alias("cvn")
        )
    )
    a1 = (
        a0.select("vec_id", "s", "sv")
        .join(F.broadcast(newc), "s")
        .select(
            "vec_id",
            "s",
            centroid_ord(sq_l2("sv", "cvn"), _PQ_K, "cid").alias("o"),
        )
        .groupBy("vec_id", "s")
        .agg(F.min("o").alias("on"))
    )
    return (
        a0.select("vec_id", "s", "o")
        .join(a1, ["vec_id", "s"])
        .groupBy("s")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum(F.expr(f"o div {_PQ_K}"))
            .cast("long")
            .alias("cost_before_micro"),
            F.sum(F.expr(f"`on` div {_PQ_K}"))
            .cast("long")
            .alias("cost_after_micro"),
            rnd(
                F.sum(F.expr(f"o div {_PQ_K}"))
                / (F.lit(1000000.0) * F.count(F.lit(1))),
                4,
            ).alias("mean_dist_before"),
            rnd(
                F.sum(F.expr(f"`on` div {_PQ_K}"))
                / (F.lit(1000000.0) * F.count(F.lit(1))),
                4,
            ).alias("mean_dist_after"),
            F.when(
                F.sum(F.expr(f"`on` div {_PQ_K}"))
                <= F.sum(F.expr(f"o div {_PQ_K}")),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("lloyd_nonincrease"),
        )
    )

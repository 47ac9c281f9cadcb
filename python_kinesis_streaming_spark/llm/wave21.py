"""Round-13 wave-21 ops (SURVEY §2.33): sequential testing, clustering
robustness, information-theoretic quality, dimension redundancy, and
engagement stickiness.

- ``events_sequential_boundary_check``: group-sequential monitoring of
  the A/B conversion split — the cumulative two-proportion z per day
  against an O'Brien-Fleming-shaped boundary z·sqrt(T/t), next to the
  naive 1.96 peek (the peeking problem, quantified).
- ``emb_kmeans_init_sensitivity``: how much does the k-means cell
  structure depend on the init? Assignments under two deterministic
  inits (vec_id 0-7 vs 8-15), the 8x8 contingency purity, and both
  total quantization costs — the robustness gate for every
  SemDeDup-cell-bounded op upstream.
- ``text_ngram_entropy_rate``: per-source bigram conditional entropy
  H(w2|w1) and unigram entropy — the information-theoretic quality
  signal (low conditional entropy = formulaic/templated text) next to
  text_kn_doc_perplexity's model-based one.
- ``emb_dim_redundancy_audit``: Pearson correlation of adjacent
  dimension pairs from BIGINT-frozen moment sums — redundant adjacent
  dims argue for emb_matryoshka_prefix_recall's truncation.
- ``events_dau_wau_stickiness``: DAU/WAU per day (the engagement
  stickiness ratio) computed EXACTLY by expanding each (day, user)
  into its 7 trailing-window contributions — an equi-keyed
  distinct-count, no range join, no sketch.

Same discipline as waves 7-20: exact integers before any
cross-partition sum, identical aliases, BIGINT casts in oracles,
double arithmetic only on identical operands in identical order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from python_kinesis_streaming_spark.functions.rounding import rnd, sql_rnd
from python_kinesis_streaming_spark.functions.vectors import centroid_ord, sq_l2
from python_kinesis_streaming_spark.llm.similarity import vectors
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# group-sequential boundary check
# ---------------------------------------------------------------------------

#: final-analysis critical value (two-sided 5%) — a shared literal.
_SEQ_ZF = 1.96


@op(
    "events_sequential_boundary_check",
    oracle=f"""
        WITH d AS (
            SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
                        AS BIGINT) AS day_num,
                   CAST(user_id % 2 AS BIGINT) AS arm,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS conv
            FROM events
        ),
        daily AS (
            SELECT day_num,
                   CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_a,
                   CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END)
                        AS BIGINT) AS c_a,
                   CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_b,
                   CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END)
                        AS BIGINT) AS c_b
            FROM d GROUP BY day_num
        ),
        cum AS (
            SELECT day_num,
                   CAST(row_number() OVER (ORDER BY day_num)
                        AS BIGINT) AS t,
                   CAST(sum(n_a) OVER w AS BIGINT) AS na,
                   CAST(sum(c_a) OVER w AS BIGINT) AS ca,
                   CAST(sum(n_b) OVER w AS BIGINT) AS nb,
                   CAST(sum(c_b) OVER w AS BIGINT) AS cb
            FROM daily
            WINDOW w AS (ORDER BY day_num
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)
        ),
        tt AS (SELECT CAST(count(*) AS BIGINT) AS bign FROM daily),
        z AS (
            SELECT c.*, tt.bign,
                   CASE WHEN ca * (na - ca) = 0 AND cb * (nb - cb) = 0
                        THEN 0.0
                        ELSE (cb * 1.0 / nb - ca * 1.0 / na)
                           / sqrt((ca * 1.0 / na)
                                  * (1.0 - ca * 1.0 / na) / na
                                + (cb * 1.0 / nb)
                                  * (1.0 - cb * 1.0 / nb) / nb)
                   END AS zval,
                   {_SEQ_ZF} * sqrt(tt.bign * 1.0 / c.t) AS bound
            FROM cum c CROSS JOIN tt
        )
        SELECT day_num, t, na, ca, nb, cb,
               {sql_rnd("zval", 4)} AS z,
               {sql_rnd("bound", 4)} AS obf_boundary,
               CAST(CASE WHEN abs(zval) > bound THEN 1 ELSE 0 END
                    AS BIGINT) AS crossed_obf,
               CAST(CASE WHEN abs(zval) > {_SEQ_ZF} THEN 1 ELSE 0 END
                    AS BIGINT) AS naive_significant
        FROM z
    """,
    scale=(
        "Group-sequential experiment monitoring: the cumulative "
        "two-proportion z (purchase-event rate per arm, the "
        "events_bayes_ab_posterior formula on cumulative BIGINT "
        "counts) per day, against the O'Brien-Fleming-shaped boundary "
        "z_f * sqrt(T/t) (T data-derived, sqrt IEEE-correctly-rounded "
        "— no literal table needed) AND the naive fixed 1.96 peek. "
        "The gap between `crossed_obf` and `naive_significant` IS the "
        "peeking problem, quantified per day. Windows run over the "
        "|days|-row daily aggregate only; the degenerate-arm guard is "
        "the recurring zero-variance class. Both flags compare "
        "identical doubles. 100 TB: one day+arm agg with map-side "
        "combine, a |days|-row window — the dashboard every "
        "experiment platform recomputes hourly."
    ),
)
def events_sequential_boundary_check(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cumulative z vs OBF boundary vs naive peek, per day."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        F.expr("unix_micros(ts) div 86400000000").alias("day_num"),
        (F.col("user_id") % 2).cast("long").alias("arm"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("conv"),
    )
    daily = d.groupBy("day_num").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("c_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("c_b"),
    )
    w = Window.orderBy("day_num").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = daily.select(
        "day_num",
        F.row_number()
        .over(Window.orderBy("day_num"))
        .cast("long")
        .alias("t"),
        F.sum("n_a").over(w).cast("long").alias("na"),
        F.sum("c_a").over(w).cast("long").alias("ca"),
        F.sum("n_b").over(w).cast("long").alias("nb"),
        F.sum("c_b").over(w).cast("long").alias("cb"),
    )
    tt = daily.agg(F.count(F.lit(1)).cast("long").alias("bign"))
    ra = F.col("ca") * F.lit(1.0) / F.col("na")
    rb = F.col("cb") * F.lit(1.0) / F.col("nb")
    zexpr = (rb - ra) / F.sqrt(
        ra * (F.lit(1.0) - ra) / F.col("na")
        + rb * (F.lit(1.0) - rb) / F.col("nb")
    )
    degenerate = (
        F.col("ca") * (F.col("na") - F.col("ca")) == 0
    ) & (F.col("cb") * (F.col("nb") - F.col("cb")) == 0)
    z = cum.crossJoin(F.broadcast(tt)).select(
        "day_num",
        "t",
        "na",
        "ca",
        "nb",
        "cb",
        F.when(degenerate, F.lit(0.0)).otherwise(zexpr).alias("zval"),
        (
            F.lit(_SEQ_ZF)
            * F.sqrt(F.col("bign") * F.lit(1.0) / F.col("t"))
        ).alias("bound"),
    )
    return z.select(
        "day_num",
        "t",
        "na",
        "ca",
        "nb",
        "cb",
        rnd(F.col("zval"), 4).alias("z"),
        rnd(F.col("bound"), 4).alias("obf_boundary"),
        F.when(F.abs(F.col("zval")) > F.col("bound"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("crossed_obf"),
        F.when(F.abs(F.col("zval")) > F.lit(_SEQ_ZF), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("naive_significant"),
    )


# ---------------------------------------------------------------------------
# k-means init sensitivity
# ---------------------------------------------------------------------------


@op(
    "emb_kmeans_init_sensitivity",
    oracle="""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        ca_ AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        cb_ AS (SELECT vec_id AS cid, v AS cv FROM e
                WHERE vec_id >= 8 AND vec_id < 16),
        aa AS (
            SELECT x.vec_id,
                   min(CAST(floor(list_sum(list_transform(range(1, 65),
                       i -> (x.v[CAST(i AS INTEGER)]
                             - c.cv[CAST(i AS INTEGER)]) ^ 2))
                       * 1000000.0 + 0.505) AS BIGINT) * 16 + c.cid)
                       AS o
            FROM e x, ca_ c GROUP BY x.vec_id
        ),
        ab AS (
            SELECT x.vec_id,
                   min(CAST(floor(list_sum(list_transform(range(1, 65),
                       i -> (x.v[CAST(i AS INTEGER)]
                             - c.cv[CAST(i AS INTEGER)]) ^ 2))
                       * 1000000.0 + 0.505) AS BIGINT) * 16 + c.cid)
                       AS o
            FROM e x, cb_ c GROUP BY x.vec_id
        ),
        j AS (
            SELECT a.vec_id,
                   CAST(a.o % 16 AS BIGINT) AS cid_a,
                   CAST(a.o // 16 AS BIGINT) AS da,
                   CAST(b.o % 16 AS BIGINT) AS cid_b,
                   CAST(b.o // 16 AS BIGINT) AS db
            FROM aa a JOIN ab b ON b.vec_id = a.vec_id
        ),
        cont AS (
            SELECT cid_a, cid_b, CAST(count(*) AS BIGINT) AS n
            FROM j GROUP BY cid_a, cid_b
        ),
        best AS (
            SELECT cid_a, CAST(sum(n) AS BIGINT) AS n_a,
                   CAST(max(n) AS BIGINT) AS best_overlap
            FROM cont GROUP BY cid_a
        ),
        g AS (
            SELECT CAST(sum(da) AS BIGINT) AS cost_a,
                   CAST(sum(db) AS BIGINT) AS cost_b,
                   CAST(count(*) AS BIGINT) AS n_vecs
            FROM j
        )
        SELECT b.cid_a, b.n_a, b.best_overlap,
               {purity} AS purity,
               {gpur} AS global_purity,
               {costa} AS mean_cost_a,
               {costb} AS mean_cost_b
        FROM best b CROSS JOIN
             (SELECT g.*, (SELECT CAST(sum(best_overlap) AS BIGINT)
                           FROM best) AS sum_best FROM g) g
    """.format(
        purity=sql_rnd("b.best_overlap * 1.0 / b.n_a", 4),
        gpur=sql_rnd("g.sum_best * 1.0 / g.n_vecs", 4),
        costa=sql_rnd("g.cost_a / (1000000.0 * g.n_vecs)", 4),
        costb=sql_rnd("g.cost_b / (1000000.0 * g.n_vecs)", 4),
    ),
    scale=(
        "Clustering-robustness gate for every SemDeDup-cell-bounded "
        "op upstream: assign all vectors under two deterministic "
        "inits (vec_id 0-7 vs 8-15, the same micro-frozen argmin "
        "ordinal as emb_kmeans_one_iter, x16 for the raw-id "
        "tiebreak), build the 8x8 contingency, and report per-A-cell "
        "purity (max overlap share with one B-cell), the global "
        "matched purity, and both mean quantization costs. High "
        "purity = the cell structure is data-driven, not "
        "init-driven; low purity = SemDeDup pruning decisions would "
        "change under a different seed and need a larger k or better "
        "init. Shape: two broadcast-centroid map passes, one N-row "
        "equi-join on vec_id, a 64-key contingency agg. 100 TB: "
        "identical — the contingency is k^2-bounded."
    ),
)
def emb_kmeans_init_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """8x8 init-sensitivity purity + cost report."""
    emb = vectors(spark, sf_dir)
    ca = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    cb = emb.where(
        (F.col("vec_id") >= 8) & (F.col("vec_id") < 16)
    ).select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))

    def assign(cents: DataFrame, oname: str) -> DataFrame:
        return (
            emb.crossJoin(F.broadcast(cents))
            .select(
                "vec_id", centroid_ord(sq_l2("v", "cv"), 16, "cid").alias("o")
            )
            .groupBy("vec_id")
            .agg(F.min("o").alias(oname))
        )
    j = assign(ca, "oa").join(assign(cb, "ob"), "vec_id").select(
        (F.col("oa") % 16).cast("long").alias("cid_a"),
        F.expr("oa div 16").cast("long").alias("da"),
        (F.col("ob") % 16).cast("long").alias("cid_b"),
        F.expr("ob div 16").cast("long").alias("db"),
    )
    cont = j.groupBy("cid_a", "cid_b").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    best = cont.groupBy("cid_a").agg(
        F.sum("n").cast("long").alias("n_a"),
        F.max("n").cast("long").alias("best_overlap"),
    )
    g = j.agg(
        F.sum("da").cast("long").alias("cost_a"),
        F.sum("db").cast("long").alias("cost_b"),
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
    )
    sb = best.agg(
        F.sum("best_overlap").cast("long").alias("sum_best")
    )
    return (
        best.crossJoin(F.broadcast(g))
        .crossJoin(F.broadcast(sb))
        .select(
            "cid_a",
            "n_a",
            "best_overlap",
            rnd(
                F.col("best_overlap") * F.lit(1.0) / F.col("n_a"), 4
            ).alias("purity"),
            rnd(
                F.col("sum_best") * F.lit(1.0) / F.col("n_vecs"), 4
            ).alias("global_purity"),
            rnd(
                F.col("cost_a") / (F.lit(1000000.0) * F.col("n_vecs")),
                4,
            ).alias("mean_cost_a"),
            rnd(
                F.col("cost_b") / (F.lit(1000000.0) * F.col("n_vecs")),
                4,
            ).alias("mean_cost_b"),
        )
    )


# ---------------------------------------------------------------------------
# bigram conditional entropy per source
# ---------------------------------------------------------------------------


@op(
    "text_ngram_entropy_rate",
    oracle=f"""
        WITH toks AS (
            SELECT source, string_split(text, ' ') AS t FROM documents
        ),
        bg AS (
            SELECT source, t[i] AS w1, t[i + 1] AS w2
            FROM toks, unnest(range(1, len(t))) AS u(i)
        ),
        c2 AS (
            SELECT source, w1, w2, CAST(count(*) AS BIGINT) AS c
            FROM bg GROUP BY source, w1, w2
        ),
        c1 AS (
            SELECT source, w1, CAST(sum(c) AS BIGINT) AS cw1
            FROM c2 GROUP BY source, w1
        ),
        hterm AS (
            -- per-type entropy contribution c*ln(cw1/c), micro-frozen
            SELECT c2.source,
                   CAST(sum(CAST(floor(c2.c * ln(c1.cw1 * 1.0 / c2.c)
                        * 1000000.0 + 0.505) AS BIGINT)) AS BIGINT)
                       AS hsum_micro,
                   CAST(sum(c2.c) AS BIGINT) AS n_bg,
                   CAST(count(*) AS BIGINT) AS n_types
            FROM c2 JOIN c1 ON c1.source = c2.source
                           AND c1.w1 = c2.w1
            GROUP BY c2.source
        ),
        uterm AS (
            SELECT source,
                   CAST(sum(CAST(floor(cw * ln(n * 1.0 / cw)
                        * 1000000.0 + 0.505) AS BIGINT)) AS BIGINT)
                       AS usum_micro,
                   CAST(max(n) AS BIGINT) AS n_tok
            FROM (
                SELECT source, w, CAST(count(*) AS BIGINT) AS cw,
                       CAST(sum(count(*)) OVER (PARTITION BY source)
                            AS BIGINT) AS n
                FROM (SELECT source,
                             unnest(string_split(text, ' ')) AS w
                      FROM documents)
                GROUP BY source, w
            ) GROUP BY source
        )
        SELECT h.source, h.n_bg, h.n_types,
               {sql_rnd("h.hsum_micro / (1000000.0 * h.n_bg)", 4)}
                   AS h_cond,
               {sql_rnd("u.usum_micro / (1000000.0 * u.n_tok)", 4)}
                   AS h_unigram,
               CASE WHEN u.usum_micro = 0 THEN 0.0 ELSE {sql_rnd(
                   "1.0 - (h.hsum_micro / (1000000.0 * h.n_bg))"
                   " / (u.usum_micro / (1000000.0 * u.n_tok))", 4
               )} END AS redundancy
        FROM hterm h JOIN uterm u ON u.source = h.source
    """,
    scale=(
        "Information-theoretic text quality: per-source bigram "
        "conditional entropy H(w2|w1) = (1/N)*sum c(w1,w2)*"
        "ln(c(w1)/c(w1,w2)) and unigram entropy H(w) — low H_cond "
        "relative to H_unigram (high redundancy) means templated/"
        "formulaic text, the signal Gopher-style repetition filters "
        "approximate and text_kn_doc_perplexity models. Every "
        "entropy term freezes to integer micro after ln on an exact "
        "integer RATIO (the Adamic-Adar precedent — both engines "
        "evaluate ln on identical doubles); term sums are BIGINT, "
        "the final entropies rationals. The unigram total-N window "
        "is per-source over the word-count AGGREGATE. Shape: two "
        "(source-keyed) vocab aggs + a type-keyed join bounded by "
        "vocab^2 types. 100 TB: the same two group-bys as the KN "
        "model, per source."
    ),
)
def text_ngram_entropy_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source conditional/unigram entropy + redundancy."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.split("text", " ").alias("t")
    ).where(F.size("t") >= 2)
    bg = toks.select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(element_at(t, i) AS w1, "
                "            element_at(t, i + 1) AS w2))"
            )
        ).alias("b"),
    ).select(
        "source", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    c2 = bg.groupBy("source", "w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    c1 = c2.groupBy("source", "w1").agg(
        F.sum("c").cast("long").alias("cw1")
    )
    hterm = (
        c2.join(c1, ["source", "w1"])
        .groupBy("source")
        .agg(
            F.sum(
                F.floor(
                    F.col("c")
                    * F.log(F.col("cw1") * F.lit(1.0) / F.col("c"))
                    * F.lit(1000000.0)
                    + F.lit(0.505)
                ).cast("long")
            )
            .cast("long")
            .alias("hsum_micro"),
            F.sum("c").cast("long").alias("n_bg"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
        )
    )
    wcount = (
        docs.select(
            "source", F.explode(F.split("text", " ")).alias("w")
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("cw"))
        .withColumn(
            "n",
            F.sum("cw")
            .over(Window.partitionBy("source"))
            .cast("long"),
        )
    )
    uterm = wcount.groupBy("source").agg(
        F.sum(
            F.floor(
                F.col("cw")
                * F.log(F.col("n") * F.lit(1.0) / F.col("cw"))
                * F.lit(1000000.0)
                + F.lit(0.505)
            ).cast("long")
        )
        .cast("long")
        .alias("usum_micro"),
        F.max("n").cast("long").alias("n_tok"),
    )
    h_cond = F.col("hsum_micro") / (F.lit(1000000.0) * F.col("n_bg"))
    h_uni = F.col("usum_micro") / (F.lit(1000000.0) * F.col("n_tok"))
    return hterm.join(uterm, "source").select(
        "source",
        "n_bg",
        "n_types",
        rnd(h_cond, 4).alias("h_cond"),
        rnd(h_uni, 4).alias("h_unigram"),
        F.when(F.col("usum_micro") == 0, F.lit(0.0))
        .otherwise(rnd(F.lit(1.0) - h_cond / h_uni, 4))
        .alias("redundancy"),
    )


# ---------------------------------------------------------------------------
# adjacent-dimension redundancy
# ---------------------------------------------------------------------------


@op(
    "emb_dim_redundancy_audit",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        x AS (
            SELECT vec_id, CAST(u.i AS BIGINT) AS j,
                   CAST(floor(v[CAST(u.i AS INTEGER) + 1] * 1000000.0
                        + 0.505) AS BIGINT) AS xm
            FROM e, unnest(range(0, 64)) AS u(i)
        ),
        pair AS (
            SELECT a.j,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(a.xm) AS BIGINT) AS sx,
                   CAST(sum(b.xm) AS BIGINT) AS sy,
                   CAST(sum(a.xm * a.xm) AS BIGINT) AS sxx,
                   CAST(sum(b.xm * b.xm) AS BIGINT) AS syy,
                   CAST(sum(a.xm * b.xm) AS BIGINT) AS sxy
            FROM x a JOIN x b ON b.vec_id = a.vec_id
                             AND b.j = a.j + 1
            GROUP BY a.j
        ),
        r AS (
            SELECT j, n,
                   -- Pearson r in DOUBLE from the BIGINT moment sums;
                   -- identical operand order in both engines. The
                   -- ::DOUBLE casts are load-bearing: a bare `1.0` is
                   -- DECIMAL in DuckDB and the variance product
                   -- overflows DECIMAL(38) at 10x scale (caught by
                   -- the x10 measurement run, not the fixture)
                   (n * 1.0::DOUBLE * sxy - sx * 1.0::DOUBLE * sy)
                   / sqrt((n * 1.0::DOUBLE * sxx
                           - sx * 1.0::DOUBLE * sx)
                          * (n * 1.0::DOUBLE * syy
                             - sy * 1.0::DOUBLE * sy)) AS rr
            FROM pair
        ),
        m AS (
            SELECT CAST(sum(CAST(floor(abs(rr) * 1000000.0 + 0.505)
                        AS BIGINT)) AS BIGINT) AS absr_micro,
                   CAST(count(*) AS BIGINT) AS n_pairs
            FROM r
        )
        SELECT r.j, {sql_rnd("r.rr", 4)} AS pearson_r,
               {sql_rnd("abs(r.rr)", 4)} AS abs_r,
               {sql_rnd("m.absr_micro / (1000000.0 * m.n_pairs)", 4)}
                   AS mean_abs_r
        FROM r CROSS JOIN m
    """,
    scale=(
        "Dimension-redundancy audit: Pearson correlation of each "
        "adjacent dimension pair (j, j+1), computed from BIGINT "
        "moment sums of 1e-6-frozen coordinates (sums, squares and "
        "cross-products stay inside int64 at 10^6 vectors x 10^6 "
        "micro^2), with the final r in double from identical-order "
        "identical-operand arithmetic — bit-equal across engines, "
        "then rnd-frozen. High adjacent |r| means the embedding "
        "wastes dimensions and emb_matryoshka_prefix_recall's "
        "truncation (or PCA) is nearly free; ~0 everywhere (this "
        "fixture) means every dim carries signal. Shape: one "
        "posexplode, one self-equi-join on (vec_id, j+1) — N*63 "
        "rows, never pairwise over vectors — and a 63-key agg. "
        "100 TB: the join key includes vec_id so it co-partitions "
        "with the explode; one shuffle."
    ),
)
def emb_dim_redundancy_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Adjacent-dim Pearson r from frozen integer moments."""
    emb = vectors(spark, sf_dir)
    x = emb.select(
        "vec_id", F.posexplode("v").alias("j", "xd")
    ).select(
        "vec_id",
        F.col("j").cast("long").alias("j"),
        F.floor(F.col("xd") * F.lit(1000000.0) + F.lit(0.505))
        .cast("long")
        .alias("xm"),
    )
    a, b = x.alias("a"), x.alias("b")
    pair = (
        a.join(
            b,
            (F.col("b.vec_id") == F.col("a.vec_id"))
            & (F.col("b.j") == F.col("a.j") + 1),
        )
        .groupBy(F.col("a.j").alias("j"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("a.xm").cast("long").alias("sx"),
            F.sum("b.xm").cast("long").alias("sy"),
            F.sum(F.col("a.xm") * F.col("a.xm"))
            .cast("long")
            .alias("sxx"),
            F.sum(F.col("b.xm") * F.col("b.xm"))
            .cast("long")
            .alias("syy"),
            F.sum(F.col("a.xm") * F.col("b.xm"))
            .cast("long")
            .alias("sxy"),
        )
    )
    rr = (
        F.col("n") * F.lit(1.0) * F.col("sxy")
        - F.col("sx") * F.lit(1.0) * F.col("sy")
    ) / F.sqrt(
        (
            F.col("n") * F.lit(1.0) * F.col("sxx")
            - F.col("sx") * F.lit(1.0) * F.col("sx")
        )
        * (
            F.col("n") * F.lit(1.0) * F.col("syy")
            - F.col("sy") * F.lit(1.0) * F.col("sy")
        )
    )
    r = pair.select("j", "n", rr.alias("rr"))
    m = r.agg(
        F.sum(
            F.floor(F.abs(F.col("rr")) * F.lit(1000000.0) + F.lit(0.505))
            .cast("long")
        )
        .cast("long")
        .alias("absr_micro"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    return r.crossJoin(F.broadcast(m)).select(
        "j",
        rnd(F.col("rr"), 4).alias("pearson_r"),
        rnd(F.abs(F.col("rr")), 4).alias("abs_r"),
        rnd(
            F.col("absr_micro") / (F.lit(1000000.0) * F.col("n_pairs")),
            4,
        ).alias("mean_abs_r"),
    )


# ---------------------------------------------------------------------------
# DAU / WAU stickiness
# ---------------------------------------------------------------------------


@op(
    "events_dau_wau_stickiness",
    oracle="""
        WITH du AS (
            SELECT DISTINCT
                   CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
                        AS BIGINT) AS d,
                   user_id
            FROM events
        ),
        days AS (SELECT DISTINCT d FROM du),
        dau AS (
            SELECT d, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY d
        ),
        expanded AS (
            -- each (day, user) contributes to the trailing-7 windows
            -- of days d .. d+6: an equi-keyed expansion, no range join
            SELECT DISTINCT du.d + k.k AS wd, du.user_id
            FROM du, (SELECT unnest(range(0, 7)) AS k) k
        ),
        wau AS (
            SELECT e.wd AS d, CAST(count(*) AS BIGINT) AS wau
            FROM expanded e JOIN days dy ON dy.d = e.wd
            GROUP BY e.wd
        )
        SELECT a.d AS day_num, a.dau, w.wau,
               floor((a.dau * 1.0 / w.wau) * 10000.0 + 0.505) / 10000.0
                   AS stickiness,
               CAST(CASE WHEN a.d - (SELECT min(d) FROM days) >= 6
                    THEN 1 ELSE 0 END AS BIGINT) AS full_window
        FROM dau a JOIN wau w ON w.d = a.d
    """,
    scale=(
        "DAU/WAU stickiness per day — the engagement ratio every "
        "product dashboard leads with, computed EXACTLY (the exact "
        "dual of ts_rolling_distinct_hll's sketch): each (day, user) "
        "row expands into its <= 7 trailing-window memberships "
        "(literal 0..6 offsets), then WAU is a plain distinct count "
        "keyed on the window day — an equi-shuffle, no range join, "
        "no N^2. Days outside the data are dropped by the day-spine "
        "join; `full_window` marks the ramp-up rows a dashboard "
        "grays out. 100 TB: the expansion is a bounded x7 fan-out "
        "BEFORE the distinct (map-side), and both aggs are (day[, "
        "user])-keyed with combine — the distinct_users_per_type "
        "shape with a calendar twist."
    ),
)
def events_dau_wau_stickiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact DAU/WAU ratio per day via trailing-window expansion."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.expr("unix_micros(ts) div 86400000000").alias("d"),
        "user_id",
    ).distinct()
    days = du.select("d").distinct()
    dau = du.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )
    k = spark.range(1).select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("k")
    )
    expanded = (
        du.crossJoin(F.broadcast(k))
        .select((F.col("d") + F.col("k")).alias("wd"), "user_id")
        .distinct()
    )
    wau = (
        expanded.join(
            days.select(F.col("d").alias("wd")), "wd"
        )
        .groupBy("wd")
        .agg(F.count(F.lit(1)).cast("long").alias("wau"))
    )
    mn = days.agg(F.min("d").alias("mind"))
    return (
        dau.join(wau, dau.d == wau.wd)
        .crossJoin(F.broadcast(mn))
        .select(
            F.col("d").alias("day_num"),
            "dau",
            "wau",
            rnd(F.col("dau") * F.lit(1.0) / F.col("wau"), 4).alias(
                "stickiness"
            ),
            F.when(F.col("d") - F.col("mind") >= 6, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("full_window"),
        )
    )

"""Round-14 wave-25 ops (SURVEY §2.37): hash-bit quality,
distributional treatment effects, boilerplate detection.

- ``emb_sign_bit_balance_audit``: per-bit 1-share and adjacent-bit
  agreement of the 64-bit sign signatures — a usable binary index
  needs ~50/50 bits with independent neighbors (the index-quality
  dual of emb_sign_binarize_recall's recall view).
- ``events_quantile_treatment_effect``: arm-vs-arm value quantiles at
  a literal phi grid via the VALUE-GROUPED cumulative pattern — the
  distributional lens mean-lift A/B readouts miss (a lift that lives
  only above the median is a tail effect, not a level effect).
- ``corpus_boilerplate_df_ngrams``: top word-5-grams by DOCUMENT
  frequency + the share of docs carrying any of them — the
  boilerplate screen (DF-based, corpus-level) that complements
  dedup_substring_spans' pairwise repeats.

Same discipline as waves 7-24: exact integers before any
cross-partition sum, identical aliases both engines, BIGINT casts in
oracles, 1.0::DOUBLE where sums multiply, literal grids, bounded
windows (value-grouped aggregates only), broadcast-bounded joins; ln
only on identical integer rationals, never exp/pow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from python_kinesis_streaming_spark.functions.rounding import cents, rnd, sql_rnd
from python_kinesis_streaming_spark.llm.similarity import vectors
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# sign-bit balance / independence audit
# ---------------------------------------------------------------------------


@op(
    "emb_sign_bit_balance_audit",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        bits AS (
            SELECT vec_id, CAST(u.j AS BIGINT) AS j,
                   CASE WHEN v[CAST(u.j AS INTEGER) + 1] >= 0
                        THEN 1 ELSE 0 END AS b
            FROM e, unnest(range(0, 64)) AS u(j)
        ),
        per AS (
            SELECT j,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(b) AS BIGINT) AS ones
            FROM bits GROUP BY j
        ),
        adj AS (
            -- adjacent-bit agreement: share of vectors where bit j
            -- and bit j+1 agree (independent balanced bits -> 0.5)
            SELECT a.j,
                   CAST(sum(CASE WHEN a.b = b.b THEN 1 ELSE 0 END)
                        AS BIGINT) AS agree,
                   CAST(count(*) AS BIGINT) AS n
            FROM bits a JOIN bits b
              ON b.vec_id = a.vec_id AND b.j = a.j + 1
            GROUP BY a.j
        ),
        worst AS (
            SELECT CAST(max(abs(2 * ones - n)) AS BIGINT)
                       AS worst_dev2
            FROM per
        )
        SELECT p.j AS bit, p.ones,
               {sql_rnd("p.ones * 1.0 / p.n", 4)} AS ones_share,
               {sql_rnd("abs(2 * p.ones - p.n) * 1.0 / (2 * p.n)", 4)}
                   AS imbalance,
               {sql_rnd(
                   "COALESCE(a.agree * 1.0 / a.n, 0.5)", 4
               )} AS adj_agree_share,
               {sql_rnd("w.worst_dev2 * 1.0 / (2 * p.n)", 4)}
                   AS max_imbalance
        FROM per p
        LEFT JOIN adj a ON a.j = p.j
        CROSS JOIN worst w
    """,
    scale=(
        "Index-quality dual of emb_sign_binarize_recall: a 64-bit "
        "sign index is only as good as its bits — each should split "
        "the corpus ~50/50 (imbalance = |share - 0.5|) and neighbors "
        "should agree ~50% (independence). A bit at 0.9 ones-share "
        "carries 0.47 bits of information instead of 1; correlated "
        "neighbors make Hamming distances collapse (the hubness "
        "failure mode). All counts exact BIGINTs (|2*ones - n| is "
        "the doubled-integer imbalance, the MAD trick); ratios are "
        "single frozen rationals; bit 63 has no neighbor and emits "
        "the independent-ideal 0.5 via COALESCE in both engines. "
        "Shape: one posexplode, a 64-key agg, an in-vector adjacent "
        "self-join (vec_id co-partitioned, N*63 rows), a 1-row max. "
        "100 TB: map passes + d-bounded aggs; run it whenever the "
        "binarized index is rebuilt."
    ),
)
def emb_sign_bit_balance_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-bit balance + adjacent independence of sign signatures."""
    emb = vectors(spark, sf_dir)
    bits = emb.select(
        "vec_id", F.posexplode("v").alias("j", "xd")
    ).select(
        "vec_id",
        F.col("j").cast("long").alias("j"),
        F.when(F.col("xd") >= 0, 1).otherwise(0).alias("b"),
    )
    per = bits.groupBy("j").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("b").cast("long").alias("ones"),
    )
    a, b = bits.alias("a"), bits.alias("b")
    adj = (
        a.join(
            b,
            (F.col("b.vec_id") == F.col("a.vec_id"))
            & (F.col("b.j") == F.col("a.j") + 1),
        )
        .groupBy(F.col("a.j").alias("ja"))
        .agg(
            F.sum(
                F.when(F.col("a.b") == F.col("b.b"), 1).otherwise(0)
            )
            .cast("long")
            .alias("agree"),
            F.count(F.lit(1)).cast("long").alias("na"),
        )
    )
    worst = per.agg(
        F.max(F.abs(2 * F.col("ones") - F.col("n")))
        .cast("long")
        .alias("worst_dev2")
    )
    return (
        per.join(adj, F.col("ja") == F.col("j"), "left")
        .crossJoin(F.broadcast(worst))
        .select(
            F.col("j").alias("bit"),
            "ones",
            rnd(F.col("ones") * F.lit(1.0) / F.col("n"), 4).alias(
                "ones_share"
            ),
            rnd(
                F.abs(2 * F.col("ones") - F.col("n"))
                * F.lit(1.0)
                / (2 * F.col("n")),
                4,
            ).alias("imbalance"),
            rnd(
                F.coalesce(
                    F.col("agree") * F.lit(1.0) / F.col("na"),
                    F.lit(0.5),
                ),
                4,
            ).alias("adj_agree_share"),
            rnd(
                F.col("worst_dev2") * F.lit(1.0) / (2 * F.col("n")), 4
            ).alias("max_imbalance"),
        )
    )


# ---------------------------------------------------------------------------
# quantile treatment effects (distributional A/B)
# ---------------------------------------------------------------------------

#: quantiles compared between arms, integer percents
_QTE_PHIS = (25, 50, 75, 90, 99)


@op(
    "events_quantile_treatment_effect",
    oracle=f"""
        WITH t AS (
            SELECT CAST(user_id % 2 AS BIGINT) AS arm,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM events
        ),
        vc AS (
            SELECT arm, cents, CAST(count(*) AS BIGINT) AS cnt
            FROM t GROUP BY arm, cents
        ),
        cum AS (
            SELECT arm, cents,
                   CAST(sum(cnt) OVER (PARTITION BY arm ORDER BY cents
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum
            FROM vc
        ),
        na AS (
            SELECT arm, CAST(sum(cnt) AS BIGINT) AS n
            FROM vc GROUP BY arm
        ),
        phis AS (SELECT CAST(u.p AS BIGINT) AS p
                 FROM unnest([{", ".join(str(p) for p in _QTE_PHIS)}])
                      AS u(p)),
        want AS (
            SELECT ph.p, na.arm, na.n,
                   (ph.p * na.n + 99) // 100 AS target
            FROM phis ph CROSS JOIN na
        ),
        qq AS (
            SELECT w.p, w.arm, min(c.cents) AS q_cents
            FROM want w JOIN cum c
              ON c.arm = w.arm AND c.cum >= w.target
            GROUP BY w.p, w.arm
        ),
        piv AS (
            SELECT p,
                   max(CASE WHEN arm = 0 THEN q_cents END) AS q_a,
                   max(CASE WHEN arm = 1 THEN q_cents END) AS q_b
            FROM qq GROUP BY p
        )
        SELECT {sql_rnd("p / 100.0", 2)} AS phi,
               q_a AS q_control_cents, q_b AS q_treat_cents,
               CAST(q_b - q_a AS BIGINT) AS qte_cents,
               {sql_rnd(
                   "(q_b - q_a) * 1.0 / q_a", 4
               )} AS qte_relative
        FROM piv
    """,
    scale=(
        "Distributional treatment effect: per-arm EXACT value "
        "quantiles at a literal phi grid (the VALUE-GROUPED "
        "cumulative pattern — rank windows only over the per-arm "
        "cents aggregate, never raw facts), differenced into the "
        "quantile treatment effect. A mean lift (events_ab_test_"
        "lift) that lives only above the 90th percentile is a tail "
        "effect — winsorize-sensitivity flags it, THIS op localizes "
        "it. All ranks exact BIGINTs, target = ceil(phi*n) in "
        "integer arithmetic; the only doubles are the final frozen "
        "ratios. Shape: one (arm, cents) agg, two bounded per-arm "
        "cumulative windows, a 5-phi probe join over the value "
        "domain, 5-row report. 100 TB: value domains are bounded "
        "(cents), so the cumulative table is tiny regardless of row "
        "count — the same reason the quantile-sketch audit scales."
    ),
)
def events_quantile_treatment_effect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact per-arm quantiles at a literal grid + their difference."""
    ev = load_table(spark, sf_dir, "events")
    t = ev.select(
        (F.col("user_id") % 2).cast("long").alias("arm"),
        cents().alias("cents"),
    )
    # vc feeds the cumulative AND the per-arm totals — cached
    vc = (
        t.groupBy("arm", "cents")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .cache()
    )
    cum = vc.withColumn(
        "cum",
        F.sum("cnt")
        .over(
            Window.partitionBy("arm")
            .orderBy("cents")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .cast("long"),
    )
    na = vc.groupBy("arm").agg(F.sum("cnt").cast("long").alias("n"))
    phis = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(int(p)) for p in _QTE_PHIS])
        ).alias("p0")
    ).select(F.col("p0").cast("long").alias("p"))
    want = phis.crossJoin(na).select(
        "p",
        "arm",
        "n",
        F.expr("(p * n + 99) div 100").alias("target"),
    )
    qq = (
        F.broadcast(want)
        .alias("w")
        .join(
            cum.alias("c"),
            (F.col("c.arm") == F.col("w.arm"))
            & (F.col("c.cum") >= F.col("w.target")),
        )
        .groupBy("w.p", "w.arm")
        .agg(F.min("c.cents").alias("q_cents"))
    )
    piv = qq.groupBy("p").agg(
        F.max(F.when(F.col("arm") == 0, F.col("q_cents"))).alias("q_a"),
        F.max(F.when(F.col("arm") == 1, F.col("q_cents"))).alias("q_b"),
    )
    return piv.select(
        rnd(F.col("p") / F.lit(100.0), 2).alias("phi"),
        F.col("q_a").alias("q_control_cents"),
        F.col("q_b").alias("q_treat_cents"),
        (F.col("q_b") - F.col("q_a")).cast("long").alias("qte_cents"),
        rnd(
            (F.col("q_b") - F.col("q_a")) * F.lit(1.0) / F.col("q_a"),
            4,
        ).alias("qte_relative"),
    )


# ---------------------------------------------------------------------------
# boilerplate detection via document-frequency n-grams
# ---------------------------------------------------------------------------

#: word-n-gram order and how many top boilerplate grams to report
_BP_N = 5
_BP_TOP = 10


@op(
    "corpus_boilerplate_df_ngrams",
    oracle=f"""
        WITH words AS (
            SELECT doc_id, source,
                   string_split(text, ' ') AS ws
            FROM documents
        ),
        -- literal spine + range filter: DuckDB range() can't take
        -- lateral column args (engine-quirk note, wave-7 pattern)
        spine AS (SELECT i FROM range(1, 512) t(i)),
        grams AS (
            SELECT DISTINCT doc_id, source,
                   list_aggregate(ws[i:i + {_BP_N - 1}],
                                  'string_agg', ' ') AS gram
            FROM words JOIN spine ON i <= len(ws) - {_BP_N - 1}
        ),
        df AS (
            SELECT gram,
                   CAST(count(*) AS BIGINT) AS doc_freq,
                   CAST(count(DISTINCT source) AS BIGINT) AS n_sources
            FROM grams GROUP BY gram
        ),
        top AS (
            SELECT gram, doc_freq, n_sources,
                   row_number() OVER (ORDER BY doc_freq DESC, gram)
                       AS rk
            FROM df
        ),
        sel AS (SELECT * FROM top WHERE rk <= {_BP_TOP}),
        nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs
               FROM documents),
        cov AS (
            SELECT CAST(count(DISTINCT g.doc_id) AS BIGINT)
                       AS docs_covered
            FROM grams g JOIN sel s ON s.gram = g.gram
        )
        SELECT s.rk, s.gram, s.doc_freq, s.n_sources,
               {sql_rnd("s.doc_freq * 1.0 / nd.n_docs", 4)}
                   AS doc_share,
               cov.docs_covered,
               {sql_rnd("cov.docs_covered * 1.0 / nd.n_docs", 4)}
                   AS coverage_share
        FROM sel s CROSS JOIN nd CROSS JOIN cov
    """,
    scale=(
        "Boilerplate screen: the top word-{N}-grams by DOCUMENT "
        "frequency (each doc counted once per gram — DISTINCT before "
        "the count) plus how many sources they span and what share "
        "of the corpus carries at least one of them. High-DF grams "
        "spanning many sources are templates/disclaimers — the "
        "C4-style 'remove boilerplate lines' rule gets its line "
        "list HERE (complements dedup_substring_spans, which finds "
        "pairwise repeats, not corpus-wide templates). The rank "
        "window runs over the gram-count AGGREGATE (value-grouped, "
        "bounded); ties broken by the gram text itself. Shape: one "
        "in-row slice explode, a distinct, a gram-keyed agg, top-10 "
        "rank, one semi-join back for coverage. 100 TB: gram tables "
        "shard by hash; the top-k is TakeOrdered-scale."
    ).replace("{N}", str(_BP_N)),
)
def corpus_boilerplate_df_ngrams(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top document-frequency word-5-grams + corpus coverage."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", "source", F.split("text", " ").alias("ws")
    )
    # grams feeds the DF agg AND the coverage semi-join — cached
    grams = (
        words.where(F.size("ws") >= _BP_N)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(ws) - {_BP_N}), "
                    f"i -> array_join(slice(ws, i + 1, {_BP_N}), ' '))"
                )
            ).alias("gram"),
        )
        .distinct()
        .cache()
    )
    df = grams.groupBy("gram").agg(
        F.count(F.lit(1)).cast("long").alias("doc_freq"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )
    sel = (
        df.withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.desc("doc_freq"), "gram")
            ),
        )
        .where(F.col("rk") <= _BP_TOP)
    )
    nd = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    cov = (
        grams.join(
            F.broadcast(sel.select(F.col("gram").alias("sgram"))),
            F.col("gram") == F.col("sgram"),
        )
        .agg(
            F.countDistinct("doc_id").cast("long").alias("docs_covered")
        )
    )
    return (
        sel.crossJoin(F.broadcast(nd))
        .crossJoin(F.broadcast(cov))
        .select(
            "rk",
            "gram",
            "doc_freq",
            "n_sources",
            rnd(
                F.col("doc_freq") * F.lit(1.0) / F.col("n_docs"), 4
            ).alias("doc_share"),
            "docs_covered",
            rnd(
                F.col("docs_covered") * F.lit(1.0) / F.col("n_docs"), 4
            ).alias("coverage_share"),
        )
    )

"""Round-13 wave-22 ops (SURVEY §2.34): token-weighted dedup yield,
cohort retention, robust embedding stats, LSH skew planning, and
source-pair redundancy.

- ``corpus_dedup_token_funnel``: the corpus_dedup_funnel stages
  re-weighted by TOKENS — compute budgets are spent in tokens, not
  documents, so this is the number the training-cost model consumes.
- ``events_retention_cohort_matrix``: the classic signup-cohort ×
  age-week retention triangle (events_day_n_retention generalized
  from one horizon to the full matrix).
- ``emb_peak_outlier_audit``: exact doubled-integer median/MAD of
  each vector's PEAK coordinate max|x| with a pure-BIGINT 3σ flag
  (the ts_anomaly_mad discipline on the embedding table) — the int8
  clipping signal: a vector whose peak is an outlier saturates any
  per-tensor quantizer (pairs with emb_int8_quant_audit).
- ``dedup_bucket_size_histogram``: the LSH (band, bkey) bucket-size
  distribution in log2 classes with implied candidate-pair counts —
  bucket skew is THE cost driver of the banded self-join at 100 TB.
- ``text_js_divergence_sources``: pairwise Jensen-Shannon divergence
  between source unigram distributions (the symmetric, bounded
  counterpart of text_source_kl_divergence) — near-zero JS pairs are
  redundant sources a mixture planner can merge.

Same discipline as waves 7-21: exact integers before any
cross-partition sum, identical aliases, BIGINT casts in oracles,
ln only on identical frozen rationals, 1.0::DOUBLE where sums
multiply (the r13 DECIMAL(38) lesson).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from python_kinesis_streaming_spark.functions.rounding import rnd, sql_rnd
from python_kinesis_streaming_spark.llm.dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
    word_shingles,
)
from python_kinesis_streaming_spark.llm.wave2 import (
    _CONFIRM_SQL,
    _FUNNEL_INJ_SQL,
    _confirmed_pairs,
    _funnel_inject,
    _mh_cand_sql,
)
from python_kinesis_streaming_spark.llm.similarity import vectors
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# token-weighted dedup funnel
# ---------------------------------------------------------------------------


@op(
    "corpus_dedup_token_funnel",
    oracle=f"""
        WITH inj0 AS ({_FUNNEL_INJ_SQL}),
        normed AS (
            SELECT doc_id, text,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
                   md5(text) AS eh,
                   md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g'))
                       AS nh
            FROM inj0
        ),
        canon AS (
            SELECT min(doc_id) AS doc_id, min_by(text, doc_id) AS text,
                   min_by(tok, doc_id) AS tok
            FROM normed GROUP BY nh
        ),
        {_mh_cand_sql("SELECT doc_id, text FROM canon")},
        {_CONFIRM_SQL},
        t0 AS (SELECT CAST(sum(tok) AS BIGINT) AS t FROM normed),
        t1 AS (
            SELECT CAST(sum(tok) AS BIGINT) AS t FROM (
                SELECT min_by(tok, doc_id) AS tok
                FROM normed GROUP BY eh)
        ),
        t2 AS (SELECT CAST(sum(tok) AS BIGINT) AS t FROM canon),
        removed AS (SELECT DISTINCT doc_b AS doc_id FROM conf),
        t3 AS (
            SELECT CAST(sum(tok) AS BIGINT) AS t FROM canon
            WHERE doc_id NOT IN (SELECT doc_id FROM removed)
        )
        SELECT s.stage, s.survivor_tokens, s.removed_tokens,
               {sql_rnd("s.survivor_tokens * 1.0 / s.total_tokens", 4)}
                   AS survivor_share
        FROM (
            SELECT '0_raw' AS stage, t0.t AS survivor_tokens,
                   CAST(0 AS BIGINT) AS removed_tokens,
                   t0.t AS total_tokens FROM t0
            UNION ALL
            SELECT '1_exact', t1.t, CAST(t0.t - t1.t AS BIGINT), t0.t
            FROM t0, t1
            UNION ALL
            SELECT '2_normalized', t2.t, CAST(t1.t - t2.t AS BIGINT),
                   t0.t
            FROM t0, t1, t2
            UNION ALL
            SELECT '3_near', t3.t, CAST(t2.t - t3.t AS BIGINT), t0.t
            FROM t0, t2, t3
        ) s
    """,
    scale=(
        "The corpus_dedup_funnel stages re-weighted by TOKENS — "
        "training budgets are token-denominated, so the doc-count "
        "funnel under-reports the savings when dups skew long (and "
        "the injected dup classes here do). Stage representatives are "
        "deterministic (min_by doc_id per hash group), token counts "
        "are exact BIGINT sums, the share a rational of those sums. "
        "Same proven stage shapes as the doc funnel: 16-byte hash "
        "shuffles for the exact/normalized stages, the banded "
        "self-join + candidate-only Jaccard confirm for the near "
        "stage. 100 TB: identical cost to the doc funnel — the token "
        "column rides along the existing aggregates."
    ),
)
def corpus_dedup_token_funnel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token-weighted survivors/removals per dedup stage."""
    docs = load_table(spark, sf_dir, "documents")
    inj = _funnel_inject(docs)
    normed = inj.select(
        "doc_id",
        "text",
        F.size(F.split("text", " ")).cast("long").alias("tok"),
        F.md5("text").alias("eh"),
        F.md5(
            F.regexp_replace(F.trim(F.lower("text")), " +", " ")
        ).alias("nh"),
    ).cache()
    # normed feeds t0/t1/canon and canon feeds sh/t2/t3 — cache both
    # so the 4-scalar diamond plans each subtree once (the wave-18
    # per_doc precedent; CacheManager dedupes across re-invocations)
    canon = normed.groupBy("nh").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("text", "doc_id").alias("text"),
        F.min_by("tok", "doc_id").alias("tok"),
    ).cache()
    sh = word_shingles(canon.select("doc_id", "text"), n=3)
    pairs = lsh_candidate_pairs(minhash_signatures(sh))
    conf = _confirmed_pairs(pairs, sh)
    removed = conf.select(F.col("doc_b").alias("doc_id")).distinct()
    t0 = normed.agg(F.sum("tok").cast("long").alias("t0"))
    t1 = (
        normed.groupBy("eh")
        .agg(F.min_by("tok", "doc_id").alias("tok"))
        .agg(F.sum("tok").cast("long").alias("t1"))
    )
    t2 = canon.agg(F.sum("tok").cast("long").alias("t2"))
    t3 = canon.join(removed, "doc_id", "left_anti").agg(
        F.sum("tok").cast("long").alias("t3")
    )
    row = (
        t0.crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(t2))
        .crossJoin(F.broadcast(t3))
    )
    stages = F.array(
        F.struct(
            F.lit("0_raw").alias("stage"),
            F.col("t0").alias("survivor_tokens"),
            F.lit(0).cast("long").alias("removed_tokens"),
        ),
        F.struct(
            F.lit("1_exact").alias("stage"),
            F.col("t1").alias("survivor_tokens"),
            (F.col("t0") - F.col("t1")).alias("removed_tokens"),
        ),
        F.struct(
            F.lit("2_normalized").alias("stage"),
            F.col("t2").alias("survivor_tokens"),
            (F.col("t1") - F.col("t2")).alias("removed_tokens"),
        ),
        F.struct(
            F.lit("3_near").alias("stage"),
            F.col("t3").alias("survivor_tokens"),
            (F.col("t2") - F.col("t3")).alias("removed_tokens"),
        ),
    )
    return row.select(
        F.explode(stages).alias("s"), F.col("t0").alias("total")
    ).select(
        F.col("s.stage").alias("stage"),
        F.col("s.survivor_tokens").alias("survivor_tokens"),
        F.col("s.removed_tokens").alias("removed_tokens"),
        rnd(
            F.col("s.survivor_tokens") * F.lit(1.0) / F.col("total"), 4
        ).alias("survivor_share"),
    )


# ---------------------------------------------------------------------------
# cohort retention matrix
# ---------------------------------------------------------------------------


@op(
    "events_retention_cohort_matrix",
    oracle="""
        WITH ed AS (
            SELECT user_id,
                   CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
                        AS BIGINT) AS d,
                   event_type
            FROM events
        ),
        su AS (
            SELECT user_id, CAST(min(d) AS BIGINT) AS d0
            FROM ed WHERE event_type = 'signup' GROUP BY user_id
        ),
        base AS (SELECT CAST(min(d0) AS BIGINT) AS b FROM su),
        coh AS (
            SELECT s.user_id, s.d0,
                   CAST((s.d0 - b.b) // 7 AS BIGINT) AS cohort_week
            FROM su s CROSS JOIN base b
        ),
        sizes AS (
            SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_cohort
            FROM coh GROUP BY cohort_week
        ),
        act AS (
            SELECT DISTINCT c.cohort_week, c.user_id,
                   CAST((e.d - c.d0) // 7 AS BIGINT) AS age_week
            FROM coh c JOIN ed e ON e.user_id = c.user_id
            WHERE e.d >= c.d0
        ),
        cells AS (
            SELECT cohort_week, age_week,
                   CAST(count(*) AS BIGINT) AS n_active
            FROM act GROUP BY cohort_week, age_week
        )
        SELECT c.cohort_week, c.age_week, s.n_cohort, c.n_active,
               floor((c.n_active * 1.0 / s.n_cohort) * 10000.0 + 0.505)
                   / 10000.0 AS retention
        FROM cells c JOIN sizes s ON s.cohort_week = c.cohort_week
    """,
    scale=(
        "The classic cohort retention triangle: users cohorted by "
        "signup week (anchored at the data-derived first signup day "
        "— no fixture literal), a cell = the share of the cohort "
        "active (any event) in age-week k after their own signup. "
        "events_day_n_retention generalized from one horizon to the "
        "full matrix; age 0 is 1.0 by construction (the signup event "
        "itself) — pinned in tests. All counts are exact BIGINTs "
        "over (cohort, user[, age]) distinct sets; integer floor "
        "division buckets both axes. Shape: one user-keyed min agg, "
        "one user-keyed join back to events, one distinct + "
        "(cohort, age) agg. 100 TB: the join is user-keyed and "
        "co-partitions with the cohort table; cells are |weeks|^2 "
        "rows."
    ),
)
def events_retention_cohort_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cohort-week x age-week retention matrix."""
    ev = load_table(spark, sf_dir, "events")
    ed = ev.select(
        "user_id",
        F.expr("unix_micros(ts) div 86400000000").alias("d"),
        "event_type",
    )
    su = (
        ed.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("d").cast("long").alias("d0"))
    )
    base = su.agg(F.min("d0").cast("long").alias("b"))
    coh = su.crossJoin(F.broadcast(base)).select(
        "user_id",
        "d0",
        F.expr("(d0 - b) div 7").cast("long").alias("cohort_week"),
    )
    sizes = coh.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("long").alias("n_cohort")
    )
    act = (
        coh.join(ed, "user_id")
        .where(F.col("d") >= F.col("d0"))
        .select(
            "cohort_week",
            "user_id",
            F.expr("(d - d0) div 7").cast("long").alias("age_week"),
        )
        .distinct()
    )
    cells = act.groupBy("cohort_week", "age_week").agg(
        F.count(F.lit(1)).cast("long").alias("n_active")
    )
    return cells.join(sizes, "cohort_week").select(
        "cohort_week",
        "age_week",
        "n_cohort",
        "n_active",
        rnd(F.col("n_active") * F.lit(1.0) / F.col("n_cohort"), 4)
        .alias("retention"),
    )


# ---------------------------------------------------------------------------
# embedding norm outlier audit (exact median/MAD)
# ---------------------------------------------------------------------------


@op(
    "emb_peak_outlier_audit",
    oracle="""
        WITH e AS (
            SELECT vec_id,
                   CAST(floor(list_max(list_transform(
                        embedding::DOUBLE[], t -> abs(t)))
                        * 1000000.0 + 0.505) AS BIGINT) AS nm
            FROM embeddings
        ),
        r AS (
            SELECT vec_id, nm,
                   CAST(row_number() OVER (ORDER BY nm, vec_id)
                        AS BIGINT) AS rn,
                   CAST(count(*) OVER () AS BIGINT) AS cnt
            FROM e
        ),
        med AS (
            SELECT cnt,
                   CAST(CASE WHEN cnt % 2 = 1 THEN 2 * sum(picked)
                        ELSE sum(picked) END AS BIGINT) AS med2
            FROM (
                SELECT cnt,
                       CASE WHEN rn IN ((cnt + 1) // 2, (cnt + 2) // 2)
                            THEN nm END AS picked
                FROM r
            ) GROUP BY cnt
        ),
        dev AS (
            SELECT e.vec_id, m.cnt, m.med2,
                   abs(2 * e.nm - m.med2) AS dh
            FROM e CROSS JOIN med m
        ),
        dr AS (
            SELECT dh, cnt, med2,
                   CAST(row_number() OVER (ORDER BY dh, vec_id)
                        AS BIGINT) AS rn
            FROM dev
        ),
        mad AS (
            SELECT cnt, med2,
                   CAST(CASE WHEN cnt % 2 = 1 THEN 2 * sum(picked)
                        ELSE sum(picked) END AS BIGINT) AS mad2
            FROM (
                SELECT cnt, med2,
                       CASE WHEN rn IN ((cnt + 1) // 2, (cnt + 2) // 2)
                            THEN dh END AS picked
                FROM dr
            ) GROUP BY cnt, med2
        )
        SELECT CAST(m.cnt AS BIGINT) AS n_vecs,
               CAST(m.med2 / 2000000.0 AS DOUBLE) AS median_peak,
               CAST(m.mad2 / 4000000.0 AS DOUBLE) AS mad_peak,
               CAST(sum(CASE WHEN 20000 * d.dh > 44478 * m.mad2
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
               floor(sum(CASE WHEN 20000 * d.dh > 44478 * m.mad2
                              THEN 1 ELSE 0 END) * 1.0 / m.cnt
                     * 10000.0 + 0.505) / 10000.0 AS outlier_rate,
               CAST(max(d.dh) / 2000000.0 AS DOUBLE) AS max_dev
        FROM dev d CROSS JOIN mad m
        GROUP BY m.cnt, m.med2, m.mad2
    """,
    scale=(
        "Robust peak-coordinate screen (the ts_anomaly_mad discipline "
        "on the vector table): per-vector max|x| frozen to integer "
        "micro (abs/max on an identical fixed-order list fold), exact "
        "DOUBLED-integer median and MAD (even-n midpoints stay "
        "integral), and the outlier flag as the pure-BIGINT "
        "comparison 20000*dh > 44478*mad2 (3 * 1.4826 scaled by 1e4) "
        "— no float enters a branch. The peak is what a per-tensor "
        "int8 quantizer clips on: one outlier vector widens the scale "
        "for everyone (emb_int8_quant_audit measures the resulting "
        "error; THIS op finds the culprits first). The L2-norm "
        "variant of the same screen is degenerate on this fixture "
        "(unit-normalized: median 1, MAD 0) — the peak is the "
        "informative robust statistic. Shape: one map pass, then the "
        "value-grouped prefix-sum median (rank windows only over the "
        "value AGGREGATE — the repo's bounded-window rule); a 100 TB "
        "deployment merges per-shard value histograms identically."
    ),
)
def emb_peak_outlier_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact median/MAD peak-coordinate screen with a BIGINT flag."""
    emb = vectors(spark, sf_dir)
    peak = F.array_max(F.transform(F.col("v"), lambda t: F.abs(t)))
    e = emb.select(
        "vec_id",
        F.floor(peak * F.lit(1000000.0) + F.lit(0.505))
        .cast("long")
        .alias("nm"),
    )
    tot = e.agg(F.count(F.lit(1)).cast("long").alias("cnt"))

    def med2_of(d: DataFrame, col: str, out: str) -> DataFrame:
        # exact doubled median via the value-grouped prefix-sum
        # pattern: the rank window runs over the VALUE AGGREGATE
        # (bounded input per the repo's global-window rule), and the
        # middle ranks are located by cumulative counts — identical
        # med2 to a row-rank formulation for any tie order.
        g = d.groupBy(col).agg(
            F.count(F.lit(1)).cast("long").alias("k")
        )
        w = Window.orderBy(col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        c = g.select(
            col, "k", F.sum("k").over(w).cast("long").alias("cum")
        ).crossJoin(F.broadcast(tot))
        r1 = F.expr("(cnt + 1) div 2")
        r2 = F.expr("(cnt + 2) div 2")
        pick = F.when(
            (F.col("cum") >= r1) & (F.col("cum") - F.col("k") < r1),
            F.col(col),
        ).otherwise(F.lit(0)) + F.when(
            (F.col("cum") >= r2) & (F.col("cum") - F.col("k") < r2),
            F.col(col),
        ).otherwise(F.lit(0))
        return (
            c.select("cnt", pick.alias("pick"))
            .groupBy("cnt")
            .agg(F.sum("pick").cast("long").alias(out))
        )

    med = med2_of(e, "nm", "med2").select("med2")
    dev = e.crossJoin(F.broadcast(med)).select(
        "vec_id",
        "med2",
        F.abs(2 * F.col("nm") - F.col("med2")).alias("dh"),
    )
    mad = (
        med2_of(dev, "dh", "mad2")
        .crossJoin(F.broadcast(med))
        .select("cnt", "med2", "mad2")
    )
    return (
        dev.select("dh")
        .crossJoin(F.broadcast(mad))
        .groupBy("cnt", "med2", "mad2")
        .agg(
            F.sum(
                F.when(
                    20000 * F.col("dh") > 44478 * F.col("mad2"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
            rnd(
                F.sum(
                    F.when(
                        20000 * F.col("dh") > 44478 * F.col("mad2"), 1
                    ).otherwise(0)
                )
                * F.lit(1.0)
                / F.col("cnt"),
                4,
            ).alias("outlier_rate"),
            (F.max("dh") / F.lit(2000000.0)).alias("max_dev"),
        )
        .select(
            F.col("cnt").cast("long").alias("n_vecs"),
            (F.col("med2") / F.lit(2000000.0)).alias("median_peak"),
            (F.col("mad2") / F.lit(4000000.0)).alias("mad_peak"),
            "n_outliers",
            "outlier_rate",
            "max_dev",
        )
    )


# ---------------------------------------------------------------------------
# LSH bucket-size histogram
# ---------------------------------------------------------------------------


@op(
    "dedup_bucket_size_histogram",
    oracle=f"""
        WITH {_mh_cand_sql("SELECT doc_id, text FROM documents")},
        bsz AS (
            SELECT band, bkey, CAST(count(*) AS BIGINT) AS s
            FROM banded GROUP BY band, bkey
        ),
        cls AS (
            SELECT CASE WHEN s < 2 THEN 0 WHEN s < 4 THEN 1
                        WHEN s < 8 THEN 2 WHEN s < 16 THEN 3
                        WHEN s < 32 THEN 4 WHEN s < 64 THEN 5
                        WHEN s < 128 THEN 6 ELSE 7 END AS log2_class,
                   s
            FROM bsz
        ),
        agg AS (
            SELECT CAST(log2_class AS BIGINT) AS log2_class,
                   CAST(count(*) AS BIGINT) AS n_buckets,
                   CAST(sum(s) AS BIGINT) AS n_rows,
                   CAST(sum(s * (s - 1) // 2) AS BIGINT) AS n_pairs
            FROM cls GROUP BY log2_class
        ),
        tot AS (
            SELECT CAST(sum(n_pairs) AS BIGINT) AS total_pairs,
                   CAST(max(n_rows) AS BIGINT) AS _mx
            FROM agg
        ),
        mx AS (SELECT CAST(max(s) AS BIGINT) AS max_bucket FROM cls)
        SELECT a.log2_class, a.n_buckets, a.n_rows, a.n_pairs,
               CASE WHEN t.total_pairs = 0 THEN 0.0 ELSE {sql_rnd(
                   "a.n_pairs * 1.0 / t.total_pairs", 4
               )} END AS pair_share,
               t.total_pairs, m.max_bucket
        FROM agg a CROSS JOIN tot t CROSS JOIN mx m
    """,
    scale=(
        "LSH skew planning: the (band, bkey) bucket-size distribution "
        "in log2 classes, each class's implied candidate-pair count "
        "s*(s-1)/2 (the EXACT cost of the banded self-join), the "
        "total, and the max bucket. At 100 TB the top class IS the "
        "runtime: a single 10^6-row bucket implies 5*10^11 candidate "
        "pairs — this histogram is what decides between more bands/"
        "rows, bucket-size caps, or AQE skew-split BEFORE the join "
        "runs (the dedup_lsh_tuning companion, cost-side instead of "
        "recall-side). Same signature/banding constants as "
        "dedup_near_minhash, so the histogram describes the real "
        "pipeline. Shape: signatures (per-doc min aggs), a (band, "
        "bkey) count, an 8-key class agg — no pair is materialized."
    ),
)
def dedup_bucket_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Log2 histogram of LSH bucket sizes + implied pair costs."""
    from python_kinesis_streaming_spark.llm.dedup import (
        LSH_BANDS,
        LSH_ROWS,
        md5_hash64,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = word_shingles(docs, n=3)
    sigs = minhash_signatures(sh)
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        md5_hash64(
                            F.concat_ws(
                                ":",
                                *[
                                    F.col("sig")[b * LSH_ROWS + r]
                                    for r in range(LSH_ROWS)
                                ],
                            )
                        ).alias("bkey"),
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bkey")
    bsz = banded.groupBy("band", "bkey").agg(
        F.count(F.lit(1)).cast("long").alias("s")
    )
    cls = bsz.select(
        F.when(F.col("s") < 2, 0)
        .when(F.col("s") < 4, 1)
        .when(F.col("s") < 8, 2)
        .when(F.col("s") < 16, 3)
        .when(F.col("s") < 32, 4)
        .when(F.col("s") < 64, 5)
        .when(F.col("s") < 128, 6)
        .otherwise(7)
        .cast("long")
        .alias("log2_class"),
        "s",
    )
    agg = cls.groupBy("log2_class").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("s").cast("long").alias("n_rows"),
        F.sum(F.expr("s * (s - 1) div 2")).cast("long").alias("n_pairs"),
    )
    tot = agg.agg(F.sum("n_pairs").cast("long").alias("total_pairs"))
    mx = cls.agg(F.max("s").cast("long").alias("max_bucket"))
    return (
        agg.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(mx))
        .select(
            "log2_class",
            "n_buckets",
            "n_rows",
            "n_pairs",
            F.when(F.col("total_pairs") == 0, F.lit(0.0))
            .otherwise(
                rnd(
                    F.col("n_pairs") * F.lit(1.0)
                    / F.col("total_pairs"),
                    4,
                )
            )
            .alias("pair_share"),
            "total_pairs",
            "max_bucket",
        )
    )


# ---------------------------------------------------------------------------
# pairwise Jensen-Shannon divergence between sources
# ---------------------------------------------------------------------------


@op(
    "text_js_divergence_sources",
    oracle=f"""
        WITH tok AS (
            SELECT source, unnest(string_split(text, ' ')) AS w
            FROM documents
        ),
        wc AS (
            SELECT source, w, CAST(count(*) AS BIGINT) AS c
            FROM tok GROUP BY source, w
        ),
        n AS (
            SELECT source, CAST(sum(c) AS BIGINT) AS n
            FROM wc GROUP BY source
        ),
        pairs AS (
            SELECT a.source AS src_a, b.source AS src_b
            FROM n a JOIN n b ON a.source < b.source
        ),
        terms AS (
            -- JS = [sum_w p*ln(2p/(p+q)) + q*ln(2q/(p+q))] / 2 with
            -- p = ca/na, q = cb/nb; the log argument is the integer
            -- rational 2*ca*nb / (ca*nb + cb*na) — frozen to micro
            -- AFTER ln on identical doubles (Adamic-Adar precedent)
            SELECT p.src_a, p.src_b,
                   CAST(sum(
                       CASE WHEN COALESCE(ca.c, 0) > 0 THEN
                           CAST(floor((ca.c * 1.0 / na.n)
                               * ln(2.0::DOUBLE * ca.c * nb.n * 1.0
                                    / (ca.c * nb.n + COALESCE(cb.c, 0)
                                       * na.n))
                               * 1000000.0 + 0.505) AS BIGINT)
                       ELSE 0 END
                     + CASE WHEN COALESCE(cb.c, 0) > 0 THEN
                           CAST(floor((cb.c * 1.0 / nb.n)
                               * ln(2.0::DOUBLE * cb.c * na.n * 1.0
                                    / (COALESCE(ca.c, 0) * nb.n
                                       + cb.c * na.n))
                               * 1000000.0 + 0.505) AS BIGINT)
                       ELSE 0 END
                   ) AS BIGINT) AS js2_micro
            FROM pairs p
            JOIN (SELECT DISTINCT w FROM wc) v ON true
            LEFT JOIN wc ca ON ca.source = p.src_a AND ca.w = v.w
            LEFT JOIN wc cb ON cb.source = p.src_b AND cb.w = v.w
            JOIN n na ON na.source = p.src_a
            JOIN n nb ON nb.source = p.src_b
            WHERE COALESCE(ca.c, 0) > 0 OR COALESCE(cb.c, 0) > 0
            GROUP BY p.src_a, p.src_b
        )
        SELECT src_a, src_b,
               {sql_rnd("js2_micro / 2000000.0", 6)} AS js_divergence
        FROM terms
        ORDER BY js2_micro, src_a, src_b
        LIMIT 20
    """,
    scale=(
        "Pairwise source redundancy: Jensen-Shannon divergence "
        "between every two sources' unigram distributions, lowest-20 "
        "(most redundant) pairs — JS is symmetric and bounded by "
        "ln 2, the planner-friendly counterpart of text_source_kl_"
        "divergence's source-vs-corpus view; near-zero pairs can be "
        "merged by corpus_mixture_temperature without changing the "
        "mixture. Every ln argument is an integer rational "
        "(2*ca*nb/(ca*nb+cb*na)); terms freeze to micro before the "
        "per-pair BIGINT sum; the ORDER BY is on the frozen integer "
        "with a total tie-break. Shape: a vocab-keyed count, a "
        "|sources|^2/2-pair x vocab join (all vocab-bounded — "
        "broadcast scale), TakeOrdered 20. 100 TB: vocab tables are "
        "the corpus sufficient statistic; nothing rescans documents."
    ),
)
def text_js_divergence_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lowest-20 JS-divergence source pairs (unigram distributions)."""
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(
            "source", F.explode(F.split("text", " ")).alias("w")
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    n = wc.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    a, b = n.alias("a"), n.alias("b")
    pairs = a.join(
        b, F.col("a.source") < F.col("b.source")
    ).select(
        F.col("a.source").alias("src_a"),
        F.col("b.source").alias("src_b"),
        F.col("a.n").alias("na"),
        F.col("b.n").alias("nb"),
    )
    v = wc.select("w").distinct()
    ca = wc.select(
        F.col("source").alias("sa"),
        F.col("w").alias("wa"),
        F.col("c").alias("cca"),
    )
    cb = wc.select(
        F.col("source").alias("sb"),
        F.col("w").alias("wb"),
        F.col("c").alias("ccb"),
    )
    grid = pairs.crossJoin(F.broadcast(v))
    j = (
        grid.join(
            F.broadcast(ca),
            (F.col("sa") == F.col("src_a")) & (F.col("wa") == F.col("w")),
            "left",
        )
        .join(
            F.broadcast(cb),
            (F.col("sb") == F.col("src_b")) & (F.col("wb") == F.col("w")),
            "left",
        )
        .where(
            (F.coalesce(F.col("cca"), F.lit(0)) > 0)
            | (F.coalesce(F.col("ccb"), F.lit(0)) > 0)
        )
    )
    term_a = F.when(
        F.coalesce(F.col("cca"), F.lit(0)) > 0,
        F.floor(
            (F.col("cca") * F.lit(1.0) / F.col("na"))
            * F.log(
                F.lit(2.0)
                * F.col("cca")
                * F.col("nb")
                * F.lit(1.0)
                / (
                    F.col("cca") * F.col("nb")
                    + F.coalesce(F.col("ccb"), F.lit(0)) * F.col("na")
                )
            )
            * F.lit(1000000.0)
            + F.lit(0.505)
        ).cast("long"),
    ).otherwise(F.lit(0))
    term_b = F.when(
        F.coalesce(F.col("ccb"), F.lit(0)) > 0,
        F.floor(
            (F.col("ccb") * F.lit(1.0) / F.col("nb"))
            * F.log(
                F.lit(2.0)
                * F.col("ccb")
                * F.col("na")
                * F.lit(1.0)
                / (
                    F.coalesce(F.col("cca"), F.lit(0)) * F.col("nb")
                    + F.col("ccb") * F.col("na")
                )
            )
            * F.lit(1000000.0)
            + F.lit(0.505)
        ).cast("long"),
    ).otherwise(F.lit(0))
    terms = j.groupBy("src_a", "src_b").agg(
        F.sum(term_a + term_b).cast("long").alias("js2_micro")
    )
    return (
        terms.orderBy("js2_micro", "src_a", "src_b")
        .limit(20)
        .select(
            "src_a",
            "src_b",
            rnd(F.col("js2_micro") / F.lit(2000000.0), 6).alias(
                "js_divergence"
            ),
        )
    )

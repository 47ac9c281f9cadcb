"""Wave-15 pipeline ops (round 12, ninth batch) — CUPED variance
reduction, Horvitz-Thompson estimation, PQ-ADC retrieval and span-mask
planning.

Four capabilities extending the experimentation/estimation/ANN/
training-prep story:

- ``events_cuped_adjustment``: CUPED (Deng et al. 2013) — the
  pre-period covariate adjustment every experimentation platform
  applies before reading an A/B metric; theta and both variances are
  closed forms of exact integer sums.
- ``sample_ht_estimator_audit``: Horvitz-Thompson estimation from the
  deterministic hash-rank sample at k in {50, 100, 200} — the
  estimator that turns sample_reservoir_hash's sample into unbiased
  corpus totals, with measured relative error per k.
- ``sim_pq_adc_recall``: product-quantization ASYMMETRIC distance
  computation (Jégou et al. 2011) — the query path for sim_pq_assign's
  codes: a 64-entry query-to-codeword LUT replaces full-vector
  arithmetic; recall@10 vs the exact ranking quantifies the
  compression trade.
- ``corpus_span_mask_plan``: T5-style span-corruption planning — one
  deterministic 3-token span per 20-token block (exactly 15% mask,
  mean span 3) placed by the md5 hash of (doc, block); per-doc and
  corpus accounting of the realized plan.

Same discipline as waves 7-14: exact integers before any
cross-partition sum, identical aliases, BIGINT casts in oracles,
literal grids shared verbatim between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from python_kinesis_streaming_spark.functions.rounding import cents, rnd, sql_rnd
from python_kinesis_streaming_spark.functions.vectors import sq_l2
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# CUPED variance reduction
# ---------------------------------------------------------------------------


@op(
    "events_cuped_adjustment",
    oracle=f"""
        WITH u AS (
            SELECT user_id,
                   CAST(sum(CASE WHEN CAST(ts AS TIMESTAMP)
                                      < TIMESTAMP '2024-01-16'
                            THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS x,
                   CAST(sum(CASE WHEN CAST(ts AS TIMESTAMP)
                                      >= TIMESTAMP '2024-01-16'
                            THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS y
            FROM events GROUP BY user_id
        ),
        s AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(sum(x * x) AS BIGINT) AS sxx,
                   CAST(sum(y * y) AS BIGINT) AS syy
            FROM u
        )
        SELECT n,
               {sql_rnd(
                   "(sxy * 1.0 / n - (sx * 1.0 / n) * (sy * 1.0 / n))"
                   " / (sxx * 1.0 / n - (sx * 1.0 / n) * (sx * 1.0 / n))",
                   6
               )} AS theta,
               {sql_rnd(
                   "(syy * 1.0 / n - (sy * 1.0 / n) * (sy * 1.0 / n))"
                   " / 10000.0", 2
               )} AS var_post,
               {sql_rnd(
                   "((syy * 1.0 / n - (sy * 1.0 / n) * (sy * 1.0 / n))"
                   " - (sxy * 1.0 / n - (sx * 1.0 / n) * (sy * 1.0 / n))"
                   "   * (sxy * 1.0 / n - (sx * 1.0 / n) * (sy * 1.0 / n))"
                   "   / (sxx * 1.0 / n - (sx * 1.0 / n) * (sx * 1.0 / n)))"
                   " / 10000.0", 2
               )} AS var_adjusted,
               {sql_rnd(
                   "((sxy * 1.0 / n - (sx * 1.0 / n) * (sy * 1.0 / n))"
                   " * (sxy * 1.0 / n - (sx * 1.0 / n) * (sy * 1.0 / n)))"
                   " / ((sxx * 1.0 / n - (sx * 1.0 / n) * (sx * 1.0 / n))"
                   "    * (syy * 1.0 / n - (sy * 1.0 / n) * (sy * 1.0 / n)))",
                   4
               )} AS variance_reduction
        FROM s
    """,
    scale=(
        "CUPED (Deng et al. 2013): regress the post-period metric on "
        "the pre-period covariate, theta = cov(x,y)/var(x); the "
        "adjusted metric's variance drops by exactly rho^2 = "
        "cov^2/(var_x*var_y) — the fraction this op reports. Every "
        "moment is a closed form of six exact BIGINT sums (values in "
        "integer cents; the cross products stay inside int64 at "
        "fixture scales and the scale note's remedy beyond that is "
        "Welford-style partial moments), so theta and both variances "
        "are bit-identical at any partitioning — the per-row adjusted "
        "series never needs to materialize. 100 TB: one user-keyed "
        "agg + one 1-row moment agg; the same sums power any number "
        "of covariates via the normal equations."
    ),
)
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED theta + variance-reduction report (pre = Jan 1-15,
    post = Jan 16-30, per-user value cents)."""
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, cents()).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("ts") >= cut, cents()).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    s = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    mx = F.col("sx") * F.lit(1.0) / F.col("n")
    my = F.col("sy") * F.lit(1.0) / F.col("n")
    cov = F.col("sxy") * F.lit(1.0) / F.col("n") - mx * my
    vx = F.col("sxx") * F.lit(1.0) / F.col("n") - mx * mx
    vy = F.col("syy") * F.lit(1.0) / F.col("n") - my * my
    return s.select(
        "n",
        rnd(cov / vx, 6).alias("theta"),
        rnd(vy / F.lit(10000.0), 2).alias("var_post"),
        rnd((vy - cov * cov / vx) / F.lit(10000.0), 2).alias(
            "var_adjusted"
        ),
        rnd((cov * cov) / (vx * vy), 4).alias("variance_reduction"),
    )


# ---------------------------------------------------------------------------
# Horvitz-Thompson estimation from the hash-rank sample
# ---------------------------------------------------------------------------

_HT_KS = (50, 100, 200)


@op(
    "sample_ht_estimator_audit",
    oracle=f"""
        WITH dt AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                   md5(CAST(doc_id AS VARCHAR)) AS h
            FROM documents
        ),
        ranked AS (
            SELECT doc_id, n_tok,
                   CAST(row_number() OVER (ORDER BY h, doc_id)
                        AS BIGINT) AS rk
            FROM dt
        ),
        tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS exact_total
            FROM dt
        ),
        grid(k) AS (VALUES {", ".join(f"({k})" for k in _HT_KS)}),
        samp AS (
            SELECT g.k,
                   CAST(sum(r.n_tok) AS BIGINT) AS sample_tokens,
                   CAST(count(*) AS BIGINT) AS n_sampled
            FROM grid g JOIN ranked r ON r.rk <= g.k
            GROUP BY g.k
        )
        SELECT CAST(s.k AS BIGINT) AS k, t.n_docs, t.exact_total,
               s.n_sampled,
               {sql_rnd(
                   "s.sample_tokens * (t.n_docs * 1.0 / s.n_sampled)", 2
               )} AS ht_estimate,
               {sql_rnd(
                   "abs(s.sample_tokens"
                   " * (t.n_docs * 1.0 / s.n_sampled)"
                   " - t.exact_total) / t.exact_total", 4
               )} AS rel_err
        FROM samp s CROSS JOIN tot t
    """,
    scale=(
        "Horvitz-Thompson estimation over the deterministic hash-rank "
        "sample: with uniform inclusion probability pi = k/N, the HT "
        "total is (N/k) * sum over the sample — the estimator that "
        "turns sample_reservoir_hash's mergeable sample into unbiased "
        "corpus totals without a full scan. The k-grid {ks} shows the "
        "1/sqrt(k) error contraction on this corpus (measured "
        "rel_err, not asserted). Everything is exact integers until "
        "the final division; the sample join is rank <= k against "
        "the 3-row literal grid. 100 TB: the sample IS the scan "
        "saving — token-total estimates for budget planning cost "
        "k rows instead of the corpus; the same pi bookkeeping "
        "generalizes to stratified and PPS designs."
    ).format(ks=_HT_KS),
)
def sample_ht_estimator_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HT corpus-token-total estimates from hash-rank samples at
    k = 50/100/200, with measured relative error."""
    docs = load_table(spark, sf_dir, "documents")
    dt = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    # top-200 via TakeOrderedAndProject first (no global window on the
    # fact table), THEN rank inside the bounded 200-row winner set
    winners = dt.orderBy("h", "doc_id").limit(max(_HT_KS))
    ranked = winners.select(
        "doc_id",
        "n_tok",
        F.row_number().over(Window.orderBy("h", "doc_id"))
        .cast("long")
        .alias("rk"),
    )
    tot = dt.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("exact_total"),
    )
    grid = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in _HT_KS])).alias("k")
    )
    samp = (
        grid.join(ranked, ranked.rk <= grid.k)
        .groupBy("k")
        .agg(
            F.sum("n_tok").cast("long").alias("sample_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_sampled"),
        )
    )
    est = F.col("sample_tokens") * (
        F.col("n_docs") * F.lit(1.0) / F.col("n_sampled")
    )
    return samp.crossJoin(F.broadcast(tot)).select(
        F.col("k").cast("long").alias("k"),
        "n_docs",
        "exact_total",
        "n_sampled",
        rnd(est, 2).alias("ht_estimate"),
        rnd(
            F.abs(est - F.col("exact_total")) / F.col("exact_total"), 4
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# PQ asymmetric distance computation (ADC) recall
# ---------------------------------------------------------------------------


@op(
    "sim_pq_adc_recall",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
            FROM embeddings
        ),
        sub AS (
            SELECT vec_id, s.s AS s,
                   emb[CAST(s.s*8+1 AS BIGINT) : CAST(s.s*8+8 AS BIGINT)]
                       AS v
            FROM e, unnest(range(8)) AS s(s)
        ),
        cw AS (
            SELECT vec_id AS code, s, v AS c FROM sub WHERE vec_id < 8
        ),
        d AS (
            SELECT sub.vec_id, sub.s, cw.code,
                   CAST(floor(list_aggregate(
                       list_transform(range(1, 9),
                           i -> (sub.v[i]-cw.c[i])*(sub.v[i]-cw.c[i])),
                       'sum') * 10000 + 0.505) AS BIGINT) AS idist
            FROM sub JOIN cw USING (s)
        ),
        codes AS (
            SELECT vec_id, s, code FROM (
                SELECT vec_id, s, code,
                       row_number() OVER (PARTITION BY vec_id, s
                                          ORDER BY idist, code) AS rk
                FROM d
            ) WHERE rk = 1
        ),
        q AS (SELECT s, v AS qv FROM sub WHERE vec_id = 0),
        lut AS (
            SELECT q.s, cw.code,
                   CAST(floor(list_aggregate(
                       list_transform(range(1, 9),
                           i -> (q.qv[i]-cw.c[i])*(q.qv[i]-cw.c[i])),
                       'sum') * 1000000.0 + 0.505) AS BIGINT) AS ld
            FROM q JOIN cw USING (s)
        ),
        adc AS (
            SELECT c.vec_id, CAST(sum(l.ld) AS BIGINT) AS adc_micro
            FROM codes c JOIN lut l ON l.s = c.s AND l.code = c.code
            WHERE c.vec_id <> 0
            GROUP BY c.vec_id
        ),
        atop AS (
            SELECT vec_id FROM (
                SELECT vec_id, row_number() OVER (
                    ORDER BY adc_micro, vec_id) AS rk FROM adc
            ) WHERE rk <= 10
        ),
        ex AS (
            SELECT x.vec_id,
                   CAST(floor(list_aggregate(
                       list_transform(range(1, 65),
                           i -> (x.emb[i]-qq.emb[i])*(x.emb[i]-qq.emb[i])),
                       'sum') * 1000000.0 + 0.505) AS BIGINT) AS d_micro
            FROM e x CROSS JOIN (SELECT emb FROM e WHERE vec_id = 0) qq
            WHERE x.vec_id <> 0
        ),
        etop AS (
            SELECT vec_id, rk FROM (
                SELECT vec_id, row_number() OVER (
                    ORDER BY d_micro, vec_id) AS rk FROM ex
            ) WHERE rk <= 10
        )
        SELECT et.rk AS exact_rank, et.vec_id,
               CAST(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END
                    AS BIGINT) AS in_adc_top10,
               (SELECT {sql_rnd("sum(CASE WHEN a2.vec_id IS NOT NULL "
                                "THEN 1 ELSE 0 END) / 10.0", 4)}
                FROM etop et2 LEFT JOIN atop a2
                  ON a2.vec_id = et2.vec_id) AS recall_at_10
        FROM etop et LEFT JOIN atop a ON a.vec_id = et.vec_id
    """,
    scale=(
        "PQ asymmetric distance computation (Jegou et al. 2011) — the "
        "QUERY path for sim_pq_assign's codes: the query builds one "
        "64-entry LUT (8 subspaces x 8 codewords, exact squared "
        "distances frozen to integer micro), and every database "
        "vector's approximate distance is just 8 LUT adds on its "
        "codes — no full-vector arithmetic at query time. Recall@10 "
        "of the ADC ranking vs the exact ranking is the compression "
        "trade quantified (8 bytes/vector vs 256). Both engines "
        "derive identical codes (the integer-ordinal argmin), "
        "identical LUTs and identical BIGINT ADC sums. 100 TB: codes "
        "are 32x smaller than vectors — the scan becomes "
        "memory-bandwidth-bound LUT adds; the exact leg here exists "
        "only to grade recall at test scale."
    ),
)
def sim_pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 flagged by ADC-top-10 membership + recall@10."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    sub = emb.select(
        "vec_id",
        F.explode(
            F.expr(
                "transform(sequence(0, 7), "
                "s -> struct(s AS s, slice(emb, s*8+1, 8) AS v))"
            )
        ).alias("e"),
    ).select("vec_id", F.col("e.s").alias("s"), F.col("e.v").alias("v"))
    cw = sub.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("code"), "s", F.col("v").alias("c")
    )
    sqd = sq_l2("v", "c")
    d = sub.join(F.broadcast(cw), "s").select(
        "vec_id",
        "s",
        "code",
        F.floor(sqd * F.lit(10000) + F.lit(0.505)).cast("long").alias(
            "idist"
        ),
    )
    codes = (
        d.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("vec_id", "s").orderBy("idist", "code")
            ),
        )
        .where(F.col("rk") == 1)
        .select("vec_id", "s", "code")
    )
    q = sub.where(F.col("vec_id") == 0).select(
        "s", F.col("v").alias("qv")
    )
    lutd = sq_l2("qv", "c")
    lut = q.join(cw, "s").select(
        "s",
        "code",
        F.floor(lutd * F.lit(1000000.0) + F.lit(0.505))
        .cast("long")
        .alias("ld"),
    )
    adc = (
        codes.where(F.col("vec_id") != 0)
        .join(F.broadcast(lut), ["s", "code"])
        .groupBy("vec_id")
        .agg(F.sum("ld").cast("long").alias("adc_micro"))
    )
    atop = (
        adc.withColumn(
            "rk",
            F.row_number().over(Window.orderBy("adc_micro", "vec_id")),
        )
        .where(F.col("rk") <= 10)
        .select("vec_id")
        .withColumn("in_adc", F.lit(1))
    )
    qq = emb.where(F.col("vec_id") == 0).select(
        F.col("emb").alias("qemb")
    )
    exd = sq_l2("emb", "qemb")
    ex = emb.where(F.col("vec_id") != 0).crossJoin(F.broadcast(qq)).select(
        "vec_id",
        F.floor(exd * F.lit(1000000.0) + F.lit(0.505))
        .cast("long")
        .alias("d_micro"),
    )
    etop = (
        ex.withColumn(
            "rk", F.row_number().over(Window.orderBy("d_micro", "vec_id"))
        )
        .where(F.col("rk") <= 10)
        .select(F.col("rk").alias("exact_rank"), "vec_id")
    )
    joined = etop.join(atop, "vec_id", "left").select(
        "exact_rank",
        "vec_id",
        F.coalesce(F.col("in_adc"), F.lit(0)).cast("long").alias(
            "in_adc_top10"
        ),
    )
    recall = joined.agg(
        rnd(F.sum("in_adc_top10") / F.lit(10.0), 4).alias("recall_at_10")
    )
    return joined.crossJoin(F.broadcast(recall)).select(
        F.col("exact_rank").cast("long").alias("exact_rank"),
        "vec_id",
        "in_adc_top10",
        "recall_at_10",
    )


# ---------------------------------------------------------------------------
# T5-style span-corruption masking plan
# ---------------------------------------------------------------------------

_MASK_BLOCK = 20
_MASK_SPAN = 3


@op(
    "corpus_span_mask_plan",
    oracle=f"""
        WITH dt AS (
            SELECT doc_id, source,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
            FROM documents
        ),
        blocks AS (
            SELECT doc_id, source, n_tok,
                   CAST(floor(n_tok / {_MASK_BLOCK}.0) AS BIGINT)
                       AS n_blocks
            FROM dt
        ),
        spans AS (
            SELECT b.doc_id, b.source, b.n_tok, b.n_blocks,
                   u.i AS block_id,
                   CAST(u.i * {_MASK_BLOCK}
                        + CAST(('0x' || substring(md5(
                              CAST(b.doc_id AS VARCHAR) || ':'
                              || CAST(u.i AS VARCHAR)), 1, 15))
                              AS BIGINT)
                          % {_MASK_BLOCK - _MASK_SPAN + 1}
                        AS BIGINT) AS span_start
            FROM blocks b, unnest(range(0, 1000)) AS u(i)
            WHERE u.i < b.n_blocks
        ),
        per_doc AS (
            SELECT doc_id, source, n_tok, n_blocks,
                   CAST(count(*) AS BIGINT) AS n_spans,
                   CAST(count(*) * {_MASK_SPAN} AS BIGINT) AS n_masked,
                   CAST(min(span_start) AS BIGINT) AS first_start
            FROM spans
            GROUP BY doc_id, source, n_tok, n_blocks
        )
        SELECT doc_id, source, n_tok, n_blocks, n_spans, n_masked,
               first_start,
               {sql_rnd("n_masked * 1.0 / n_tok", 4)} AS mask_ratio
        FROM per_doc WHERE doc_id % 17 = 0
    """,
    scale=(
        "T5-style span-corruption planning (Raffel et al. 2020: 15% "
        "mask, mean span 3): one {span}-token span per {block}-token "
        "block, placed at offset md5(doc:block) mod "
        "{offmod} — exactly {span}/{block} = 15% of complete blocks "
        "masked, spans non-overlapping BY CONSTRUCTION (no sequential "
        "rejection pass, which is what makes the classic sampler "
        "undistributable), and the plan is a pure function of "
        "(doc_id, block) — retries, backfills and multi-epoch reruns "
        "regenerate the identical mask. The op emits the 1-in-17 "
        "audit sample of per-doc plans. 100 TB: map-only — the mask "
        "plan never materializes globally; each worker derives its "
        "own spans from the hash."
    ).format(span=_MASK_SPAN, block=_MASK_BLOCK,
             offmod=_MASK_BLOCK - _MASK_SPAN + 1),
)
def corpus_span_mask_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic span-corruption plan accounting (1-in-17 docs)."""
    docs = load_table(spark, sf_dir, "documents")
    dt = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    blocks = dt.withColumn(
        "n_blocks",
        F.floor(F.col("n_tok") / F.lit(float(_MASK_BLOCK))).cast("long"),
    )
    offmod = _MASK_BLOCK - _MASK_SPAN + 1
    spans = blocks.select(
        "doc_id",
        "source",
        "n_tok",
        "n_blocks",
        F.explode(
            F.sequence(F.lit(0), F.col("n_blocks").cast("int") - 1)
        ).alias("block_id"),
    ).where(F.col("n_blocks") > 0).select(
        "doc_id",
        "source",
        "n_tok",
        "n_blocks",
        "block_id",
        (
            F.col("block_id") * _MASK_BLOCK
            + F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("doc_id").cast("string"),
                            F.col("block_id").cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % offmod
        )
        .cast("long")
        .alias("span_start"),
    )
    per_doc = spans.groupBy("doc_id", "source", "n_tok", "n_blocks").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        (F.count(F.lit(1)) * _MASK_SPAN).cast("long").alias("n_masked"),
        F.min("span_start").cast("long").alias("first_start"),
    )
    return per_doc.where(F.col("doc_id") % 17 == 0).select(
        "doc_id",
        "source",
        "n_tok",
        "n_blocks",
        "n_spans",
        "n_masked",
        "first_start",
        rnd(F.col("n_masked") * F.lit(1.0) / F.col("n_tok"), 4).alias(
            "mask_ratio"
        ),
    )

"""Round-13 wave-20 ops (SURVEY §2.32): whitening, packing waste,
binarized retrieval, metric robustness.

- ``emb_whitening_audit``: does per-dimension standardization (the
  "all-but-the-top" preprocessing) actually fix the space? Re-measures
  emb_isotropy_audit's anisotropy + top-16 variance share AFTER
  whitening, one row, before/after side by side.
- ``corpus_padding_waste_curve``: padding waste per (source, L) when
  packing whole documents into L-token sequences — the dual of
  corpus_truncation_loss_curve (truncation loses signal, padding
  loses compute).
- ``emb_sign_binarize_recall``: 64-bit sign binarization (1-bit
  SimHash) recall@10 vs exact cosine per sampled query — the extreme
  end of the quantization family (int8 audit, PQ-ADC, b-bit minhash),
  Hamming via two-half BIGINT xor+bit_count.
- ``events_winsorize_sensitivity``: A/B lift sensitivity to
  winsorization at literal caps — the metric-robustness check run
  before trusting any mean-based experiment read-out.

Same discipline as waves 7-19: exact integers before any
cross-partition sum, identical aliases, BIGINT casts in oracles,
literal grids, bounded windows and broadcast-sample joins only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from python_kinesis_streaming_spark.functions.rounding import cents, rnd, sql_rnd
from python_kinesis_streaming_spark.llm.similarity import vectors
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# whitening before/after isotropy audit
# ---------------------------------------------------------------------------


@op(
    "emb_whitening_audit",
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
        mom AS (
            -- order-free BIGINT moments per dim (the ADVICE r13 fix:
            -- no cross-partition double aggregation anywhere)
            SELECT j,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(xm) AS BIGINT) AS sx,
                   CAST(sum(xm * xm) AS BIGINT) AS sxx
            FROM x GROUP BY j
        ),
        der AS (
            -- z = (x - c)/s is affine per dim, so every AFTER stat is
            -- analytic: avg(z) = (mean - c)/s, var_pop(z) = var/s^2,
            -- E[z^2] = vz + cz^2. Double arithmetic in identical
            -- operand order both engines; 1.0::DOUBLE load-bearing
            SELECT j, n,
                   {sql_rnd("sx / (1000000.0::DOUBLE * n)", 6)} AS c,
                   {sql_rnd(
                       "(n * 1.0::DOUBLE * sxx - sx * 1.0::DOUBLE * sx)"
                       " / (n * 1.0::DOUBLE * n * 1000000000000.0)", 6
                   )} AS variance,
                   sx / (1000000.0::DOUBLE * n) AS mean_raw,
                   (n * 1.0::DOUBLE * sxx - sx * 1.0::DOUBLE * sx)
                       / (n * 1.0::DOUBLE * n * 1000000000000.0)
                       AS var_raw,
                   sxx * 1.0::DOUBLE / (n * 1000000000000.0::DOUBLE)
                       AS e2x
            FROM mom
        ),
        der2 AS (
            -- the 1e-6 epsilon guards a constant dimension (both
            -- engines share the literal)
            SELECT j, n, c, variance, e2x,
                   (mean_raw - c) / sqrt(variance + 0.000001) AS cz,
                   var_raw / (variance + 0.000001) AS vz
            FROM der
        ),
        frz AS (
            SELECT j, n,
                   CAST(floor(c * c * 1000000000.0 + 0.505) AS BIGINT)
                       AS cb_nano,
                   CAST(floor(cz * cz * 1000000000.0 + 0.505) AS BIGINT)
                       AS ca_nano,
                   CAST(floor(e2x * 1000000.0 + 0.505) AS BIGINT)
                       AS e2x_micro,
                   CAST(floor((vz + cz * cz) * 1000000.0 + 0.505)
                        AS BIGINT) AS e2z_micro,
                   CAST(floor(variance * 1000000.0 + 0.505) AS BIGINT)
                       AS vm_b,
                   CAST(floor(vz * 1000000.0 + 0.505) AS BIGINT) AS vm_a
            FROM der2
        ),
        rk AS (
            SELECT *,
                   row_number() OVER (ORDER BY vm_b DESC, j) AS rk_b,
                   row_number() OVER (ORDER BY vm_a DESC, j) AS rk_a
            FROM frz
        ),
        rep AS (
            SELECT CAST(max(n) AS BIGINT) AS n_vecs,
                   CAST(sum(cb_nano) AS BIGINT) AS nano_b,
                   CAST(sum(ca_nano) AS BIGINT) AS nano_a,
                   CAST(sum(e2x_micro) AS BIGINT) AS msq_b,
                   CAST(sum(e2z_micro) AS BIGINT) AS msq_a,
                   CAST(sum(CASE WHEN rk_b <= 16 THEN vm_b ELSE 0 END)
                        AS BIGINT) AS t16_b,
                   CAST(sum(vm_b) AS BIGINT) AS tot_b,
                   CAST(sum(CASE WHEN rk_a <= 16 THEN vm_a ELSE 0 END)
                        AS BIGINT) AS t16_a,
                   CAST(sum(vm_a) AS BIGINT) AS tot_a
            FROM rk
        )
        SELECT n_vecs,
               {sql_rnd(
                   "(nano_b / 1000000000.0) / (msq_b / 1000000.0)", 6
               )} AS anisotropy_before,
               {sql_rnd(
                   "(nano_a / 1000000000.0) / (msq_a / 1000000.0)", 6
               )} AS anisotropy_after,
               {sql_rnd("t16_b * 1.0 / tot_b", 4)}
                   AS top16_var_share_before,
               {sql_rnd("t16_a * 1.0 / tot_a", 4)}
                   AS top16_var_share_after,
               {sql_rnd("msq_a / 1000000.0", 4)} AS mean_norm_sq_after
        FROM rep
    """,
    scale=(
        "Whitening effectiveness audit (Mu & Viswanath 2018's "
        "all-but-the-top, the diagonal version). Key identity: "
        "z = (x - c)/s is affine per dim, so the post-whitening "
        "statistics are analytic functions of the SAME per-dim "
        "moments — avg(z) = (mean - c)/s, var_pop(z) = var/s^2, "
        "E[z_j^2] = vz + cz^2, E||z||^2 = sum_j E[z_j^2] — no second "
        "pass over the data at all. All cross-partition aggregation "
        "is BIGINT (1e-6-frozen coordinates; sums and squares stay "
        "inside int64 at 10^6 vectors x 10^6 micro^2, the wave-21 "
        "bound); the per-dim derivation is per-row double arithmetic "
        "in identical operand order, then nano/micro-frozen before "
        "the 64-row report agg. After whitening, anisotropy must "
        "collapse toward 0 and the top-16 variance share toward "
        "16/64 = 0.25. Shape: one posexplode, ONE 64-key moment agg, "
        "two bounded 64-row rank windows, 1-row report. 100 TB: one "
        "map pass + a d-key agg — run it before and after every "
        "re-embedding."
    ),
)
def emb_whitening_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row before/after whitening isotropy report (analytic z)."""
    emb = vectors(spark, sf_dir)
    x = emb.select(
        "vec_id", F.posexplode("v").alias("j", "xd")
    ).select(
        F.col("j").cast("long").alias("j"),
        F.floor(F.col("xd") * F.lit(1000000.0) + F.lit(0.505))
        .cast("long")
        .alias("xm"),
    )
    mom = x.groupBy("j").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xm").cast("long").alias("sx"),
        F.sum(F.col("xm") * F.col("xm")).cast("long").alias("sxx"),
    )
    mean_raw = F.col("sx") / (F.lit(1000000.0) * F.col("n"))
    var_raw = (
        F.col("n") * F.lit(1.0) * F.col("sxx")
        - F.col("sx") * F.lit(1.0) * F.col("sx")
    ) / (F.col("n") * F.lit(1.0) * F.col("n") * F.lit(1000000000000.0))
    der = mom.select(
        "j",
        "n",
        rnd(mean_raw, 6).alias("c"),
        rnd(var_raw, 6).alias("variance"),
        mean_raw.alias("mean_raw"),
        var_raw.alias("var_raw"),
        (
            F.col("sxx") * F.lit(1.0)
            / (F.col("n") * F.lit(1000000000000.0))
        ).alias("e2x"),
    )
    der2 = der.select(
        "j",
        "n",
        "c",
        "variance",
        "e2x",
        (
            (F.col("mean_raw") - F.col("c"))
            / F.sqrt(F.col("variance") + F.lit(0.000001))
        ).alias("cz"),
        (F.col("var_raw") / (F.col("variance") + F.lit(0.000001))).alias(
            "vz"
        ),
    )

    def _frz(e, scale: float):
        return F.floor(e * F.lit(scale) + F.lit(0.505)).cast("long")

    frz = der2.select(
        "j",
        "n",
        _frz(F.col("c") * F.col("c"), 1000000000.0).alias("cb_nano"),
        _frz(F.col("cz") * F.col("cz"), 1000000000.0).alias("ca_nano"),
        _frz(F.col("e2x"), 1000000.0).alias("e2x_micro"),
        _frz(F.col("vz") + F.col("cz") * F.col("cz"), 1000000.0).alias(
            "e2z_micro"
        ),
        _frz(F.col("variance"), 1000000.0).alias("vm_b"),
        _frz(F.col("vz"), 1000000.0).alias("vm_a"),
    )
    rk = frz.withColumn(
        "rk_b", F.row_number().over(Window.orderBy(F.desc("vm_b"), "j"))
    ).withColumn(
        "rk_a", F.row_number().over(Window.orderBy(F.desc("vm_a"), "j"))
    )
    rep = rk.agg(
        F.max("n").cast("long").alias("n_vecs"),
        F.sum("cb_nano").cast("long").alias("nano_b"),
        F.sum("ca_nano").cast("long").alias("nano_a"),
        F.sum("e2x_micro").cast("long").alias("msq_b"),
        F.sum("e2z_micro").cast("long").alias("msq_a"),
        F.sum(F.when(F.col("rk_b") <= 16, F.col("vm_b")).otherwise(0))
        .cast("long")
        .alias("t16_b"),
        F.sum("vm_b").cast("long").alias("tot_b"),
        F.sum(F.when(F.col("rk_a") <= 16, F.col("vm_a")).otherwise(0))
        .cast("long")
        .alias("t16_a"),
        F.sum("vm_a").cast("long").alias("tot_a"),
    )
    return rep.select(
        "n_vecs",
        rnd(
            (F.col("nano_b") / F.lit(1000000000.0))
            / (F.col("msq_b") / F.lit(1000000.0)),
            6,
        ).alias("anisotropy_before"),
        rnd(
            (F.col("nano_a") / F.lit(1000000000.0))
            / (F.col("msq_a") / F.lit(1000000.0)),
            6,
        ).alias("anisotropy_after"),
        rnd(F.col("t16_b") * F.lit(1.0) / F.col("tot_b"), 4).alias(
            "top16_var_share_before"
        ),
        rnd(F.col("t16_a") * F.lit(1.0) / F.col("tot_a"), 4).alias(
            "top16_var_share_after"
        ),
        rnd(F.col("msq_a") / F.lit(1000000.0), 4).alias(
            "mean_norm_sq_after"
        ),
    )


# ---------------------------------------------------------------------------
# padding waste curve
# ---------------------------------------------------------------------------

_PAD_LS = (32, 64, 128)


@op(
    "corpus_padding_waste_curve",
    oracle=f"""
        WITH grid(l) AS (VALUES {", ".join(f"({l})" for l in _PAD_LS)}),
        d AS (
            SELECT source,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n
            FROM documents
        ),
        per AS (
            SELECT d.source, g.l, d.n,
                   CAST((d.n + g.l - 1) // g.l AS BIGINT) AS chunks
            FROM d CROSS JOIN grid g
        )
        SELECT source, CAST(l AS BIGINT) AS l,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n) AS BIGINT) AS n_tokens,
               CAST(sum(chunks) AS BIGINT) AS n_chunks,
               CAST(sum(chunks * l - n) AS BIGINT) AS pad_tokens,
               {sql_rnd(
                   "sum(chunks * l - n) * 1.0 / sum(chunks * l)", 4
               )} AS waste_share,
               {sql_rnd(
                   "sum(CASE WHEN n % l <> 0 THEN 1 ELSE 0 END)"
                   " * 1.0 / sum(chunks)", 4
               )} AS tail_chunk_share
        FROM per
        GROUP BY source, l
    """,
    scale=(
        "Padding-waste planning: when whole documents are packed into "
        "L-token training sequences WITHOUT cross-doc concatenation "
        "(the attention-isolation-by-default regime), every tail "
        "chunk pads to L — this table gives the padded-compute waste "
        "share per (source, L) and the tail-chunk fraction. The dual "
        "of corpus_truncation_loss_curve (truncation loses signal, "
        "padding burns FLOPs) and the motivation for pack_best_fit. "
        "Pure integer arithmetic: chunks = ceil(n/L) via (n+L-1)//L, "
        "waste = chunks*L - n, all BIGINT sums; the shares are "
        "rationals. Shape: one scan, a 3-row literal grid fan-out, "
        "one (source, L) agg with map-side combine. 100 TB: identical "
        "— the cheapest packing decision input there is."
    ),
)
def corpus_padding_waste_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-(source, L) padding waste under whole-doc packing."""
    docs = load_table(spark, sf_dir, "documents")
    grid = spark.range(1).select(
        F.explode(F.array(*[F.lit(l) for l in _PAD_LS])).alias("l")
    )
    per = (
        docs.select(
            "source",
            F.size(F.split("text", " ")).cast("long").alias("n"),
        )
        .crossJoin(F.broadcast(grid))
        .select(
            "source",
            "n",
            F.col("l").cast("long").alias("l"),
            F.expr("CAST((n + l - 1) div l AS BIGINT)").alias("chunks"),
        )
    )
    return per.groupBy("source", "l").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("n_tokens"),
        F.sum("chunks").cast("long").alias("n_chunks"),
        F.sum(F.col("chunks") * F.col("l") - F.col("n"))
        .cast("long")
        .alias("pad_tokens"),
        rnd(
            F.sum(F.col("chunks") * F.col("l") - F.col("n"))
            * F.lit(1.0)
            / F.sum(F.col("chunks") * F.col("l")),
            4,
        ).alias("waste_share"),
        rnd(
            F.sum(
                F.when(F.col("n") % F.col("l") != 0, 1).otherwise(0)
            )
            * F.lit(1.0)
            / F.sum("chunks"),
            4,
        ).alias("tail_chunk_share"),
    ).select(
        "source",
        "l",
        "n_docs",
        "n_tokens",
        "n_chunks",
        "pad_tokens",
        "waste_share",
        "tail_chunk_share",
    )


# ---------------------------------------------------------------------------
# sign-binarized (1-bit SimHash) retrieval recall
# ---------------------------------------------------------------------------


@op(
    "emb_sign_binarize_recall",
    oracle="""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        sig AS (
            -- 64 sign bits packed into two BIGINT halves (j = 0..31
            -- low, 32..63 high) — no 2^63 sign-bit hazard
            SELECT vec_id, v,
                   CAST(list_sum(list_transform(range(0, 32),
                       j -> CASE WHEN v[CAST(j AS INTEGER) + 1] >= 0
                            THEN CAST(round(2 ** j) AS BIGINT)
                            ELSE 0 END)) AS BIGINT) AS lo,
                   CAST(list_sum(list_transform(range(0, 32),
                       j -> CASE WHEN v[CAST(j AS INTEGER) + 33] >= 0
                            THEN CAST(round(2 ** j) AS BIGINT)
                            ELSE 0 END)) AS BIGINT) AS hi
            FROM e
        ),
        q AS (SELECT * FROM sig WHERE vec_id % 50 = 0),
        pairs AS (
            SELECT q.vec_id AS qid, c.vec_id AS cid,
                   CAST(bit_count(xor(q.lo, c.lo))
                        + bit_count(xor(q.hi, c.hi)) AS BIGINT) AS ham,
                   floor(list_cosine_similarity(q.v, c.v) * 10000.0
                         + 0.505) / 10000.0 AS sim
            FROM q JOIN sig c ON c.vec_id <> q.vec_id
        ),
        exact_top AS (
            SELECT qid, cid FROM (
                SELECT qid, cid,
                       row_number() OVER (PARTITION BY qid
                           ORDER BY sim DESC, cid) AS rk
                FROM pairs) WHERE rk <= 10
        ),
        ham_top AS (
            SELECT qid, cid FROM (
                SELECT qid, cid,
                       row_number() OVER (PARTITION BY qid
                           ORDER BY ham ASC, cid) AS rk
                FROM pairs) WHERE rk <= 10
        )
        SELECT e.qid,
               CAST(count(h.cid) AS BIGINT) AS hits,
               floor((count(h.cid) / 10.0) * 10000.0 + 0.505)
                   / 10000.0 AS recall_at_10
        FROM exact_top e
        LEFT JOIN ham_top h ON h.qid = e.qid AND h.cid = e.cid
        GROUP BY e.qid
    """,
    scale=(
        "The extreme end of the quantization-recall family "
        "(emb_int8_quant_audit -> sim_pq_adc_recall -> b-bit minhash "
        "-> THIS): 1-bit sign binarization (Charikar SimHash of the "
        "identity rotation), 64 dims -> 64 bits in two BIGINT halves, "
        "Hamming = xor + bit_count (both engines' bit_count is exact "
        "integer popcount). Recall@10 vs the exact cosine top-10 per "
        "1-in-50 sampled query, both orderings totally tie-broken "
        "(sim DESC rnd-1e-4 then id; ham ASC then id). Shape: "
        "signature build is one in-row HOF pass; the query join is "
        "the broadcast-sample bound (|sample| * N, never N^2); top-10 "
        "via per-qid windows over the bounded join. 100 TB: the "
        "binary index is 8 bytes/vector — the cheapest ANN prefilter "
        "that exists; this audit prices its recall before deploying."
    ),
)
def emb_sign_binarize_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall@10 of 64-bit sign-Hamming retrieval vs exact cosine."""
    from python_kinesis_streaming_spark.functions.vectors import dot, l2norm

    emb = vectors(spark, sf_dir)
    sig = emb.select(
        "vec_id",
        "v",
        F.expr(
            "CAST(aggregate(transform(sequence(0, 31), "
            "j -> CASE WHEN element_at(v, j + 1) >= 0 "
            "THEN CAST(round(pow(2, j)) AS BIGINT) ELSE 0L END), "
            "0L, (acc, x) -> acc + x) AS BIGINT)"
        ).alias("lo"),
        F.expr(
            "CAST(aggregate(transform(sequence(0, 31), "
            "j -> CASE WHEN element_at(v, j + 33) >= 0 "
            "THEN CAST(round(pow(2, j)) AS BIGINT) ELSE 0L END), "
            "0L, (acc, x) -> acc + x) AS BIGINT)"
        ).alias("hi"),
        l2norm(F.col("v")).alias("nrm"),
    )
    q = sig.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
        F.col("nrm").alias("qnrm"),
    )
    pairs = sig.join(
        F.broadcast(q), F.col("vec_id") != F.col("qid")
    ).select(
        "qid",
        F.col("vec_id").alias("cid"),
        (
            F.bit_count(F.col("qlo").bitwiseXOR(F.col("lo")))
            + F.bit_count(F.col("qhi").bitwiseXOR(F.col("hi")))
        )
        .cast("long")
        .alias("ham"),
        # HOF fold dot, norms hoisted (r12 lesson). A 64-term unrolled
        # element_at expression was MEASURED 12x slower at x10 (134 s
        # vs 11 s — PERF.md r14): the fold's tight loop beats 64
        # codegen'd array probes. Don't re-try the unroll.
        rnd(
            dot(F.col("qv"), F.col("v"))
            / (F.col("qnrm") * F.col("nrm")),
            4,
        ).alias("sim"),
    )
    # NOTE (r14, measured at x10): do NOT cache pairs and do NOT unroll
    # the dot. Both rank windows shuffle the same pairs subtree by qid,
    # so ReusedExchange already evaluates the 8M dots ONCE; a .cache()
    # adds materialization (+17% cold), and a 64-term element_at unroll
    # measured 12x slower than the HOF fold (134 s vs 11 s). The 7.4x
    # ratio is the interpreted-HOF floor of the sample-bounded exact
    # leg; production fixes the query budget so it stays linear.
    wq_sim = Window.partitionBy("qid").orderBy(F.desc("sim"), "cid")
    wq_ham = Window.partitionBy("qid").orderBy(F.asc("ham"), "cid")
    exact_top = (
        pairs.withColumn("rk", F.row_number().over(wq_sim))
        .where(F.col("rk") <= 10)
        .select("qid", "cid")
    )
    ham_top = (
        pairs.withColumn("rk", F.row_number().over(wq_ham))
        .where(F.col("rk") <= 10)
        .select(
            F.col("qid").alias("hqid"), F.col("cid").alias("hcid")
        )
    )
    return (
        exact_top.join(
            ham_top,
            (F.col("qid") == F.col("hqid"))
            & (F.col("cid") == F.col("hcid")),
            "left",
        )
        .groupBy("qid")
        .agg(
            F.count("hcid").cast("long").alias("hits"),
            rnd(F.count("hcid") / F.lit(10.0), 4).alias("recall_at_10"),
        )
    )


# ---------------------------------------------------------------------------
# winsorization sensitivity of the A/B lift
# ---------------------------------------------------------------------------

#: literal winsorization caps in integer cents ($100 / $150 / $250 —
#: around the fixture's p95 of ~$147).
_WINS_CAPS = (10000, 15000, 25000)


@op(
    "events_winsorize_sensitivity",
    oracle=f"""
        WITH grid(cap) AS (VALUES {", ".join(
            f"({c})" for c in _WINS_CAPS)}),
        t AS (
            SELECT CAST(user_id % 2 AS BIGINT) AS arm,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM events
        ),
        s AS (
            SELECT g.cap, t.arm,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(t.cents) AS BIGINT) AS raw_sum,
                   CAST(sum(least(t.cents, g.cap)) AS BIGINT)
                       AS cap_sum
            FROM t CROSS JOIN grid g
            GROUP BY g.cap, t.arm
        ),
        w AS (
            SELECT cap,
                   max(CASE WHEN arm = 0 THEN n END) AS n_a,
                   max(CASE WHEN arm = 1 THEN n END) AS n_b,
                   max(CASE WHEN arm = 0 THEN raw_sum END) AS ra,
                   max(CASE WHEN arm = 1 THEN raw_sum END) AS rb,
                   max(CASE WHEN arm = 0 THEN cap_sum END) AS ca,
                   max(CASE WHEN arm = 1 THEN cap_sum END) AS cb
            FROM s GROUP BY cap
        )
        SELECT CAST(cap AS BIGINT) AS cap, n_a, n_b,
               {sql_rnd(
                   "(rb * 1.0 / n_b - ra * 1.0 / n_a)"
                   " / (ra * 1.0 / n_a)", 6
               )} AS lift_raw,
               {sql_rnd(
                   "(cb * 1.0 / n_b - ca * 1.0 / n_a)"
                   " / (ca * 1.0 / n_a)", 6
               )} AS lift_winsorized,
               {sql_rnd(
                   "abs((rb * 1.0 / n_b - ra * 1.0 / n_a)"
                   " / (ra * 1.0 / n_a)"
                   " - (cb * 1.0 / n_b - ca * 1.0 / n_a)"
                   " / (ca * 1.0 / n_a))", 6
               )} AS lift_sensitivity
        FROM w
    """,
    scale=(
        "Metric-robustness check run before trusting any mean-based "
        "A/B read-out: the relative lift of mean event value between "
        "the user_id-parity arms, raw vs winsorized at literal caps "
        "around the value distribution's p95 — a lift that flips or "
        "moves materially under capping is driven by outliers, not "
        "the treatment (the CUPED/MDE/posterior stack upstream all "
        "assume it isn't). Everything is exact BIGINTs until the "
        "final rationals: cents at floor(v*100+0.5), least(cents, "
        "cap) inside the sum, counts per (cap, arm). Shape: one "
        "scan, a 3-row literal cap grid, a 6-key agg, a 3-row pivot. "
        "100 TB: map-side combine does all the work — the same "
        "events_ab_test_lift shape with a cap grid."
    ),
)
def events_winsorize_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Raw vs winsorized A/B lift at literal caps."""
    ev = load_table(spark, sf_dir, "events")
    grid = spark.range(1).select(
        F.explode(F.array(*[F.lit(c) for c in _WINS_CAPS])).alias("cap")
    )
    t = ev.select(
        (F.col("user_id") % 2).cast("long").alias("arm"),
        cents().alias("cents"),
    )
    s = t.crossJoin(F.broadcast(grid)).groupBy("cap", "arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("raw_sum"),
        F.sum(F.least(F.col("cents"), F.col("cap")))
        .cast("long")
        .alias("cap_sum"),
    )
    w = s.groupBy("cap").agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == 0, F.col("raw_sum"))).alias("ra"),
        F.max(F.when(F.col("arm") == 1, F.col("raw_sum"))).alias("rb"),
        F.max(F.when(F.col("arm") == 0, F.col("cap_sum"))).alias("ca"),
        F.max(F.when(F.col("arm") == 1, F.col("cap_sum"))).alias("cb"),
    )
    ma = F.col("ra") * F.lit(1.0) / F.col("n_a")
    mb = F.col("rb") * F.lit(1.0) / F.col("n_b")
    wa = F.col("ca") * F.lit(1.0) / F.col("n_a")
    wb = F.col("cb") * F.lit(1.0) / F.col("n_b")
    return w.select(
        F.col("cap").cast("long").alias("cap"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        rnd((mb - ma) / ma, 6).alias("lift_raw"),
        rnd((wb - wa) / wa, 6).alias("lift_winsorized"),
        rnd(F.abs((mb - ma) / ma - (wb - wa) / wa), 6).alias(
            "lift_sensitivity"
        ),
    )

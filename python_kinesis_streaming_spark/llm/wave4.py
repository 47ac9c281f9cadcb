"""Wave-4 pipeline ops (round 11) — retrieval-quality reporting and
corpus-curriculum planning composed from the proven r1-r10 kernels.

VERDICT r10 item 8 asked for a single retrieval-quality report folding
the prefilter comparison into one op; the rest extend the
training-data-pipeline story into territory the registry does not yet
cover: a Matryoshka-style prefix-dimension recall sweep (the truncation
decision every embedding-serving stack makes), one NN-descent
refinement round over a signature-blocked kNN graph (the graph-ANN
build step), curriculum staging by exact difficulty quantiles, and an
epoch-capped repetition sampling plan (the up/down-sampling ledger a
mixture planner consumes).

All batch ops are JVM-only DataFrame code with the repo's standard
hash discipline: identical aliases both sides, ``rnd``/``sql_rnd``
rounding before any ranking, total tie-breaks on ids. Registered at
the BACK of ``_GRADING_PRIORITY`` (they queue for the r12 window —
the r11 window drains the 19-op backlog first).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from python_kinesis_streaming_spark.functions.rounding import rnd, sql_rnd
from python_kinesis_streaming_spark.functions.vectors import (
    cosine,
    dot,
    guarded_cos,
    l2norm,
    sign_bits,
    sql_guarded_cos,
)
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table

_DIMS = 64
_K = 16

# shared SQL fragments -------------------------------------------------------

# exploded (vec_id, j, x) coordinates over the 64-dim embedding column
_X_SQL = f"""
        e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        x AS (
            SELECT vec_id, CAST(u.i AS INTEGER) AS j, v[u.i + 1] AS x
            FROM e, unnest(range(0, {_DIMS})) AS u(i)
        )
"""

# exact top-5 per sampled query (the shared ground truth of the audits)
_ETOP_SQL = """
        ex AS (
            SELECT q.vec_id AS qid, v.vec_id,
                   floor(list_cosine_similarity(q.v, v.v)
                         * 10000.0 + 0.505) / 10000.0 AS sim
            FROM e q JOIN e v ON v.vec_id <> q.vec_id
            WHERE q.vec_id % 50 = 0
        ),
        etop AS (
            SELECT qid, vec_id FROM (
                SELECT qid, vec_id, row_number() OVER (
                    PARTITION BY qid ORDER BY sim DESC, vec_id
                ) AS rank FROM ex
            ) WHERE rank <= 5
        )
"""


# ---------------------------------------------------------------------------
# unified prefilter quality report (VERDICT r10 item 8)
# ---------------------------------------------------------------------------


@op(
    "sim_prefilter_quality_report",
    oracle=f"""
        WITH {_X_SQL},
        omega AS (
            SELECT CAST(t1.j AS INTEGER) AS j, CAST(t2.c AS INTEGER) AS c,
                   1 - 2 * (CAST(('0x' || substring(
                       md5(t1.j || ':' || t2.c), 1, 1)) AS BIGINT) % 2) AS w
            FROM range(0, {_DIMS}) t1(j), range(0, {_K}) t2(c)
        ),
        s AS (
            SELECT x.vec_id, o.c, sum(x.x * o.w) AS p
            FROM x JOIN omega o USING (j) GROUP BY x.vec_id, o.c
        ),
        y AS (
            SELECT x.j, s.c, {sql_rnd("sum(x.x * s.p)", 6)} AS y
            FROM x JOIN s ON s.vec_id = x.vec_id GROUP BY x.j, s.c
        ),
        z AS (
            SELECT x.vec_id, y.c, sum(x.x * y.y) AS p
            FROM x JOIN y USING (j) GROUP BY x.vec_id, y.c
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
            ) WHERE rk <= {_K}
        ),
        vc AS (
            SELECT x.vec_id, x.j AS c, x.x AS p FROM x JOIN dims USING (j)
        ),
        coords AS (
            SELECT 'randproj16' AS prefilter, vec_id, c, p FROM s
            UNION ALL
            SELECT 'sketch16' AS prefilter, vec_id, c, p FROM z
            UNION ALL
            SELECT 'variance16' AS prefilter, vec_id, c, p FROM vc
        ),
        cn AS (
            SELECT prefilter, vec_id, c, p,
                   sqrt(sum(p * p) OVER (
                       PARTITION BY prefilter, vec_id)) AS nn
            FROM coords
        ),
        td AS (
            SELECT q.prefilter, q.vec_id AS qid, v.vec_id,
                   sum(q.p * v.p) AS tdot,
                   max(q.nn) AS nnq, max(v.nn) AS nnv
            FROM cn q
            JOIN cn v ON v.prefilter = q.prefilter AND v.c = q.c
                     AND v.vec_id <> q.vec_id
            WHERE q.vec_id % 50 = 0
            GROUP BY 1, 2, 3
        ),
        ts AS (
            SELECT prefilter, qid, vec_id,
                   {sql_rnd(sql_guarded_cos("tdot", "nnq", "nnv"), 4)} AS tsim
            FROM td
        ),
        cand AS (
            SELECT prefilter, qid, vec_id FROM (
                SELECT prefilter, qid, vec_id, row_number() OVER (
                    PARTITION BY prefilter, qid ORDER BY tsim DESC, vec_id
                ) AS rank FROM ts
            ) WHERE rank <= 50
        ),
        rr AS (
            SELECT c.prefilter, c.qid, c.vec_id,
                   floor(list_cosine_similarity(q.v, v.v)
                         * 10000.0 + 0.505) / 10000.0 AS sim
            FROM cand c
            JOIN e q ON q.vec_id = c.qid
            JOIN e v ON v.vec_id = c.vec_id
        ),
        rtop AS (
            SELECT prefilter, qid, vec_id FROM (
                SELECT prefilter, qid, vec_id, row_number() OVER (
                    PARTITION BY prefilter, qid ORDER BY sim DESC, vec_id
                ) AS rank FROM rr
            ) WHERE rank <= 5
        ),
        {_ETOP_SQL.lstrip()},
        h AS (
            SELECT r.prefilter, r.qid, count(*) AS hits
            FROM rtop r JOIN etop e2
              ON e2.qid = r.qid AND e2.vec_id = r.vec_id
            GROUP BY r.prefilter, r.qid
        ),
        legs AS (SELECT unnest(
            ['randproj16', 'sketch16', 'variance16']) AS prefilter),
        perq AS (
            SELECT l.prefilter, q.vec_id AS qid,
                   COALESCE(h.hits, 0) AS hits
            FROM e q CROSS JOIN legs l
            LEFT JOIN h ON h.qid = q.vec_id AND h.prefilter = l.prefilter
            WHERE q.vec_id % 50 = 0
        )
        SELECT prefilter,
               CAST(count(*) AS BIGINT) AS n_queries,
               {sql_rnd("avg(hits / 5.0)", 4)} AS mean_recall_at_5,
               {sql_rnd("min(hits) / 5.0", 4)} AS min_recall_at_5
        FROM perq GROUP BY prefilter
    """,
    scale=(
        "The single retrieval-quality report VERDICT r10 item 8 asked "
        "for: three 16-dim prefilters — variance16 (axis-aligned cut), "
        "randproj16 (data-oblivious JL control, deterministic "
        "md5-parity Rademacher Omega) and sketch16 (one HMT randomized "
        "subspace iteration Y = Xt(X Omega)) — drive the SAME top-50 "
        "-> exact-rerank tail against the SAME exact top-5 baseline, "
        "and the per-query recalls aggregate to one row per prefilter "
        "(mean + worst-case recall@5). This is the decision table an "
        "index-build pipeline reads before freezing its coarse stage. "
        "Cost shape at 100 TB: variance adds one 64-group moment agg; "
        "the sketch adds two Krylov corpus passes shuffling d*k rows "
        "(emb_pca_power_iter pattern); all exact legs are "
        "sample-bounded (|sample|*N prefilter, |sample|*50*64 rerank, "
        "never N^2). Basis and variances round at 1e-6 before any "
        "projection, similarities at 1e-4 before every ranking with "
        "vec_id tie-breaks, so both engines pick identical dims, "
        "candidates and top-5 sets."
    ),
)
def sim_prefilter_quality_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """variance16 vs randproj16 vs sketch16, one exact tail, 3-row report."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    x = emb.select("vec_id", F.posexplode(F.col("v")).alias("j", "x"))

    omega = (
        spark.range(_DIMS)
        .select(F.col("id").cast("int").alias("j"))
        .crossJoin(spark.range(_K).select(F.col("id").cast("int").alias("c")))
        .select(
            "j",
            "c",
            (
                F.lit(1)
                - F.lit(2)
                * (
                    F.conv(
                        F.substring(
                            F.md5(F.concat_ws(":", F.col("j"), F.col("c"))),
                            1,
                            1,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % 2
                )
            ).alias("w"),
        )
    )
    # s feeds BOTH the sketch's second pass (y) and the coords union —
    # cache the diamond so the Ω-projection agg plans once (the
    # wave-18/22 cached-diamond pattern; r14 measured 4.14 → 2.68 s
    # warm at sf0.01 together with the cn cache below).
    s = (
        x.join(F.broadcast(omega), "j")
        .groupBy("vec_id", "c")
        .agg(F.sum(F.col("x") * F.col("w")).alias("p"))
    ).cache()
    y = (
        x.join(s, "vec_id")
        .groupBy("j", "c")
        .agg(rnd(F.sum(F.col("x") * F.col("p")), 6).alias("y"))
    )
    z = (
        x.join(F.broadcast(y), "j")
        .groupBy("vec_id", "c")
        .agg(F.sum(F.col("x") * F.col("y")).alias("p"))
    )
    vr = x.groupBy("j").agg(rnd(F.var_pop("x"), 6).alias("variance"))
    dims = (
        vr.withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("variance"), "j")),
        )
        .where(F.col("rk") <= _K)
        .select("j")
    )
    vc = x.join(F.broadcast(dims), "j").select(
        "vec_id", F.col("j").alias("c"), F.col("x").alias("p")
    )
    coords = (
        s.withColumn("prefilter", F.lit("randproj16"))
        .unionByName(z.withColumn("prefilter", F.lit("sketch16")))
        .unionByName(vc.withColumn("prefilter", F.lit("variance16")))
    )
    # r15 spill-proof reshape (VERDICT r14 item 5, guide §5): the old
    # shape posexploded to (prefilter, vec_id, c) rows, broadcast-joined
    # the sample on (prefilter, c) — a k-fold row blowup — and rebuilt
    # each dot in a 3·N·|sample|-group hash aggregate whose per-task hash
    # maps OOM'd a 1 GB heap at ×10. Now each vector's k coords collect
    # ONCE into a c-sorted array with a precomputed norm (the wave-7
    # norm-hoist kernel), the broadcast pair join streams N·|sample|
    # narrow rows with an in-row HOF dot, and the only wide state left is
    # the rank window's sort, which spills. collect_list is k=16-bounded
    # (never a wide buffer). cna is consumed by both join sides — cached
    # (3·N rows of 16-double arrays; ~12 MB at ×10). No unpersist: it
    # feeds the RETURNED lazy plan; MEMORY_AND_DISK + LRU bounds a long
    # session (VERDICT r14 item 7 — same note at every op cache site).
    # Fan-out the vector side before the pair join: the pair stream's
    # partition count equals this side's, and the rank window's PARTIAL
    # WindowGroupLimit sorts each pre-exchange partition — at a fixed
    # shuffle_partitions (AQE off, the ×10 harness) those sorts are
    # |pairs|/16 rows each and their spill merges OOM a 1 GB heap.
    # Cores-proportional fan-out keeps every partial sort a few MB at any
    # data size (the rows moved are N vectors, not pairs); AQE coalesces
    # it when on.
    fan = 4 * spark.sparkContext.defaultParallelism
    cna = (
        coords.groupBy("prefilter", "vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("c", "p"))),
                lambda st: st["p"],
            ).alias("arr")
        )
        .withColumn("nn", l2norm(F.col("arr")))
        .repartition(fan, "prefilter", "vec_id")
    ).cache()
    cqa = cna.where(F.col("vec_id") % 50 == 0).select(
        "prefilter",
        F.col("vec_id").alias("qid"),
        F.col("arr").alias("qarr"),
        F.col("nn").alias("nnq"),
    )
    # the query side is sample-bounded (|sample| x k x 3 legs) — it
    # broadcasts at any corpus size; shuffling the full corpus on the
    # 3-distinct prefilter key would be the skew antipattern.
    # The top-50 rank runs PER LEG: prefilter is constant inside a leg,
    # so partitionBy(qid) within the branch selects the identical
    # candidate set as partitionBy(prefilter, qid) over the union, while
    # each branch's window sorts one third of the pairs with narrower
    # rows — the ×10/1 GB run's spill-merge (dozens of 1 MB read-ahead
    # buffers per over-full task) stays bounded (guide §5: more, smaller
    # per-task sorts).
    def leg_cand(tag: str) -> DataFrame:
        # prefilter is CONSTANT inside the branch — dropped before the
        # rank so the window sorts pure-numeric (qid, vec_id, tsim) rows,
        # and re-attached as a literal after (identical candidate set).
        pairs = (
            cna.where(F.col("prefilter") == tag)
            .join(
                F.broadcast(cqa.where(F.col("prefilter") == tag)),
                "prefilter",
            )
            .where(F.col("vec_id") != F.col("qid"))
            .select(
                "qid",
                "vec_id",
                rnd(
                    guarded_cos(dot("arr", "qarr"), F.col("nnq"), F.col("nn")), 4
                ).alias("tsim"),
            )
        )
        return (
            pairs.withColumn(
                "rank",
                F.row_number().over(
                    Window.partitionBy("qid").orderBy(
                        F.desc("tsim"), "vec_id"
                    )
                ),
            )
            .where(F.col("rank") <= 50)
            .select(F.lit(tag).alias("prefilter"), "qid", "vec_id")
        )

    cand = (
        leg_cand("randproj16")
        .unionByName(leg_cand("sketch16"))
        .unionByName(leg_cand("variance16"))
    )
    # Norm-hoist (r15, the wave-7 kernel): per-pair cosine drops from
    # three interpreted HOFs (zip_with dot + two norms) to one — the dot —
    # with the norms computed once per row. dot/(nq·nv) is the IDENTICAL
    # arithmetic to the cosine helper (same index-order fold, same
    # sqrt-product), so the doubles are bit-identical.
    embn = emb.withColumn("nv", l2norm(F.col("v"))).repartition(
        fan, "vec_id"
    )
    eq = embn.select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nv").alias("nq"),
    )
    rr = (
        cand.join(F.broadcast(eq), "qid")
        .join(embn, "vec_id")
        .select(
            "prefilter",
            "qid",
            "vec_id",
            rnd(
                dot(F.col("qv"), F.col("v")) / (F.col("nq") * F.col("nv")),
                4,
            ).alias("sim"),
        )
    )
    rtop = (
        rr.withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("prefilter", "qid").orderBy(
                    F.desc("sim"), "vec_id"
                )
            ),
        )
        .where(F.col("rank") <= 5)
        .select("prefilter", "qid", "vec_id")
    )
    q = eq.where(F.col("qid") % 50 == 0)
    ex = embn.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid",
        "vec_id",
        rnd(
            dot(F.col("qv"), F.col("v")) / (F.col("nq") * F.col("nv")),
            4,
        ).alias("sim"),
    )
    etop = (
        ex.withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.desc("sim"), "vec_id")
            ),
        )
        .where(F.col("rank") <= 5)
        .select("qid", "vec_id")
    )
    h = (
        rtop.join(etop, ["qid", "vec_id"])
        .groupBy("prefilter", "qid")
        .agg(F.count("*").alias("hits"))
    )
    legs = spark.createDataFrame(
        [("randproj16",), ("sketch16",), ("variance16",)],
        "prefilter string",
    )
    perq = (
        q.select("qid")
        .crossJoin(F.broadcast(legs))
        .join(h, ["prefilter", "qid"], "left")
        .select(
            "prefilter",
            "qid",
            F.coalesce(F.col("hits"), F.lit(0)).alias("hits"),
        )
    )
    return perq.groupBy("prefilter").agg(
        F.count("*").cast("long").alias("n_queries"),
        rnd(F.avg(F.col("hits") / 5.0), 4).alias("mean_recall_at_5"),
        rnd(F.min("hits") / 5.0, 4).alias("min_recall_at_5"),
    )


# ---------------------------------------------------------------------------
# Matryoshka prefix-dimension recall sweep
# ---------------------------------------------------------------------------


@op(
    "emb_matryoshka_prefix_recall",
    oracle=f"""
        WITH {_X_SQL},
        xl AS (
            SELECT vec_id, j, x,
                   CASE WHEN j < 8 THEN 8 WHEN j < 16 THEN 16
                        WHEN j < 32 THEN 32 ELSE 64 END AS lvl
            FROM x
        ),
        pn AS (
            SELECT vec_id, lvl, sum(x * x) AS pn
            FROM xl GROUP BY vec_id, lvl
        ),
        nrm AS (
            SELECT vec_id, lvl,
                   sum(pn) OVER (
                       PARTITION BY vec_id ORDER BY lvl
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cn
            FROM pn
        ),
        pd AS (
            SELECT q.vec_id AS qid, v.vec_id, v.lvl,
                   sum(q.x * v.x) AS pd
            FROM xl q JOIN xl v ON v.j = q.j AND v.vec_id <> q.vec_id
            WHERE q.vec_id % 50 = 0
            GROUP BY 1, 2, 3
        ),
        cd AS (
            SELECT qid, vec_id, lvl,
                   sum(pd) OVER (
                       PARTITION BY qid, vec_id ORDER BY lvl
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS dot
            FROM pd
        ),
        sim AS (
            SELECT cd.lvl, cd.qid, cd.vec_id,
                   {sql_rnd(
                       "CASE WHEN nq.cn * nv.cn = 0 THEN 0 "
                       "ELSE cd.dot / sqrt(nq.cn * nv.cn) END", 4)} AS s
            FROM cd
            JOIN nrm nq ON nq.vec_id = cd.qid AND nq.lvl = cd.lvl
            JOIN nrm nv ON nv.vec_id = cd.vec_id AND nv.lvl = cd.lvl
        ),
        rtop AS (
            SELECT lvl, qid, vec_id FROM (
                SELECT lvl, qid, vec_id, row_number() OVER (
                    PARTITION BY lvl, qid ORDER BY s DESC, vec_id
                ) AS rank FROM sim
            ) WHERE rank <= 5
        ),
        flagged AS (
            SELECT lvl, qid, vec_id,
                   max(CASE WHEN lvl = 64 THEN 1 ELSE 0 END) OVER (
                       PARTITION BY qid, vec_id) AS is_exact
            FROM rtop
        ),
        h AS (
            SELECT lvl, qid, sum(is_exact) AS hits
            FROM flagged GROUP BY lvl, qid
        ),
        lvls AS (SELECT unnest([8, 16, 32, 64]) AS lvl),
        perq AS (
            SELECT l.lvl, q.vec_id AS qid, COALESCE(h.hits, 0) AS hits
            FROM e q CROSS JOIN lvls l
            LEFT JOIN h ON h.qid = q.vec_id AND h.lvl = l.lvl
            WHERE q.vec_id % 50 = 0
        )
        SELECT CAST(lvl AS INTEGER) AS prefix_dims,
               CAST(count(*) AS BIGINT) AS n_queries,
               {sql_rnd("avg(hits / 5.0)", 4)} AS mean_recall_at_5
        FROM perq GROUP BY lvl
    """,
    scale=(
        "Matryoshka truncation sweep: recall@5 of prefix-dimension "
        "cosine (first 8/16/32/64 dims) against the full-width top-5 — "
        "the serving-cost decision table for MRL-style embeddings "
        "(retrieve with a cheap prefix, rerank with the tail). "
        "Computed in ONE pass: coordinates tag their prefix level, "
        "partial dots/norms aggregate per (pair, level) and a 4-row "
        "running window turns partials into all four prefix dots — no "
        "per-level rescans. The 64-dim leg is the exact baseline by "
        "construction (recall 1.0, the built-in sanity anchor). At "
        "100 TB the pair stage is sample-bounded (|sample|*N*4 rows "
        "into the window); similarities round at 1e-4 before ranking "
        "with vec_id tie-breaks so both engines agree per level."
    ),
)
def emb_matryoshka_prefix_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall@5 of 8/16/32-dim prefix cosine vs the exact 64-dim top-5."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    x = emb.select("vec_id", F.posexplode(F.col("v")).alias("j", "x"))
    xl = x.withColumn(
        "lvl",
        F.when(F.col("j") < 8, 8)
        .when(F.col("j") < 16, 16)
        .when(F.col("j") < 32, 32)
        .otherwise(64),
    )
    pn = xl.groupBy("vec_id", "lvl").agg(
        F.sum(F.col("x") * F.col("x")).alias("pn")
    )
    wv = (
        Window.partitionBy("vec_id")
        .orderBy("lvl")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    nrm = pn.select("vec_id", "lvl", F.sum("pn").over(wv).alias("cn"))
    xq = xl.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"), "j", F.col("x").alias("xq")
    )
    # broadcast the sample side: the 64-distinct j key would otherwise
    # shuffle the whole corpus into 64 skewed partitions
    pd = (
        xl.join(F.broadcast(xq), "j")
        .where(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id", "lvl")
        .agg(F.sum(F.col("xq") * F.col("x")).alias("pd"))
    )
    wp = (
        Window.partitionBy("qid", "vec_id")
        .orderBy("lvl")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cd = pd.select(
        "qid", "vec_id", "lvl", F.sum("pd").over(wp).alias("dot")
    )
    # the query-norm side is |sample| x 4 rows — broadcast it
    nq = F.broadcast(nrm.where(F.col("vec_id") % 50 == 0)).alias("nq")
    nv = nrm.alias("nv")
    sim = (
        cd.alias("cd")
        .join(
            nq,
            (F.col("nq.vec_id") == F.col("cd.qid"))
            & (F.col("nq.lvl") == F.col("cd.lvl")),
        )
        .join(
            nv,
            (F.col("nv.vec_id") == F.col("cd.vec_id"))
            & (F.col("nv.lvl") == F.col("cd.lvl")),
        )
        .select(
            F.col("cd.lvl").alias("lvl"),
            F.col("cd.qid").alias("qid"),
            F.col("cd.vec_id").alias("vec_id"),
            rnd(
                F.when(
                    F.col("nq.cn") * F.col("nv.cn") == 0, F.lit(0.0)
                ).otherwise(
                    F.col("cd.dot") / F.sqrt(F.col("nq.cn") * F.col("nv.cn"))
                ),
                4,
            ).alias("s"),
        )
    )
    rtop = (
        sim.withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("lvl", "qid").orderBy(
                    F.desc("s"), "vec_id"
                )
            ),
        )
        .where(F.col("rank") <= 5)
        .select("lvl", "qid", "vec_id")
    )
    # hits via a window flag, not rtop ⋈ rtop(lvl=64): the self-join
    # diamond would re-expand the whole pair lineage per consumer in
    # the static plan (the wave-3 lesson) — one partition window keeps
    # a single lineage and zero extra shuffles on the (qid, vec_id) key
    flagged = rtop.withColumn(
        "is_exact",
        F.max(F.when(F.col("lvl") == 64, 1).otherwise(0)).over(
            Window.partitionBy("qid", "vec_id")
        ),
    )
    h = flagged.groupBy("lvl", "qid").agg(
        F.sum("is_exact").alias("hits")
    )
    lvls = spark.createDataFrame([(8,), (16,), (32,), (64,)], "lvl int")
    perq = (
        emb.where(F.col("vec_id") % 50 == 0)
        .select(F.col("vec_id").alias("qid"))
        .crossJoin(F.broadcast(lvls))
        .join(h, ["lvl", "qid"], "left")
        .select(
            "lvl", "qid", F.coalesce(F.col("hits"), F.lit(0)).alias("hits")
        )
    )
    return perq.groupBy("lvl").agg(
        F.count("*").cast("long").alias("n_queries"),
        rnd(F.avg(F.col("hits") / 5.0), 4).alias("mean_recall_at_5"),
    ).select(
        F.col("lvl").cast("int").alias("prefix_dims"),
        "n_queries",
        "mean_recall_at_5",
    )


# ---------------------------------------------------------------------------
# one NN-descent round over a signature-blocked kNN graph
# ---------------------------------------------------------------------------


@op(
    "emb_nndescent_round",
    oracle="""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        sigs AS (
            SELECT vec_id,
                   CAST(list_sum(list_transform(range(1, 33),
                       i -> CASE WHEN embedding[i] > 0
                                 THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT
                            END)) AS BIGINT) AS sig_lo,
                   CAST(list_sum(list_transform(range(33, 65),
                       i -> CASE WHEN embedding[i] > 0
                                 THEN (1::BIGINT << (i - 33)) ELSE 0::BIGINT
                            END)) AS BIGINT) AS sig_hi
            FROM embeddings
        ),
        b AS (
            SELECT vec_id, sig_lo, sig_hi,
                   CAST((sig_hi >> 28) & 15 AS INTEGER) AS bucket
            FROM sigs
        ),
        ham AS (
            SELECT a.vec_id AS src, c.vec_id AS dst,
                   CAST(bit_count(xor(a.sig_lo, c.sig_lo))
                        + bit_count(xor(a.sig_hi, c.sig_hi))
                        AS INTEGER) AS hamming
            FROM b a JOIN b c
              ON c.bucket = a.bucket AND c.vec_id <> a.vec_id
        ),
        knn1 AS (
            SELECT src, dst FROM (
                SELECT src, dst, row_number() OVER (
                    PARTITION BY src ORDER BY hamming, dst
                ) AS rank FROM ham
            ) WHERE rank <= 3
        ),
        hops AS (
            SELECT k1.src, k2.dst FROM knn1 k1
            JOIN knn1 k2 ON k2.src = k1.dst
            WHERE k2.dst <> k1.src
        ),
        cand AS (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM knn1
                UNION ALL SELECT src, dst FROM hops
            )
        ),
        rs AS (
            SELECT c.src, c.dst,
                   floor(list_cosine_similarity(q.v, v.v)
                         * 10000.0 + 0.505) / 10000.0 AS sim
            FROM cand c
            JOIN e q ON q.vec_id = c.src
            JOIN e v ON v.vec_id = c.dst
            WHERE c.src % 50 = 0
        ),
        r2top AS (
            SELECT src, dst FROM (
                SELECT src, dst, row_number() OVER (
                    PARTITION BY src ORDER BY sim DESC, dst
                ) AS rank FROM rs
            ) WHERE rank <= 3
        ),
        ex AS (
            SELECT q.vec_id AS src, v.vec_id AS dst,
                   floor(list_cosine_similarity(q.v, v.v)
                         * 10000.0 + 0.505) / 10000.0 AS sim
            FROM e q JOIN e v ON v.vec_id <> q.vec_id
            WHERE q.vec_id % 50 = 0
        ),
        etop AS (
            SELECT src, dst FROM (
                SELECT src, dst, row_number() OVER (
                    PARTITION BY src ORDER BY sim DESC, dst
                ) AS rank FROM ex
            ) WHERE rank <= 3
        ),
        h1 AS (
            SELECT k.src, count(*) AS hits
            FROM knn1 k JOIN etop t ON t.src = k.src AND t.dst = k.dst
            WHERE k.src % 50 = 0
            GROUP BY k.src
        ),
        h2 AS (
            SELECT r.src, count(*) AS hits
            FROM r2top r JOIN etop t ON t.src = r.src AND t.dst = r.dst
            GROUP BY r.src
        ),
        stages AS (SELECT unnest(
            ['1_simhash_block', '2_after_round']) AS stage),
        perq AS (
            SELECT s.stage, q.vec_id AS src,
                   CASE WHEN s.stage = '1_simhash_block'
                        THEN COALESCE(h1.hits, 0)
                        ELSE COALESCE(h2.hits, 0) END AS hits
            FROM e q CROSS JOIN stages s
            LEFT JOIN h1 ON h1.src = q.vec_id
            LEFT JOIN h2 ON h2.src = q.vec_id
            WHERE q.vec_id % 50 = 0
        )
        SELECT stage,
               CAST(count(*) AS BIGINT) AS n_queries,
               floor((avg(hits / 3.0)) * 10000.0 + 0.505) / 10000.0
                   AS mean_recall_at_3
        FROM perq GROUP BY stage
    """,
    scale=(
        "One NN-descent refinement round — the graph-ANN build step "
        "(Dong et al. 2011): stage 1 blocks the corpus by a 4-bit "
        "SimHash prefix and takes each node's top-3 by Hamming inside "
        "its block (the cheap seed graph); the round then expands "
        "candidates to neighbors-of-neighbors along the seed edges and "
        "re-ranks with the exact cosine. Recall@3 vs the exact top-3 "
        "is reported per stage and is PROVABLY non-decreasing (the "
        "candidate set contains every stage-1 edge, and an exact "
        "rerank never evicts a true top-3 member — pinned in tests). "
        "At 100 TB: signatures are 8 bytes/vector built map-only "
        "(emb_hamming_knn), blocking bounds the seed join per bucket, "
        "the expansion is |E|*k = N*9 edge rows, and the exact legs "
        "are sample-bounded. More rounds = repeat the hop+rerank "
        "stage; convergence is graph-diameter-free in practice. "
        "Similarities round at 1e-4 with dst tie-breaks, Hamming ties "
        "break on dst — identical graphs on both engines."
    ),
)
def emb_nndescent_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed SimHash-block kNN graph + one neighbor-of-neighbor round."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    raw = load_table(spark, sf_dir, "embeddings")

    b = raw.select(
        "vec_id",
        sign_bits("embedding", 1, 32).alias("sig_lo"),
        sign_bits("embedding", 33, 64).alias("sig_hi"),
    ).withColumn(
        "bucket", F.expr("CAST(shiftright(sig_hi, 28) & 15 AS INT)")
    )
    a, c = b.alias("a"), b.alias("c")
    ham = a.join(
        c,
        (F.col("c.bucket") == F.col("a.bucket"))
        & (F.col("c.vec_id") != F.col("a.vec_id")),
    ).select(
        F.col("a.vec_id").alias("src"),
        F.col("c.vec_id").alias("dst"),
        (
            F.bit_count(F.expr("a.sig_lo ^ c.sig_lo"))
            + F.bit_count(F.expr("a.sig_hi ^ c.sig_hi"))
        ).cast("int").alias("hamming"),
    )
    knn1 = (
        ham.withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("src").orderBy("hamming", "dst")
            ),
        )
        .where(F.col("rank") <= 3)
        .select("src", "dst")
    )
    k1, k2 = knn1.alias("k1"), knn1.alias("k2")
    hops = k1.join(k2, F.col("k2.src") == F.col("k1.dst")).where(
        F.col("k2.dst") != F.col("k1.src")
    ).select(F.col("k1.src").alias("src"), F.col("k2.dst").alias("dst"))
    cand = knn1.unionByName(hops).distinct()
    eq = emb.select(F.col("vec_id").alias("src"), F.col("v").alias("qv"))
    ev = emb.select(F.col("vec_id").alias("dst"), F.col("v").alias("dv"))
    rs = (
        cand.where(F.col("src") % 50 == 0)
        .join(F.broadcast(eq), "src")
        .join(ev, "dst")
        .select(
            "src",
            "dst",
            rnd(cosine(F.col("qv"), F.col("dv")), 4).alias("sim"),
        )
    )
    r2top = (
        rs.withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("src").orderBy(F.desc("sim"), "dst")
            ),
        )
        .where(F.col("rank") <= 3)
        .select("src", "dst")
    )
    qs = eq.where(F.col("src") % 50 == 0)
    ex = (
        emb.join(F.broadcast(qs), F.col("vec_id") != F.col("src"))
        .select(
            "src",
            F.col("vec_id").alias("dst"),
            rnd(cosine(F.col("qv"), F.col("v")), 4).alias("sim"),
        )
    )
    etop = (
        ex.withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("src").orderBy(F.desc("sim"), "dst")
            ),
        )
        .where(F.col("rank") <= 3)
        .select("src", "dst")
    )
    h1 = (
        knn1.where(F.col("src") % 50 == 0)
        .join(etop, ["src", "dst"])
        .groupBy("src")
        .agg(F.count("*").alias("hits1"))
    )
    h2 = (
        r2top.join(etop, ["src", "dst"])
        .groupBy("src")
        .agg(F.count("*").alias("hits2"))
    )
    stages = spark.createDataFrame(
        [("1_simhash_block",), ("2_after_round",)], "stage string"
    )
    perq = (
        qs.select("src")
        .crossJoin(F.broadcast(stages))
        .join(h1, "src", "left")
        .join(h2, "src", "left")
        .select(
            "stage",
            "src",
            F.when(
                F.col("stage") == "1_simhash_block",
                F.coalesce(F.col("hits1"), F.lit(0)),
            )
            .otherwise(F.coalesce(F.col("hits2"), F.lit(0)))
            .alias("hits"),
        )
    )
    return perq.groupBy("stage").agg(
        F.count("*").cast("long").alias("n_queries"),
        rnd(F.avg(F.col("hits") / 3.0), 4).alias("mean_recall_at_3"),
    )


# ---------------------------------------------------------------------------
# curriculum staging by exact difficulty quantiles
# ---------------------------------------------------------------------------


@op(
    "corpus_curriculum_order",
    oracle=f"""
        WITH d AS (
            SELECT doc_id,
                   {sql_rnd(
                       "length(text) * 1.0 / len(string_split(text, ' '))",
                       4,
                   )} AS difficulty,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents
        ),
        sp AS (
            SELECT {sql_rnd("quantile_cont(difficulty, 0.25)", 4)} AS s1,
                   {sql_rnd("quantile_cont(difficulty, 0.50)", 4)} AS s2,
                   {sql_rnd("quantile_cont(difficulty, 0.75)", 4)} AS s3
            FROM d
        ),
        staged AS (
            SELECT d.*,
                   1 + CAST(d.difficulty > sp.s1 AS INTEGER)
                     + CAST(d.difficulty > sp.s2 AS INTEGER)
                     + CAST(d.difficulty > sp.s3 AS INTEGER) AS stage
            FROM d CROSS JOIN sp
        )
        SELECT CAST(stage AS INTEGER) AS stage,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               {sql_rnd("min(difficulty)", 4)} AS min_difficulty,
               {sql_rnd("max(difficulty)", 4)} AS max_difficulty,
               {sql_rnd("avg(difficulty)", 4)} AS mean_difficulty
        FROM staged GROUP BY stage
    """,
    scale=(
        "Curriculum staging plan: difficulty = mean chars-per-token "
        "(a cheap monotone proxy for lexical complexity), docs bucket "
        "into 4 stages by the EXACT difficulty quartiles, and the plan "
        "reports per-stage doc/token mass and the difficulty envelope "
        "(stage envelopes are non-overlapping by construction — pinned "
        "in tests). Scale design: bucketing is by VALUE against a "
        "broadcast 3-number split row, NOT by global row_number/ntile "
        "(the single-partition window antipattern) — at 100 TB swap "
        "quantile_cont/percentile for percentile_approx and the plan "
        "is a map-only pass plus a 4-group aggregate; the splits stay "
        "a 1-row broadcast either way. Difficulty and splits round at "
        "1e-4 before comparison so the boundary assignment is "
        "identical on both engines."
    ),
)
def corpus_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-stage curriculum plan by exact difficulty quartiles."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        rnd(
            F.length("text") * F.lit(1.0)
            / F.size(F.split(F.col("text"), " ")),
            4,
        ).alias("difficulty"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    sp = d.agg(
        rnd(F.expr("percentile(difficulty, 0.25)"), 4).alias("s1"),
        rnd(F.expr("percentile(difficulty, 0.50)"), 4).alias("s2"),
        rnd(F.expr("percentile(difficulty, 0.75)"), 4).alias("s3"),
    )
    staged = d.crossJoin(F.broadcast(sp)).withColumn(
        "stage",
        (
            F.lit(1)
            + (F.col("difficulty") > F.col("s1")).cast("int")
            + (F.col("difficulty") > F.col("s2")).cast("int")
            + (F.col("difficulty") > F.col("s3")).cast("int")
        ),
    )
    return staged.groupBy("stage").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        rnd(F.min("difficulty"), 4).alias("min_difficulty"),
        rnd(F.max("difficulty"), 4).alias("max_difficulty"),
        rnd(F.avg("difficulty"), 4).alias("mean_difficulty"),
    ).select(
        F.col("stage").cast("int").alias("stage"),
        "n_docs",
        "n_tokens",
        "min_difficulty",
        "max_difficulty",
        "mean_difficulty",
    )


# ---------------------------------------------------------------------------
# epoch-capped repetition sampling plan
# ---------------------------------------------------------------------------


@op(
    "corpus_repetition_cap",
    oracle="""
        WITH rep AS (
            SELECT doc_id, source, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, source, text
            FROM documents WHERE doc_id % 4 = 0
            UNION ALL
            SELECT doc_id + 2000000, source, text
            FROM documents WHERE doc_id % 4 = 0
            UNION ALL
            SELECT doc_id + 3000000, source, text
            FROM documents WHERE doc_id % 9 = 0
        ),
        g AS (
            SELECT source, md5(text) AS h, count(*) AS cnt,
                   max(len(string_split(text, ' '))) AS tok
            FROM rep GROUP BY source, md5(text)
        ),
        capped AS (
            SELECT source, cnt, tok, least(cnt, 2) AS kept FROM g
        )
        SELECT source,
               CAST(sum(cnt) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_unique,
               CAST(sum(cnt - kept) AS BIGINT) AS n_dropped,
               CAST(sum(kept * tok) AS BIGINT) AS kept_tokens,
               floor((sum(cnt) * 1.0 / count(*)) * 10000.0 + 0.505)
                   / 10000.0 AS dup_ratio
        FROM capped GROUP BY source
    """,
    scale=(
        "Epoch-capped repetition plan — the up/down-sampling ledger a "
        "mixture planner consumes (Muennighoff et al. 2023: repeated "
        "tokens decay in value; cap repeats at a small epoch count). "
        "A deterministic re-crawl injection (every 4th doc twice more, "
        "every 9th once more) simulates duplicated content; docs group "
        "by content hash per source, the cap keeps min(count, 2) "
        "copies, and the per-source report carries row/unique/dropped "
        "counts, the post-cap token mass, and the duplication ratio. "
        "At 100 TB the groupBy shuffles 16-byte hashes with map-side "
        "partial counts (never texts — same shape as dedup_exact), "
        "and the report is |sources| rows. Integer sums are BIGINT on "
        "both engines; the ratio rounds at 1e-4."
    ),
)
def corpus_repetition_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dup-capped sampling plan over an injected re-crawl."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "source", "text")

    def shifted(mod: int, shift: int) -> DataFrame:
        return base.where(F.col("doc_id") % mod == 0).select(
            (F.col("doc_id") + shift).alias("doc_id"), "source", "text"
        )

    rep = (
        base.unionByName(shifted(4, 1_000_000))
        .unionByName(shifted(4, 2_000_000))
        .unionByName(shifted(9, 3_000_000))
    )
    g = rep.groupBy("source", F.md5("text").alias("h")).agg(
        F.count("*").alias("cnt"),
        F.max(F.size(F.split(F.col("text"), " "))).alias("tok"),
    )
    capped = g.withColumn("kept", F.least(F.col("cnt"), F.lit(2)))
    return capped.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_unique"),
        F.sum(F.col("cnt") - F.col("kept")).cast("long").alias("n_dropped"),
        F.sum(F.col("kept") * F.col("tok")).cast("long").alias("kept_tokens"),
        rnd(F.sum("cnt") * F.lit(1.0) / F.count("*"), 4).alias("dup_ratio"),
    )

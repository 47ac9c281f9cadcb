"""Wave-12 pipeline ops (round 12, sixth batch) — mergeable
heavy-hitter sketches, z-order layout pruning, cluster-balanced
sampling and embedding isotropy.

Four capabilities extending the sketch/layout/sampling story:

- ``text_heavy_hitters_mg``: Misra-Gries heavy hitters with MERGEABLE
  per-partition summaries (Agarwal et al. 2012) — the top-k sketch
  whose deterministic guarantees (undercount <= n/(k+1), guaranteed
  detection above the bound) are emitted as checked booleans against
  the exact counts, the agg_quantile_sketch_audit pattern for
  partition-order-dependent estimates.
- ``lakehouse_zorder_layout_audit``: Morton/z-order interleaved-bit
  clustering vs natural key order — per-bucket min/max spans and the
  fraction of buckets a point-range probe grid can skip; the
  data-layout audit behind OPTIMIZE ZORDER decisions.
- ``corpus_cluster_balanced_sample``: cluster-stratified downsampling
  — at most 16 hash-rank winners per SemDeDup cell; the diverse-
  subset selection step run after semantic dedup, mergeable and
  retry-idempotent like sample_reservoir_hash.
- ``emb_isotropy_audit``: embedding-space isotropy report (Mu &
  Viswanath 2018, Ethayarajh 2019) — anisotropy ratio
  ||mean||^2 / E||v||^2, mean adjacent-pair cosine, and the top-16
  dimension variance share; the audit run before trusting cosine
  geometry for dedup/retrieval.

Same discipline as waves 7-11: integer-exact where a comparison or a
cross-partition sum follows, identical aliases, BIGINT casts on DuckDB
sums; the one Python stage (the MG sketch) is an Arrow-batched
mapInPandas with a nested body (bare-session cloudpickle rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from python_kinesis_streaming_spark.functions.rounding import rnd, sql_rnd
from python_kinesis_streaming_spark.functions.vectors import sq_norm
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters with mergeable per-partition summaries
# ---------------------------------------------------------------------------

_MG_K = 64


@op(
    "text_heavy_hitters_mg",
    oracle=f"""
        WITH tok AS (
            SELECT unnest(string_split(text, ' ')) AS word
            FROM documents
        ),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM tok),
        cf AS (
            SELECT word, CAST(count(*) AS BIGINT) AS exact_cf
            FROM tok GROUP BY word
        ),
        top AS (
            SELECT * FROM cf ORDER BY exact_cf DESC, word LIMIT 10
        )
        SELECT word, exact_cf, n.n_tokens,
               CAST(floor(n.n_tokens / {_MG_K + 1}.0) AS BIGINT)
                   AS bound,
               CAST(CASE WHEN exact_cf > floor(n.n_tokens
                                               / {_MG_K + 1}.0)
                    THEN 1 ELSE 0 END AS BIGINT) AS detect_guaranteed,
               -- the sketch guarantees make these identically true;
               -- the Spark side COMPUTES them from the live sketch
               CAST(1 AS BIGINT) AS found_ok,
               CAST(1 AS BIGINT) AS est_within_bound
        FROM top CROSS JOIN n
    """,
    scale=(
        "Misra-Gries heavy hitters with MERGEABLE summaries (Agarwal "
        "et al. 2012): each partition keeps k={k} counters (batch "
        "form — add the Arrow batch's value_counts, then subtract the "
        "(k+1)-th largest and drop non-positives), and the merge is a "
        "plain per-word SUM of the partition summaries — total "
        "undercount <= n/(k+1) because every decrement retires k+1 "
        "mass. The sketch estimate is partition-order-dependent, so "
        "it is NEVER emitted (the percentile_approx lesson): the "
        "output is the exact top-10 (second pass, map-side combine) "
        "plus the CHECKED guarantees — any word with cf > n/(k+1) "
        "must appear in the merged sketch, and every estimate lies in "
        "[cf - n/(k+1), cf]. Both booleans are theorems; computing "
        "them from the live sketch each run is the audit. 100 TB: "
        "the sketch pass moves k rows per partition, the exact pass "
        "only exists to grade it at test scale."
    ).format(k=_MG_K),
)
def text_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 words + checked Misra-Gries sketch guarantees
    (detection above n/(k+1), estimate within the undercount bound)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("word"))
    k = _MG_K

    def mg_partition(batches):
        # nested body: cloudpickle by value (bare-session rule)
        import pandas as pd

        counters: dict[str, int] = {}
        for pdf in batches:
            vc = pdf["word"].value_counts()
            for w, c in vc.items():
                counters[w] = counters.get(w, 0) + int(c)
            if len(counters) > k:
                vals = sorted(counters.values(), reverse=True)
                thresh = vals[k]  # (k+1)-th largest
                counters = {
                    w: c - thresh for w, c in counters.items() if c > thresh
                }
        yield pd.DataFrame(
            {
                "word": list(counters.keys()),
                "est": [counters[w] for w in counters],
            }
        )

    sketch = (
        tok.mapInPandas(mg_partition, "word string, est long")
        .groupBy("word")
        .agg(F.sum("est").cast("long").alias("est"))
    )
    n = tok.agg(F.count(F.lit(1)).cast("long").alias("n_tokens"))
    cf = tok.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("exact_cf")
    )
    top = cf.orderBy(F.desc("exact_cf"), "word").limit(10)
    bound = F.floor(F.col("n_tokens") / F.lit(float(k + 1))).cast("long")
    est0 = F.coalesce(F.col("est"), F.lit(0))
    return (
        top.crossJoin(F.broadcast(n))
        .join(sketch, "word", "left")
        .select(
            "word",
            "exact_cf",
            "n_tokens",
            bound.alias("bound"),
            F.when(F.col("exact_cf") > bound, 1)
            .otherwise(0)
            .cast("long")
            .alias("detect_guaranteed"),
            # guaranteed-detectable words MUST be in the sketch
            F.when(
                (F.col("exact_cf") <= bound) | F.col("est").isNotNull(), 1
            )
            .otherwise(0)
            .cast("long")
            .alias("found_ok"),
            # every estimate lies in [cf - bound, cf]
            F.when(
                (est0 <= F.col("exact_cf"))
                & (F.col("exact_cf") - est0 <= bound),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("est_within_bound"),
        )
    )


# ---------------------------------------------------------------------------
# z-order layout pruning audit
# ---------------------------------------------------------------------------

def _interleave_sql(nx: str, ny: str) -> str:
    """Morton interleave of two 10-bit ints as one closed-form bit
    expression (identical text feeds both engines — map-only, no spine
    join, no shuffle)."""
    terms = []
    for i in range(10):
        terms.append(f"((({nx} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({ny} >> {i}) & 1) << {2 * i})")
    return " | ".join(terms)


#: 4x4 probe grid centers (10-bit coordinate space), half-width 64.
_PROBE_CENTERS = [128, 384, 640, 896]
_PROBE_HALF = 64


@op(
    "lakehouse_zorder_layout_audit",
    oracle=f"""
        WITH ext AS (
            SELECT CAST(min(o_custkey) AS BIGINT) AS minc,
                   CAST(max(o_custkey) AS BIGINT) AS maxc,
                   CAST(min(o_orderdate) AS DATE) AS mind,
                   CAST(max(o_orderdate) AS DATE) AS maxd,
                   CAST(min(o_orderkey) AS BIGINT) AS mink,
                   CAST(max(o_orderkey) AS BIGINT) AS maxk
            FROM orders
        ),
        norm AS (
            SELECT ((o_custkey - minc) * 1023) // (maxc - minc) AS nx,
                   (CAST(date_diff('day', mind, CAST(o_orderdate AS DATE))
                         AS BIGINT) * 1023)
                       // CAST(date_diff('day', mind, maxd) AS BIGINT)
                       AS ny,
                   ((o_orderkey - mink) * 255) // (maxk - mink)
                       AS natural_bucket
            FROM orders CROSS JOIN ext
        ),
        z AS (
            SELECT nx, ny, natural_bucket,
                   ({_interleave_sql('nx', 'ny')}) >> 12 AS z_bucket
            FROM norm
        ),
        buckets AS (
            SELECT 'zorder' AS layout, z_bucket AS bucket,
                   CAST(min(nx) AS BIGINT) AS min_x,
                   CAST(max(nx) AS BIGINT) AS max_x,
                   CAST(min(ny) AS BIGINT) AS min_y,
                   CAST(max(ny) AS BIGINT) AS max_y
            FROM z GROUP BY z_bucket
            UNION ALL
            SELECT 'natural' AS layout, natural_bucket AS bucket,
                   CAST(min(nx) AS BIGINT), CAST(max(nx) AS BIGINT),
                   CAST(min(ny) AS BIGINT), CAST(max(ny) AS BIGINT)
            FROM z GROUP BY natural_bucket
        ),
        probes AS (
            SELECT cx.c AS qx, cy.c AS qy
            FROM (VALUES {", ".join(f"({c})" for c in _PROBE_CENTERS)})
                     cx(c)
            CROSS JOIN (VALUES {", ".join(f"({c})" for c in _PROBE_CENTERS)})
                     cy(c)
        ),
        scans AS (
            SELECT b.layout, p.qx, p.qy,
                   CAST(count(*) AS BIGINT) AS n_buckets,
                   CAST(sum(CASE WHEN b.max_x >= p.qx - {_PROBE_HALF}
                                  AND b.min_x <= p.qx + {_PROBE_HALF}
                                  AND b.max_y >= p.qy - {_PROBE_HALF}
                                  AND b.min_y <= p.qy + {_PROBE_HALF}
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_scanned
            FROM buckets b CROSS JOIN probes p
            GROUP BY b.layout, p.qx, p.qy
        )
        SELECT layout,
               CAST(max(n_buckets) AS BIGINT) AS n_buckets,
               CAST(sum(n_scanned) AS BIGINT) AS total_scanned,
               {sql_rnd(
                   "1.0 - sum(n_scanned) * 1.0"
                   " / (max(n_buckets) * count(*))", 4
               )} AS avg_skip_frac
        FROM scans GROUP BY layout
    """,
    scale=(
        "Z-order clustering audit — the decision data behind OPTIMIZE "
        "ZORDER BY (custkey, orderdate): both dims normalize to 10 "
        "bits (exact integer rank arithmetic from broadcast min/max), "
        "Morton-interleave by a closed-form bit expression (map-only, "
        "whole-stage codegen — no spine join), and the top 8 z-bits "
        "define 256 'files'. Per bucket min/max of each dim is "
        "exactly the parquet zone-map a scan would prune on; a 4x4 "
        "grid of point-range probes (+-64 in each dim) counts the "
        "buckets whose zone-maps overlap. The audit's verdict on this "
        "fixture: natural (orderkey) order leaves every bucket "
        "spanning the full custkey range (skip ~ 0), z-order bounds "
        "both spans so most probes skip most buckets — the measured "
        "justification for layout rewrites. 100 TB: one map pass + a "
        "256-key agg + a 16-row literal probe cross; all counts "
        "BIGINT-exact."
    ),
)
def lakehouse_zorder_layout_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Zone-map pruning power of z-order vs natural-key bucketing on
    orders (256 buckets, 4x4 point-range probe grid)."""
    orders = load_table(spark, sf_dir, "orders")
    ext = orders.agg(
        F.min("o_custkey").cast("long").alias("minc"),
        F.max("o_custkey").cast("long").alias("maxc"),
        F.min(F.col("o_orderdate").cast("date")).alias("mind"),
        F.max(F.col("o_orderdate").cast("date")).alias("maxd"),
        F.min("o_orderkey").cast("long").alias("mink"),
        F.max("o_orderkey").cast("long").alias("maxk"),
    )
    norm = orders.crossJoin(F.broadcast(ext)).select(
        F.expr("(o_custkey - minc) * 1023 DIV (maxc - minc)").alias("nx"),
        F.expr(
            "CAST(datediff(CAST(o_orderdate AS DATE), mind) AS BIGINT)"
            " * 1023 DIV CAST(datediff(maxd, mind) AS BIGINT)"
        ).alias("ny"),
        F.expr("(o_orderkey - mink) * 255 DIV (maxk - mink)").alias(
            "natural_bucket"
        ),
    )
    z = norm.withColumn(
        "z_bucket",
        F.expr(f"({_interleave_sql('nx', 'ny')}) >> 12"),
    )
    spans = lambda bucket_col, layout: (  # noqa: E731
        z.groupBy(F.col(bucket_col).alias("bucket"))
        .agg(
            F.min("nx").cast("long").alias("min_x"),
            F.max("nx").cast("long").alias("max_x"),
            F.min("ny").cast("long").alias("min_y"),
            F.max("ny").cast("long").alias("max_y"),
        )
        .withColumn("layout", F.lit(layout))
    )
    buckets = spans("z_bucket", "zorder").unionByName(
        spans("natural_bucket", "natural")
    )
    centers = F.array(*[F.lit(c) for c in _PROBE_CENTERS])
    probes = (
        spark.range(1)
        .select(F.explode(centers).alias("qx"))
        .crossJoin(spark.range(1).select(F.explode(centers).alias("qy")))
    )
    h = _PROBE_HALF
    scans = (
        buckets.crossJoin(F.broadcast(probes))
        .groupBy("layout", "qx", "qy")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.sum(
                F.when(
                    (F.col("max_x") >= F.col("qx") - h)
                    & (F.col("min_x") <= F.col("qx") + h)
                    & (F.col("max_y") >= F.col("qy") - h)
                    & (F.col("min_y") <= F.col("qy") + h),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_scanned"),
        )
    )
    return scans.groupBy("layout").agg(
        F.max("n_buckets").cast("long").alias("n_buckets"),
        F.sum("n_scanned").cast("long").alias("total_scanned"),
        rnd(
            F.lit(1.0)
            - F.sum("n_scanned")
            * F.lit(1.0)
            / (F.max("n_buckets") * F.count(F.lit(1))),
            4,
        ).alias("avg_skip_frac"),
    )


# ---------------------------------------------------------------------------
# cluster-balanced sampling over SemDeDup cells
# ---------------------------------------------------------------------------

_CLUSTER_CAP = 16


@op(
    "corpus_cluster_balanced_sample",
    oracle=f"""
        WITH cent AS (
            SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
            FROM embeddings WHERE vec_id < 8
        ),
        assigned AS (
            SELECT e.vec_id, e.label,
                   min_by(c.cid,
                          CAST(floor(list_sum(list_transform(range(1, 65),
                               i -> (e.embedding[CAST(i AS INTEGER)]::DOUBLE
                                     - c.cv[CAST(i AS INTEGER)]) ^ 2))
                               * 1000000.0 + 0.505) AS BIGINT) * 8 + c.cid)
                       AS cid
            FROM embeddings e, cent c
            GROUP BY e.vec_id, e.label
        ),
        ranked AS (
            SELECT cid, vec_id, label,
                   CAST(row_number() OVER (
                       PARTITION BY cid
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                   ) AS BIGINT) AS rk
            FROM assigned
        ),
        mem AS (
            SELECT cid, CAST(count(*) AS BIGINT) AS n_members
            FROM assigned GROUP BY cid
        ),
        samp AS (
            SELECT cid,
                   CAST(count(*) AS BIGINT) AS n_sampled,
                   CAST(count(DISTINCT label) AS BIGINT)
                       AS n_labels_sampled
            FROM ranked WHERE rk <= {_CLUSTER_CAP} GROUP BY cid
        )
        SELECT m.cid, m.n_members,
               CAST(COALESCE(s.n_sampled, 0) AS BIGINT) AS n_sampled,
               CAST(COALESCE(s.n_labels_sampled, 0) AS BIGINT)
                   AS n_labels_sampled,
               {sql_rnd(
                   "COALESCE(s.n_sampled, 0) * 1.0 / m.n_members", 4
               )} AS sample_frac
        FROM mem m LEFT JOIN samp s ON s.cid = m.cid
    """,
    scale=(
        "Cluster-balanced downsampling — the diverse-subset step run "
        "after SemDeDup: at most {cap} winners per k-means cell, "
        "chosen by md5(vec_id) hash-rank (content-stable, mergeable, "
        "retry-idempotent — the sample_reservoir_hash argument, "
        "applied per cell), so dominant clusters are capped instead "
        "of dominating the training mix. Cell assignment is the "
        "shared deterministic broadcast-centroid integer-ordinal "
        "argmin (emb_kmeans_one_iter / SemDeDup); the rank window is "
        "PARTITIONED BY cell (per-key heaps at scale). The audit "
        "reports per-cell membership, sample size, label diversity "
        "of the winners, and the realized sampling fraction. 100 TB: "
        "k grows with the corpus so cells stay bounded; the sample "
        "is a per-cell top-{cap} — no global sort, no RNG state."
    ).format(cap=_CLUSTER_CAP),
)
def corpus_cluster_balanced_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-SemDeDup-cell hash-rank sample (cap 16): membership, sample
    size, label diversity, realized fraction."""
    from python_kinesis_streaming_spark.llm.wave7 import (
        _semdedup_assigned_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    assigned, _ = _semdedup_assigned_pairs(spark, sf_dir)
    labeled = assigned.select("vec_id", "cid").join(emb, "vec_id")
    ranked = labeled.withColumn(
        "rk",
        F.row_number()
        .over(
            Window.partitionBy("cid").orderBy(
                F.md5(F.col("vec_id").cast("string")), "vec_id"
            )
        )
        .cast("long"),
    )
    mem = labeled.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    samp = (
        ranked.where(F.col("rk") <= _CLUSTER_CAP)
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sampled"),
            F.countDistinct("label").cast("long").alias("n_labels_sampled"),
        )
    )
    return mem.join(samp, "cid", "left").select(
        "cid",
        "n_members",
        F.coalesce(F.col("n_sampled"), F.lit(0))
        .cast("long")
        .alias("n_sampled"),
        F.coalesce(F.col("n_labels_sampled"), F.lit(0))
        .cast("long")
        .alias("n_labels_sampled"),
        rnd(
            F.coalesce(F.col("n_sampled"), F.lit(0))
            * F.lit(1.0)
            / F.col("n_members"),
            4,
        ).alias("sample_frac"),
    )


# ---------------------------------------------------------------------------
# embedding isotropy audit
# ---------------------------------------------------------------------------


@op(
    "emb_isotropy_audit",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        x AS (
            SELECT vec_id, CAST(u.i AS INTEGER) AS j, v[u.i + 1] AS x
            FROM e, unnest(range(0, 64)) AS u(i)
        ),
        dim AS (
            SELECT j,
                   {sql_rnd("avg(x)", 6)} AS c,
                   {sql_rnd("var_pop(x)", 6)} AS variance
            FROM x GROUP BY j
        ),
        cn AS (
            SELECT CAST(sum(CAST(floor(c * c * 1000000000.0 + 0.505)
                        AS BIGINT)) AS BIGINT) AS cn_nano
            FROM dim
        ),
        vshare AS (
            SELECT CAST(sum(CASE WHEN rk <= 16 THEN v_micro ELSE 0 END)
                        AS BIGINT) AS top16_micro,
                   CAST(sum(v_micro) AS BIGINT) AS total_micro
            FROM (
                SELECT CAST(floor(variance * 1000000.0 + 0.505)
                            AS BIGINT) AS v_micro,
                       row_number() OVER (ORDER BY variance DESC, j)
                           AS rk
                FROM dim
            )
        ),
        nn AS (
            -- per-row norm^2 frozen to integer micro BEFORE the N-row
            -- cross-partition sum (order-free BIGINT addition)
            SELECT CAST(count(*) AS BIGINT) AS n_vecs,
                   CAST(sum(CAST(floor(
                       list_sum(list_transform(v, t -> t * t))
                       * 1000000.0 + 0.505) AS BIGINT)) AS BIGINT)
                       AS nsq_micro_sum
            FROM e
        ),
        adj AS (
            SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(sum(CAST(floor(list_cosine_similarity(a.v, b.v)
                        * 1000000.0 + 0.505) AS BIGINT)) AS BIGINT)
                       AS cos_micro_sum
            FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
        )
        SELECT nn.n_vecs,
               {sql_rnd(
                   "nn.nsq_micro_sum / (1000000.0 * nn.n_vecs)", 4
               )} AS mean_norm_sq,
               {sql_rnd("cn.cn_nano / 1000000000.0", 6)}
                   AS centroid_norm_sq,
               {sql_rnd(
                   "(cn.cn_nano / 1000000000.0)"
                   " / (nn.nsq_micro_sum / (1000000.0 * nn.n_vecs))", 6
               )} AS anisotropy,
               {sql_rnd(
                   "adj.cos_micro_sum / (1000000.0 * adj.n_pairs)", 4
               )} AS mean_adjacent_cos,
               {sql_rnd(
                   "vshare.top16_micro * 1.0 / vshare.total_micro", 4
               )} AS top16_var_share
        FROM nn CROSS JOIN cn CROSS JOIN adj CROSS JOIN vshare
    """,
    scale=(
        "Embedding-space isotropy report (Mu & Viswanath 2018; "
        "Ethayarajh 2019): anisotropy = ||mean vector||^2 / "
        "E[||v||^2] (0 for a perfectly centered space, ->1 when one "
        "direction dominates), the mean cosine between adjacent-id "
        "pairs (the cheap deterministic stand-in for expected random-"
        "pair cosine — high values mean cosine thresholds lose "
        "resolution), and the variance share of the top-16 of 64 "
        "dimensions (the all-but-the-top signal). Determinism: "
        "per-dim means/variances round at 1e-6 BEFORE squaring/"
        "ranking, then freeze to integer nano/micro units before the "
        "64-term cross-dim sums; pair cosines freeze to micro before "
        "the pair-count-wide sum. The adjacent-pair join is N rows "
        "(vec_id+1 equi-join), never all-pairs. 100 TB: two map "
        "passes + a 64-key agg + an N-row self-equi-join; this audit "
        "gates every cosine-threshold op (SemDeDup tau, dedup eps) "
        "upstream."
    ),
)
def emb_isotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row isotropy report: anisotropy ratio, adjacent-pair mean
    cosine, top-16 variance share."""
    from python_kinesis_streaming_spark.functions.vectors import cosine

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    x = emb.select("vec_id", F.posexplode(F.col("v")).alias("j", "x"))
    dim = x.groupBy("j").agg(
        rnd(F.avg("x"), 6).alias("c"),
        rnd(F.var_pop("x"), 6).alias("variance"),
    )
    cn = dim.agg(
        F.sum(
            F.floor(
                F.col("c") * F.col("c") * F.lit(1000000000.0) + F.lit(0.505)
            ).cast("long")
        )
        .cast("long")
        .alias("cn_nano")
    )
    vshare = (
        dim.withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("variance"), "j")),
        )
        .select(
            F.floor(F.col("variance") * F.lit(1000000.0) + F.lit(0.505))
            .cast("long")
            .alias("v_micro"),
            "rk",
        )
        .agg(
            F.sum(F.when(F.col("rk") <= 16, F.col("v_micro")).otherwise(0))
            .cast("long")
            .alias("top16_micro"),
            F.sum("v_micro").cast("long").alias("total_micro"),
        )
    )
    norm_sq = sq_norm("v")
    # freeze per-row norm^2 to integer micro BEFORE the N-row sum —
    # cross-partition double sums are order-dependent, BIGINTs are not
    nn = emb.agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum(
            F.floor(norm_sq * F.lit(1000000.0) + F.lit(0.505)).cast("long")
        )
        .cast("long")
        .alias("nsq_micro_sum"),
    )
    a, b = emb.alias("a"), emb.alias("b")
    adj = (
        a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1)
        .select(
            F.floor(
                cosine(F.col("a.v"), F.col("b.v")) * F.lit(1000000.0)
                + F.lit(0.505)
            )
            .cast("long")
            .alias("cos_micro")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("cos_micro").cast("long").alias("cos_micro_sum"),
        )
    )
    return (
        nn.crossJoin(F.broadcast(cn))
        .crossJoin(F.broadcast(adj))
        .crossJoin(F.broadcast(vshare))
        .select(
            "n_vecs",
            rnd(
                F.col("nsq_micro_sum")
                / (F.lit(1000000.0) * F.col("n_vecs")),
                4,
            ).alias("mean_norm_sq"),
            rnd(F.col("cn_nano") / F.lit(1000000000.0), 6).alias(
                "centroid_norm_sq"
            ),
            rnd(
                (F.col("cn_nano") / F.lit(1000000000.0))
                / (
                    F.col("nsq_micro_sum")
                    / (F.lit(1000000.0) * F.col("n_vecs"))
                ),
                6,
            ).alias("anisotropy"),
            rnd(
                F.col("cos_micro_sum")
                / (F.lit(1000000.0) * F.col("n_pairs")),
                4,
            ).alias("mean_adjacent_cos"),
            rnd(
                F.col("top16_micro") * F.lit(1.0) / F.col("total_micro"), 4
            ).alias("top16_var_share"),
        )
    )

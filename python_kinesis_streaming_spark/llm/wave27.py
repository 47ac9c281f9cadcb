"""Round-14 wave-27 ops (SURVEY §2.39): probabilistic membership,
cluster geometry, segment-vs-aggregate honesty, clustered-sampling
variance.

- ``agg_bloom_membership_audit``: a deterministic Bloom filter built
  relationally (k=4 md5 positions into m=65536 bits), probed over
  the whole key universe — measured false-positive rate plus the
  NO-FALSE-NEGATIVE theorem as a boolean (the fourth mergeable
  structure after MG / count-min / the quantile summary: bit sets
  OR-merge).
- ``emb_cluster_separation_db_index``: Davies-Bouldin index over the
  16 sign-bit cells — within-cell spread vs between-centroid
  distance, the geometry audit behind every "cells bound the pair
  space" claim the SemDeDup/ANN family makes.
- ``events_simpson_paradox_check``: per-segment vs aggregate A/B
  lift signs with EXACT BIGINT cross-multiplication — the classic
  reversal (every segment agrees, the aggregate disagrees) detected
  without a single float comparison.
- ``sample_cluster_design_effect``: DEFF = 1 + (m0-1)*ICC from the
  one-way ANOVA moment decomposition over user clusters — how much
  user-clustered sampling inflates variance vs SRS (the
  experiment-design constant CUPED/power calculations silently
  assume is 1).

Same discipline as waves 7-26: exact integers before any
cross-partition sum (squared-cents terms frozen to WHOLE units —
the wave-15/26 overflow lesson), identical aliases both engines,
BIGINT casts in oracles, 1.0::DOUBLE where sums multiply, literal
grids, bounded windows, broadcast-bounded joins; no exp/pow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from python_kinesis_streaming_spark.functions.rounding import cents, rnd, sql_rnd
from python_kinesis_streaming_spark.llm.dedup import md5_hash64, _sql_hash64
from python_kinesis_streaming_spark.llm.similarity import vectors
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Bloom filter membership audit
# ---------------------------------------------------------------------------

#: filter geometry: m bits, k seeded hash positions per key
_BF_M = 65536
_BF_K = 4


@op(
    "agg_bloom_membership_audit",
    oracle=f"""
        WITH members AS (
            -- acctbal predicate: a PROPER subset (every custkey has
            -- orders in this fixture, so the semi-join set would
            -- leave zero non-members to measure FPR on)
            SELECT c_custkey AS key FROM customer
            WHERE c_acctbal > 5000
        ),
        universe AS (SELECT c_custkey AS key FROM customer),
        seeds AS (SELECT CAST(u.s AS BIGINT) AS s
                  FROM unnest(range(0, {_BF_K})) AS u(s)),
        bits AS (
            SELECT DISTINCT
                   {_sql_hash64("s || ':' || CAST(m.key AS VARCHAR)")}
                       % {_BF_M} AS pos
            FROM members m CROSS JOIN seeds
        ),
        probes AS (
            SELECT u.key, s.s,
                   {_sql_hash64("s.s || ':' || CAST(u.key AS VARCHAR)")}
                       % {_BF_M} AS pos
            FROM universe u CROSS JOIN seeds s
        ),
        hits AS (
            SELECT p.key,
                   CAST(count(b.pos) AS BIGINT) AS n_hit
            FROM probes p LEFT JOIN bits b ON b.pos = p.pos
            GROUP BY p.key
        ),
        cls AS (
            SELECT h.key, (h.n_hit = {_BF_K}) AS passes,
                   (m.key IS NOT NULL) AS is_member
            FROM hits h LEFT JOIN members m ON m.key = h.key
        ),
        agg AS (
            SELECT CAST(sum(CASE WHEN is_member THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_members,
                   CAST(count(*) AS BIGINT) AS n_universe,
                   CAST(sum(CASE WHEN passes AND NOT is_member
                            THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_false_pos,
                   CAST(sum(CASE WHEN passes AND is_member
                            THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_member_pass
            FROM cls
        ),
        bs AS (SELECT CAST(count(*) AS BIGINT) AS bits_set FROM bits)
        SELECT a.n_members, a.n_universe,
               CAST(a.n_universe - a.n_members AS BIGINT)
                   AS n_nonmembers,
               bs.bits_set,
               {sql_rnd(f"bs.bits_set * 1.0 / {_BF_M}", 4)}
                   AS fill_share,
               a.n_false_pos,
               {sql_rnd(
                   "a.n_false_pos * 1.0"
                   " / (a.n_universe - a.n_members)", 6
               )} AS measured_fpr,
               (a.n_member_pass = a.n_members) AS no_false_negatives
        FROM agg a CROSS JOIN bs
    """,
    scale=(
        "The fourth mergeable structure (Misra-Gries -> count-min -> "
        "quantile summary -> THIS): a Bloom filter built "
        "relationally — k=4 md5-seeded positions into m=65536 bits, "
        "the bit set is a DISTINCT over member positions (OR-merge "
        "across shards is a set union, trivially associative). The "
        "whole key universe is probed: measured FPR over true "
        "non-members, the fill share, and the defining theorem as a "
        "boolean — a Bloom filter NEVER false-negatives, so every "
        "member must pass (both engines derive it from their own "
        "counts). join_bloom_prefilter USES this structure; this op "
        "prices it. Shape: a semi-join for membership, two k-seed "
        "fan-outs, one position equi-join against the broadcast "
        "65k-row bit set, two aggs. 100 TB: exactly how distributed "
        "bloom build/probe works — per-partition bit sets OR-merge."
    ),
)
def agg_bloom_membership_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Measured Bloom FPR + the no-false-negative theorem boolean."""
    cust = load_table(spark, sf_dir, "customer")
    # acctbal predicate: a PROPER subset (every custkey has orders in
    # this fixture — a semi-join set leaves no non-members)
    members = cust.where(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("key")
    )
    universe = cust.select(F.col("c_custkey").alias("key"))
    seeds = spark.range(_BF_K).select(F.col("id").alias("s"))
    bits = (
        members.crossJoin(F.broadcast(seeds))
        .select(
            (
                md5_hash64(
                    F.concat_ws(
                        ":", F.col("s"), F.col("key").cast("string")
                    )
                )
                % _BF_M
            ).alias("pos")
        )
        .distinct()
    )
    probes = universe.crossJoin(F.broadcast(seeds)).select(
        "key",
        (
            md5_hash64(
                F.concat_ws(":", F.col("s"), F.col("key").cast("string"))
            )
            % _BF_M
        ).alias("pos"),
    )
    hits = (
        probes.join(
            F.broadcast(bits.select(F.col("pos").alias("bpos"))),
            F.col("bpos") == F.col("pos"),
            "left",
        )
        .groupBy("key")
        .agg(F.count("bpos").cast("long").alias("n_hit"))
    )
    cls = hits.join(
        F.broadcast(members.select(F.col("key").alias("mkey"))),
        F.col("mkey") == F.col("key"),
        "left",
    ).select(
        (F.col("n_hit") == _BF_K).alias("passes"),
        F.col("mkey").isNotNull().alias("is_member"),
    )
    agg = cls.agg(
        F.sum(F.when(F.col("is_member"), 1).otherwise(0))
        .cast("long")
        .alias("n_members"),
        F.count(F.lit(1)).cast("long").alias("n_universe"),
        F.sum(
            F.when(F.col("passes") & ~F.col("is_member"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_false_pos"),
        F.sum(
            F.when(F.col("passes") & F.col("is_member"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_member_pass"),
    )
    bs = bits.agg(F.count(F.lit(1)).cast("long").alias("bits_set"))
    return agg.crossJoin(F.broadcast(bs)).select(
        "n_members",
        "n_universe",
        (F.col("n_universe") - F.col("n_members"))
        .cast("long")
        .alias("n_nonmembers"),
        "bits_set",
        rnd(F.col("bits_set") * F.lit(1.0) / F.lit(float(_BF_M)), 4).alias(
            "fill_share"
        ),
        "n_false_pos",
        rnd(
            F.col("n_false_pos")
            * F.lit(1.0)
            / (F.col("n_universe") - F.col("n_members")),
            6,
        ).alias("measured_fpr"),
        (F.col("n_member_pass") == F.col("n_members")).alias(
            "no_false_negatives"
        ),
    )


# ---------------------------------------------------------------------------
# Davies-Bouldin separation of the sign-bit cells
# ---------------------------------------------------------------------------


@op(
    "emb_cluster_separation_db_index",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        cell AS (
            SELECT vec_id, v,
                   CAST((CASE WHEN v[1] >= 0 THEN 8 ELSE 0 END)
                      + (CASE WHEN v[2] >= 0 THEN 4 ELSE 0 END)
                      + (CASE WHEN v[3] >= 0 THEN 2 ELSE 0 END)
                      + (CASE WHEN v[4] >= 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS cid
            FROM e
        ),
        x AS (
            SELECT vec_id, cid, CAST(u.j AS BIGINT) AS j,
                   CAST(floor(v[CAST(u.j AS INTEGER) + 1] * 1000000.0
                        + 0.505) AS BIGINT) AS xm
            FROM cell, unnest(range(0, 64)) AS u(j)
        ),
        cen AS (
            -- per-(cell, dim) centroid from order-free BIGINT
            -- moments, frozen at 1e-6
            SELECT cid, j,
                   {sql_rnd("sum(xm) / (1000000.0::DOUBLE * count(*))",
                            6)} AS c
            FROM x GROUP BY cid, j
        ),
        dvec AS (
            -- per-vector squared distance to the own centroid:
            -- per-coordinate terms micro-frozen, summed as BIGINTs
            SELECT x.vec_id, x.cid,
                   CAST(sum(CAST(floor(
                       (x.xm / 1000000.0 - cen.c)
                       * (x.xm / 1000000.0 - cen.c)
                       * 1000000.0 + 0.505) AS BIGINT)) AS BIGINT)
                       AS d2_micro
            FROM x JOIN cen ON cen.cid = x.cid AND cen.j = x.j
            GROUP BY x.vec_id, x.cid
        ),
        spread AS (
            -- s_i = mean distance; sqrt on the frozen d2 (identical
            -- doubles), re-frozen per vector before the cell sum
            SELECT cid,
                   CAST(count(*) AS BIGINT) AS n_vecs,
                   CAST(sum(CAST(floor(sqrt(d2_micro / 1000000.0)
                       * 1000000.0 + 0.505) AS BIGINT)) AS BIGINT)
                       AS s_micro
            FROM dvec GROUP BY cid
        ),
        cd AS (
            -- pairwise centroid distances over the 16x16 grid
            SELECT a.cid AS ci, b.cid AS cj,
                   floor(sqrt(sum((a.c - b.c) * (a.c - b.c)))
                         * 1000000.0 + 0.505) / 1000000.0 AS dij
            FROM cen a JOIN cen b ON b.j = a.j AND b.cid <> a.cid
            GROUP BY a.cid, b.cid
        ),
        ratio AS (
            -- R_ij = (s_i + s_j)/d_ij, frozen BEFORE the max
            SELECT cd.ci,
                   max(floor(
                       (sa.s_micro * 1.0::DOUBLE / (1000000.0 * sa.n_vecs)
                        + sb.s_micro * 1.0::DOUBLE
                          / (1000000.0 * sb.n_vecs)) / cd.dij
                       * 1000000.0 + 0.505) / 1000000.0) AS db_i
            FROM cd
            JOIN spread sa ON sa.cid = cd.ci
            JOIN spread sb ON sb.cid = cd.cj
            GROUP BY cd.ci
        ),
        dbt AS (
            SELECT CAST(sum(CAST(floor(db_i * 1000000.0 + 0.505)
                        AS BIGINT)) AS BIGINT) AS db_micro,
                   CAST(count(*) AS BIGINT) AS k
            FROM ratio
        )
        SELECT s.cid AS cell, s.n_vecs,
               {sql_rnd("s.s_micro / (1000000.0 * s.n_vecs)", 4)}
                   AS mean_dist,
               {sql_rnd("r.db_i", 4)} AS db_i,
               {sql_rnd("d.db_micro / (1000000.0 * d.k)", 4)}
                   AS db_index
        FROM spread s
        JOIN ratio r ON r.ci = s.cid
        CROSS JOIN dbt d
    """,
    scale=(
        "Davies-Bouldin index over the 16 sign-bit cells: within-cell "
        "mean distance to the centroid vs between-centroid distance, "
        "DB_i = max_j (s_i + s_j)/d_ij, index = mean DB_i. Low DB "
        "means the cells the SemDeDup/ANN family uses to bound pair "
        "spaces are REAL clusters; DB >> 1 means in-cell pairs are "
        "no closer than cross-cell pairs and the cell bound is "
        "cosmetic. Everything order-free: centroids from BIGINT "
        "moments (frozen 1e-6), per-coordinate squared terms "
        "micro-frozen before per-vector sums, sqrt only on frozen "
        "values, R_ij frozen BEFORE the per-cell max, DB_i "
        "micro-frozen before the final mean. Shape: one posexplode, "
        "a 1024-key centroid agg, one (cell,dim) equi-join back "
        "(broadcast centroids), a 16x16 centroid self-join, three "
        "tiny aggs. 100 TB: one data pass + k*d-bounded geometry."
    ),
)
def emb_cluster_separation_db_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-cell spread + DB_i + the global Davies-Bouldin index."""
    emb = vectors(spark, sf_dir)
    cid = (
        F.when(F.element_at("v", 1) >= 0, 8).otherwise(0)
        + F.when(F.element_at("v", 2) >= 0, 4).otherwise(0)
        + F.when(F.element_at("v", 3) >= 0, 2).otherwise(0)
        + F.when(F.element_at("v", 4) >= 0, 1).otherwise(0)
    ).cast("long")
    # x feeds the centroid agg AND the distance join — cached
    x = (
        emb.select("vec_id", cid.alias("cid"), "v")
        .select("vec_id", "cid", F.posexplode("v").alias("j", "xd"))
        .select(
            "vec_id",
            "cid",
            F.col("j").cast("long").alias("j"),
            F.floor(F.col("xd") * F.lit(1000000.0) + F.lit(0.505))
            .cast("long")
            .alias("xm"),
        )
        .cache()
    )
    # cen feeds the distance join AND both ends of the centroid
    # self-join — cached (1024 rows), so the explode+agg plans once
    cen = x.groupBy("cid", "j").agg(
        rnd(
            F.sum("xm") / (F.lit(1000000.0) * F.count(F.lit(1))), 6
        ).alias("c")
    ).cache()
    dvec = (
        x.join(
            F.broadcast(
                cen.select(
                    F.col("cid").alias("ccid"),
                    F.col("j").alias("cj"),
                    "c",
                )
            ),
            (F.col("ccid") == F.col("cid")) & (F.col("cj") == F.col("j")),
        )
        .groupBy("vec_id", "cid")
        .agg(
            F.sum(
                F.floor(
                    (F.col("xm") / F.lit(1000000.0) - F.col("c"))
                    * (F.col("xm") / F.lit(1000000.0) - F.col("c"))
                    * F.lit(1000000.0)
                    + F.lit(0.505)
                ).cast("long")
            )
            .cast("long")
            .alias("d2_micro")
        )
    )
    spread = dvec.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum(
            F.floor(
                F.sqrt(F.col("d2_micro") / F.lit(1000000.0))
                * F.lit(1000000.0)
                + F.lit(0.505)
            ).cast("long")
        )
        .cast("long")
        .alias("s_micro"),
    ).cache()  # 16 rows; feeds sa, sb and the final report
    a = cen.select(
        F.col("cid").alias("aci"), F.col("j").alias("aj"), F.col("c").alias("ac")
    )
    b = cen.select(
        F.col("cid").alias("bci"), F.col("j").alias("bj"), F.col("c").alias("bc")
    )
    cd = (
        a.join(
            b,
            (F.col("bj") == F.col("aj")) & (F.col("bci") != F.col("aci")),
        )
        .groupBy(F.col("aci").alias("ci"), F.col("bci").alias("cj"))
        .agg(
            (
                F.floor(
                    F.sqrt(
                        F.sum(
                            (F.col("ac") - F.col("bc"))
                            * (F.col("ac") - F.col("bc"))
                        )
                    )
                    * F.lit(1000000.0)
                    + F.lit(0.505)
                )
                / F.lit(1000000.0)
            ).alias("dij")
        )
    )
    sa = spread.select(
        F.col("cid").alias("sa_cid"),
        F.col("n_vecs").alias("sa_n"),
        F.col("s_micro").alias("sa_s"),
    )
    sb = spread.select(
        F.col("cid").alias("sb_cid"),
        F.col("n_vecs").alias("sb_n"),
        F.col("s_micro").alias("sb_s"),
    )
    ratio = (
        cd.join(F.broadcast(sa), F.col("sa_cid") == F.col("ci"))
        .join(F.broadcast(sb), F.col("sb_cid") == F.col("cj"))
        .groupBy("ci")
        .agg(
            F.max(
                F.floor(
                    (
                        F.col("sa_s")
                        * F.lit(1.0)
                        / (F.lit(1000000.0) * F.col("sa_n"))
                        + F.col("sb_s")
                        * F.lit(1.0)
                        / (F.lit(1000000.0) * F.col("sb_n"))
                    )
                    / F.col("dij")
                    * F.lit(1000000.0)
                    + F.lit(0.505)
                )
                / F.lit(1000000.0)
            ).alias("db_i")
        )
    ).cache()  # 16 rows; feeds the index mean and the report
    dbt = ratio.agg(
        F.sum(
            F.floor(F.col("db_i") * F.lit(1000000.0) + F.lit(0.505)).cast(
                "long"
            )
        )
        .cast("long")
        .alias("db_micro"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    return (
        spread.join(F.broadcast(ratio), F.col("ci") == F.col("cid"))
        .crossJoin(F.broadcast(dbt))
        .select(
            F.col("cid").alias("cell"),
            "n_vecs",
            rnd(
                F.col("s_micro") / (F.lit(1000000.0) * F.col("n_vecs")),
                4,
            ).alias("mean_dist"),
            rnd(F.col("db_i"), 4).alias("db_i"),
            rnd(
                F.col("db_micro") / (F.lit(1000000.0) * F.col("k")), 4
            ).alias("db_index"),
        )
    )


# ---------------------------------------------------------------------------
# Simpson's-paradox detector (exact signs)
# ---------------------------------------------------------------------------


@op(
    "events_simpson_paradox_check",
    oracle=f"""
        WITH t AS (
            SELECT event_type,
                   CAST(user_id % 2 AS BIGINT) AS arm,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM events
        ),
        seg AS (
            SELECT event_type,
                   CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_a,
                   CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_b,
                   CAST(sum(CASE WHEN arm = 0 THEN cents ELSE 0 END)
                        AS BIGINT) AS s_a,
                   CAST(sum(CASE WHEN arm = 1 THEN cents ELSE 0 END)
                        AS BIGINT) AS s_b
            FROM t GROUP BY event_type
        ),
        segs AS (
            -- EXACT lift sign by BIGINT cross-multiplication:
            -- sign(mean_b - mean_a) = sign(s_b*n_a - s_a*n_b)
            SELECT event_type, n_a, n_b, s_a, s_b,
                   CASE WHEN s_b * n_a > s_a * n_b THEN 1
                        WHEN s_b * n_a < s_a * n_b THEN -1
                        ELSE 0 END AS seg_sign
            FROM seg
        ),
        tot AS (
            SELECT CAST(sum(n_a) AS BIGINT) AS n_a,
                   CAST(sum(n_b) AS BIGINT) AS n_b,
                   CAST(sum(s_a) AS BIGINT) AS s_a,
                   CAST(sum(s_b) AS BIGINT) AS s_b
            FROM segs
        ),
        tsign AS (
            SELECT CASE WHEN s_b * n_a > s_a * n_b THEN 1
                        WHEN s_b * n_a < s_a * n_b THEN -1
                        ELSE 0 END AS overall_sign,
                   n_a, n_b, s_a, s_b
            FROM tot
        ),
        flag AS (
            SELECT CAST(sum(CASE WHEN s.seg_sign = ts.overall_sign
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
                   CAST(count(*) AS BIGINT) AS n_segments,
                   (count(*) = sum(CASE WHEN s.seg_sign
                                        = -ts.overall_sign
                                   THEN 1 ELSE 0 END))
                       AS simpson_reversal
            FROM segs s CROSS JOIN tsign ts
        )
        SELECT s.event_type, s.n_a, s.n_b,
               {sql_rnd("s.s_a * 1.0 / s.n_a", 2)} AS mean_a,
               {sql_rnd("s.s_b * 1.0 / s.n_b", 2)} AS mean_b,
               CAST(s.seg_sign AS BIGINT) AS seg_sign,
               CAST(ts.overall_sign AS BIGINT) AS overall_sign,
               f.n_agree, f.n_segments, f.simpson_reversal
        FROM segs s CROSS JOIN tsign ts CROSS JOIN flag f
    """,
    scale=(
        "Simpson's-paradox detector: the A/B lift sign per segment "
        "(event_type) and overall, ALL signs decided by exact BIGINT "
        "cross-multiplication (sign(s_b*n_a - s_a*n_b) — zero float "
        "comparisons anywhere near a boolean), plus the classic "
        "reversal flag: every segment pointing one way while the "
        "aggregate points the other. Segment moments sum to the "
        "aggregate moments BY CONSTRUCTION, so the op also "
        "demonstrates where the reversal comes from (weights). "
        "Overflow audit: s*n products are cents-sum x count <= "
        "1e10*1e7 at 100x fixture scale — inside int64. Shape: one "
        "map-side-combinable segment agg, two 1-row scalars, 5-row "
        "report. 100 TB: one pass; run it before trusting ANY "
        "aggregate lift that wasn't segment-checked."
    ),
)
def events_simpson_paradox_check(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-segment vs aggregate lift signs, exact; reversal flag."""
    ev = load_table(spark, sf_dir, "events")
    t = ev.select(
        "event_type",
        (F.col("user_id") % 2).cast("long").alias("arm"),
        cents().alias("cents"),
    )
    seg = t.groupBy("event_type").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("s_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("s_b"),
    )
    sign = (
        F.when(
            F.col("s_b") * F.col("n_a") > F.col("s_a") * F.col("n_b"), 1
        )
        .when(
            F.col("s_b") * F.col("n_a") < F.col("s_a") * F.col("n_b"),
            -1,
        )
        .otherwise(0)
    )
    # segs feeds the per-row report, the totals AND the flag — cached
    segs = seg.withColumn("seg_sign", sign).cache()
    tot = segs.agg(
        F.sum("n_a").cast("long").alias("n_a"),
        F.sum("n_b").cast("long").alias("n_b"),
        F.sum("s_a").cast("long").alias("s_a"),
        F.sum("s_b").cast("long").alias("s_b"),
    )
    tsign = tot.select(sign.alias("overall_sign"))
    flag = (
        segs.crossJoin(F.broadcast(tsign))
        .agg(
            F.sum(
                F.when(
                    F.col("seg_sign") == F.col("overall_sign"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_agree"),
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            (
                F.count(F.lit(1))
                == F.sum(
                    F.when(
                        F.col("seg_sign") == -F.col("overall_sign"), 1
                    ).otherwise(0)
                )
            ).alias("simpson_reversal"),
        )
    )
    return (
        segs.crossJoin(F.broadcast(tsign))
        .crossJoin(F.broadcast(flag))
        .select(
            "event_type",
            "n_a",
            "n_b",
            rnd(F.col("s_a") * F.lit(1.0) / F.col("n_a"), 2).alias(
                "mean_a"
            ),
            rnd(F.col("s_b") * F.lit(1.0) / F.col("n_b"), 2).alias(
                "mean_b"
            ),
            F.col("seg_sign").cast("long").alias("seg_sign"),
            F.col("overall_sign").cast("long").alias("overall_sign"),
            "n_agree",
            "n_segments",
            "simpson_reversal",
        )
    )


# ---------------------------------------------------------------------------
# clustered-sampling design effect
# ---------------------------------------------------------------------------


@op(
    "sample_cluster_design_effect",
    oracle=f"""
        WITH t AS (
            SELECT user_id,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM events
        ),
        per AS (
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n_u,
                   CAST(sum(cents) AS BIGINT) AS s1_u,
                   CAST(sum(cents * cents) AS BIGINT) AS s2_u
            FROM t GROUP BY user_id
        ),
        w2 AS (
            -- s1^2/n frozen to WHOLE cents^2 (the wave-15/26 int64
            -- lesson); n^2 exact
            SELECT user_id, n_u, s1_u, s2_u,
                   CAST(floor(s1_u * 1.0::DOUBLE * s1_u / n_u + 0.505)
                        AS BIGINT) AS t_int,
                   n_u * n_u AS n_sq
            FROM per
        ),
        tot AS (
            SELECT CAST(sum(n_u) AS BIGINT) AS n,
                   CAST(sum(s1_u) AS BIGINT) AS s1,
                   CAST(sum(s2_u) AS BIGINT) AS s2,
                   CAST(sum(t_int) AS BIGINT) AS t_int,
                   CAST(sum(n_sq) AS BIGINT) AS n_sq,
                   CAST(count(*) AS BIGINT) AS k
            FROM w2
        ),
        f AS (
            SELECT n, k,
                   (t_int * 1.0::DOUBLE - s1 * 1.0::DOUBLE * s1 / n)
                       / (k - 1) AS msb,
                   (s2 * 1.0::DOUBLE - t_int * 1.0::DOUBLE) / (n - k)
                       AS msw,
                   (n - n_sq * 1.0::DOUBLE / n) / (k - 1) AS m0,
                   n * 1.0::DOUBLE / k AS m_bar
            FROM tot
        )
        SELECT n AS n_events, k AS n_users,
               {sql_rnd("msb", 2)} AS ms_between,
               {sql_rnd("msw", 2)} AS ms_within,
               {sql_rnd("m0", 4)} AS m0_anova,
               {sql_rnd("m_bar", 4)} AS mean_cluster_size,
               {sql_rnd("(msb - msw) / (msb + (m0 - 1) * msw)", 6)}
                   AS icc,
               {sql_rnd(
                   "1.0 + (m_bar - 1.0)"
                   " * ((msb - msw) / (msb + (m0 - 1) * msw))", 4
               )} AS deff
        FROM f
    """,
    scale=(
        "Design effect of user-clustered sampling: DEFF = 1 + "
        "(m_bar - 1)*ICC with the ICC from the one-way ANOVA "
        "estimator over user clusters ((MSB - MSW)/(MSB + "
        "(m0 - 1)*MSW), m0 the ANOVA cluster-size constant). DEFF "
        "~1 means user-level randomization costs nothing; DEFF = 2 "
        "means every power calculation (events_power_analysis_mde) "
        "and CUPED read-out needs twice the users it thinks. All "
        "moments exact BIGINTs; s1^2/n frozen to WHOLE cents^2 (the "
        "wave-15/26 overflow lesson applied at authoring time, not "
        "discovered); the derivation is identical-order doubles on "
        "two scalar rows. Shape: one user-keyed agg, one 1-row "
        "total, 1-row report. 100 TB: the per-user agg is the "
        "sessionizer's shuffle; the design constant is free."
    ),
)
def sample_cluster_design_effect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-row clustered-sampling DEFF / ICC report."""
    ev = load_table(spark, sf_dir, "events")
    per = (
        ev.select(
            "user_id",
            cents().alias("cents"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_u"),
            F.sum("cents").cast("long").alias("s1_u"),
            F.sum(F.col("cents") * F.col("cents"))
            .cast("long")
            .alias("s2_u"),
        )
    )
    w2 = per.select(
        "n_u",
        "s1_u",
        "s2_u",
        F.floor(
            F.col("s1_u") * F.lit(1.0) * F.col("s1_u") / F.col("n_u")
            + F.lit(0.505)
        )
        .cast("long")
        .alias("t_int"),
        (F.col("n_u") * F.col("n_u")).alias("n_sq"),
    )
    tot = w2.agg(
        F.sum("n_u").cast("long").alias("n"),
        F.sum("s1_u").cast("long").alias("s1"),
        F.sum("s2_u").cast("long").alias("s2"),
        F.sum("t_int").cast("long").alias("t_int"),
        F.sum("n_sq").cast("long").alias("n_sq"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    msb = (
        F.col("t_int") * F.lit(1.0)
        - F.col("s1") * F.lit(1.0) * F.col("s1") / F.col("n")
    ) / (F.col("k") - 1)
    msw = (F.col("s2") * F.lit(1.0) - F.col("t_int") * F.lit(1.0)) / (
        F.col("n") - F.col("k")
    )
    m0 = (F.col("n") - F.col("n_sq") * F.lit(1.0) / F.col("n")) / (
        F.col("k") - 1
    )
    m_bar = F.col("n") * F.lit(1.0) / F.col("k")
    icc = (msb - msw) / (msb + (m0 - 1) * msw)
    return tot.select(
        F.col("n").alias("n_events"),
        F.col("k").alias("n_users"),
        rnd(msb, 2).alias("ms_between"),
        rnd(msw, 2).alias("ms_within"),
        rnd(m0, 4).alias("m0_anova"),
        rnd(m_bar, 4).alias("mean_cluster_size"),
        rnd(icc, 6).alias("icc"),
        rnd(F.lit(1.0) + (m_bar - F.lit(1.0)) * icc, 4).alias("deff"),
    )

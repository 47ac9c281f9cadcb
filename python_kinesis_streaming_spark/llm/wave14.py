"""Wave-14 pipeline ops (round 12, eighth batch) — Kneser-Ney
smoothing and count-min sketches.

Two capabilities extending the LM/sketch story:

- ``text_kneser_ney_bigram``: interpolated Kneser-Ney bigram
  probabilities (the canonical LM smoothing — absolute discount
  D=0.75 plus the continuation-probability backoff) for the top
  bigrams; every count is an exact integer, the probability a
  rational of BIGINTs.
- ``text_count_min_sketch_audit``: count-min sketch (Cormode &
  Muthukrishnan 2005; w=256, d=4, md5 rows) — the OVERcount dual of
  wave-12's Misra-Gries undercount sketch. CM counters are plain
  sums, so unlike MG the estimates are partition-order-FREE and can
  be emitted exactly, alongside the checked one-sided guarantee
  est >= cf.

Same discipline as waves 7-13: exact integers before any
cross-partition sum, identical aliases, BIGINT casts in oracles,
bounded candidate sets everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from python_kinesis_streaming_spark.functions.rounding import rnd, sql_rnd
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# interpolated Kneser-Ney bigram probabilities
# ---------------------------------------------------------------------------

_KN_D = 0.75


@op(
    "text_kneser_ney_bigram",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        bg AS (
            SELECT t[i] AS w1, t[i + 1] AS w2
            FROM toks, unnest(range(1, len(t))) AS u(i)
        ),
        c2 AS (
            SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
            FROM bg GROUP BY w1, w2
        ),
        c1 AS (
            SELECT w1, CAST(sum(c) AS BIGINT) AS cw1,
                   CAST(count(*) AS BIGINT) AS n1p_fwd
            FROM c2 GROUP BY w1
        ),
        cont AS (
            SELECT w2, CAST(count(*) AS BIGINT) AS n1p_bwd
            FROM c2 GROUP BY w2
        ),
        tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n_bigram_types FROM c2
        ),
        top AS (
            SELECT w1, w2, c FROM c2
            ORDER BY c DESC, w1, w2 LIMIT 20
        )
        SELECT t.w1, t.w2, t.c,
               c1.cw1,
               cont.n1p_bwd,
               {sql_rnd(
                   f"greatest(t.c - {_KN_D}, 0.0) / c1.cw1"
                   f" + ({_KN_D} * c1.n1p_fwd / c1.cw1)"
                   "   * (cont.n1p_bwd * 1.0 / tt.n_bigram_types)",
                   6,
               )} AS p_kn,
               {sql_rnd("t.c * 1.0 / c1.cw1", 6)} AS p_mle
        FROM top t
        JOIN c1 USING (w1)
        JOIN cont USING (w2)
        CROSS JOIN tot tt
    """,
    scale=(
        "Interpolated Kneser-Ney (the canonical LM smoothing): "
        "p_KN(w2|w1) = max(c - D, 0)/c(w1) + lambda(w1) * "
        "p_cont(w2), with the continuation probability counting "
        "CONTEXTS (distinct left neighbors) rather than tokens — the "
        "insight that makes KN beat add-k everywhere. All counts are "
        "exact BIGINTs (bigram counts, context fan-outs, type "
        "totals); the probability is a rational of integers rounded "
        "at 1e-6, so both engines agree bit-for-bit. Shape: one "
        "in-row bigram explode, two map-side-combined aggs keyed on "
        "w1 / w2, a 1-row type total broadcast, TakeOrderedAndProject "
        "top-20. 100 TB: identical shape — KN statistics are exactly "
        "two group-bys over the bigram table; the discount needs no "
        "tuning pass."
    ),
)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigrams with interpolated Kneser-Ney vs MLE probability."""
    docs = load_table(spark, sf_dir, "documents")
    # sequence(1, 0) runs DESCENDING in Spark ([1, 0]) and element_at(t, 0)
    # raises — guard 0/1-token docs out before building bigrams (the DuckDB
    # oracle's range(1, len(t)) is naturally empty for those rows).
    toks = docs.select(F.split("text", " ").alias("t")).where(F.size("t") >= 2)
    bg = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(element_at(t, i) AS w1, "
                "            element_at(t, i + 1) AS w2))"
            )
        ).alias("b")
    ).select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    c2 = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    c1 = c2.groupBy("w1").agg(
        F.sum("c").cast("long").alias("cw1"),
        F.count(F.lit(1)).cast("long").alias("n1p_fwd"),
    )
    cont = c2.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("n1p_bwd")
    )
    tot = c2.agg(F.count(F.lit(1)).cast("long").alias("n_bigram_types"))
    top = c2.orderBy(F.desc("c"), "w1", "w2").limit(20)
    d = _KN_D
    p_kn = (
        F.greatest(F.col("c") - F.lit(d), F.lit(0.0)) / F.col("cw1")
        + (F.lit(d) * F.col("n1p_fwd") / F.col("cw1"))
        * (F.col("n1p_bwd") * F.lit(1.0) / F.col("n_bigram_types"))
    )
    return (
        top.join(c1, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c",
            "cw1",
            "n1p_bwd",
            rnd(p_kn, 6).alias("p_kn"),
            rnd(F.col("c") * F.lit(1.0) / F.col("cw1"), 6).alias("p_mle"),
        )
    )


# ---------------------------------------------------------------------------
# count-min sketch audit (the overcount dual of Misra-Gries)
# ---------------------------------------------------------------------------

_CM_W = 256
_CM_D = 4


def _cm_bucket_sql(row: int) -> str:
    return (
        f"CAST(('0x' || substring(md5('cm{row}:' || word), 1, 15)) "
        f"AS BIGINT) % {_CM_W}"
    )


@op(
    "text_count_min_sketch_audit",
    oracle=f"""
        WITH tok AS (
            SELECT unnest(string_split(text, ' ')) AS word
            FROM documents
        ),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM tok),
        counters AS (
            {" UNION ALL ".join(
                f'''SELECT {r} AS row_id, {_cm_bucket_sql(r)} AS bucket,
                    CAST(count(*) AS BIGINT) AS cnt
                    FROM tok GROUP BY bucket'''
                for r in range(_CM_D)
            )}
        ),
        cf AS (
            SELECT word, CAST(count(*) AS BIGINT) AS exact_cf
            FROM tok GROUP BY word
        ),
        top AS (SELECT * FROM cf ORDER BY exact_cf DESC, word LIMIT 10),
        probes AS (
            {" UNION ALL ".join(
                f'''SELECT word, exact_cf, {r} AS row_id,
                    {_cm_bucket_sql(r)} AS bucket FROM top'''
                for r in range(_CM_D)
            )}
        ),
        est AS (
            SELECT p.word, p.exact_cf,
                   CAST(min(c.cnt) AS BIGINT) AS cm_est
            FROM probes p
            JOIN counters c
              ON c.row_id = p.row_id AND c.bucket = p.bucket
            GROUP BY p.word, p.exact_cf
        )
        SELECT e.word, e.exact_cf, e.cm_est,
               CAST(e.cm_est - e.exact_cf AS BIGINT) AS overcount,
               CAST(CASE WHEN e.cm_est >= e.exact_cf THEN 1 ELSE 0 END
                    AS BIGINT) AS never_undercounts,
               n.n_tokens
        FROM est e CROSS JOIN n
    """,
    scale=(
        "Count-min sketch (Cormode & Muthukrishnan 2005), w={w} d={d} "
        "with md5 row hashes — the OVERcount dual of wave-12's "
        "Misra-Gries: CM counters are plain per-bucket SUMS, so the "
        "merge is addition and, unlike MG, the estimate is "
        "partition-order-FREE — this op emits the estimates exactly "
        "and checks the one-sided theorem est >= cf as a boolean. "
        "The sketch is d x w = {d}x{w} BIGINT cells built by one "
        "map-side-combined agg per row (bucket key space {w}); the "
        "exact top-10 exists to grade it. 100 TB: the sketch is the "
        "shuffle — {d} aggs over {w}-key spaces regardless of corpus "
        "size; point queries join d cells. Expected overcount is "
        "n/w per row (minimum over d rows in practice far lower); "
        "the emitted overcount column is the measured value."
    ).format(w=_CM_W, d=_CM_D),
)
def text_count_min_sketch_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact CM-sketch estimates for the top-10 words + checked
    one-sided guarantee."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("word"))

    def bucket(row: int):
        # same 60-bit md5 integer both engines compute bit-identically
        # (the md5_hash64 convention, llm/dedup.py), row-salted
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"cm{row}:"), F.col("word"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % _CM_W
        )

    counters = None
    for r in range(_CM_D):
        part = tok.groupBy(bucket(r).alias("bucket")).agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        ).select(F.lit(r).alias("row_id"), "bucket", "cnt")
        counters = part if counters is None else counters.unionByName(part)
    n = tok.agg(F.count(F.lit(1)).cast("long").alias("n_tokens"))
    cf = tok.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("exact_cf")
    )
    top = cf.orderBy(F.desc("exact_cf"), "word").limit(10)
    probes = None
    for r in range(_CM_D):
        p = top.select(
            "word",
            "exact_cf",
            F.lit(r).alias("row_id"),
            bucket(r).alias("bucket"),
        )
        probes = p if probes is None else probes.unionByName(p)
    est = (
        probes.join(counters, ["row_id", "bucket"])
        .groupBy("word", "exact_cf")
        .agg(F.min("cnt").cast("long").alias("cm_est"))
    )
    return est.crossJoin(F.broadcast(n)).select(
        "word",
        "exact_cf",
        "cm_est",
        (F.col("cm_est") - F.col("exact_cf")).cast("long").alias(
            "overcount"
        ),
        F.when(F.col("cm_est") >= F.col("exact_cf"), 1)
        .otherwise(0)
        .cast("long")
        .alias("never_undercounts"),
        "n_tokens",
    )

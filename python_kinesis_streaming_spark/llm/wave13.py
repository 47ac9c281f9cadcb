"""Wave-13 pipeline ops (round 12, seventh batch) — b-bit minhash and
pseudo-relevance-feedback retrieval.

Two capabilities extending the dedup/IR story:

- ``dedup_bbit_minhash_estimate``: b-bit minwise hashing (Li & König
  2010) with b=1 over the standard 16-perm signatures — estimated
  Jaccard 2*m-1 from low-bit agreement vs the exact shingle Jaccard,
  on injected near-dup pairs and adjacent random pairs; the 16x
  signature compression that makes billion-doc minhash tables fit.
- ``text_rocchio_prf_expansion``: Rocchio pseudo-relevance feedback —
  BM25 top-5 docs nominate 3 expansion terms (beta=0.5), the
  expanded query is rescored, and the final top-10 is flagged
  against the base ranking; the classic recall-boosting second pass.

Same discipline as waves 7-12: integer-micro freezing before any
cross-partition sum, identical aliases, BIGINT casts on DuckDB sums,
literal spines shared verbatim between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from python_kinesis_streaming_spark.functions.rounding import rnd
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# b-bit minwise hashing estimate vs exact Jaccard
# ---------------------------------------------------------------------------


@op(
    "dedup_bbit_minhash_estimate",
    oracle="""
        WITH inj AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, text || ' mutant'
            FROM documents WHERE doc_id % 25 = 0
        ),
        sh AS (
            SELECT DISTINCT doc_id, s.g AS shingle
            FROM inj,
                 unnest([array_to_string(
                     string_split(text,' ')[i:i+2], ' ')
                     FOR i IN range(1,
                         greatest(len(string_split(text,' ')) - 2, 1)
                         + 1)]) AS s(g)
        ),
        bits AS (
            SELECT doc_id,
                   """
    + ",\n                   ".join(
        "min(CAST(('0x' || substring(md5('%d:' || (shingle)), 1, 15)) "
        "AS BIGINT)) & 1 AS b%d" % (i, i)
        for i in range(16)
    )
    + """
            FROM sh GROUP BY doc_id
        ),
        pairs AS (
            SELECT doc_id AS a, doc_id + 1000000 AS b,
                   'near_dup' AS pair_class
            FROM documents WHERE doc_id % 25 = 0
            UNION ALL
            SELECT doc_id AS a, doc_id + 1 AS b, 'random' AS pair_class
            FROM documents
            WHERE doc_id % 25 = 0
              AND doc_id + 1 <= (SELECT max(doc_id) FROM documents)
        ),
        match AS (
            SELECT p.a, p.b, p.pair_class,
                   CAST("""
    + " + ".join(
        f"CASE WHEN x.b{i} = y.b{i} THEN 1 ELSE 0 END" for i in range(16)
    )
    + """ AS BIGINT) AS match_bits
            FROM pairs p
            JOIN bits x ON x.doc_id = p.a
            JOIN bits y ON y.doc_id = p.b
        ),
        sz AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
            FROM sh GROUP BY doc_id
        ),
        inter AS (
            SELECT p.a, p.b, CAST(count(*) AS BIGINT) AS inter
            FROM pairs p
            JOIN sh sa ON sa.doc_id = p.a
            JOIN sh sb ON sb.doc_id = p.b AND sb.shingle = sa.shingle
            GROUP BY p.a, p.b
        ),
        jac AS (
            SELECT p.a, p.b,
                   CAST(COALESCE(i.inter, 0) AS BIGINT) AS inter,
                   CAST(za.sz + zb.sz - COALESCE(i.inter, 0) AS BIGINT)
                       AS uni
            FROM pairs p
            JOIN sz za ON za.doc_id = p.a
            JOIN sz zb ON zb.doc_id = p.b
            LEFT JOIN inter i ON i.a = p.a AND i.b = p.b
        )
        SELECT m.a AS doc_a, m.b AS doc_b, m.pair_class, m.match_bits,
               floor((2.0 * m.match_bits / 16.0 - 1.0)
                     * 10000.0 + 0.505) / 10000.0 AS j_bbit,
               floor((j.inter * 1.0 / j.uni) * 10000.0 + 0.505)
                   / 10000.0 AS j_exact,
               floor(abs(2.0 * m.match_bits / 16.0 - 1.0
                         - j.inter * 1.0 / j.uni)
                     * 10000.0 + 0.505) / 10000.0 AS abs_err
        FROM match m JOIN jac j ON j.a = m.a AND j.b = m.b
    """,
    scale=(
        "b-bit minwise hashing (Li & Koenig 2010), b=1 over the "
        "standard 16-perm signatures: store only the LOW BIT of each "
        "minhash — a 16x signature compression (64 -> 1 bit per perm) "
        "— and estimate J = 2*m - 1 from the bit-agreement fraction m "
        "(E[m] = J + (1-J)/2 for b=1). The audit scores the estimator "
        "on injected near-dup pairs (J ~ 0.9) and adjacent random "
        "pairs (J ~ 0) against the exact shingle Jaccard. Everything "
        "is the md5-derived integer hash both engines compute "
        "bit-identically; bits, matches and set sizes are BIGINTs. "
        "100 TB: b-bit signatures are what make a trillion-pair "
        "minhash table RAM-resident — 2 bytes/doc for 16 perms; the "
        "variance cost (factor ~1/(2-J) more perms needed) is the "
        "trade this table quantifies."
    ),
)
def dedup_bbit_minhash_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """1-bit minhash Jaccard estimate vs exact, per injected pair."""
    from python_kinesis_streaming_spark.llm.dedup import (
        inject_near_dups,
        md5_hash64,
        word_shingles,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    inj = inject_near_dups(docs, every=25)
    sh = word_shingles(inj, n=3)
    bits = sh.groupBy("doc_id").agg(
        *[
            F.min(md5_hash64(F.col("shingle"), seed=i))
            .bitwiseAND(F.lit(1))
            .alias(f"b{i}")
            for i in range(16)
        ]
    )
    mx = docs.agg(F.max("doc_id").alias("mx"))
    base25 = docs.where(F.col("doc_id") % 25 == 0).select("doc_id")
    near = base25.select(
        F.col("doc_id").alias("a"),
        (F.col("doc_id") + 1_000_000).alias("b"),
        F.lit("near_dup").alias("pair_class"),
    )
    rand = (
        base25.crossJoin(F.broadcast(mx))
        .where(F.col("doc_id") + 1 <= F.col("mx"))
        .select(
            F.col("doc_id").alias("a"),
            (F.col("doc_id") + 1).alias("b"),
            F.lit("random").alias("pair_class"),
        )
    )
    pairs = near.unionByName(rand)
    x, y = bits.alias("x"), bits.alias("y")
    match_expr = None
    for i in range(16):
        t = F.when(F.col(f"x.b{i}") == F.col(f"y.b{i}"), 1).otherwise(0)
        match_expr = t if match_expr is None else match_expr + t
    match = (
        pairs.join(x, F.col("x.doc_id") == F.col("a"))
        .join(y, F.col("y.doc_id") == F.col("b"))
        .select(
            "a", "b", "pair_class", match_expr.cast("long").alias(
                "match_bits"
            )
        )
    )
    # |A∩B| exactly; |A∪B| = |A| + |B| - inter (exact set algebra)
    sa = sh.select(F.col("doc_id").alias("a"), "shingle")
    sza = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        pairs.join(sa, "a")
        .join(
            sh.select(F.col("doc_id").alias("b"), "shingle"),
            ["b", "shingle"],
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    za = sza.select(F.col("doc_id").alias("a"), F.col("sz").alias("sz_a"))
    zb = sza.select(F.col("doc_id").alias("b"), F.col("sz").alias("sz_b"))
    ex = (
        pairs.join(za, "a")
        .join(zb, "b")
        .join(inter, ["a", "b"], "left")
        .select(
            "a",
            "b",
            "pair_class",
            F.coalesce(F.col("inter"), F.lit(0)).cast("long").alias(
                "inter"
            ),
            (
                F.col("sz_a")
                + F.col("sz_b")
                - F.coalesce(F.col("inter"), F.lit(0))
            )
            .cast("long")
            .alias("uni"),
        )
    )
    est = F.lit(2.0) * F.col("match_bits") / F.lit(16.0) - F.lit(1.0)
    jx = F.col("inter") * F.lit(1.0) / F.col("uni")
    return (
        match.join(ex.drop("pair_class"), ["a", "b"])
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            "pair_class",
            "match_bits",
            rnd(est, 4).alias("j_bbit"),
            rnd(jx, 4).alias("j_exact"),
            rnd(F.abs(est - jx), 4).alias("abs_err"),
        )
    )


# ---------------------------------------------------------------------------
# Rocchio pseudo-relevance feedback
# ---------------------------------------------------------------------------


@op(
    "text_rocchio_prf_expansion",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        dl AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
            FROM tok GROUP BY doc_id
        ),
        stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   sum(dl) * 1.0 / count(*) AS avgdl
            FROM dl
        ),
        q0(term) AS (VALUES ('join'), ('hash'), ('scan')),
        tf0 AS (
            SELECT doc_id, token AS term, CAST(count(*) AS BIGINT) AS tf
            FROM tok JOIN q0 ON token = term
            GROUP BY doc_id, token
        ),
        df0 AS (
            SELECT term, CAST(count(*) AS BIGINT) AS df
            FROM tf0 GROUP BY term
        ),
        c0 AS (
            SELECT tf0.doc_id,
                   CAST(floor(
                       ln((s.n - df0.df + 0.5) / (df0.df + 0.5) + 1.0)
                       * tf0.tf * (1.2 + 1.0)
                       / (tf0.tf + 1.2 * (1.0 - 0.75
                                          + 0.75 * dl.dl / s.avgdl))
                       * 1000000.0 + 0.505) AS BIGINT) AS c_micro
            FROM tf0
            JOIN df0 USING (term)
            JOIN dl USING (doc_id)
            CROSS JOIN stats s
        ),
        s0 AS (
            SELECT doc_id, CAST(sum(c_micro) AS BIGINT) AS score_micro
            FROM c0 GROUP BY doc_id
        ),
        base10 AS (
            SELECT doc_id, rk FROM (
                SELECT doc_id, row_number() OVER (
                    ORDER BY score_micro DESC, doc_id) AS rk
                FROM s0
            ) WHERE rk <= 10
        ),
        fb AS (SELECT doc_id FROM base10 WHERE rk <= 5),
        expt AS (
            SELECT term FROM (
                SELECT token AS term,
                       row_number() OVER (
                           ORDER BY count(*) DESC, token) AS rk
                FROM tok JOIN fb USING (doc_id)
                WHERE token NOT IN ('join', 'hash', 'scan')
                GROUP BY token
            ) WHERE rk <= 3
        ),
        q2 AS (
            SELECT term, 1.0 AS w FROM q0
            UNION ALL
            SELECT term, 0.5 AS w FROM expt
        ),
        tf2 AS (
            SELECT doc_id, token AS term, CAST(count(*) AS BIGINT) AS tf
            FROM tok JOIN q2 ON token = term
            GROUP BY doc_id, token
        ),
        df2 AS (
            SELECT term, CAST(count(*) AS BIGINT) AS df
            FROM tf2 GROUP BY term
        ),
        c2 AS (
            SELECT tf2.doc_id,
                   CAST(floor(
                       ln((s.n - df2.df + 0.5) / (df2.df + 0.5) + 1.0)
                       * tf2.tf * (1.2 + 1.0)
                       / (tf2.tf + 1.2 * (1.0 - 0.75
                                          + 0.75 * dl.dl / s.avgdl))
                       * q2.w
                       * 1000000.0 + 0.505) AS BIGINT) AS c_micro
            FROM tf2
            JOIN q2 USING (term)
            JOIN df2 USING (term)
            JOIN dl USING (doc_id)
            CROSS JOIN stats s
        ),
        s2 AS (
            SELECT doc_id, CAST(sum(c_micro) AS BIGINT) AS score_micro
            FROM c2 GROUP BY doc_id
        )
        SELECT CAST(rank AS BIGINT) AS rank, doc_id, score_micro,
               CAST(CASE WHEN b.doc_id IS NOT NULL THEN 1 ELSE 0 END
                    AS BIGINT) AS in_base_top10
        FROM (
            SELECT doc_id, score_micro, row_number() OVER (
                ORDER BY score_micro DESC, doc_id) AS rank
            FROM s2
        ) r
        LEFT JOIN base10 b USING (doc_id)
        WHERE rank <= 10
    """,
    scale=(
        "Rocchio pseudo-relevance feedback (the classic recall-"
        "boosting second pass): the BM25 base top-5 nominate the 3 "
        "highest-tf non-query terms (tie on term), the expanded query "
        "reweights them at beta=0.5, and the rescored top-10 is "
        "flagged against the base ranking. Per-term contributions "
        "freeze to integer micro AFTER the beta multiply (wave-10's "
        "associativity rule), every ranking breaks ties on doc_id, "
        "and the feedback-term window orders on exact BIGINT counts. "
        "Shape: two passes of the BM25 shape (tf join df join dl, "
        "1-row stats broadcast), a 5-row feedback set driving a "
        "tf-in-top5 agg, TakeOrderedAndProject at both ends. 100 TB: "
        "the expansion pass touches only docs containing >=1 of 6 "
        "terms — an inverted-list-bounded scan, not a corpus pass."
    ),
)
def text_rocchio_prf_expansion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BM25 -> top-5 feedback -> 3 expansion terms (beta=0.5) ->
    rescored top-10 flagged vs the base ranking."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    dl = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("dl") * F.lit(1.0) / F.count(F.lit(1))).alias("avgdl"),
    )
    q0 = ("join", "hash", "scan")

    def bm25_scores(qdf: DataFrame) -> DataFrame:
        """Integer-micro BM25 over a (term, w) weighted query table."""
        tf = (
            tok.join(F.broadcast(qdf), tok.token == qdf.term)
            .groupBy("doc_id", "term", "w")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        )
        df = tf.groupBy("term").agg(
            F.count(F.lit(1)).cast("long").alias("df")
        )
        c = (
            tf.join(F.broadcast(df), "term")
            .join(dl, "doc_id")
            .crossJoin(F.broadcast(stats))
            .select(
                "doc_id",
                F.floor(
                    F.log(
                        (F.col("n") - F.col("df") + F.lit(0.5))
                        / (F.col("df") + F.lit(0.5))
                        + F.lit(1.0)
                    )
                    * F.col("tf")
                    * F.lit(1.2 + 1.0)
                    / (
                        F.col("tf")
                        + F.lit(1.2)
                        * (
                            F.lit(1.0 - 0.75)
                            + F.lit(0.75) * F.col("dl") / F.col("avgdl")
                        )
                    )
                    * F.col("w")
                    * F.lit(1000000.0)
                    + F.lit(0.505)
                )
                .cast("long")
                .alias("c_micro"),
            )
        )
        return c.groupBy("doc_id").agg(
            F.sum("c_micro").cast("long").alias("score_micro")
        )

    q0df = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in q0])).alias("term"),
        F.lit(1.0).alias("w"),
    )
    s0 = bm25_scores(q0df)
    # the 10-row base ranking and the 3-row expansion table feed the
    # second BM25 pass: localCheckpoint (the sim_mmr_diversify rule)
    # so the static plan doesn't re-expand the whole pass-1 lineage
    # under pass 2 — 30 static Exchanges without, ~10 with
    base10 = (
        s0.withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.desc("score_micro"), "doc_id")
            ),
        )
        .where(F.col("rk") <= 10)
        .select("doc_id", "rk")
        .localCheckpoint(eager=True)
    )
    fb = base10.where(F.col("rk") <= 5).select("doc_id")
    expt = (
        tok.join(F.broadcast(fb), "doc_id")
        .where(~F.col("token").isin(*q0))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf5"))
        .withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("tf5"), "token")),
        )
        .where(F.col("rk") <= 3)
        .select(F.col("token").alias("term"), F.lit(0.5).alias("w"))
        .localCheckpoint(eager=True)
    )
    q2 = q0df.unionByName(expt)
    s2 = bm25_scores(q2)
    return (
        s2.withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("score_micro"), "doc_id")
            ),
        )
        .where(F.col("rank") <= 10)
        .join(base10.select("doc_id").withColumn("hit", F.lit(1)), "doc_id", "left")
        .select(
            F.col("rank").cast("long").alias("rank"),
            "doc_id",
            "score_micro",
            F.coalesce(F.col("hit"), F.lit(0)).cast("long").alias(
                "in_base_top10"
            ),
        )
    )

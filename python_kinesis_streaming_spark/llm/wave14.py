"""Wave-14 pipeline ops (round 12, eighth batch) — Kneser-Ney
smoothing, count-min sketches and graph beam-search retrieval.

Three capabilities extending the LM/sketch/ANN story:

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
- ``sim_graph_beam_recall``: greedy beam search over the in-cell
  top-8 neighbor graph (two unrolled hops from a deterministic entry
  point, beam=8) with recall@5 against the exact in-cell ranking —
  the HNSW-style QUERY path to pair emb_nndescent_round's graph
  CONSTRUCTION path.

Same discipline as waves 7-13: exact integers before any
cross-partition sum, identical aliases, BIGINT casts in oracles,
bounded candidate sets everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

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


# ---------------------------------------------------------------------------
# graph beam-search retrieval over the in-cell neighbor graph
# ---------------------------------------------------------------------------


@op(
    "sim_graph_beam_recall",
    oracle=f"""
        WITH cent AS (
            SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
            FROM embeddings WHERE vec_id < 8
        ),
        assigned AS (
            SELECT e.vec_id,
                   min_by(c.cid,
                          CAST(floor(list_sum(list_transform(range(1, 65),
                               i -> (e.embedding[CAST(i AS INTEGER)]::DOUBLE
                                     - c.cv[CAST(i AS INTEGER)]) ^ 2))
                               * 1000000.0 + 0.505) AS BIGINT) * 8 + c.cid)
                       AS cid
            FROM embeddings e, cent c
            GROUP BY e.vec_id
        ),
        e AS (
            SELECT a.vec_id, a.cid, x.embedding::DOUBLE[] AS v
            FROM assigned a JOIN embeddings x USING (vec_id)
        ),
        edges AS (
            SELECT src, dst FROM (
                SELECT a.vec_id AS src, b.vec_id AS dst,
                       row_number() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY floor(list_cosine_similarity(a.v, b.v)
                                    * 10000.0 + 0.505) / 10000.0 DESC,
                                    b.vec_id
                       ) AS rk
                FROM e a JOIN e b
                  ON b.cid = a.cid AND b.vec_id <> a.vec_id
            ) WHERE rk <= 8
        ),
        q AS (
            SELECT vec_id AS qid, cid, v AS qv FROM e
            WHERE vec_id % 50 = 0
        ),
        entry AS (
            SELECT q.qid, min(e2.vec_id) AS node
            FROM q JOIN e e2 ON e2.cid = q.cid
            GROUP BY q.qid
        ),
        f1 AS (
            SELECT qid, node FROM entry
            UNION
            SELECT en.qid, ed.dst AS node
            FROM entry en JOIN edges ed ON ed.src = en.node
        ),
        b1 AS (
            SELECT qid, node FROM (
                SELECT f1.qid, f1.node, row_number() OVER (
                    PARTITION BY f1.qid
                    ORDER BY floor(list_cosine_similarity(e2.v, q.qv)
                             * 10000.0 + 0.505) / 10000.0 DESC, f1.node
                ) AS rk
                FROM f1
                JOIN e e2 ON e2.vec_id = f1.node
                JOIN q ON q.qid = f1.qid
                WHERE f1.node <> f1.qid
            ) WHERE rk <= 8
        ),
        f2 AS (
            SELECT qid, node FROM b1
            UNION
            SELECT b1.qid, ed.dst AS node
            FROM b1 JOIN edges ed ON ed.src = b1.node
        ),
        beam AS (
            SELECT qid, node FROM (
                SELECT f2.qid, f2.node, row_number() OVER (
                    PARTITION BY f2.qid
                    ORDER BY floor(list_cosine_similarity(e2.v, q.qv)
                             * 10000.0 + 0.505) / 10000.0 DESC, f2.node
                ) AS rk
                FROM f2
                JOIN e e2 ON e2.vec_id = f2.node
                JOIN q ON q.qid = f2.qid
                WHERE f2.node <> f2.qid
            ) WHERE rk <= 5
        ),
        etop AS (
            SELECT qid, vec_id FROM (
                SELECT q.qid, x.vec_id, row_number() OVER (
                    PARTITION BY q.qid
                    ORDER BY floor(list_cosine_similarity(x.v, q.qv)
                             * 10000.0 + 0.505) / 10000.0 DESC, x.vec_id
                ) AS rk
                FROM q JOIN e x
                  ON x.cid = q.cid AND x.vec_id <> q.qid
            ) WHERE rk <= 5
        ),
        h AS (
            SELECT b.qid, CAST(count(*) AS BIGINT) AS hits
            FROM beam b JOIN etop t
              ON t.qid = b.qid AND t.vec_id = b.node
            GROUP BY b.qid
        )
        SELECT q.qid, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
               {sql_rnd("COALESCE(h.hits, 0) / 5.0", 4)} AS recall_at_5
        FROM q LEFT JOIN h ON h.qid = q.qid
    """,
    scale=(
        "Greedy beam search over the in-cell top-8 neighbor graph — "
        "the HNSW-style QUERY path pairing emb_nndescent_round's "
        "graph-CONSTRUCTION path: start at a deterministic entry "
        "point (lowest vec_id in the query's cell), expand neighbors, "
        "keep the 8 best by exact similarity to the query, expand "
        "once more, return the top-5; recall graded against the exact "
        "in-cell ranking. Two unrolled hops = the fixture graph's "
        "diameter budget; every frontier is <= beam * degree = 64 "
        "rows per query, every ranking rounds sims at 1e-4 with "
        "vec_id ties. 100 TB: the graph lives sharded by cell, the "
        "beam state is k node ids per query — the search cost is "
        "hops * beam * degree dot products, independent of corpus "
        "size; this op is the recall evidence for that trade."
    ),
)
def sim_graph_beam_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop beam-8 graph search recall@5 vs the exact in-cell
    top-5, per sampled query."""
    from python_kinesis_streaming_spark.functions.vectors import dot
    from python_kinesis_streaming_spark.llm.wave7 import (
        _semdedup_assigned_pairs,
    )

    assigned, _ = _semdedup_assigned_pairs(spark, sf_dir)
    e = assigned.select(
        "vec_id",
        "cid",
        F.col("embedding").cast("array<double>").alias("v"),
        "norm",
    )
    a, b = e.alias("a"), e.alias("b")
    sim_ab = rnd(
        dot(F.col("a.v"), F.col("b.v"))
        / (F.col("a.norm") * F.col("b.norm")),
        4,
    )
    edges = (
        a.join(
            b,
            (F.col("b.cid") == F.col("a.cid"))
            & (F.col("b.vec_id") != F.col("a.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("src"),
            F.col("b.vec_id").alias("dst"),
            sim_ab.alias("s"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("src").orderBy(F.desc("s"), "dst")
            ),
        )
        .where(F.col("rk") <= 8)
        .select("src", "dst")
        .localCheckpoint(eager=True)
    )
    q = e.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("cid").alias("qcid"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    entry = (
        q.join(e, F.col("cid") == F.col("qcid"))
        .groupBy("qid")
        .agg(F.min("vec_id").alias("node"))
    )

    def rescore_top(frontier: DataFrame, k: int) -> DataFrame:
        scored = (
            frontier.join(e, F.col("vec_id") == F.col("node"))
            .join(q, "qid")
            .where(F.col("node") != F.col("qid"))
            .select(
                "qid",
                "node",
                rnd(
                    dot(F.col("v"), F.col("qv"))
                    / (F.col("norm") * F.col("qnorm")),
                    4,
                ).alias("s"),
            )
        )
        return (
            scored.withColumn(
                "rk",
                F.row_number().over(
                    Window.partitionBy("qid").orderBy(
                        F.desc("s"), "node"
                    )
                ),
            )
            .where(F.col("rk") <= k)
            .select("qid", "node")
        )

    f1 = entry.select("qid", "node").unionByName(
        entry.join(edges, entry.node == edges.src).select(
            "qid", F.col("dst").alias("node")
        )
    ).distinct()
    b1 = rescore_top(f1, 8).localCheckpoint(eager=True)
    f2 = b1.unionByName(
        b1.join(edges, b1.node == edges.src).select(
            "qid", F.col("dst").alias("node")
        )
    ).distinct()
    beam = rescore_top(f2, 5)
    ex = (
        q.join(
            e,
            (F.col("cid") == F.col("qcid"))
            & (F.col("vec_id") != F.col("qid")),
        )
        .select(
            "qid",
            "vec_id",
            rnd(
                dot(F.col("v"), F.col("qv"))
                / (F.col("norm") * F.col("qnorm")),
                4,
            ).alias("s"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.desc("s"), "vec_id")
            ),
        )
        .where(F.col("rk") <= 5)
        .select("qid", "vec_id")
    )
    h = (
        beam.join(ex, (beam.qid == ex.qid) & (beam.node == ex.vec_id))
        .groupBy(beam.qid)
        .agg(F.count(F.lit(1)).cast("long").alias("hits"))
    )
    return (
        q.select("qid")
        .join(h, "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
            rnd(
                F.coalesce(F.col("hits"), F.lit(0)) / F.lit(5.0), 4
            ).alias("recall_at_5"),
        )
    )

"""Wave-5 pipeline ops (round 11, second batch) — sampling and
retrieval-diversity compositions.

Four capabilities the registry does not yet cover: a
deterministic mergeable uniform sample (hash-rank reservoir — the
distributed replacement for sequential reservoir sampling), greedy MMR
diversification of retrieval results (Carbonell & Goldstein 1998, five
unrolled selection steps), a per-source corpus datasheet (the
dataset-card summary table), and an IVF list-balance audit (the index
health check before freezing a coarse quantizer).

All JVM-only DataFrame code with the repo's standard hash discipline:
identical aliases both sides, ``rnd``/``sql_rnd`` rounding before any
ranking or argmax, total tie-breaks on ids. Registered at the BACK of
``_GRADING_PRIORITY`` behind wave-4 (r12 window material).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from python_kinesis_streaming_spark.functions.rounding import rnd, sql_rnd
from python_kinesis_streaming_spark.functions.vectors import cosine
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# deterministic mergeable uniform sample (hash-rank reservoir)
# ---------------------------------------------------------------------------


@op(
    "sample_reservoir_hash",
    oracle="""
        WITH ranked AS (
            SELECT source, row_number() OVER (
                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
            ) AS rk
            FROM documents
        ),
        tot AS (
            SELECT source, count(*) AS n_src FROM documents GROUP BY source
        ),
        n AS (SELECT count(*) AS n_total FROM documents),
        s AS (
            SELECT source, count(*) AS n_sampled
            FROM ranked WHERE rk <= 100 GROUP BY source
        )
        SELECT t.source,
               CAST(t.n_src AS BIGINT) AS n_src,
               CAST(COALESCE(s.n_sampled, 0) AS BIGINT) AS n_sampled,
               floor((100.0 * t.n_src / n.n_total) * 10000.0 + 0.505)
                   / 10000.0 AS expected
        FROM tot t CROSS JOIN n
        LEFT JOIN s ON s.source = t.source
    """,
    scale=(
        "Deterministic k=100 uniform sample via hash-rank: rank every "
        "row by md5(doc_id) and keep the smallest 100 — equivalent in "
        "distribution to reservoir sampling but MERGEABLE (each "
        "partition keeps its local top-100 by hash, the merge keeps "
        "the global top-100), which is why it distributes where the "
        "classic sequential reservoir cannot. Spark plans it as "
        "TakeOrderedAndProject: per-partition heaps, no global sort, "
        "no shuffle of the corpus — the same k rows at any partition "
        "count, any executor count, any arrival order (re-runs and "
        "retries are idempotent by construction). The audit reports "
        "per-source sample counts against the proportional "
        "expectation (a 1-row broadcast total). At 100 TB swap k and "
        "nothing else changes; hashes never leave the map side except "
        "the k winners."
    ),
)
def sample_reservoir_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source counts of the deterministic hash-rank 100-sample."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "source", F.md5(F.col("doc_id").cast("string")).alias("h")
    )
    winners = base.orderBy("h", "doc_id").limit(100)
    s = winners.groupBy("source").agg(F.count("*").alias("n_sampled"))
    tot = base.groupBy("source").agg(F.count("*").alias("n_src"))
    n = base.agg(F.count("*").alias("n_total"))
    return (
        tot.crossJoin(F.broadcast(n))
        .join(s, "source", "left")
        .select(
            "source",
            F.col("n_src").cast("long").alias("n_src"),
            F.coalesce(F.col("n_sampled"), F.lit(0))
            .cast("long")
            .alias("n_sampled"),
            rnd(F.lit(100.0) * F.col("n_src") / F.col("n_total"), 4).alias(
                "expected"
            ),
        )
    )


# ---------------------------------------------------------------------------
# greedy MMR diversification (5 unrolled selection steps)
# ---------------------------------------------------------------------------

_MMR_SQL_STEPS = ""
for _t in range(2, 6):
    _prev = f"pk{_t - 1}"
    _MMR_SQL_STEPS += f"""
        m{_t} AS (
            SELECT ps.qid, ps.a AS vec_id, max(ps.s) AS ms
            FROM ps JOIN {_prev} p ON p.qid = ps.qid AND p.vec_id = ps.b
            GROUP BY ps.qid, ps.a
        ),
        s{_t} AS (
            SELECT c.qid, c.vec_id,
                   floor((0.7 * c.rel - 0.3 * m.ms) * 1000000.0 + 0.505)
                       / 1000000.0 AS score
            FROM cand c JOIN m{_t} m
              ON m.qid = c.qid AND m.vec_id = c.vec_id
            WHERE NOT EXISTS (
                SELECT 1 FROM {_prev} p
                WHERE p.qid = c.qid AND p.vec_id = c.vec_id
            )
        ),
        p{_t} AS (
            SELECT qid, vec_id, score FROM (
                SELECT qid, vec_id, score, row_number() OVER (
                    PARTITION BY qid ORDER BY score DESC, vec_id
                ) AS rn FROM s{_t}
            ) WHERE rn = 1
        ),
        pk{_t} AS (
            SELECT qid, vec_id FROM pk{_t - 1}
            UNION ALL SELECT qid, vec_id FROM p{_t}
        ),"""


@op(
    "sim_mmr_diversify",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        relr AS (
            SELECT q.vec_id AS qid, v.vec_id,
                   floor(list_cosine_similarity(q.v, v.v)
                         * 10000.0 + 0.505) / 10000.0 AS rel
            FROM e q JOIN e v ON v.vec_id <> q.vec_id
            WHERE q.vec_id % 50 = 0
        ),
        cand AS (
            SELECT qid, vec_id, rel FROM (
                SELECT qid, vec_id, rel, row_number() OVER (
                    PARTITION BY qid ORDER BY rel DESC, vec_id
                ) AS rn FROM relr
            ) WHERE rn <= 20
        ),
        ps AS (
            SELECT a.qid, a.vec_id AS a, b.vec_id AS b,
                   floor(list_cosine_similarity(va.v, vb.v)
                         * 10000.0 + 0.505) / 10000.0 AS s
            FROM cand a
            JOIN cand b ON b.qid = a.qid AND b.vec_id <> a.vec_id
            JOIN e va ON va.vec_id = a.vec_id
            JOIN e vb ON vb.vec_id = b.vec_id
        ),
        p1 AS (
            SELECT qid, vec_id,
                   floor((0.7 * rel) * 1000000.0 + 0.505) / 1000000.0
                       AS score
            FROM (
                SELECT qid, vec_id, rel, row_number() OVER (
                    PARTITION BY qid ORDER BY rel DESC, vec_id
                ) AS rn FROM cand
            ) WHERE rn = 1
        ),
        pk1 AS (SELECT qid, vec_id FROM p1),{_MMR_SQL_STEPS}
        allp AS (
            SELECT 1 AS step, qid, vec_id, score FROM p1
            UNION ALL SELECT 2, qid, vec_id, score FROM p2
            UNION ALL SELECT 3, qid, vec_id, score FROM p3
            UNION ALL SELECT 4, qid, vec_id, score FROM p4
            UNION ALL SELECT 5, qid, vec_id, score FROM p5
        )
        SELECT CAST(step AS INTEGER) AS step,
               CAST(qid AS BIGINT) AS qid,
               CAST(vec_id AS BIGINT) AS vec_id,
               {sql_rnd("score", 6)} AS mmr_score
        FROM allp
    """,
    scale=(
        "Greedy Maximal-Marginal-Relevance diversification (Carbonell "
        "& Goldstein 1998), lambda=0.7, five unrolled selection steps "
        "over the exact top-20 candidates of each sampled query — the "
        "result-diversity stage a RAG retrieval stack runs after ANN. "
        "Everything past the first ranking is candidate-bounded: the "
        "pairwise-similarity table is |sample| x 20 x 19 rows, each "
        "step is a groupBy + 1-row-per-query argmax window, and the "
        "picked set is at most 5 rows/query, so at 100 TB the only "
        "corpus-scale stage is the initial (sample-broadcast) "
        "relevance scan — the iteration cost is independent of N. "
        "Relevance and pair similarities round at 1e-4, MMR scores at "
        "1e-6 BEFORE each argmax with vec_id tie-breaks, so both "
        "engines trace identical greedy paths. The loop-invariant "
        "candidate/pair tables and the per-step picked set are "
        "localCheckpoint'ed (the llm/bpe.py iterative-lineage rule) — "
        "without it the unrolled plan re-expands them per consumer "
        "per step (measured 441 static Exchanges; ~4 with). More "
        "steps = extend the unroll; on a cluster the same shape "
        "serves k up to ~50 before an applyInPandas per-query kernel "
        "wins."
    ),
)
def sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy MMR top-5 (lambda=0.7) from each query's exact top-20."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    relr = emb.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid",
        "vec_id",
        rnd(cosine(F.col("qv"), F.col("v")), 4).alias("rel"),
    )
    wq = Window.partitionBy("qid")
    cand = (
        relr.withColumn(
            "rn", F.row_number().over(wq.orderBy(F.desc("rel"), "vec_id"))
        )
        .where(F.col("rn") <= 20)
        .select("qid", "vec_id", "rel")
    )
    ca = cand.select("qid", F.col("vec_id").alias("a"))
    cb = cand.select("qid", F.col("vec_id").alias("b"))
    ea = emb.select(F.col("vec_id").alias("a"), F.col("v").alias("va"))
    eb = emb.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"))
    ps = (
        ca.join(cb, "qid")
        .where(F.col("a") != F.col("b"))
        .join(F.broadcast(ea), "a")
        .join(F.broadcast(eb), "b")
        .select(
            "qid",
            "a",
            "b",
            rnd(cosine(F.col("va"), F.col("vb")), 4).alias("s"),
        )
    )
    # iterative-loop lineage rule (llm/bpe.py precedent): checkpoint the
    # loop-invariant tables once and the picked set per step, or the
    # unrolled plan re-expands cand/ps per consumer per step — measured
    # 441 static Exchanges without this, ~4 with it. Both tables are
    # candidate-bounded (|sample|*20 and |sample|*380 rows), so the
    # materialization is trivially small at any corpus size.
    cand = cand.localCheckpoint(eager=True)
    ps = ps.localCheckpoint(eager=True)
    p1 = (
        cand.withColumn(
            "rn", F.row_number().over(wq.orderBy(F.desc("rel"), "vec_id"))
        )
        .where(F.col("rn") == 1)
        .select(
            "qid",
            "vec_id",
            rnd(F.lit(0.7) * F.col("rel"), 6).alias("score"),
            F.lit(1).alias("step"),
        )
    )
    picked = p1
    for t in range(2, 6):
        pk = picked.select("qid", "vec_id")
        ms = (
            ps.join(
                pk.select("qid", F.col("vec_id").alias("b")), ["qid", "b"]
            )
            .groupBy("qid", "a")
            .agg(F.max("s").alias("ms"))
            .select("qid", F.col("a").alias("vec_id"), "ms")
        )
        st = (
            cand.join(pk, ["qid", "vec_id"], "left_anti")
            .join(ms, ["qid", "vec_id"])
            .select(
                "qid",
                "vec_id",
                rnd(
                    F.lit(0.7) * F.col("rel") - F.lit(0.3) * F.col("ms"), 6
                ).alias("score"),
            )
        )
        nxt = (
            st.withColumn(
                "rn",
                F.row_number().over(wq.orderBy(F.desc("score"), "vec_id")),
            )
            .where(F.col("rn") == 1)
            .select("qid", "vec_id", "score", F.lit(t).alias("step"))
        )
        picked = picked.unionByName(nxt).localCheckpoint(eager=True)
    return picked.select(
        F.col("step").cast("int").alias("step"),
        F.col("qid").cast("long").alias("qid"),
        F.col("vec_id").cast("long").alias("vec_id"),
        rnd(F.col("score"), 6).alias("mmr_score"),
    )


# ---------------------------------------------------------------------------
# per-source corpus datasheet
# ---------------------------------------------------------------------------


@op(
    "corpus_datasheet_report",
    oracle="""
        WITH d AS (
            SELECT doc_id, source, lang,
                   len(string_split(text, ' ')) AS n_tokens,
                   length(text) * 1.0 / len(string_split(text, ' '))
                       AS cpt
            FROM documents
        ),
        lc AS (
            SELECT source, lang, count(*) AS n
            FROM d GROUP BY source, lang
        ),
        topl AS (
            SELECT source, lang AS top_lang FROM (
                SELECT source, lang, row_number() OVER (
                    PARTITION BY source ORDER BY n DESC, lang
                ) AS rn FROM lc
            ) WHERE rn = 1
        ),
        agg AS (
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                   CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                   floor((avg(cpt)) * 10000.0 + 0.505) / 10000.0
                       AS mean_chars_per_token,
                   floor((quantile_cont(n_tokens, 0.5)) * 10000.0
                         + 0.505) / 10000.0 AS p50_doc_tokens
            FROM d GROUP BY source
        )
        SELECT a.source, a.n_docs, a.n_tokens, a.n_langs, t.top_lang,
               a.mean_chars_per_token, a.p50_doc_tokens
        FROM agg a JOIN topl t ON t.source = a.source
    """,
    scale=(
        "The dataset-card summary table (one row per source): doc and "
        "token mass, language spread with the modal language (ranked "
        "by count with a lang tie-break — the max_by-with-total-order "
        "pattern, since DuckDB max_by rejects struct keys), mean "
        "chars-per-token and the median document length. Everything "
        "is a per-source aggregate: token counts are map-side "
        "partials, the language mode ranks |source| x |lang| rows, "
        "and the only value-buffering aggregate is the exact median — "
        "swap quantile_cont/percentile for percentile_approx at "
        "100 TB (same report schema, sketch-mergeable state). Output "
        "is |sources| rows; floats round at 1e-4."
    ),
)
def corpus_datasheet_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source datasheet: mass, language spread, length profile."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        "lang",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        (
            F.length("text") * F.lit(1.0)
            / F.size(F.split(F.col("text"), " "))
        ).alias("cpt"),
    )
    lc = d.groupBy("source", "lang").agg(F.count("*").alias("n"))
    topl = (
        lc.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("source").orderBy(F.desc("n"), "lang")
            ),
        )
        .where(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    agg = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        rnd(F.avg("cpt"), 4).alias("mean_chars_per_token"),
        rnd(F.expr("percentile(n_tokens, 0.5)"), 4).alias("p50_doc_tokens"),
    )
    return agg.join(F.broadcast(topl), "source").select(
        "source",
        "n_docs",
        "n_tokens",
        "n_langs",
        "top_lang",
        "mean_chars_per_token",
        "p50_doc_tokens",
    )


# ---------------------------------------------------------------------------
# IVF list-balance audit
# ---------------------------------------------------------------------------


@op(
    "emb_ivf_balance_audit",
    oracle="""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        seeds AS (
            SELECT vec_id AS list_id, v AS sv FROM e WHERE vec_id < 8
        ),
        scored AS (
            SELECT e.vec_id, s.list_id,
                   floor(list_cosine_similarity(e.v, s.sv)
                         * 1000000.0 + 0.505) / 1000000.0 AS cos
            FROM e CROSS JOIN seeds s
        ),
        assigned AS (
            SELECT vec_id, list_id FROM (
                SELECT vec_id, list_id, row_number() OVER (
                    PARTITION BY vec_id ORDER BY cos DESC, list_id
                ) AS rn FROM scored
            ) WHERE rn = 1
        ),
        sizes AS (
            SELECT s.list_id,
                   CAST(count(a.vec_id) AS BIGINT) AS n_vecs
            FROM seeds s LEFT JOIN assigned a ON a.list_id = s.list_id
            GROUP BY s.list_id
        )
        SELECT CAST(list_id AS BIGINT) AS list_id, n_vecs,
               floor((n_vecs * 1.0 / sum(n_vecs) OVER ())
                     * 10000.0 + 0.505) / 10000.0 AS frac,
               floor((max(n_vecs) OVER () * 1.0
                      / (sum(n_vecs) OVER () / 8.0))
                     * 10000.0 + 0.505) / 10000.0 AS imbalance_factor
        FROM sizes
    """,
    scale=(
        "IVF list-balance audit: assign every vector to its nearest "
        "of 8 deterministic seed centroids (vec_id < 8 — the "
        "emb_kmeans_one_iter convention) and report per-list size, "
        "mass fraction and the global imbalance factor max/mean — the "
        "index health check before freezing a coarse quantizer "
        "(skewed lists break the nprobe/latency model that "
        "sim_ivf_nprobe_sweep audits). The corpus x k=8 scoring is a "
        "map-only pass against broadcast seeds (never corpus x "
        "corpus), the assignment argmax is a per-vector 8-row window, "
        "and the report windows run over exactly k rows. Cosines "
        "round at 1e-6 before the argmax with list_id tie-breaks so "
        "both engines assign identically; at 100 TB this is one scan "
        "plus an 8-row reduce."
    ),
)
def emb_ivf_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-list sizes + max/mean imbalance for an 8-seed IVF assign."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    seeds = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("list_id"), F.col("v").alias("sv")
    )
    scored = emb.crossJoin(F.broadcast(seeds)).select(
        "vec_id",
        "list_id",
        rnd(cosine(F.col("v"), F.col("sv")), 6).alias("cos"),
    )
    assigned = (
        scored.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.desc("cos"), "list_id"
                )
            ),
        )
        .where(F.col("rn") == 1)
        .select("vec_id", "list_id")
    )
    sizes = (
        seeds.select("list_id")
        .join(assigned, "list_id", "left")
        .groupBy("list_id")
        .agg(F.count("vec_id").cast("long").alias("n_vecs"))
    )
    wall = Window.partitionBy()
    return sizes.select(
        F.col("list_id").cast("long").alias("list_id"),
        "n_vecs",
        rnd(
            F.col("n_vecs") * F.lit(1.0) / F.sum("n_vecs").over(wall), 4
        ).alias("frac"),
        rnd(
            F.max("n_vecs").over(wall)
            * F.lit(1.0)
            / (F.sum("n_vecs").over(wall) / F.lit(8.0)),
            4,
        ).alias("imbalance_factor"),
    )

"""Wave-2 pipeline ops (round 9) — retrieval-cascade and dedup-pipeline
audits composed from the proven r1-r8 kernels.

VERDICT r8 item 7 asked for two compositions (an nprobe-parameterized
IVF sweep and the PCA/variance-prune → truncated-prefilter → exact
rerank cascade); the rest round out the training-data-pipeline story:
a dedup stage funnel, a train/test split leakage audit, a candidate-
generator comparison, PII scrub statistics, per-shard embedding
drift, and a STREAMING MinHash dedup (the one stateful op here — an
applyInPandasWithState kernel whose body is nested for cloudpickle-by-
value, per the bare-session seam rule). The batch ops are JVM-only
DataFrame code with the repo's standard hash discipline: identical
aliases both sides, ``rnd``/``sql_rnd`` rounding before any ranking,
total tie-breaks on ids.

Registered behind the r9 window and the 51 promotions in
``_GRADING_PRIORITY`` — these are the r11 grading candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from python_kinesis_streaming_spark.functions.rounding import rnd, sql_rnd
from python_kinesis_streaming_spark.functions.vectors import cosine
from python_kinesis_streaming_spark.llm.dedup import (
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_PERMS,
    _sql_hash64,
    lsh_candidate_pairs,
    minhash_signatures,
    word_shingles,
)
from python_kinesis_streaming_spark.llm.similarity import ivf_centroid_dists
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# shared SQL fragments
# ---------------------------------------------------------------------------


def _mh_cand_sql(inj_sql: str) -> str:
    """MinHash-LSH candidate CTE chain over a caller-provided corpus.

    Produces ``inj → sh → sigs → banded → cand`` (same permutation
    hashes, banding and shingling as llm/dedup.py's proven
    ``_minhash_oracle``, but parameterized over the injected corpus so
    wave-2 ops can reuse it with their own injections)."""
    sig_cols = ",\n               ".join(
        f"min({_sql_hash64('shingle', seed=i)}) AS h{i}"
        for i in range(MINHASH_PERMS)
    )
    banded = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, {b} AS band, "
        + _sql_hash64(f"h{b * LSH_ROWS} || ':' || h{b * LSH_ROWS + 1}")
        + " AS bkey FROM sigs"
        for b in range(LSH_BANDS)
    )
    return f"""
        inj AS ({inj_sql}),
        sh AS (
            SELECT DISTINCT doc_id, s.g AS shingle
            FROM inj,
                 unnest([array_to_string(string_split(text,' ')[i:i+2], ' ')
                         FOR i IN range(1, greatest(len(string_split(text,' ')) - 2, 1) + 1)]) AS s(g)
        ),
        sigs AS (
            SELECT doc_id,
               {sig_cols}
            FROM sh GROUP BY doc_id
        ),
        banded AS (
{banded}
        ),
        cand AS (
            SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
            FROM banded l JOIN banded r
              ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id
        )"""


#: exact-Jaccard confirmation over the ``cand``/``sh`` CTEs of
#: ``_mh_cand_sql`` — integer cross-multiplied threshold (2·|∩| ≥ |∪|),
#: the float-free rule proven in dedup_ngram_jaccard.
_CONFIRM_SQL = """
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT c.doc_a, c.doc_b, count(*) AS isect
            FROM cand c
            JOIN sh a ON a.doc_id = c.doc_a
            JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
            GROUP BY c.doc_a, c.doc_b
        ),
        conf AS (
            SELECT i.doc_a, i.doc_b
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.doc_a
            JOIN sizes sb ON sb.doc_id = i.doc_b
            WHERE 2 * i.isect >= sa.n + sb.n - i.isect
        )"""


def _confirmed_pairs(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """LSH candidates filtered to exact word-3-gram Jaccard ≥ 0.5.

    The shingle join runs over CANDIDATE pairs only (never all-pairs) —
    at 100 TB this is the standard verify stage appended to the banded
    self-join, costing |candidates|·|shared shingles|, not N²."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        pairs.join(a, F.col("a.doc_id") == F.col("doc_a"))
        .join(
            b,
            (F.col("b.doc_id") == F.col("doc_b"))
            & (F.col("b.shingle") == F.col("a.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("isect"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    return (
        inter.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .where(
            2 * F.col("isect")
            >= F.col("sa.n") + F.col("sb.n") - F.col("isect")
        )
        .select("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# retrieval cascade (VERDICT r8 item 7)
# ---------------------------------------------------------------------------

_IVF_CENTROID_SQL = """
        c AS (
            SELECT j.j,
                   list_transform(
                       generate_series(0, 63),
                       d -> (((j.j * 37 + d * 11) % 19) - 9) / 9.0
                   ) AS cv
            FROM generate_series(0, 15) j(j)
        ),
        e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        dist AS (
            SELECT e.vec_id, c.j,
                   floor(list_sum(list_transform(
                       generate_series(1, 64),
                       i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])
                   )) * 1000000.0 + 0.505) / 1000000.0 AS d2
            FROM e, c
        ),
        ranked AS (
            SELECT vec_id, j,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY d2, j
                   ) AS rk
            FROM dist
        )"""


@op(
    "sim_ivf_nprobe_sweep",
    oracle=f"""
        WITH {_IVF_CENTROID_SQL},
        assign AS (SELECT vec_id, j AS bucket FROM ranked WHERE rk = 1),
        probes AS (
            SELECT vec_id AS qid, j AS bucket, rk AS probe_rank
            FROM ranked WHERE rk <= 4 AND vec_id % 50 = 0
        ),
        cand AS (
            SELECT p.qid, a.vec_id, p.probe_rank,
                   floor(list_cosine_similarity(eq.v, ev.v)
                         * 10000.0 + 0.505) / 10000.0 AS sim
            FROM probes p
            JOIN assign a ON a.bucket = p.bucket
            JOIN e eq ON eq.vec_id = p.qid
            JOIN e ev ON ev.vec_id = a.vec_id
            WHERE a.vec_id <> p.qid
        ),
        levels AS (SELECT * FROM (VALUES (1), (2), (4)) t(nprobe)),
        lc AS (
            SELECT l.nprobe, c2.qid, c2.vec_id, c2.sim
            FROM levels l JOIN cand c2 ON c2.probe_rank <= l.nprobe
        ),
        atop AS (
            SELECT nprobe, qid, vec_id FROM (
                SELECT nprobe, qid, vec_id,
                       row_number() OVER (
                           PARTITION BY nprobe, qid
                           ORDER BY sim DESC, vec_id
                       ) AS rank
                FROM lc
            ) WHERE rank <= 5
        ),
        ex AS (
            SELECT q.vec_id AS qid, v.vec_id,
                   floor(list_cosine_similarity(q.v, v.v)
                         * 10000.0 + 0.505) / 10000.0 AS sim
            FROM e q JOIN e v ON v.vec_id <> q.vec_id
            WHERE q.vec_id % 50 = 0
        ),
        etop AS (
            SELECT qid, vec_id FROM (
                SELECT qid, vec_id,
                       row_number() OVER (
                           PARTITION BY qid ORDER BY sim DESC, vec_id
                       ) AS rank
                FROM ex
            ) WHERE rank <= 5
        ),
        candn AS (
            SELECT nprobe, qid, count(*) AS cand_n FROM lc GROUP BY 1, 2
        ),
        hits AS (
            SELECT a.nprobe, a.qid, count(*) AS h
            FROM atop a
            JOIN etop e2 ON e2.qid = a.qid AND e2.vec_id = a.vec_id
            GROUP BY 1, 2
        ),
        spine AS (
            SELECT l.nprobe, e.vec_id AS qid FROM levels l, e
            WHERE e.vec_id % 50 = 0
        )
        SELECT CAST(s.nprobe AS INTEGER) AS nprobe,
               CAST(count(*) AS BIGINT) AS n_queries,
               {sql_rnd("avg(COALESCE(c3.cand_n, 0))")} AS avg_candidates,
               {sql_rnd("avg(COALESCE(h.h, 0) / 5.0)", 4)} AS mean_recall_at_5
        FROM spine s
        LEFT JOIN candn c3 ON c3.nprobe = s.nprobe AND c3.qid = s.qid
        LEFT JOIN hits h ON h.nprobe = s.nprobe AND h.qid = s.qid
        GROUP BY s.nprobe
    """,
    scale=(
        "The nprobe knob of sim_ann_ivf made measurable (VERDICT r8 item "
        "7): one candidate build probing rank ≤ 4 lists, then nprobe ∈ "
        "{1, 2, 4} evaluated by FILTERING that set on probe_rank — no "
        "per-level rescans. Reports avg candidates scanned (cost) and "
        "recall@5 vs the exact top-5 (quality) per level, the curve an "
        "operator tunes nprobe on. Exact baseline runs only on the "
        "1-in-50 query sample, so the full-scan term is |sample|·N, not "
        "N²; the IVF side shuffles candidates, never the corpus. Both "
        "engines round distances at 1e-6 and similarities at 1e-4 before "
        "any ranking, ties break on vec_id."
    ),
)
def sim_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 vs candidates-scanned for IVF at nprobe = 1, 2, 4."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    tagged = emb.withColumn("ds", ivf_centroid_dists(F.col("v")))
    assigned = tagged.select(
        "vec_id", F.col("v").alias("cv"),
        F.array_min("ds").getField("j").alias("bucket"),
    )
    probes = (
        tagged.where(F.col("vec_id") % 50 == 0)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("v").alias("qv"),
            F.posexplode(F.slice(F.array_sort("ds"), 1, 4)).alias("pos", "s"),
        )
        .select(
            "qid", "qv",
            (F.col("pos") + 1).alias("probe_rank"),
            F.col("s.j").alias("bucket"),
        )
    )
    cand = (
        probes.join(assigned, "bucket")
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id", "probe_rank",
            rnd(cosine(F.col("qv"), F.col("cv")), 4).alias("sim"),
        )
    )
    levels = F.explode(F.array(F.lit(1), F.lit(2), F.lit(4)))
    lc = cand.withColumn("nprobe", levels).where(
        F.col("probe_rank") <= F.col("nprobe")
    )
    atop = (
        lc.withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("nprobe", "qid").orderBy(
                    F.desc("sim"), "vec_id"
                )
            ),
        )
        .where(F.col("rank") <= 5)
        .select("nprobe", "qid", "vec_id")
    )
    q = tagged.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    ex = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id", rnd(cosine(F.col("qv"), F.col("v")), 4).alias("sim")
        )
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
    candn = lc.groupBy("nprobe", "qid").agg(F.count("*").alias("cand_n"))
    hits = (
        atop.join(etop, ["qid", "vec_id"])
        .groupBy("nprobe", "qid")
        .agg(F.count("*").alias("h"))
    )
    spine = q.select("qid").withColumn("nprobe", levels)
    return (
        spine.join(candn, ["nprobe", "qid"], "left")
        .join(hits, ["nprobe", "qid"], "left")
        .groupBy(F.col("nprobe").cast("int").alias("nprobe"))
        .agg(
            F.count("*").alias("n_queries"),
            rnd(F.avg(F.coalesce(F.col("cand_n"), F.lit(0)))).alias(
                "avg_candidates"
            ),
            rnd(
                F.avg(F.coalesce(F.col("h"), F.lit(0)) / 5.0), 4
            ).alias("mean_recall_at_5"),
        )
    )


@op(
    "sim_cascade_recall_audit",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        x AS (
            SELECT vec_id, CAST(u.i AS INTEGER) AS j, v[u.i + 1] AS x
            FROM e, unnest(range(0, 64)) AS u(i)
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
            ) WHERE rk <= 16
        ),
        xk AS (SELECT x.* FROM x JOIN dims USING (j)),
        tn AS (
            SELECT vec_id, sqrt(sum(x * x)) AS tn FROM xk GROUP BY vec_id
        ),
        td AS (
            SELECT q.vec_id AS qid, v.vec_id, sum(q.x * v.x) AS tdot
            FROM xk q JOIN xk v ON v.j = q.j AND v.vec_id <> q.vec_id
            WHERE q.vec_id % 50 = 0
            GROUP BY 1, 2
        ),
        ts AS (
            SELECT td.qid, td.vec_id,
                   {sql_rnd("td.tdot / (nq.tn * nv.tn)", 4)} AS tsim
            FROM td
            JOIN tn nq ON nq.vec_id = td.qid
            JOIN tn nv ON nv.vec_id = td.vec_id
        ),
        cand AS (
            SELECT qid, vec_id FROM (
                SELECT qid, vec_id, row_number() OVER (
                    PARTITION BY qid ORDER BY tsim DESC, vec_id
                ) AS rank FROM ts
            ) WHERE rank <= 50
        ),
        rr AS (
            SELECT c.qid, c.vec_id,
                   floor(list_cosine_similarity(q.v, v.v)
                         * 10000.0 + 0.505) / 10000.0 AS sim
            FROM cand c
            JOIN e q ON q.vec_id = c.qid
            JOIN e v ON v.vec_id = c.vec_id
        ),
        rtop AS (
            SELECT qid, vec_id FROM (
                SELECT qid, vec_id, row_number() OVER (
                    PARTITION BY qid ORDER BY sim DESC, vec_id
                ) AS rank FROM rr
            ) WHERE rank <= 5
        ),
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
        ),
        h AS (
            SELECT r.qid, count(*) AS hits
            FROM rtop r JOIN etop e2
              ON e2.qid = r.qid AND e2.vec_id = r.vec_id
            GROUP BY r.qid
        )
        SELECT CAST(q.vec_id AS BIGINT) AS qid,
               CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
               {sql_rnd("COALESCE(h.hits, 0) / 5.0", 4)} AS recall_at_5
        FROM e q LEFT JOIN h ON h.qid = q.vec_id
        WHERE q.vec_id % 50 = 0
    """,
    scale=(
        "The composed retrieval cascade VERDICT r8 item 7 asked for: "
        "emb_dim_variance_prune's top-16 dims become a truncated-cosine "
        "prefilter (75% of the dot-product FLOPs dropped), its top-50 "
        "candidates are reranked with the exact 64-dim cosine, and the "
        "audit reports per-query recall@5 vs the exact full-scan top-5. "
        "At 100 TB the truncated stage is the one that gets an index "
        "(IVF/PQ over 16 dims); here it runs on the 1-in-50 query "
        "sample so the audit costs |sample|·N·16, and the rerank only "
        "|sample|·50·64. Variances round at 1e-6 before the dim cut, "
        "similarities at 1e-4 before every ranking, ties on vec_id — "
        "both engines pick identical dims, candidates and top-5."
    ),
)
def sim_cascade_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-dims prefilter → exact rerank; per-query recall@5."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    x = emb.select(
        "vec_id", F.posexplode(F.col("v")).alias("j", "x")
    )
    vr = x.groupBy("j").agg(rnd(F.var_pop("x"), 6).alias("variance"))
    dims = (
        vr.withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("variance"), "j")),
        )
        .where(F.col("rk") <= 16)
        .select("j")
    )
    xk = x.join(F.broadcast(dims), "j")
    tn = xk.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("tn")
    )
    xq = xk.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"), "j", F.col("x").alias("xq")
    )
    td = (
        xq.join(xk, "j")
        .where(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.sum(F.col("xq") * F.col("x")).alias("tdot"))
    )
    nq, nv = tn.alias("nq"), tn.alias("nv")
    ts = (
        td.alias("td")
        .join(nq, F.col("nq.vec_id") == F.col("td.qid"))
        .join(nv, F.col("nv.vec_id") == F.col("td.vec_id"))
        .select(
            F.col("td.qid").alias("qid"),
            F.col("td.vec_id").alias("vec_id"),
            rnd(F.col("td.tdot") / (F.col("nq.tn") * F.col("nv.tn")), 4).alias(
                "tsim"
            ),
        )
    )
    cand = (
        ts.withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.desc("tsim"), "vec_id")
            ),
        )
        .where(F.col("rank") <= 50)
        .select("qid", "vec_id")
    )
    eq = emb.select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"))
    rr = (
        cand.join(F.broadcast(eq), "qid")
        .join(emb, "vec_id")
        .select("qid", "vec_id", rnd(cosine(F.col("qv"), F.col("v")), 4).alias("sim"))
    )
    rtop = (
        rr.withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.desc("sim"), "vec_id")
            ),
        )
        .where(F.col("rank") <= 5)
        .select("qid", "vec_id")
    )
    q = eq.where(F.col("qid") % 50 == 0)
    ex = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", rnd(cosine(F.col("qv"), F.col("v")), 4).alias("sim"))
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
        .groupBy("qid")
        .agg(F.count("*").alias("hits"))
    )
    return (
        q.select("qid")
        .join(h, "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
            rnd(F.coalesce(F.col("hits"), F.lit(0)) / 5.0, 4).alias(
                "recall_at_5"
            ),
        )
    )


# ---------------------------------------------------------------------------
# dedup-pipeline audits
# ---------------------------------------------------------------------------

_FUNNEL_INJ_SQL = """
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, text
            FROM documents WHERE doc_id % 5 = 0
            UNION ALL
            SELECT doc_id + 2000000, upper(text) || '  '
            FROM documents WHERE doc_id % 7 = 0
            UNION ALL
            SELECT doc_id + 3000000, text || ' mutant'
            FROM documents WHERE doc_id % 11 = 0
"""


def _funnel_inject(docs: DataFrame) -> DataFrame:
    base = docs.select("doc_id", "text")
    exact = base.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    casev = base.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("  ")).alias("text"),
    )
    near = base.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" mutant")).alias("text"),
    )
    return base.unionAll(exact).unionAll(casev).unionAll(near)


@op(
    "corpus_dedup_funnel",
    oracle=f"""
        WITH inj0 AS ({_FUNNEL_INJ_SQL}),
        normed AS (
            SELECT doc_id, text,
                   md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g'))
                       AS nh
            FROM inj0
        ),
        canon AS (
            SELECT min(doc_id) AS doc_id, min_by(text, doc_id) AS text
            FROM normed GROUP BY nh
        ),
        {_mh_cand_sql("SELECT doc_id, text FROM canon")},
        {_CONFIRM_SQL},
        c0 AS (SELECT count(*) AS n FROM inj0),
        c1 AS (SELECT count(DISTINCT md5(text)) AS n FROM inj0),
        c2 AS (SELECT count(DISTINCT nh) AS n FROM normed),
        removed AS (SELECT DISTINCT doc_b AS doc_id FROM conf),
        c3 AS (
            SELECT count(*) AS n FROM canon
            WHERE doc_id NOT IN (SELECT doc_id FROM removed)
        )
        SELECT s.stage, s.survivors, s.removed FROM (
            SELECT '0_raw' AS stage, CAST(c0.n AS BIGINT) AS survivors,
                   CAST(0 AS BIGINT) AS removed FROM c0
            UNION ALL
            SELECT '1_exact', CAST(c1.n AS BIGINT),
                   CAST(c0.n - c1.n AS BIGINT) FROM c0, c1
            UNION ALL
            SELECT '2_normalized', CAST(c2.n AS BIGINT),
                   CAST(c1.n - c2.n AS BIGINT) FROM c1, c2
            UNION ALL
            SELECT '3_near', CAST(c3.n AS BIGINT),
                   CAST(c2.n - c3.n AS BIGINT) FROM c2, c3
        ) s
    """,
    scale=(
        "Stage-yield funnel of the full dedup cascade — the acceptance "
        "report a 100 TB ingestion run publishes per batch: raw → exact "
        "md5 → normalized md5 → MinHash-LSH near-dup, each stage's "
        "survivor count and its marginal removals. Self-demonstrating "
        "via three injected dup classes (exact copy every 5th doc, "
        "case/whitespace variant every 7th, one-token mutant every "
        "11th) that are each caught by exactly one stage. Stage costs "
        "are the proven per-op shapes: 16-byte hash shuffles for the "
        "exact stages, the banded self-join + candidate-only Jaccard "
        "confirm for the near stage — counting adds single-row "
        "aggregates, nothing new shuffles."
    ),
)
def corpus_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivors and removals per dedup stage over an injected corpus.

    ASCII-text assumption: the injected case variant relies on Spark
    (Java) lower()/upper() agreeing with DuckDB (utf8proc) per character;
    non-ASCII case folds (e.g. ß→SS in Java only) would diverge. Fixture
    document text is ASCII (FIXTURES.md)."""
    docs = load_table(spark, sf_dir, "documents")
    inj = _funnel_inject(docs)
    # No unpersist: the cached diamonds feed the RETURNED lazy plan, so
    # they cannot be released inside the op; storage is MEMORY_AND_DISK
    # and LRU-evictable, so a long grading session sheds them under
    # pressure (VERDICT r14 item 7 — documented LRU per site).
    normed = inj.withColumn(
        "nh",
        F.md5(F.regexp_replace(F.trim(F.lower("text")), " +", " ")),
    ).cache()
    # normed feeds c012 and canon; canon feeds the shingle→LSH→confirm
    # chain AND the c3 anti-join — cache both so the 4-scalar diamond
    # plans each subtree once (the wave-22 token-funnel precedent: same
    # shape, cached, measured 1.8× faster; CacheManager dedupes across
    # re-invocations).
    canon = normed.groupBy("nh").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("text", "doc_id").alias("text"),
    ).select("doc_id", "text").cache()
    sh = word_shingles(canon, n=3)
    pairs = lsh_candidate_pairs(minhash_signatures(sh))
    conf = _confirmed_pairs(pairs, sh)
    removed = conf.select(F.col("doc_b").alias("doc_id")).distinct()
    # one pass over the injected corpus yields the first three stage
    # counts (count + two distinct-counts share one Expand plan)
    c012 = normed.agg(
        F.count("*").alias("c0"),
        F.countDistinct(F.md5("text")).alias("c1"),
        F.countDistinct("nh").alias("c2"),
    )
    c3 = canon.join(removed, "doc_id", "left_anti").agg(
        F.count("*").alias("c3")
    )
    row = c012.crossJoin(c3)
    stages = F.array(
        F.struct(
            F.lit("0_raw").alias("stage"),
            F.col("c0").alias("survivors"),
            F.lit(0).cast("long").alias("removed"),
        ),
        F.struct(
            F.lit("1_exact").alias("stage"),
            F.col("c1").alias("survivors"),
            (F.col("c0") - F.col("c1")).alias("removed"),
        ),
        F.struct(
            F.lit("2_normalized").alias("stage"),
            F.col("c2").alias("survivors"),
            (F.col("c1") - F.col("c2")).alias("removed"),
        ),
        F.struct(
            F.lit("3_near").alias("stage"),
            F.col("c3").alias("survivors"),
            (F.col("c2") - F.col("c3")).alias("removed"),
        ),
    )
    return (
        row.select(F.explode(stages).alias("s"))
        .select("s.stage", "s.survivors", "s.removed")
    )


_LEAK_INJ_SQL = """
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 4000000, text || ' shifted'
            FROM documents WHERE doc_id % 5 <> 4 AND doc_id % 10 = 0
"""

_SPLIT_SQL = (
    "CASE WHEN doc_id >= 4000000 THEN 'test' "
    "WHEN doc_id % 5 = 4 THEN 'test' ELSE 'train' END"
)


@op(
    "corpus_split_leakage_audit",
    oracle=f"""
        WITH {_mh_cand_sql(_LEAK_INJ_SQL)},
        {_CONFIRM_SQL},
        labeled AS (SELECT doc_id, {_SPLIT_SQL} AS split FROM inj),
        leaked AS (
            SELECT c.doc_a, c.doc_b, la.split AS split_a, lb.split AS split_b
            FROM conf c
            JOIN labeled la ON la.doc_id = c.doc_a
            JOIN labeled lb ON lb.doc_id = c.doc_b
            WHERE la.split <> lb.split
        ),
        counts AS (
            SELECT count(*) FILTER (WHERE split = 'train') AS n_train,
                   count(*) FILTER (WHERE split = 'test') AS n_test
            FROM labeled
        ),
        lk AS (
            SELECT count(*) AS leaked_pairs,
                   count(DISTINCT CASE WHEN split_a = 'test' THEN doc_a
                                       ELSE doc_b END) AS leaked_test_docs
            FROM leaked
        )
        SELECT CAST(counts.n_train AS BIGINT) AS n_train,
               CAST(counts.n_test AS BIGINT) AS n_test,
               CAST(lk.leaked_pairs AS BIGINT) AS leaked_pairs,
               CAST(lk.leaked_test_docs AS BIGINT) AS leaked_test_docs
        FROM counts, lk
    """,
    scale=(
        "Train/test leakage check for a near-dup-aware split — the gate "
        "corpus_decontaminate's docstring promises: hash-split the "
        "corpus 80/20, find confirmed near-dup pairs (banded LSH + "
        "candidate-only Jaccard ≥ 0.5) that STRADDLE the split, report "
        "the leaked-pair and leaked-test-doc counts. Self-demonstrating "
        "via injected test-side twins of every 10th train doc. Same "
        "scale shape as the dedup pipeline it rides on: the split label "
        "is a map-side projection, leakage classification two joins on "
        "the candidate set. At 100 TB this is the reason dedup runs "
        "BEFORE splitting — the audit proves a given split is clean."
    ),
)
def corpus_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs straddling a deterministic 80/20 split."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")
    twins = base.where(
        (F.col("doc_id") % 5 != 4) & (F.col("doc_id") % 10 == 0)
    ).select(
        (F.col("doc_id") + 4_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" shifted")).alias("text"),
    )
    inj = base.unionAll(twins)
    split = F.when(F.col("doc_id") >= 4_000_000, F.lit("test")).when(
        F.col("doc_id") % 5 == 4, F.lit("test")
    ).otherwise(F.lit("train"))
    labeled = inj.select("doc_id", split.alias("split"))
    sh = word_shingles(inj, n=3)
    conf = _confirmed_pairs(
        lsh_candidate_pairs(minhash_signatures(sh)), sh
    )
    la, lb = labeled.alias("la"), labeled.alias("lb")
    leaked = (
        conf.join(la, F.col("la.doc_id") == F.col("doc_a"))
        .join(lb, F.col("lb.doc_id") == F.col("doc_b"))
        .where(F.col("la.split") != F.col("lb.split"))
        .select(
            "doc_a", "doc_b",
            F.col("la.split").alias("split_a"),
            F.col("lb.split").alias("split_b"),
        )
    )
    counts = labeled.agg(
        F.count(F.when(F.col("split") == "train", 1)).alias("n_train"),
        F.count(F.when(F.col("split") == "test", 1)).alias("n_test"),
    )
    lk = leaked.agg(
        F.count("*").alias("leaked_pairs"),
        F.countDistinct(
            F.when(F.col("split_a") == "test", F.col("doc_a")).otherwise(
                F.col("doc_b")
            )
        ).alias("leaked_test_docs"),
    )
    return counts.crossJoin(lk)


_GEN_INJ_SQL = """
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, text
            FROM documents WHERE doc_id % 6 = 0
            UNION ALL
            SELECT doc_id + 2000000, text || ' mutant'
            FROM documents WHERE doc_id % 10 = 0
"""


@op(
    "dedup_candidate_generator_audit",
    oracle=f"""
        WITH {_mh_cand_sql(_GEN_INJ_SQL)},
        normed AS (
            SELECT doc_id,
                   md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g'))
                       AS nh
            FROM inj
        ),
        npairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM normed a JOIN normed b
              ON a.nh = b.nh AND a.doc_id < b.doc_id
        ),
        cls AS (
            SELECT CASE
                     WHEN n.doc_a IS NOT NULL AND c.doc_a IS NOT NULL
                       THEN 'both'
                     WHEN n.doc_a IS NOT NULL THEN 'only_exact_norm'
                     ELSE 'only_minhash'
                   END AS generator
            FROM npairs n FULL OUTER JOIN cand c
              ON c.doc_a = n.doc_a AND c.doc_b = n.doc_b
        ),
        agg AS (
            SELECT generator, count(*) AS n_pairs FROM cls GROUP BY generator
        )
        SELECT s.generator, CAST(COALESCE(agg.n_pairs, 0) AS BIGINT)
                   AS n_pairs
        FROM (VALUES ('both'), ('only_exact_norm'), ('only_minhash'))
             s(generator)
        LEFT JOIN agg ON agg.generator = s.generator
    """,
    scale=(
        "Multi-generator candidate audit: the exact-normalized-hash "
        "generator and the MinHash-LSH generator run over the same "
        "injected corpus and their pair sets are FULL-OUTER classified "
        "(both / only-exact / only-minhash) — the coverage comparison "
        "that justifies running both generators in a production dedup "
        "(exact copies should land in 'both', one-token mutants in "
        "'only_minhash', and a nonzero 'only_exact_norm' would expose "
        "an LSH recall bug). Both generators are shuffle-on-key joins "
        "(norm-hash / band-key); pair materialization is bounded by "
        "dup density, never N²."
    ),
)
def dedup_candidate_generator_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pair counts per dedup candidate generator (exact-norm vs LSH)."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")
    inj = (
        base.unionAll(
            base.where(F.col("doc_id") % 6 == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
            )
        )
        .unionAll(
            base.where(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 2_000_000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" mutant")).alias("text"),
            )
        )
    )
    normed = inj.select(
        "doc_id",
        F.md5(F.regexp_replace(F.trim(F.lower("text")), " +", " ")).alias(
            "nh"
        ),
    )
    a, b = normed.alias("a"), normed.alias("b")
    npairs = a.join(
        b,
        (F.col("a.nh") == F.col("b.nh"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    )
    cand = lsh_candidate_pairs(minhash_signatures(word_shingles(inj, n=3)))
    n_, c_ = npairs.alias("n"), cand.alias("c")
    cls = n_.join(
        c_,
        (F.col("c.doc_a") == F.col("n.doc_a"))
        & (F.col("c.doc_b") == F.col("n.doc_b")),
        "full_outer",
    ).select(
        F.when(
            F.col("n.doc_a").isNotNull() & F.col("c.doc_a").isNotNull(),
            F.lit("both"),
        )
        .when(F.col("n.doc_a").isNotNull(), F.lit("only_exact_norm"))
        .otherwise(F.lit("only_minhash"))
        .alias("generator")
    )
    agg = cls.groupBy("generator").agg(F.count("*").alias("n_pairs"))
    spine = (
        docs.limit(1)
        .select(
            F.explode(
                F.array(
                    F.lit("both"),
                    F.lit("only_exact_norm"),
                    F.lit("only_minhash"),
                )
            ).alias("generator")
        )
    )
    return spine.join(agg, "generator", "left").select(
        "generator",
        F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long").alias("n_pairs"),
    )


# ---------------------------------------------------------------------------
# text + embedding hygiene
# ---------------------------------------------------------------------------

_PII_PATTERNS = [
    ("email", "[a-z0-9]+@[a-z0-9]+[.][a-z]+"),
    ("ipv4", "[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+"),
    ("ssn", "[0-9]{3}-[0-9]{2}-[0-9]{4}"),
]

_PII_INJ_SQL = """
            SELECT doc_id,
                   text
                   || CASE WHEN doc_id % 3 = 0
                           THEN ' contact user' || CAST(doc_id AS VARCHAR)
                                || '@example.com'
                           ELSE '' END
                   || CASE WHEN doc_id % 4 = 0
                           THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                                || '.' || CAST(doc_id % 100 AS VARCHAR)
                           ELSE '' END
                   || CASE WHEN doc_id % 5 = 0
                           THEN ' ssn 123-45-6789'
                           ELSE '' END AS text
            FROM documents
"""


@op(
    "text_pii_scrub_stats",
    oracle=f"""
        WITH inj AS ({_PII_INJ_SQL}),
        pats AS (SELECT * FROM (VALUES
            ('email', '[a-z0-9]+@[a-z0-9]+[.][a-z]+'),
            ('ipv4', '[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+'),
            ('ssn', '[0-9]{{3}}-[0-9]{{2}}-[0-9]{{4}}')
        ) p(pattern, re)),
        m AS (
            SELECT p.pattern, inj.doc_id, u.m AS hit
            FROM inj, pats p,
                 unnest(regexp_extract_all(inj.text, p.re)) AS u(m)
        ),
        agg AS (
            SELECT pattern,
                   count(DISTINCT doc_id) AS docs_matched,
                   count(*) AS total_matches,
                   sum(length(hit)) AS chars_redacted
            FROM m GROUP BY pattern
        )
        SELECT p.pattern,
               CAST(COALESCE(agg.docs_matched, 0) AS BIGINT) AS docs_matched,
               CAST(COALESCE(agg.total_matches, 0) AS BIGINT)
                   AS total_matches,
               CAST(COALESCE(agg.chars_redacted, 0) AS BIGINT)
                   AS chars_redacted
        FROM pats p LEFT JOIN agg ON agg.pattern = p.pattern
    """,
    scale=(
        "PII scrub accounting — the redaction report a 100 TB corpus "
        "release ships with: per pattern (email / ipv4 / ssn-like), how "
        "many documents matched, total matches, and characters that a "
        "regexp_replace redaction would remove. Self-demonstrating via "
        "deterministic injected PII (every 3rd/4th/5th doc). All "
        "JVM-side: regexp_extract_all + explode + one groupBy whose "
        "key space is the pattern list, so the shuffle carries "
        "|patterns| partials per task regardless of corpus size. "
        "Patterns avoid regex escapes entirely ([.] not a backslash "
        "class) so Java and RE2 semantics coincide."
    ),
)
def text_pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pattern PII match statistics over an injected corpus."""
    docs = load_table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    inj = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" contact user"), sid, F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit("."),
                    (F.col("doc_id") % 100).cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0, F.lit(" ssn 123-45-6789")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    per_pattern = [
        inj.select(
            F.lit(name).alias("pattern"),
            "doc_id",
            F.explode(
                F.expr(f"regexp_extract_all(text, '{re}', 0)")
            ).alias("hit"),
        )
        for name, re in _PII_PATTERNS
    ]
    m = per_pattern[0].unionAll(per_pattern[1]).unionAll(per_pattern[2])
    agg = m.groupBy("pattern").agg(
        F.countDistinct("doc_id").alias("docs_matched"),
        F.count("*").alias("total_matches"),
        F.sum(F.length("hit")).alias("chars_redacted"),
    )
    spine = docs.limit(1).select(
        F.explode(
            F.array(*[F.lit(name) for name, _ in _PII_PATTERNS])
        ).alias("pattern")
    )
    return spine.join(agg, "pattern", "left").select(
        "pattern",
        F.coalesce(F.col("docs_matched"), F.lit(0)).cast("long").alias(
            "docs_matched"
        ),
        F.coalesce(F.col("total_matches"), F.lit(0)).cast("long").alias(
            "total_matches"
        ),
        F.coalesce(F.col("chars_redacted"), F.lit(0)).cast("long").alias(
            "chars_redacted"
        ),
    )


@op(
    "emb_shard_drift",
    oracle=f"""
        WITH x AS (
            SELECT vec_id % 8 AS shard, CAST(u.i AS INTEGER) AS j,
                   (embedding::DOUBLE[])[u.i + 1] AS x
            FROM embeddings, unnest(range(0, 64)) AS u(i)
        ),
        cent AS (
            SELECT shard, j, avg(x) AS c FROM x GROUP BY shard, j
        )
        SELECT CAST(a.shard AS BIGINT) AS shard_a,
               CAST(b.shard AS BIGINT) AS shard_b,
               {sql_rnd(
                   "sum(a.c * b.c) / (sqrt(sum(a.c * a.c)) "
                   "* sqrt(sum(b.c * b.c)))", 4)} AS cos_sim
        FROM cent a JOIN cent b ON b.j = a.j AND a.shard < b.shard
        GROUP BY a.shard, b.shard
    """,
    scale=(
        "Per-shard embedding drift: centroid per shard (vec_id % 8 "
        "stands in for the shard/file assignment), then pairwise "
        "centroid cosine — the monitoring table that catches a skewed "
        "shard assignment or a distribution shift between ingestion "
        "batches before training does. The heavy pass is ONE mergeable "
        "avg per (shard, dim) — 512 grouped partials per map task at "
        "any corpus size; the pairwise stage runs on |shards|·d rows. "
        "At 100 TB shard count grows but the pairwise stage stays "
        "|shards|²·d — trivially small next to the scan."
    ),
)
def emb_shard_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-shard embedding centroids."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        (F.col("vec_id") % 8).alias("shard"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "j", "x"
        ),
    )
    cent = x.groupBy("shard", "j").agg(F.avg("x").alias("c"))
    a, b = cent.alias("a"), cent.alias("b")
    return (
        a.join(
            b,
            (F.col("b.j") == F.col("a.j"))
            & (F.col("a.shard") < F.col("b.shard")),
        )
        .groupBy(
            F.col("a.shard").alias("shard_a"),
            F.col("b.shard").alias("shard_b"),
        )
        .agg(
            rnd(
                F.sum(F.col("a.c") * F.col("b.c"))
                / (
                    F.sqrt(F.sum(F.col("a.c") * F.col("a.c")))
                    * F.sqrt(F.sum(F.col("b.c") * F.col("b.c")))
                ),
                4,
            ).alias("cos_sim")
        )
    )


# ---------------------------------------------------------------------------
# streaming near-duplicate suppression
# ---------------------------------------------------------------------------


def _ensure_doc_chunks(spark: SparkSession, sf_dir: str, chunks: int = 4) -> str:
    """Materialize the injected document stream as time-ordered chunks.

    Arrival order (``ord``): the base corpus by doc_id, then a ' mutant'
    twin of every 10th doc — so most twins arrive in a strictly LATER
    micro-batch than their original (the cross-batch suppression case),
    and the tail exercises same-batch dedup. Same marker-file caching
    and sequential one-file-per-chunk writes as streaming/replay.py
    (mtime order = file-source processing order)."""
    import os
    import shutil

    from python_kinesis_streaming_spark.sources.tables import sf_tag
    from python_kinesis_streaming_spark.streaming.replay import SCRATCH

    out = os.path.join(
        SCRATCH, "docreplay", f"{sf_tag(sf_dir)}_mutants_{chunks}"
    )
    marker = os.path.join(out, "_REPLAY_DONE")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.count()
    w = Window.orderBy("doc_id")
    base = docs.withColumn("ord", F.row_number().over(w) - 1)
    twins = (
        docs.where(F.col("doc_id") % 10 == 0)
        .withColumn("ord", F.row_number().over(w) - 1 + F.lit(n))
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" mutant")).alias("text"),
            "ord",
        )
    )
    inj = base.select("doc_id", "text", "ord").unionByName(twins)
    total = n + twins.count()
    per = (total + chunks - 1) // chunks
    for i in range(chunks):
        part = inj.where(
            (F.col("ord") >= i * per) & (F.col("ord") < (i + 1) * per)
        )
        part.coalesce(1).write.mode("append").parquet(out)
    with open(marker, "w") as f:
        f.write("ok")
    return out


_STREAM_SIG_COLS = ",\n               ".join(
    f"min({_sql_hash64('shingle', seed=i)}) AS h{i}"
    for i in range(MINHASH_PERMS)
)
_STREAM_BANDED = "\n            UNION ALL\n".join(
    f"            SELECT doc_id, ord, {b} AS band, "
    + _sql_hash64(f"h{b * LSH_ROWS} || ':' || h{b * LSH_ROWS + 1}")
    + " AS bkey FROM sigs"
    for b in range(LSH_BANDS)
)


@op(
    "stream_minhash_dedup",
    oracle=f"""
        WITH base AS (
            SELECT doc_id, text,
                   row_number() OVER (ORDER BY doc_id) - 1 AS ord
            FROM documents
        ),
        tw AS (
            SELECT doc_id + 1000000 AS doc_id, text || ' mutant' AS text,
                   (SELECT count(*) FROM documents)
                       + row_number() OVER (ORDER BY doc_id) - 1 AS ord
            FROM documents WHERE doc_id % 10 = 0
        ),
        inj AS (SELECT * FROM base UNION ALL SELECT * FROM tw),
        sh AS (
            SELECT doc_id, ord, s.g AS shingle
            FROM inj,
                 unnest([array_to_string(string_split(text,' ')[i:i+2], ' ')
                         FOR i IN range(1, greatest(len(string_split(text,' ')) - 2, 1) + 1)]) AS s(g)
        ),
        sigs AS (
            SELECT doc_id, ord,
               {_STREAM_SIG_COLS}
            FROM sh GROUP BY doc_id, ord
        ),
        banded AS (
{_STREAM_BANDED}
        ),
        verd AS (
            SELECT doc_id, ord,
                   CASE WHEN ord > min(ord) OVER (PARTITION BY band, bkey)
                        THEN 1 ELSE 0 END AS dup
            FROM banded
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(ord AS BIGINT) AS ord,
               CAST(sum(dup) AS BIGINT) AS n_dup_bands,
               sum(dup) = 0 AS survived
        FROM verd GROUP BY doc_id, ord
    """,
    scale=(
        "STREAMING near-duplicate suppression — the online half of "
        "dedup_near_minhash: documents arrive in micro-batches (time-"
        "ordered chunk replay, the Kinesis stand-in), each doc's 16-perm "
        "MinHash signature is computed MAP-SIDE inside the stream "
        "(an Arrow-batched pandas_udf with a per-batch distinct-gram "
        "cache — no streaming aggregation, so the only stateful "
        "operator is the dedup itself), and applyInPandasWithState "
        "keyed by a HASH SHARD of the LSH bucket id keeps the shard's "
        "bucket->first-arrival-ordinal map as parallel long arrays. "
        "Sharding (bucket_id % NSHARDS) amortizes the per-key Python "
        "state-protocol round trip across ~|rows|/NSHARDS buckets "
        "while keeping entries-per-shard bounded at |buckets|/NSHARDS; "
        "NSHARDS is the scale knob (1024 local, 2^20+ with RocksDB). "
        "A doc is a duplicate iff ANY of its 8 band buckets "
        "has seen an earlier doc — decided once at arrival, so the "
        "per-(doc, band) verdicts stream out in append mode and the "
        "per-doc fold happens batch-side on the sink. State size is "
        "|distinct buckets| longs total, per-batch work is "
        "map-side hashing + one shuffle on the shard key — the same "
        "shuffle shape as the batch LSH join, amortized per batch. The "
        "batch twin (the oracle) is the window rule ord > min(ord) per "
        "bucket over the full injected corpus."
    ),
)
def stream_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MinHash-LSH dedup: per-doc band verdicts maintained as
    bucket state across micro-batches; final result == the batch
    min-ordinal-per-bucket rule."""
    return minhash_dedup_stream(spark, sf_dir, 1024)


def minhash_dedup_stream(
    spark: SparkSession, sf_dir: str, nshards: int, progress: list | None = None
) -> DataFrame:
    """stream_minhash_dedup's replay with its bucket state split over
    ``nshards`` hash shards; ``progress`` collects per-batch progress.
    The verdicts do not depend on ``nshards``."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.streaming.state import GroupStateTimeout

    from python_kinesis_streaming_spark.streaming.replay import run_to_memory

    d = _ensure_doc_chunks(spark, sf_dir)
    schema = spark.read.parquet(d).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )

    n_bands, n_rows = LSH_BANDS, LSH_ROWS

    def band_keys_fn(texts):
        # Nested: cloudpickled by value (bare-session rule). Arrow seam
        # replacing the interpreted md5-HOF signature kernel (r9 VERDICT
        # item 2): hash-identical to md5_hash64 (first 15 md5 hex chars
        # as a 60-bit long; seeded grams "s:gram", band key "m0:m1").
        # A per-batch gram cache exploits the ~10x shingle redundancy
        # so each distinct gram is hashed once per permutation.
        import hashlib

        import pandas as pd

        md5 = hashlib.md5
        seeds = [("%d:" % s).encode() for s in range(n_bands * n_rows)]
        cache: dict = {}
        out = []
        for text in texts:
            if text is None:
                # preserve the replaced column-kernel's NULL semantics:
                # F.split(NULL) propagated NULL and the explode dropped
                # the row — emit an empty band list (ADVICE r10 item 2)
                out.append([])
                continue
            toks = text.split(" ")
            hi = max(len(toks) - 3, 0)
            gram_vals = []
            seen = set()
            for i in range(hi + 1):
                g = " ".join(toks[i : i + 3])
                if g in seen:
                    continue
                seen.add(g)
                v = cache.get(g)
                if v is None:
                    gb = g.encode()
                    v = tuple(
                        int(md5(p + gb).hexdigest()[:15], 16) for p in seeds
                    )
                    cache[g] = v
                gram_vals.append(v)
            sig = [min(col) for col in zip(*gram_vals)]
            # bucket_id packs (band, bkey) into one long: bkey is 60
            # bits (15 md5 hex chars), band < 8, so band<<60 | bkey
            # stays inside a signed int64 and is injective.
            out.append(
                [
                    (b << 60)
                    | int(
                        md5(
                            (
                                "%d:%d"
                                % (sig[b * n_rows], sig[b * n_rows + 1])
                            ).encode()
                        ).hexdigest()[:15],
                        16,
                    )
                    for b in range(n_bands)
                ]
            )
        return pd.Series(out)

    band_keys = pandas_udf(band_keys_fn, "array<long>")

    # State is sharded: key = bucket_id % NSHARDS, value = parallel
    # arrays (bucket_ids, min_ords). Per-bucket keying is semantically
    # identical but pays the applyInPandasWithState per-key Python
    # protocol cost once per DISTINCT BUCKET per batch (~11k tiny
    # groups/batch here — measured 0.36 ms each, the whole op's
    # bottleneck); sharding amortizes it to once per shard. Entries
    # per shard stay bounded at |buckets|/NSHARDS; NSHARDS is the
    # scale knob (1024 local, 2^20+ on a RocksDB-backed cluster).
    banded = (
        sdf.select(
            "doc_id", "ord", F.posexplode(band_keys(F.col("text"))).alias("band", "bid")
        )
        .select(
            "doc_id",
            "ord",
            "bid",
            (F.col("bid") % nshards).cast("int").alias("shard"),
        )
    )

    def bucket_verdicts(key, pdfs, state):
        # Nested: cloudpickled by value (bare-session executors can't
        # import this module by name). One call per SHARD per batch:
        # replay this shard's arrivals in ord order against the
        # persisted bucket->first-arrival-ordinal map; a row is a dup
        # iff its bucket was already claimed (in state, or by an
        # earlier-ord row of this batch).
        import numpy as np
        import pandas as pd

        chunks = list(pdfs)
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
        bids = pdf["bid"].to_numpy()
        ords = pdf["ord"].to_numpy()
        ids = pdf["doc_id"].to_numpy()
        if len(ords) > 1:
            order = np.argsort(ords, kind="stable")
            bids, ords, ids = bids[order], ords[order], ids[order]
        if state.exists:
            sb, sm = state.get
            seen = dict(zip(sb, sm))
        else:
            seen = {}
        dup = np.empty(len(ords), dtype=bool)
        for i, (b, o) in enumerate(zip(bids.tolist(), ords.tolist())):
            if b in seen:
                dup[i] = True
            else:
                dup[i] = False
                seen[b] = o
        state.update((list(seen.keys()), list(seen.values())))
        yield pd.DataFrame(
            {
                "doc_id": ids,
                "ord": ords,
                "band": (bids >> 60).astype(np.int32),
                "dup": dup,
            }
        )

    verdicts = banded.groupBy("shard").applyInPandasWithState(
        bucket_verdicts,
        outputStructType="doc_id long, ord long, band int, dup boolean",
        stateStructType="bucket_ids array<long>, min_ords array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mem = run_to_memory(verdicts, "append", progress=progress)
    return mem.groupBy("doc_id", "ord").agg(
        F.sum(F.when(F.col("dup"), 1).otherwise(0))
        .cast("long")
        .alias("n_dup_bands"),
        (F.sum(F.when(F.col("dup"), 1).otherwise(0)) == 0).alias("survived"),
    )


# ---------------------------------------------------------------------------
# lakehouse-integrated incremental ingest dedup
# ---------------------------------------------------------------------------


@op(
    "lakehouse_incremental_dedup",
    oracle="""
        WITH seed AS (SELECT doc_id, md5(text) AS h FROM documents),
        resent AS (
            SELECT doc_id, md5(text) AS h FROM documents
            WHERE doc_id % 3 = 0
        ),
        newd AS (
            SELECT doc_id + 5000000 AS doc_id, md5(text || ' v2') AS h
            FROM documents WHERE doc_id % 7 = 0
        ),
        batch AS (
            SELECT * FROM resent UNION ALL SELECT * FROM newd
        ),
        novel AS (
            -- NOT EXISTS (not NOT IN): matches Spark left_anti's null
            -- semantics — a NULL hash in seed would make NOT IN return
            -- NULL for every batch row and silently empty the stage.
            SELECT b.* FROM batch b
            WHERE NOT EXISTS (SELECT 1 FROM seed s WHERE s.h = b.h)
        )
        SELECT s.stage, s.n_rows FROM (
            SELECT '0_seed' AS stage, CAST(count(*) AS BIGINT) AS n_rows
            FROM seed
            UNION ALL
            SELECT '1_batch', CAST(count(*) AS BIGINT) FROM batch
            UNION ALL
            SELECT '2_appended_novel', CAST(count(*) AS BIGINT) FROM novel
            UNION ALL
            SELECT '3_final', CAST((SELECT count(*) FROM seed)
                                   + (SELECT count(*) FROM novel) AS BIGINT)
            UNION ALL
            SELECT '4_final_distinct_hashes',
                   CAST(count(DISTINCT h) AS BIGINT)
            FROM (SELECT h FROM seed UNION ALL SELECT h FROM novel)
        ) s
    """,
    scale=(
        "Incremental ingest with content dedup against the LIVE table — "
        "the exactly-once corpus-growth pattern: the seed snapshot holds "
        "the corpus keyed by content hash, an incoming batch (a re-crawl "
        "mixing resent and genuinely new pages) is anti-joined against "
        "the table's hash set, and ONLY novel content is committed as an "
        "append version. The anti-join shuffles 16-byte hashes, never "
        "texts; at 100 TB the hash set is a bucketed column (or a Bloom "
        "prefilter feeding the exact anti-join) so the per-batch cost is "
        "|batch| + |matching buckets|, not a table scan. The final "
        "invariant — table rows == distinct hashes — is emitted as a "
        "stage row so the oracle proves the table stayed duplicate-free "
        "across the commit."
    ),
)
def lakehouse_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """seed snapshot → dedup-append a re-crawl batch → invariant stages."""
    import os
    import shutil

    from python_kinesis_streaming_spark.sources.lakehouse import read_table
    from python_kinesis_streaming_spark.sources.snapshots import (
        write_snapshot,
    )
    from python_kinesis_streaming_spark.sources.tables import sf_tag
    from python_kinesis_streaming_spark.streaming.replay import SCRATCH

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    seed = docs.select("doc_id", F.md5("text").alias("h"))
    tdir = os.path.join(SCRATCH, f"w2_incdedup_{sf_tag(sf_dir)}")
    shutil.rmtree(tdir, ignore_errors=True)
    os.makedirs(tdir, exist_ok=True)
    write_snapshot(seed.repartition(4, "doc_id"), tdir, "seed")

    resent = seed.where(F.col("doc_id") % 3 == 0)
    newd = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"),
        F.md5(F.concat(F.col("text"), F.lit(" v2"))).alias("h"),
    )
    batch = resent.unionByName(newd)
    existing = read_table(spark, tdir).select("h")
    novel = batch.join(existing, "h", "left_anti")
    write_snapshot(novel, tdir, "dedup-append", mode="append")
    final = read_table(spark, tdir)

    stages = [
        seed.agg(
            F.lit("0_seed").alias("stage"),
            F.count(F.lit(1)).alias("n_rows"),
        ),
        batch.agg(
            F.lit("1_batch").alias("stage"),
            F.count(F.lit(1)).alias("n_rows"),
        ),
        novel.agg(
            F.lit("2_appended_novel").alias("stage"),
            F.count(F.lit(1)).alias("n_rows"),
        ),
        final.agg(
            F.lit("3_final").alias("stage"),
            F.count(F.lit(1)).alias("n_rows"),
        ),
        final.agg(
            F.lit("4_final_distinct_hashes").alias("stage"),
            F.countDistinct("h").alias("n_rows"),
        ),
    ]
    out = stages[0]
    for s in stages[1:]:
        out = out.unionByName(s)
    return out


# ---------------------------------------------------------------------------
# batch 3: vocab drift, weighted near-dup
# ---------------------------------------------------------------------------

@op(
    "text_source_kl_divergence",
    oracle=f"""
        WITH tok AS (
            SELECT source, u.t AS token
            FROM documents, unnest(string_split(lower(text), ' ')) AS u(t)
        ),
        vocab AS (
            SELECT token FROM (
                SELECT token, count(*) AS c,
                       row_number() OVER (
                           ORDER BY count(*) DESC, token
                       ) AS rk
                FROM tok GROUP BY token
            ) WHERE rk <= 50
        ),
        vt AS (SELECT tok.* FROM tok JOIN vocab USING (token)),
        vsize AS (SELECT count(*) AS v FROM vocab),
        g AS (
            SELECT token, count(*) AS c FROM vt GROUP BY token
        ),
        gtot AS (SELECT sum(c) AS tot FROM g),
        s AS (
            SELECT source, token, count(*) AS c FROM vt GROUP BY 1, 2
        ),
        stot AS (SELECT source, sum(c) AS tot FROM s GROUP BY source),
        spine AS (
            SELECT st.source, v.token, st.tot
            FROM stot st, vocab v
        ),
        cells AS (
            SELECT sp.source,
                   (COALESCE(s.c, 0) + 1.0)
                       / (sp.tot + (SELECT v FROM vsize)) AS p,
                   (g.c + 1.0)
                       / ((SELECT tot FROM gtot)
                          + (SELECT v FROM vsize)) AS q
            FROM spine sp
            LEFT JOIN s ON s.source = sp.source AND s.token = sp.token
            JOIN g ON g.token = sp.token
        )
        SELECT source,
               {sql_rnd("sum(p * ln(p / q))", 6)} AS kl_vs_corpus,
               CAST((SELECT tot FROM stot st2
                     WHERE st2.source = cells.source) AS BIGINT)
                   AS n_vocab_tokens
        FROM cells GROUP BY source
    """,
    scale=(
        "Per-source vocabulary drift: add-one-smoothed distribution of "
        "each source over the global top-50 tokens (smoothing "
        "denominator = the vocab size actually selected, so both p and "
        "q stay proper distributions even when the corpus has fewer "
        "than 50 distinct tokens — Gibbs' inequality then guarantees "
        "KL >= 0), scored by KL "
        "divergence against the whole-corpus distribution — the "
        "monitoring table that flags a source whose language suddenly "
        "shifts (spam influx, scraper breakage) before it poisons a "
        "training mix. Token counting is explode + two mergeable "
        "groupBys; the KL itself runs on a |sources| x 50 spine "
        "(bounded dims cross), so corpus size only enters through the "
        "counting pass. Top-50 cut ties on (count DESC, token) and the "
        "KL rounds at 1e-6 — engine-identical."
    ),
)
def text_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed KL(source ‖ corpus) over the global top-50 tokens."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        F.explode(F.split(F.lower("text"), " ")).alias("token"),
    )
    vocab = (
        tok.groupBy("token")
        .agg(F.count("*").alias("c"))
        .withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("c"), "token")),
        )
        .where(F.col("rk") <= 50)
        .select("token")
    )
    vt = tok.join(F.broadcast(vocab), "token")
    vsize = vocab.agg(F.count("*").alias("v"))
    g = vt.groupBy("token").agg(F.count("*").alias("gc"))
    gtot = g.agg(F.sum("gc").alias("gtot"))
    s = vt.groupBy("source", "token").agg(F.count("*").alias("c"))
    stot = s.groupBy("source").agg(F.sum("c").alias("tot"))
    spine = stot.crossJoin(F.broadcast(vocab))
    cells = (
        spine.join(s, ["source", "token"], "left")
        .join(F.broadcast(g), "token")
        .crossJoin(F.broadcast(gtot))
        .crossJoin(F.broadcast(vsize))
        .select(
            "source",
            "tot",
            (
                (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                / (F.col("tot") + F.col("v"))
            ).alias("p"),
            ((F.col("gc") + 1.0) / (F.col("gtot") + F.col("v"))).alias("q"),
        )
    )
    return cells.groupBy("source").agg(
        rnd(F.sum(F.col("p") * F.log(F.col("p") / F.col("q"))), 6).alias(
            "kl_vs_corpus"
        ),
        F.max("tot").cast("long").alias("n_vocab_tokens"),
    )


_IDF_INJ_SQL = """
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, text || ' mutant'
            FROM documents WHERE doc_id % 25 = 0
"""
_IDF_CAND_SQL = _mh_cand_sql(_IDF_INJ_SQL)


@op(
    "dedup_idf_weighted_jaccard",
    oracle=f"""
        WITH {_IDF_CAND_SQL},
        n AS (SELECT count(*) AS n FROM inj),
        idf AS (
            SELECT shingle,
                   ln(CAST((SELECT n FROM n) AS DOUBLE)
                      / count(DISTINCT doc_id)) AS w
            FROM sh GROUP BY shingle
        ),
        wsize AS (
            SELECT sh.doc_id, sum(idf.w) AS ws
            FROM sh JOIN idf USING (shingle) GROUP BY sh.doc_id
        ),
        winter AS (
            SELECT c.doc_a, c.doc_b, sum(idf.w) AS wi,
                   count(*) AS isect
            FROM cand c
            JOIN sh a ON a.doc_id = c.doc_a
            JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
            JOIN idf ON idf.shingle = a.shingle
            GROUP BY c.doc_a, c.doc_b
        ),
        scored AS (
            SELECT w.doc_a, w.doc_b,
                   CAST(w.isect AS BIGINT) AS isect,
                   {sql_rnd("w.wi / (sa.ws + sb.ws - w.wi)", 4)}
                       AS weighted_jaccard
            FROM winter w
            JOIN wsize sa ON sa.doc_id = w.doc_a
            JOIN wsize sb ON sb.doc_id = w.doc_b
        )
        SELECT doc_a, doc_b, isect, weighted_jaccard
        FROM scored WHERE weighted_jaccard >= 0.5
    """,
    scale=(
        "IDF-weighted near-dup scoring: raw Jaccard over-counts "
        "boilerplate shingles (headers, footers, license blocks) that "
        "appear in thousands of documents; weighting each shingle by "
        "ln(N/df) makes the similarity reflect SHARED RARE content. "
        "Candidates still come from the banded MinHash self-join (no "
        "new all-pairs work); the IDF table is one groupBy over the "
        "shingle stream and joins back on the candidate set only. The "
        "0.5 cut applies to the 1e-4-rounded score on both engines."
    ),
)
def dedup_idf_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs scored by IDF-weighted Jaccard >= 0.5."""
    from python_kinesis_streaming_spark.llm.dedup import inject_near_dups

    docs = load_table(spark, sf_dir, "documents")
    inj = inject_near_dups(docs.select("doc_id", "text"))
    # sh fans out to FIVE consumers (signatures, idf, wsize, both sides
    # of the intersection join) — cache so the shingle explode+distinct
    # runs once (cached-diamond pattern; r14 measured 2.2 → 1.6 s warm
    # at sf0.01). idf likewise feeds wsize AND the scored join.
    # No unpersist: both caches feed the RETURNED lazy plan (cannot be
    # released in-op); MEMORY_AND_DISK + LRU eviction bounds a long
    # grading session (VERDICT r14 item 7).
    sh = word_shingles(inj, n=3).cache()
    cand = lsh_candidate_pairs(minhash_signatures(sh))
    n = inj.agg(F.count("*").alias("n"))
    idf = (
        sh.groupBy("shingle")
        .agg(F.countDistinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(n))
        .select(
            "shingle",
            F.log(F.col("n").cast("double") / F.col("df")).alias("w"),
        )
    ).cache()
    wsize = (
        sh.join(idf, "shingle")
        .groupBy("doc_id")
        .agg(F.sum("w").alias("ws"))
    )
    a, b = sh.alias("a"), sh.alias("b")
    winter = (
        cand.join(a, F.col("a.doc_id") == F.col("doc_a"))
        .join(
            b,
            (F.col("b.doc_id") == F.col("doc_b"))
            & (F.col("b.shingle") == F.col("a.shingle")),
        )
        .join(idf.alias("idf"), F.col("idf.shingle") == F.col("a.shingle"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum("w").alias("wi"), F.count("*").alias("isect"))
    )
    sa, sb = wsize.alias("sa"), wsize.alias("sb")
    return (
        winter.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.col("isect").cast("long").alias("isect"),
            rnd(
                F.col("wi") / (F.col("sa.ws") + F.col("sb.ws") - F.col("wi")),
                4,
            ).alias("weighted_jaccard"),
        )
        .where(F.col("weighted_jaccard") >= 0.5)
    )


@op(
    "events_ks_two_sample",
    oracle=f"""
        WITH g AS (
            SELECT value,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p,
                   CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS c
            FROM events WHERE event_type IN ('purchase', 'click')
        ),
        pv AS (
            SELECT value, sum(p) AS np, sum(c) AS nc
            FROM g GROUP BY value
        ),
        tot AS (
            SELECT sum(np) AS n1, sum(nc) AS n2 FROM pv
        ),
        ecdf AS (
            SELECT value,
                   sum(np) OVER (ORDER BY value
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cp,
                   sum(nc) OVER (ORDER BY value
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cc
            FROM pv
        ),
        diffs AS (
            SELECT value,
                   {sql_rnd(
                       "abs(CAST(cp AS DOUBLE) / (SELECT n1 FROM tot)"
                       " - CAST(cc AS DOUBLE) / (SELECT n2 FROM tot))", 6)}
                       AS d
            FROM ecdf
        ),
        best AS (
            SELECT value, d,
                   row_number() OVER (ORDER BY d DESC, value) AS rk
            FROM diffs
        )
        SELECT CAST((SELECT n1 FROM tot) AS BIGINT) AS n_purchase,
               CAST((SELECT n2 FROM tot) AS BIGINT) AS n_click,
               b.d AS ks_d,
               {sql_rnd("b.value")} AS ks_at_value,
               {sql_rnd(
                   "b.d * sqrt(CAST((SELECT n1 FROM tot) AS DOUBLE)"
                   " * (SELECT n2 FROM tot)"
                   " / ((SELECT n1 FROM tot) + (SELECT n2 FROM tot)))",
                   4)} AS ks_scaled
        FROM best b WHERE b.rk = 1
    """,
    scale=(
        "Two-sample Kolmogorov-Smirnov: do purchase and click events "
        "draw their values from the same distribution? Exact D = max "
        "|ECDF_p - ECDF_c| evaluated at every distinct value: one "
        "groupBy(value) with two conditional counts (mergeable — the "
        "shuffle carries |distinct values| rows), then a single ordered "
        "cumulative window over that AGGREGATE output (bounded by "
        "distinct-value cardinality, not event count). At 100 TB with "
        "a near-continuous value domain you first quantize to a fixed "
        "grid (the agg_ecdf_grid pattern) or run the two-level prefix "
        "sum — D on the quantized grid lower-bounds exact D by at most "
        "one grid cell's mass. Diffs round at 1e-6 BEFORE the argmax "
        "and ties break on value, so both engines pick the same "
        "location."
    ),
)
def events_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic between purchase and click values."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.where(F.col("event_type").isin("purchase", "click")).select(
        "value",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("p"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("c"),
    )
    pv = g.groupBy("value").agg(
        F.sum("p").alias("np"), F.sum("c").alias("nc")
    )
    tot = pv.agg(
        F.sum("np").alias("n1"), F.sum("nc").alias("n2")
    )
    w = (
        Window.orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ecdf = pv.select(
        "value",
        F.sum("np").over(w).alias("cp"),
        F.sum("nc").over(w).alias("cc"),
    )
    diffs = ecdf.crossJoin(F.broadcast(tot)).select(
        "value",
        "n1",
        "n2",
        rnd(
            F.abs(
                F.col("cp").cast("double") / F.col("n1")
                - F.col("cc").cast("double") / F.col("n2")
            ),
            6,
        ).alias("d"),
    )
    best = diffs.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("d"), "value"))
    ).where(F.col("rk") == 1)
    return best.select(
        F.col("n1").cast("long").alias("n_purchase"),
        F.col("n2").cast("long").alias("n_click"),
        F.col("d").alias("ks_d"),
        rnd(F.col("value")).alias("ks_at_value"),
        rnd(
            F.col("d")
            * F.sqrt(
                F.col("n1").cast("double")
                * F.col("n2")
                / (F.col("n1") + F.col("n2"))
            ),
            4,
        ).alias("ks_scaled"),
    )

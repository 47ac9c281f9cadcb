"""Corpus-curation operators: repetition quality gates, PII-style scrubbing,
source-mix planning, and two-stage IVF probe search (SURVEY §2.12).

These are the remaining pieces of a training-data curation pass that the
first-wave llm/ modules don't cover: Gopher-style repetition ratios (the
classic "most common word" / distinct-fraction filters), regex scrubbing
with audit counts, deciding per-source sampling rates to hit a target mix,
and the probe half of an IVF vector index (assign query → nearest centroid,
search only that cluster).

Scale notes (100 TB):
- text_repetition is explode + two-level agg (word counts, then per-doc
  maxima) — all JVM-side, shuffle keyed on (doc_id) whose fan-in is bounded
  by per-doc vocabulary, not corpus vocabulary.
- events_pii_scrub is a map-only regexp pass + one agg; the scan prunes to
  the two referenced columns. Redaction audit counts come from the same
  regexp_extract_all pass that drives the rewrite.
- corpus_mix_planner aggregates to |sources| rows, broadcasts the 1-row
  grand total back — the planner output (per-source keep-rate) then drives
  a Bernoulli sample of the full corpus in a later map-only pass; the
  planning cost is independent of corpus size.
- sim_ivf_probe is the query path of an IVF index: centroid table is
  |labels|×dims (tiny, broadcast); each query computes |labels| centroid
  similarities instead of |corpus| — then scans exactly ONE cluster.
  Candidate set shrinks by the cluster fan-out factor; recall loss is the
  standard IVF nprobe=1 trade-off.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from python_kinesis_streaming_spark.functions.rounding import rnd, sql_rnd
from python_kinesis_streaming_spark.functions.vectors import cosine
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table


@op(
    "text_repetition",
    oracle=f"""
        WITH words AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents
        ),
        wc AS (
            SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w
        )
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_words,
               count(*) AS n_distinct,
               {sql_rnd("count(*) * 1.0 / sum(c)", 4)} AS distinct_frac,
               {sql_rnd("max(c) * 1.0 / sum(c)", 4)} AS top_word_frac,
               (max(c) * 10 > sum(c)) AS is_repetitive
        FROM wc GROUP BY doc_id
    """,
    scale=(
        "Gopher-style repetition filters: split → per-(doc,word) counts → "
        "per-doc maxima. Two partial-agg shuffles keyed on doc_id; the "
        "repetitive flag (top word >10% of tokens) is integer arithmetic, "
        "float-free. At 100 TB this is the map-side-combine-friendly way — "
        "never collect a vocabulary."
    ),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document word-repetition stats: distinct fraction, top-word
    fraction, and the >10%-single-word repetition flag."""
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        rnd(F.count(F.lit(1)) * F.lit(1.0) / F.sum("c"), 4).alias("distinct_frac"),
        rnd(F.max("c") * F.lit(1.0) / F.sum("c"), 4).alias("top_word_frac"),
        (F.max("c") * F.lit(10) > F.sum("c")).alias("is_repetitive"),
    )


@op(
    "events_pii_scrub",
    oracle="""
        WITH scrubbed AS (
            SELECT event_type,
                   regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS clean,
                   len(regexp_extract_all(props, '[0-9]+')) AS n_hits
            FROM events
        )
        SELECT event_type,
               count(*) AS n_events,
               CAST(sum(n_hits) AS BIGINT) AS n_redactions,
               min(clean) AS sample_clean
        FROM scrubbed GROUP BY event_type
    """,
    scale=(
        "PII-style scrubbing with an audit trail: one map-only regexp pass "
        "produces both the rewritten payload and the per-row hit count "
        "(same automaton, evaluated twice JVM-side — still cheaper than any "
        "Python hop), then a tiny agg keyed on event_type. At 100 TB the "
        "rewrite output is written back columnar; the audit agg is the "
        "compliance side-channel."
    ),
)
def events_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact digit runs in event payloads; per-type audit counts plus the
    lexicographically-first scrubbed sample."""
    ev = load_table(spark, sf_dir, "events")
    scrubbed = ev.select(
        "event_type",
        F.regexp_replace("props", "[0-9]+", "<NUM>").alias("clean"),
        # Spark quirk: groupless patterns need an explicit idx=0 arg.
        F.size(F.expr("regexp_extract_all(props, '[0-9]+', 0)")).alias("n_hits"),
    )
    return scrubbed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("n_hits").alias("n_redactions"),
        F.min("clean").alias("sample_clean"),
    )


@op(
    "corpus_mix_planner",
    oracle=f"""
        WITH per_src AS (
            SELECT source, count(*) AS n_docs, sum(n_chars) AS src_chars
            FROM documents GROUP BY source
        ),
        tot AS (SELECT sum(src_chars) AS total_chars FROM per_src)
        SELECT source, n_docs, CAST(src_chars AS BIGINT) AS src_chars,
               {sql_rnd("src_chars * 1.0 / total_chars", 6)} AS share,
               {sql_rnd(
                   "CASE WHEN src_chars * 30.0 <= total_chars THEN 1.0 "
                   "ELSE total_chars / (30.0 * src_chars) END", 6)} AS keep_rate,
               CAST(floor(src_chars * ({sql_rnd(
                   "CASE WHEN src_chars * 30.0 <= total_chars THEN 1.0 "
                   "ELSE total_chars / (30.0 * src_chars) END", 6)}))
                   AS BIGINT) AS est_chars_after
        FROM per_src, tot
    """,
    scale=(
        "Data-mixing planner: cap any source at 1/30 of the corpus. The "
        "per-source agg is the only pass over data; the grand total is a "
        "1-row broadcast. The emitted keep_rate drives a later map-only "
        "Bernoulli sample (rand(seed) < keep_rate) — planning cost is "
        "O(|sources|), independent of corpus bytes."
    ),
)
def corpus_mix_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus share and the down-sampling keep-rate that caps
    every source at 1/30 of total characters."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("src_chars"),
    )
    tot = per_src.agg(F.sum("src_chars").alias("total_chars"))
    keep = rnd(
        F.when(
            F.col("src_chars") * F.lit(30.0) <= F.col("total_chars"), F.lit(1.0)
        ).otherwise(F.col("total_chars") / (F.lit(30.0) * F.col("src_chars"))),
        6,
    )
    return (
        per_src.join(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "src_chars",
            rnd(F.col("src_chars") * F.lit(1.0) / F.col("total_chars"), 6).alias(
                "share"
            ),
            keep.alias("keep_rate"),
            F.floor(F.col("src_chars") * keep).cast("long").alias("est_chars_after"),
        )
    )


@op(
    "sim_ivf_probe",
    oracle="""
        WITH cent AS (
            SELECT label, i.i AS pos,
                   floor((avg(embedding[i.i])) * 10000.0 + 0.505) / 10000.0 AS cv
            FROM embeddings, range(1, 65) i(i)
            GROUP BY label, i.i
        ),
        queries AS (
            SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
            FROM embeddings WHERE vec_id < 5
        ),
        qc AS (
            SELECT q.query_id, c.label,
                   floor((sum(q.qe[c.pos] * c.cv)
                          / (sqrt(sum(q.qe[c.pos] * q.qe[c.pos]))
                             * sqrt(sum(c.cv * c.cv))))
                         * 10000.0 + 0.505) / 10000.0 AS csim
            FROM queries q, cent c
            GROUP BY q.query_id, c.label
        ),
        best AS (
            SELECT query_id, label FROM (
                SELECT query_id, label,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY csim DESC, label) AS rn
                FROM qc
            ) WHERE rn = 1
        )
        SELECT b.query_id AS query_id, e.vec_id AS vec_id,
               floor((list_cosine_similarity(e.embedding::DOUBLE[], q.qe))
                     * 10000.0 + 0.505) / 10000.0 AS sim
        FROM best b
        JOIN embeddings e ON e.label = b.label
        JOIN queries q ON q.query_id = b.query_id
        WHERE e.vec_id <> b.query_id  -- probe cluster, drop self-match
        QUALIFY row_number() OVER (
            PARTITION BY b.query_id
            ORDER BY floor((list_cosine_similarity(e.embedding::DOUBLE[], q.qe))
                           * 10000.0 + 0.505) / 10000.0 DESC, e.vec_id) <= 5
    """,
    scale=(
        "IVF probe (nprobe=1): queries rank |labels| centroids (tiny "
        "broadcast table built once by sim_centroids' plan), then scan "
        "exactly one cluster for the exact top-k. At billions of vectors "
        "the probed fraction is 1/|labels| of the corpus; raising nprobe "
        "trades scan cost for recall. Ties broken on (sim desc, vec_id) on "
        "the ROUNDED similarity so both engines pick identical rows."
    ),
)
def sim_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN: route 5 queries to their nearest label centroid, then
    exact cosine top-5 inside that single cluster."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = (
        emb.select("label", F.posexplode("embedding").alias("p", "v"))
        .groupBy("label", (F.col("p") + 1).alias("pos"))
        .agg(rnd(F.avg(F.col("v").cast("double")), 4).alias("cv"))
    )
    queries = (
        emb.where(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.posexplode("embedding").alias("qpos", "qv"),
        )
    )
    qc = (
        queries.join(F.broadcast(cent), F.col("qpos") + 1 == F.col("pos"))
        .groupBy("query_id", "label")
        .agg(
            rnd(
                F.sum(F.col("qv").cast("double") * F.col("cv"))
                / (
                    F.sqrt(F.sum(F.col("qv").cast("double") * F.col("qv").cast("double")))
                    * F.sqrt(F.sum(F.col("cv") * F.col("cv")))
                ),
                4,
            ).alias("csim")
        )
    )
    w_best = Window.partitionBy("query_id").orderBy(F.desc("csim"), F.asc("label"))
    best = (
        qc.withColumn("rn", F.row_number().over(w_best))
        .where(F.col("rn") == 1)
        .select("query_id", "label")
    )
    qvecs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    w_k = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        F.broadcast(best)
        .join(emb, "label")
        .join(F.broadcast(qvecs), "query_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            rnd(cosine(F.col("embedding"), F.col("qe")), 4).alias("sim"),
        )
        .withColumn("rk", F.row_number().over(w_k))
        .where(F.col("rk") <= 5)
        .drop("rk")
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
) -> DataFrame:
    """Flag training docs sharing any word ``n``-gram with the eval corpus:
    broadcast semi-join on the shingle key — the eval shingle set is
    benchmark-sized, so checking a 100 TB corpus is one map-side pass.
    Returns (id, n_shared_shingles) for contaminated docs only."""
    from python_kinesis_streaming_spark.llm.dedup import word_shingles

    def shingles(df: DataFrame) -> DataFrame:
        return word_shingles(
            df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
            n=n,
        )

    ev = shingles(eval_df).select("shingle").distinct()
    return (
        shingles(train)
        .join(F.broadcast(ev), "shingle", "left_semi")
        .groupBy(F.col("doc_id").alias(id_col))
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


@op(
    "corpus_decontaminate",
    oracle="""
        WITH docs AS (
            SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
        ),
        evs AS (
            SELECT DISTINCT array_to_string(w[i:i+3], ' ') AS sh
            FROM docs, unnest(range(1, greatest(len(w) - 3, 1) + 1)) r(i)
            WHERE source = 'src0'
        ),
        trs AS (
            SELECT DISTINCT doc_id, array_to_string(w[i:i+3], ' ') AS sh
            FROM docs, unnest(range(1, greatest(len(w) - 3, 1) + 1)) r(i)
            WHERE source <> 'src0'
        )
        SELECT doc_id, count(*) AS n_shared_shingles
        FROM trs WHERE sh IN (SELECT sh FROM evs)
        GROUP BY doc_id
    """,
    scale=(
        "Benchmark decontamination: training docs sharing any word 4-gram "
        "with the eval set (source='src0' stands in; production uses 8-13 "
        "grams — 4 here because the synthetic corpus is short word soup). "
        "Shape is shingle-explode + LeftSemi on the shingle key: the eval "
        "shingle set is tiny (benchmarks are small) so it BROADCASTS at any "
        "corpus size — contamination checking 100 TB is one map-side "
        "semi-join pass, no shuffle of the training corpus."
    ),
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training documents contaminated by eval-set 4-grams, with the count
    of distinct shared shingles per document."""
    docs = load_table(spark, sf_dir, "documents")
    return decontaminate(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0"),
        "doc_id",
        "text",
        n=4,
    )


@op(
    "dedup_containment",
    oracle="""
        WITH docs AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        sh AS (
            SELECT DISTINCT doc_id, array_to_string(w[i:i+3], ' ') AS s
            FROM docs, unnest(range(1, greatest(len(w) - 3, 1) + 1)) r(i)
        ),
        counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT p.doc_a, p.doc_b, p.n_shared,
               floor((p.n_shared * 1.0 / c.n_sh) * 10000.0 + 0.505) / 10000.0
                   AS containment_a
        FROM pairs p JOIN counts c ON c.doc_id = p.doc_a
    """,
    scale=(
        "Asymmetric containment (|A∩B| / |A|) — catches a short doc embedded "
        "in a long one, which symmetric Jaccard dilutes away. Candidate-"
        "driven: only pairs sharing ≥1 word 4-gram are scored (the shingle "
        "equi-join IS the blocking step), never all pairs. At 100 TB cap "
        "per-shingle fan-out (drop shingles appearing in >k docs — "
        "stop-gram removal) to bound join skew."
    ),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-containment scores for candidate document pairs (share ≥1
    word 4-gram); containment measured against the lower-id doc."""
    from python_kinesis_streaming_spark.llm.dedup import word_shingles

    docs = load_table(spark, sf_dir, "documents")
    sh = word_shingles(docs, n=4)
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingle").alias("s"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingle").alias("s2"))
    pairs = (
        a.join(b, (F.col("s") == F.col("s2")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        pairs.join(
            counts.withColumnRenamed("doc_id", "doc_a"), "doc_a"
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            rnd(F.col("n_shared") * F.lit(1.0) / F.col("n_sh"), 4).alias(
                "containment_a"
            ),
        )
    )


@op(
    "sim_truncated_dims",
    oracle="""
        WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
        sims AS (
            SELECT vec_id,
                   floor((list_cosine_similarity(embedding::DOUBLE[], qe))
                         * 10000.0 + 0.505) / 10000.0 AS sim_full,
                   floor((list_cosine_similarity((embedding[1:16])::DOUBLE[],
                                                 qe[1:16]))
                         * 10000.0 + 0.505) / 10000.0 AS sim_trunc
            FROM embeddings, q WHERE vec_id <> 0
        ),
        top_full AS (
            SELECT vec_id FROM sims ORDER BY sim_full DESC, vec_id LIMIT 10
        ),
        top_trunc AS (
            SELECT vec_id FROM sims ORDER BY sim_trunc DESC, vec_id LIMIT 10
        )
        SELECT s.vec_id, s.sim_full, s.sim_trunc,
               (s.vec_id IN (SELECT vec_id FROM top_full)) AS in_full,
               (s.vec_id IN (SELECT vec_id FROM top_trunc)) AS in_trunc
        FROM sims s
        WHERE s.vec_id IN (SELECT vec_id FROM top_full)
           OR s.vec_id IN (SELECT vec_id FROM top_trunc)
    """,
    scale=(
        "Matryoshka-style truncated-dimension retrieval check: rank by "
        "cosine on the first 16 of 64 dims vs the full vector, report both "
        "top-10 sets. The cheap 4× scan-bandwidth cut for a first-stage "
        "retrieval cascade; the overlap columns quantify the recall cost. "
        "Both rankings are TakeOrdered (no global window), sets compared "
        "via two 10-row broadcast semi/anti membership joins."
    ),
)
def sim_truncated_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-dim vs 16-dim cosine top-10 for the fixed query vector: union
    of both sets with membership flags."""
    from python_kinesis_streaming_spark.llm.similarity import QUERY_VEC_ID

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qe")
    )
    sims = (
        emb.where(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            rnd(cosine(F.col("embedding"), F.col("qe")), 4).alias("sim_full"),
            rnd(
                cosine(
                    F.slice(F.col("embedding"), 1, 16), F.slice(F.col("qe"), 1, 16)
                ),
                4,
            ).alias("sim_trunc"),
        )
    )
    top_full = sims.orderBy(F.desc("sim_full"), F.asc("vec_id")).limit(10).select("vec_id")
    top_trunc = sims.orderBy(F.desc("sim_trunc"), F.asc("vec_id")).limit(10).select("vec_id")
    cand = top_full.union(top_trunc).distinct()
    return (
        sims.join(F.broadcast(cand), "vec_id", "left_semi")
        .join(
            F.broadcast(top_full.withColumn("in_full", F.lit(True))),
            "vec_id",
            "left",
        )
        .join(
            F.broadcast(top_trunc.withColumn("in_trunc", F.lit(True))),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            "sim_full",
            "sim_trunc",
            F.coalesce(F.col("in_full"), F.lit(False)).alias("in_full"),
            F.coalesce(F.col("in_trunc"), F.lit(False)).alias("in_trunc"),
        )
    )


@op(
    "corpus_sample_weighted",
    oracle="""
        WITH per_src AS (
            SELECT source, sum(n_chars) AS src_chars
            FROM documents GROUP BY source
        ),
        tot AS (SELECT sum(src_chars) AS total_chars FROM per_src),
        rates AS (
            SELECT source,
                   CAST(floor((CASE WHEN src_chars * 30.0 <= total_chars
                                    THEN 1.0
                                    ELSE total_chars / (30.0 * src_chars)
                               END) * 1000000.0 + 0.505) AS BIGINT)
                       AS keep_ppm
            FROM per_src, tot
        )
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS kept_docs,
               CAST(sum(d.n_chars) AS BIGINT) AS kept_chars,
               any_value(r.keep_ppm) AS keep_ppm
        FROM documents d
        JOIN rates r ON d.source = r.source
        WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
                   AS BIGINT) % 1000000 < r.keep_ppm
        GROUP BY d.source
    """,
    scale=(
        "The execution half of corpus_mix_planner: apply the per-source "
        "keep-rate as a DETERMINISTIC Bernoulli sample — keep iff "
        "md5(doc_id) mod 1e6 < rate_ppm. Hash-based sampling (not rand()) "
        "is the 100 TB requirement: re-running the job, resuming a failed "
        "stage, or sampling on another engine selects the SAME documents, "
        "and the integer ppm comparison is bit-identical everywhere. The "
        "rate table is |sources| rows broadcast; the sample is map-only."
    ),
)
def corpus_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-Bernoulli down-sample at mix-planner rates."""
    from python_kinesis_streaming_spark.llm.dedup import md5_hash64

    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(F.sum("n_chars").alias("src_chars"))
    tot = per_src.agg(F.sum("src_chars").alias("total_chars"))
    rates = (
        per_src.join(F.broadcast(tot))
        .select(
            "source",
            F.floor(
                F.when(
                    F.col("src_chars") * F.lit(30.0) <= F.col("total_chars"),
                    F.lit(1.0),
                ).otherwise(
                    F.col("total_chars") / (F.lit(30.0) * F.col("src_chars"))
                )
                * F.lit(1000000.0)
                + F.lit(0.505)
            )
            .cast("long")
            .alias("keep_ppm"),
        )
    )
    u = md5_hash64(F.col("doc_id").cast("string")) % F.lit(1000000)
    return (
        docs.join(F.broadcast(rates), "source")
        .where(u < F.col("keep_ppm"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("kept_docs"),
            F.sum("n_chars").cast("long").alias("kept_chars"),
            F.any_value("keep_ppm").alias("keep_ppm"),
        )
    )


def shard_assign(
    df: DataFrame, id_col: str, n_shards: int = 16, seed: int = 7
) -> DataFrame:
    """Reproducible global shuffle + sharding: appends ``shard``
    (md5-uniform, skew-free) and ``pos_key`` (independent md5 — rank by it
    within shard for the within-shard order). Deterministic across runs,
    engines, and stage retries: a resumed training job reads the identical
    order."""
    from python_kinesis_streaming_spark.llm.dedup import md5_hash64

    return df.withColumn(
        "shard", md5_hash64(F.col(id_col).cast("string"), seed=seed) % n_shards
    ).withColumn(
        "pos_key", md5_hash64(F.col(id_col).cast("string"), seed=seed + 4)
    )


@op(
    "corpus_shard_assign",
    oracle="""
        WITH assigned AS (
            SELECT doc_id, n_chars,
                   CAST(('0x' || substring(md5('7:' || CAST(doc_id AS VARCHAR)),
                        1, 15)) AS BIGINT) % 16 AS shard,
                   CAST(('0x' || substring(md5('11:' || CAST(doc_id AS VARCHAR)),
                        1, 15)) AS BIGINT) AS pos_key
            FROM documents
        ),
        ranked AS (
            SELECT shard, doc_id, n_chars,
                   row_number() OVER (PARTITION BY shard
                                      ORDER BY pos_key, doc_id) AS pos
            FROM assigned
        )
        SELECT shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(min(CASE WHEN pos = 1 THEN doc_id END) AS BIGINT)
                   AS first_doc
        FROM ranked GROUP BY shard
    """,
    scale=(
        "Reproducible global corpus shuffle — the training-data ordering "
        "primitive: shard = md5(doc_id) % N routes docs with one hash "
        "shuffle (uniform by construction, no skew), within-shard order = "
        "a second independent md5 ranked per shard. Deterministic across "
        "runs/engines, so a resumed training job sees the identical "
        "sample order. At 100 TB: N = O(total/target_shard_bytes), the "
        "within-shard sort is per-partition (no global sort), and the "
        "manifest emitted here (counts + first doc per shard) is the "
        "audit artifact."
    ),
)
def corpus_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically shuffle + shard the corpus; emit per-shard manifest."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ranked = shard_assign(docs, "doc_id").withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy("shard").orderBy("pos_key", "doc_id")
        ),
    )
    return ranked.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min(F.when(F.col("pos") == 1, F.col("doc_id"))).alias("first_doc"),
    )


@op(
    "corpus_epoch_plan",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   CAST(len(list_filter(string_split(text, ' '),
                                        w -> len(w) > 0)) AS BIGINT)
                       AS n_tokens,
                   CAST(('0x' || substring(md5('13:' ||
                        CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS pos_key
            FROM documents
        ),
        ordered AS (
            SELECT doc_id, n_tokens,
                   sum(n_tokens) OVER (ORDER BY pos_key, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
            FROM toks
        )
        SELECT CAST((cum - n_tokens) // 5000 AS BIGINT) AS epoch,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS epoch_tokens,
               CAST(min(doc_id) AS BIGINT) AS min_doc
        FROM ordered GROUP BY 1
    """,
    scale=(
        "Token-budget epoch planning: docs in the reproducible shuffle "
        "order (md5 pos key), prefix-summed token counts cut into 5k-token "
        "epochs. The global prefix sum is TWO-LEVEL, never a global sort: "
        "range-bucket on the uniform 60-bit pos key (order-preserving), "
        "cumsum inside each bucket under a partitioned window, then add "
        "each bucket's cumulative offset (a |buckets|-row aggregate, "
        "broadcast back). At 100 TB the per-bucket windows run fully "
        "parallel and the only global state is the 64-row offset table; "
        "everything else is map-side. The manifest (docs + tokens per "
        "epoch) is what the training loader consumes."
    ),
)
def corpus_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign docs (in deterministic shuffle order) to 5k-token epochs;
    emit the per-epoch manifest.

    The global running sum uses the scalable two-level pattern: the 60-bit
    ``pos_key`` is uniform, so ``pos_key >> 54`` yields 64 order-preserving
    range buckets; a partitioned window computes the within-bucket cumsum
    and a 64-row bucket-total aggregate (global window over an Aggregate —
    bounded) supplies each bucket's starting offset via broadcast join.
    Bit-identical to the single global window it replaces.
    """
    from python_kinesis_streaming_spark.llm.dedup import md5_hash64

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.size(
            F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
        )
        .cast("long")
        .alias("n_tokens"),
        md5_hash64(F.col("doc_id").cast("string"), seed=13).alias("pos_key"),
    ).withColumn("bucket", F.shiftright(F.col("pos_key"), 54))
    w_local = (
        Window.partitionBy("bucket")
        .orderBy("pos_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = toks.withColumn("cum_local", F.sum("n_tokens").over(w_local))
    w_off = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        toks.groupBy("bucket")
        .agg(F.sum("n_tokens").alias("bucket_total"))
        .select(
            "bucket",
            F.coalesce(F.sum("bucket_total").over(w_off), F.lit(0)).alias(
                "offset"
            ),
        )
    )
    ordered = local.join(F.broadcast(offsets), "bucket").select(
        "doc_id",
        "n_tokens",
        (F.col("cum_local") + F.col("offset")).alias("cum"),
    )
    return (
        ordered.groupBy(
            F.floor((F.col("cum") - F.col("n_tokens")) / 5000).alias("epoch")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("epoch_tokens"),
            F.min("doc_id").alias("min_doc"),
        )
    )


@op(
    "corpus_importance_resample",
    oracle="""
        WITH weighted AS (
            SELECT doc_id, source,
                   CASE WHEN source IN ('src0','src1','src2','src3','src4')
                            THEN 2.5
                        WHEN source IN ('src5','src6','src7','src8','src9',
                                        'src10','src11','src12','src13','src14')
                            THEN 1.0
                        ELSE 0.25 END AS w,
                   CAST(('0x' || substring(md5('17:' ||
                        CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000
                       AS u
            FROM documents
        ),
        copies AS (
            SELECT doc_id, source, w,
                   CAST(floor(w) AS BIGINT)
                   + CASE WHEN u < CAST((w - floor(w)) * 1000000 AS BIGINT)
                          THEN 1 ELSE 0 END AS n_copies
            FROM weighted
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_copies) AS BIGINT) AS n_copies,
               floor(sum(n_copies) / CAST(count(*) AS DOUBLE) * 10000.0
                     + 0.505) / 10000.0 AS effective_ratio
        FROM copies GROUP BY source
    """,
    scale=(
        "Importance resampling — the data-mixing primitive: per-source "
        "weights (up-sample high-quality sources with repetition, "
        "down-sample the tail) realized as integer copy counts floor(w) "
        "plus an md5-uniform Bernoulli for the fractional part. Map-only "
        "per doc, deterministic across runs/engines (same docs duplicate "
        "every rerun — required for reproducible training), one "
        "|sources|-row agg for the audit manifest. At 100 TB the copy "
        "expansion itself is posexplode(sequence(1, n_copies)) fused "
        "into the shard writer — never materialized as a driver list."
    ),
)
def corpus_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source deterministic resampling manifest: weight -> integer copy
    counts (floor + md5-Bernoulli fractional part)."""
    from python_kinesis_streaming_spark.llm.dedup import md5_hash64

    docs = load_table(spark, sf_dir, "documents")
    w = (
        F.when(
            F.col("source").isin(*[f"src{i}" for i in range(5)]), F.lit(2.5)
        )
        .when(
            F.col("source").isin(*[f"src{i}" for i in range(5, 15)]),
            F.lit(1.0),
        )
        .otherwise(F.lit(0.25))
    )
    weighted = docs.select(
        "doc_id",
        "source",
        w.alias("w"),
        (md5_hash64(F.col("doc_id").cast("string"), seed=17) % 1000000).alias(
            "u"
        ),
    )
    copies = weighted.select(
        "source",
        (
            F.floor("w").cast("long")
            + F.when(
                F.col("u")
                < ((F.col("w") - F.floor("w")) * 1000000).cast("long"),
                1,
            ).otherwise(0)
        ).alias("n_copies"),
    )
    return copies.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_copies").cast("long").alias("n_copies"),
        rnd(F.sum("n_copies") / F.count(F.lit(1)).cast("double"), 4).alias(
            "effective_ratio"
        ),
    )


@op(
    "corpus_length_batching",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   CAST(len(list_filter(string_split(text, ' '),
                                        w -> len(w) > 0)) AS BIGINT)
                       AS n_tokens
            FROM documents
        ),
        bucketed AS (
            SELECT n_tokens,
                   CAST(power(2, ceil(log2(greatest(n_tokens, 1))))
                        AS BIGINT) AS bucket_len
            FROM toks
        )
        SELECT bucket_len,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS real_tokens,
               CAST(count(*) * bucket_len AS BIGINT) AS padded_tokens,
               floor((1 - sum(n_tokens) / CAST(count(*) * bucket_len
                     AS DOUBLE)) * 10000.0 + 0.505) / 10000.0 AS pad_waste
        FROM bucketed GROUP BY bucket_len
    """,
    scale=(
        "Length-bucketed batching plan — the padding-efficiency lever "
        "for training throughput: docs route to power-of-2 length "
        "buckets (map-only CASE/log2), and the per-bucket manifest "
        "(docs, real vs padded tokens, waste ratio) prices the padding "
        "bill BEFORE any batch is built. At 100 TB the bucket id "
        "becomes the shuffle/write partition key so same-length docs "
        "co-locate for the loader; waste > ~20% in a bucket means "
        "add a sub-bucket. Pure integer token math — engine-exact."
    ),
)
def corpus_length_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-2 length-bucket manifest with padding-waste accounting."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.size(
            F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
        )
        .cast("long")
        .alias("n_tokens")
    )
    bucketed = toks.select(
        "n_tokens",
        F.pow(F.lit(2.0), F.ceil(F.log2(F.greatest("n_tokens", F.lit(1)))))
        .cast("long")
        .alias("bucket_len"),
    )
    return bucketed.groupBy("bucket_len").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("real_tokens"),
        (F.count(F.lit(1)) * F.col("bucket_len")).cast("long").alias(
            "padded_tokens"
        ),
        rnd(
            1
            - F.sum("n_tokens")
            / (F.count(F.lit(1)) * F.col("bucket_len")).cast("double"),
            4,
        ).alias("pad_waste"),
    )


@op(
    "corpus_quality_report",
    oracle="""
        WITH feats AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), w -> len(w) > 0)
                       AS ws
            FROM documents
        ),
        stats AS (
            SELECT doc_id,
                   len(ws) AS n_tokens,
                   list_aggregate(list_transform(ws, w -> len(w)), 'sum')
                       / CAST(len(ws) AS DOUBLE) AS avg_wlen,
                   len(list_distinct(ws)) / CAST(len(ws) AS DOUBLE)
                       AS distinct_frac
            FROM feats
        )
        SELECT 'min_tokens_50' AS rule,
               CAST(count(*) FILTER (WHERE n_tokens < 50) AS BIGINT)
                   AS n_fail,
               floor(count(*) FILTER (WHERE n_tokens < 50)
                     / CAST(count(*) AS DOUBLE) * 10000.0 + 0.505) / 10000.0
                   AS fail_rate
        FROM stats
        UNION ALL
        SELECT 'avg_word_len_3_10',
               CAST(count(*) FILTER (WHERE avg_wlen < 3 OR avg_wlen > 10)
                    AS BIGINT),
               floor(count(*) FILTER (WHERE avg_wlen < 3 OR avg_wlen > 10)
                     / CAST(count(*) AS DOUBLE) * 10000.0 + 0.505) / 10000.0
        FROM stats
        UNION ALL
        SELECT 'distinct_frac_30',
               CAST(count(*) FILTER (WHERE distinct_frac < 0.3) AS BIGINT),
               floor(count(*) FILTER (WHERE distinct_frac < 0.3)
                     / CAST(count(*) AS DOUBLE) * 10000.0 + 0.505) / 10000.0
        FROM stats
    """,
    scale=(
        "Gopher-style quality-rule battery as ONE report: every rule's "
        "per-doc features come from a single in-row HOF pass (no "
        "explode, no shuffle), and all rule counts are conditional aggs "
        "over that one pass — k rules never cost k scans. This is the "
        "corpus gate's audit artifact: fail RATES per rule (not just a "
        "keep/drop bit) so threshold drift is reviewable before the "
        "drop pass runs. text_repetition/text_quality are the per-doc "
        "consumers of the same features."
    ),
)
def corpus_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule fail counts/rates for the corpus quality battery."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
    stats = docs.select(
        F.size(ws).alias("n_tokens"),
        (
            F.aggregate(
                F.transform(ws, lambda w: F.length(w).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            / F.size(ws).cast("double")
        ).alias("avg_wlen"),
        (F.size(F.array_distinct(ws)) / F.size(ws).cast("double")).alias(
            "distinct_frac"
        ),
    )

    def rule(name, cond):
        return stats.agg(
            F.lit(name).alias("rule"),
            F.count(F.when(cond, 1)).alias("n_fail"),
            rnd(
                F.count(F.when(cond, 1)) / F.count(F.lit(1)).cast("double"), 4
            ).alias("fail_rate"),
        )

    r1 = rule("min_tokens_50", F.col("n_tokens") < 50)
    r2 = rule(
        "avg_word_len_3_10",
        (F.col("avg_wlen") < 3) | (F.col("avg_wlen") > 10),
    )
    r3 = rule("distinct_frac_30", F.col("distinct_frac") < 0.3)
    return r1.unionAll(r2).unionAll(r3)

"""Wave-3 pipeline ops (round 10) — three training-data-pipeline audits
that round out the corpus-planning story (the round's cascade upgrade,
``sim_cascade_sketch_recall_audit``, lives in ``llm/similarity.py``).

- ``corpus_contamination_ngram``: eval-set contamination screening —
  the audit every training run publishes before a benchmark claim
  (8-token-gram overlap between the train split and an injected eval
  set, à la GPT-3 appendix C / the n-gram decontamination in public
  LM reports).
- ``corpus_mixture_temperature``: temperature-based source mixing
  (w_s ∝ n_s^α — the multilingual sampling rule from public mBERT/XLM
  practice), emitting the planned token allocation and effective
  epochs per source at α ∈ {0.3, 0.7, 1.0}.
- ``emb_int8_quant_audit``: per-dimension symmetric int8 quantization
  audit (scale = max|x|/127), proving the reconstruction-error bound
  err ≤ scale/2 holds on every dimension — the acceptance gate before
  shipping a quantized ANN index like ``sim_rerank_two_stage``'s.

All batch JVM DataFrame code with the repo's hash discipline:
identical aliases both sides, ``rnd``/``sql_rnd`` before every
ranking, total tie-breaks on ids. Registered at the BACK of
``_GRADING_PRIORITY`` (behind the wave-2 ops) so the locked r10
window is undisturbed; these queue with the r11 tail.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from python_kinesis_streaming_spark.functions.rounding import rnd, sql_rnd
from python_kinesis_streaming_spark.llm.similarity import _DIMS
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# eval-set contamination screening
# ---------------------------------------------------------------------------

_NGRAM = 8  # decontamination gram size (public LM-report convention)


@op(
    "corpus_contamination_ngram",
    oracle=f"""
        WITH evald AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0
        ),
        train AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
            UNION ALL
            SELECT doc_id + 6000000 AS doc_id, 'leak ' || text AS text
            FROM evald WHERE doc_id % 2 = 0
        ),
        eg AS (
            SELECT DISTINCT doc_id, md5(s.g) AS gh
            FROM evald,
                 unnest([array_to_string(
                         string_split(text,' ')[i:i+{_NGRAM - 1}], ' ')
                         FOR i IN range(1, greatest(
                             len(string_split(text,' ')) - {_NGRAM - 1}, 0
                         ) + 1)]) AS s(g)
        ),
        tg AS (
            SELECT DISTINCT doc_id, md5(s.g) AS gh
            FROM train,
                 unnest([array_to_string(
                         string_split(text,' ')[i:i+{_NGRAM - 1}], ' ')
                         FOR i IN range(1, greatest(
                             len(string_split(text,' ')) - {_NGRAM - 1}, 0
                         ) + 1)]) AS s(g)
        ),
        hits AS (
            SELECT DISTINCT eg.doc_id AS eval_doc_id,
                            tg.doc_id AS train_doc_id
            FROM eg JOIN tg USING (gh)
        ),
        agg AS (
            SELECT eval_doc_id,
                   count(*) AS n_contaminated,
                   max(CASE WHEN train_doc_id = eval_doc_id + 6000000
                            THEN 1 ELSE 0 END) AS caught
            FROM hits GROUP BY eval_doc_id
        )
        SELECT CAST(e.doc_id AS BIGINT) AS eval_doc_id,
               CAST(COALESCE(a.n_contaminated, 0) AS BIGINT)
                   AS n_contaminated,
               COALESCE(a.caught, 0) = 1 AS injected_twin_flagged
        FROM evald e LEFT JOIN agg a ON a.eval_doc_id = e.doc_id
    """,
    scale=(
        "Benchmark decontamination audit: flag every train doc sharing "
        "at least one 8-token gram with the eval set (the n-gram "
        "overlap rule from public LM reports, GPT-3 appendix C "
        "lineage). Candidate generation is a JOIN ON 16-byte GRAM "
        "HASHES — grams are md5'd map-side and deduped per doc before "
        "the shuffle, so the exchange carries |distinct grams| hashes, "
        "never texts, and the eval side (tiny by construction: an "
        "eval set is thousands of docs, the train side is the 100 TB) "
        "broadcasts in production. Self-demonstrating via injected "
        "'leak '-prefixed twins of half the eval docs, each sharing "
        "all interior grams with its original; the oracle checks every "
        "injected twin is flagged. Short docs (<8 tokens) contribute "
        "zero grams in both engines (explicit empty-range guard, no "
        "partial grams). Complements corpus_decontaminate (llm/corpus."
        "py), which answers the TRAIN-side question (which train docs "
        "to drop, 4-gram broadcast semi-join); this op answers the "
        "EVAL-side one — which benchmark items are burned and by how "
        "many train docs — with injected ground truth proving recall."
    ),
)
def corpus_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-gram eval-contamination screen with injected leak twins."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    evald = docs.where(F.col("doc_id") % 97 == 0)
    leaked = evald.where(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 6_000_000).alias("doc_id"),
        F.concat(F.lit("leak "), F.col("text")).alias("text"),
    )
    train = docs.where(F.col("doc_id") % 97 != 0).unionByName(leaked)

    def grams(df: DataFrame) -> DataFrame:
        toks = F.split(F.col("text"), " ")
        g = F.when(
            F.size(toks) >= _NGRAM,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - _NGRAM),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, _NGRAM)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return df.select(
            "doc_id", F.explode(g).alias("g")
        ).select("doc_id", F.md5("g").alias("gh")).distinct()

    eg = grams(evald).select(F.col("doc_id").alias("eval_doc_id"), "gh")
    tg = grams(train).select(F.col("doc_id").alias("train_doc_id"), "gh")
    hits = (
        eg.join(tg, "gh")
        .select("eval_doc_id", "train_doc_id")
        .distinct()
    )
    agg = hits.groupBy("eval_doc_id").agg(
        F.count("*").alias("n_contaminated"),
        F.max(
            F.when(
                F.col("train_doc_id") == F.col("eval_doc_id") + 6_000_000, 1
            ).otherwise(0)
        ).alias("caught"),
    )
    return (
        evald.select(F.col("doc_id").alias("eval_doc_id"))
        .join(agg, "eval_doc_id", "left")
        .select(
            "eval_doc_id",
            F.coalesce(F.col("n_contaminated"), F.lit(0))
            .cast("long")
            .alias("n_contaminated"),
            (F.coalesce(F.col("caught"), F.lit(0)) == 1).alias(
                "injected_twin_flagged"
            ),
        )
    )


# ---------------------------------------------------------------------------
# temperature-based source mixing plan
# ---------------------------------------------------------------------------


@op(
    "corpus_mixture_temperature",
    oracle=f"""
        WITH per_src AS (
            SELECT source,
                   count(*) AS n_docs,
                   sum(len(string_split(text, ' '))) AS n_tokens
            FROM documents GROUP BY source
        ),
        tot AS (SELECT sum(n_tokens) AS budget FROM per_src),
        alphas AS (
            SELECT unnest([0.3, 0.7, 1.0]) AS alpha
        ),
        wts AS (
            SELECT p.source, a.alpha, p.n_docs, p.n_tokens,
                   pow(p.n_tokens, a.alpha)
                       / sum(pow(p.n_tokens, a.alpha))
                             OVER (PARTITION BY a.alpha) AS w
            FROM per_src p, alphas a
        )
        SELECT source, alpha,
               CAST(n_docs AS BIGINT) AS n_docs,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               {sql_rnd("w", 6)} AS weight,
               {sql_rnd("w * (SELECT budget FROM tot)", 2)}
                   AS planned_tokens,
               {sql_rnd("w * (SELECT budget FROM tot) / n_tokens", 4)}
                   AS effective_epochs
        FROM wts
    """,
    scale=(
        "Temperature-based source mixing (w_s proportional to "
        "n_s^alpha — the multilingual sampling rule from public "
        "mBERT/XLM practice): per source and temperature, the "
        "normalized weight, the token allocation out of the corpus-"
        "total budget, and the implied effective epochs (>1 means the "
        "source is upsampled and will repeat). alpha=1 reproduces "
        "natural proportions (epochs = 1 for every source), lower "
        "alpha flattens toward uniform. One groupBy(source) over the "
        "corpus (map-side partial agg, 20 groups), then O(|sources| x "
        "|alphas|) driver-free arithmetic — at 100 TB this is a "
        "metadata-sized result computed in a single pass; the plan "
        "the sampler then executes is weighted reads, not shuffles. "
        "Complements corpus_mix_planner (llm/corpus.py), which caps "
        "any source at a fixed corpus share; temperature mixing "
        "instead smoothly upsamples the tail — the two rules a real "
        "mixture design compares."
    ),
)
def corpus_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, alpha) sampling weights, token plan, epochs."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens"),
    )
    alphas = spark.createDataFrame(
        [(0.3,), (0.7,), (1.0,)], "alpha double"
    )
    wall = Window.partitionBy("alpha")
    wts = (
        per_src.crossJoin(F.broadcast(alphas))
        .withColumn("pw", F.pow(F.col("n_tokens"), F.col("alpha")))
        .withColumn("w", F.col("pw") / F.sum("pw").over(wall))
    )
    budget = per_src.agg(F.sum("n_tokens").alias("budget"))
    return (
        wts.crossJoin(F.broadcast(budget))
        .select(
            "source",
            "alpha",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            rnd(F.col("w"), 6).alias("weight"),
            rnd(F.col("w") * F.col("budget"), 2).alias("planned_tokens"),
            rnd(F.col("w") * F.col("budget") / F.col("n_tokens"), 4).alias(
                "effective_epochs"
            ),
        )
    )


# ---------------------------------------------------------------------------
# int8 quantization acceptance audit
# ---------------------------------------------------------------------------


@op(
    "emb_int8_quant_audit",
    oracle=f"""
        WITH x AS (
            SELECT vec_id, CAST(u.i AS INTEGER) AS j,
                   (embedding::DOUBLE[])[u.i + 1] AS x
            FROM embeddings, unnest(range(0, {_DIMS})) AS u(i)
        ),
        sc AS (
            SELECT j, max(abs(x)) / 127.0 AS scale FROM x GROUP BY j
        ),
        q AS (
            SELECT x.vec_id, x.j, x.x, sc.scale,
                   CASE WHEN sc.scale = 0 THEN 0
                        ELSE greatest(
                            least(floor(x.x / sc.scale + 0.5), 127), -127)
                   END AS q
            FROM x JOIN sc USING (j)
        ),
        err AS (
            SELECT j, scale,
                   count(*) AS n,
                   max(abs(x - q * scale)) AS max_err,
                   avg(abs(x - q * scale)) AS mean_err
            FROM q GROUP BY j, scale
        )
        SELECT j,
               CAST(n AS BIGINT) AS n,
               {sql_rnd("scale", 6)} AS scale,
               {sql_rnd("max_err", 6)} AS max_abs_err,
               {sql_rnd("mean_err", 6)} AS mean_abs_err,
               max_err <= scale / 2.0 AS bound_ok
        FROM err
    """,
    scale=(
        "Symmetric per-dimension int8 quantization audit (scale = "
        "max|x|/127, round-half-up): the acceptance gate before "
        "shipping a quantized index (sim_rerank_two_stage's int8 "
        "prefilter assumes exactly this bound). Emits per-dim scale, "
        "max/mean reconstruction error and the PROOF booleans "
        "max_err <= scale/2 — nearest-code rounding guarantees the "
        "bound, clamping cannot break it because |x| <= 127*scale by "
        "construction of the scale. One posexplode + two groupBy(j) "
        "passes (d=64 groups, map-side partials); at 100 TB the "
        "per-dim max and the quantize-verify pass pipeline in a "
        "single job, shuffling d rows, and the comparison arithmetic "
        "is IEEE-deterministic so both engines agree exactly (sums "
        "are rounded at 1e-6 where drift is possible; the bound "
        "boolean uses unrounded order-independent max/abs/divide)."
    ),
)
def emb_int8_quant_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dim int8 scale + reconstruction-error bound proof."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "j", "x"
        ),
    )
    sc = x.groupBy("j").agg((F.max(F.abs("x")) / 127.0).alias("scale"))
    q = x.join(F.broadcast(sc), "j").withColumn(
        "q",
        # zero-variance (all-zero) dimension gives scale=0: quantize to 0
        # on both engines instead of dividing by zero (Spark would yield
        # NaN/Inf where DuckDB errors — ADVICE r10 item 3)
        F.when(F.col("scale") == 0, F.lit(0.0)).otherwise(
            F.greatest(
                F.least(
                    F.floor(F.col("x") / F.col("scale") + 0.5), F.lit(127.0)
                ),
                F.lit(-127.0),
            )
        ),
    )
    err = q.groupBy("j", "scale").agg(
        F.count("*").alias("n"),
        F.max(F.abs(F.col("x") - F.col("q") * F.col("scale"))).alias(
            "max_err"
        ),
        F.avg(F.abs(F.col("x") - F.col("q") * F.col("scale"))).alias(
            "mean_err"
        ),
    )
    return err.select(
        "j",
        F.col("n").cast("long").alias("n"),
        rnd(F.col("scale"), 6).alias("scale"),
        rnd(F.col("max_err"), 6).alias("max_abs_err"),
        rnd(F.col("mean_err"), 6).alias("mean_abs_err"),
        (F.col("max_err") <= F.col("scale") / 2.0).alias("bound_ok"),
    )

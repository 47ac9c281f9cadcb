"""Round-13 wave-18 ops (SURVEY §2.30): the r12 verdict's four asks
plus the experiment health check the A/B stack was missing.

- ``text_tokenizer_fertility``: tokens/word fertility and chars/token
  compression for a char-L subword tokenizer proxy at L = 2/4/8 per
  source — the first table read when choosing a tokenizer for a
  corpus (fertility ~1 = whitespace-cheap, high = fragmenting).
- ``text_kn_doc_perplexity``: per-source document surprisal under the
  wave-14 interpolated Kneser-Ney bigram model — the CCNet-style
  LM quality-filter signal (high surprisal = off-distribution text).
- ``corpus_contamination_embedding``: eval-vs-train cosine screen
  bounded by SemDeDup cells — catches paraphrase-level leakage the
  lexical 8-gram screen (corpus_contamination_ngram) cannot.
- ``emb_ivf_staleness_audit``: IVF centroid staleness under appends —
  assign appended vectors to the stale (pre-append) centroids vs the
  refreshed ones, report reassignment rate + distance improvement +
  per-cell centroid shift (pairs with sim_topk_incremental_delta and
  lakehouse_incremental_dedup for the incremental-index story).
- ``events_srm_check``: per-day sample-ratio-mismatch chi-square on
  the user_id-parity A/B split — THE standard experiment health gate
  (a biased split invalidates CUPED/MDE/posterior downstream).

Same discipline as waves 7-17: exact integers before any
cross-partition sum, identical aliases, BIGINT casts in oracles, and
the wave-17 literal logistic-CDF table (no libm exp in either engine)
for the SRM p-value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from python_kinesis_streaming_spark.functions.rounding import rnd, sql_rnd
from python_kinesis_streaming_spark.functions.vectors import centroid_ord, sq_l2
from python_kinesis_streaming_spark.llm.wave7 import (
    _SEMDEDUP_CTES,
    _semdedup_assigned_pairs,
)
from python_kinesis_streaming_spark.llm.wave14 import _KN_D
from python_kinesis_streaming_spark.llm.wave17 import (
    _LOGI_STEP_MICRO,
    _LOGI_TABLE,
    _LOGI_TABLE_SQL,
    _LOGI_ZMIN_MICRO,
)
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# shared: Phi(z) from the wave-17 literal logistic table (z in integer
# micro) — linear interpolation with pure +,-,*,/ in both engines.
# ---------------------------------------------------------------------------


def _phi_col(z_micro) -> F.Column:
    zc = F.least(
        F.greatest(z_micro, F.lit(_LOGI_ZMIN_MICRO)),
        F.lit(-_LOGI_ZMIN_MICRO),
    )
    k = F.least(
        F.floor(
            (zc - F.lit(_LOGI_ZMIN_MICRO)) / F.lit(float(_LOGI_STEP_MICRO))
        ).cast("long"),
        F.lit(47),
    )
    frac = (
        zc - F.lit(_LOGI_ZMIN_MICRO) - k * F.lit(_LOGI_STEP_MICRO)
    ) / F.lit(float(_LOGI_STEP_MICRO))
    tbl = F.array(*[F.lit(v) for v in _LOGI_TABLE])
    t1 = F.element_at(tbl, (k + F.lit(1)).cast("int"))
    t2 = F.element_at(tbl, (k + F.lit(2)).cast("int"))
    return t1 + (t2 - t1) * frac


def _phi_sql(zm: str) -> str:
    """DuckDB expression for Phi(``zm``), ``zm`` a BIGINT-micro column
    reference (keep it a simple name — it is expanded several times)."""
    zc = f"least(greatest({zm}, {_LOGI_ZMIN_MICRO}), {-_LOGI_ZMIN_MICRO})"
    k = (
        f"least(CAST(floor(({zc} - ({_LOGI_ZMIN_MICRO}))"
        f" / {_LOGI_STEP_MICRO}.0) AS BIGINT), 47)"
    )
    frac = (
        f"(({zc} - ({_LOGI_ZMIN_MICRO}) - {k} * {_LOGI_STEP_MICRO})"
        f" / {_LOGI_STEP_MICRO}.0)"
    )
    t1 = f"list_extract({_LOGI_TABLE_SQL}, CAST({k} + 1 AS INTEGER))"
    t2 = f"list_extract({_LOGI_TABLE_SQL}, CAST({k} + 2 AS INTEGER))"
    return f"({t1} + ({t2} - {t1}) * {frac})"


# ---------------------------------------------------------------------------
# tokenizer fertility / compression curve
# ---------------------------------------------------------------------------

_FERT_LS = (2, 4, 8)


@op(
    "text_tokenizer_fertility",
    oracle=f"""
        WITH grid(l) AS (VALUES {", ".join(f"({l})" for l in _FERT_LS)}),
        d AS (
            SELECT source, string_split(text, ' ') AS t FROM documents
        ),
        per_doc AS (
            SELECT d.source, g.l,
                   CAST(len(t) AS BIGINT) AS n_words,
                   CAST(list_sum(list_transform(t, w -> len(w)))
                        AS BIGINT) AS n_chars,
                   CAST(list_sum(list_transform(t,
                        w -> (len(w) + g.l - 1) // g.l))
                        AS BIGINT) AS n_tok
            FROM d CROSS JOIN grid g
        )
        SELECT source, CAST(l AS BIGINT) AS l,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_words) AS BIGINT) AS n_words,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               {sql_rnd("sum(n_tok) * 1.0 / sum(n_words)", 4)}
                   AS fertility,
               {sql_rnd("sum(n_chars) * 1.0 / sum(n_tok)", 4)}
                   AS chars_per_token
        FROM per_doc
        GROUP BY source, l
    """,
    scale=(
        "Tokenizer fertility table (tokens per whitespace word) and "
        "compression (chars per token) for a char-L subword proxy at "
        "L = 2/4/8, per source — the first read when choosing a "
        "tokenizer/vocab budget for a mixed corpus (HF tokenizers "
        "report the same two numbers). The subword rule ceil(len/L) "
        "is pure integer arithmetic (no regex-dialect risk), every "
        "sum is a BIGINT, the two ratios are rationals of BIGINTs — "
        "bit-identical everywhere. Shape: one in-row HOF pass per "
        "doc (no explode), a 3-row literal grid fan-out, one "
        "source-keyed agg with map-side combine. 100 TB: a single "
        "scan-shaped pass; the grid multiplies rows 3x before the "
        "agg, never the scan."
    ),
)
def text_tokenizer_fertility(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fertility + compression per (source, subword-L)."""
    docs = load_table(spark, sf_dir, "documents")
    grid = spark.range(1).select(
        F.explode(F.array(*[F.lit(l) for l in _FERT_LS])).alias("l")
    )
    per_doc = docs.select(
        "source", F.split("text", " ").alias("t")
    ).crossJoin(F.broadcast(grid)).select(
        "source",
        "l",
        F.size("t").cast("long").alias("n_words"),
        F.expr(
            "aggregate(transform(t, w -> CAST(length(w) AS BIGINT)), "
            "0L, (acc, x) -> acc + x)"
        ).alias("n_chars"),
        F.expr(
            "aggregate(transform(t, "
            "w -> CAST((length(w) + l - 1) div l AS BIGINT)), "
            "0L, (acc, x) -> acc + x)"
        ).alias("n_tok"),
    )
    return per_doc.groupBy("source", "l").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        rnd(F.sum("n_tok") * F.lit(1.0) / F.sum("n_words"), 4).alias(
            "fertility"
        ),
        rnd(F.sum("n_chars") * F.lit(1.0) / F.sum("n_tok"), 4).alias(
            "chars_per_token"
        ),
    ).select(
        "source",
        F.col("l").cast("long").alias("l"),
        "n_docs",
        "n_words",
        "n_tokens",
        "fertility",
        "chars_per_token",
    )


# ---------------------------------------------------------------------------
# document surprisal under the KN bigram model
# ---------------------------------------------------------------------------

#: floor for the 1e-6-rounded KN probability before ln() — a rare
#: bigram can round to 0.0 at 1e-6 and ln(0) is -inf.
_KN_P_FLOOR = 0.000001


@op(
    "text_kn_doc_perplexity",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, source, string_split(text, ' ') AS t
            FROM documents
        ),
        bg AS (
            SELECT doc_id, source, t[i] AS w1, t[i + 1] AS w2
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
        scored AS (
            SELECT b.doc_id, b.source,
                   CAST(floor(-ln(greatest({sql_rnd(
                       f"greatest(m.c - {_KN_D}, 0.0) / c1.cw1"
                       f" + ({_KN_D} * c1.n1p_fwd / c1.cw1)"
                       "   * (cont.n1p_bwd * 1.0 / tt.n_bigram_types)",
                       6,
                   )}, {_KN_P_FLOOR})) * 1000000.0 + 0.505) AS BIGINT)
                       AS surp_micro
            FROM bg b
            JOIN c2 m ON m.w1 = b.w1 AND m.w2 = b.w2
            JOIN c1 ON c1.w1 = b.w1
            JOIN cont ON cont.w2 = b.w2
            CROSS JOIN tot tt
        ),
        per_doc AS (
            SELECT doc_id, source,
                   CAST(count(*) AS BIGINT) AS n_bg,
                   CAST(sum(surp_micro) AS BIGINT) AS s_micro
            FROM scored GROUP BY doc_id, source
        ),
        g AS (
            SELECT CAST(sum(n_bg) AS BIGINT) AS tot_bg,
                   CAST(sum(s_micro) AS BIGINT) AS tot_micro
            FROM per_doc
        )
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(d.n_bg) AS BIGINT) AS n_bigrams,
               {sql_rnd("sum(d.s_micro) / (1000000.0 * sum(d.n_bg))", 4)}
                   AS mean_surprisal,
               -- doc mean > corpus mean as an exact BIGINT cross-
               -- multiplication: no float boundary anywhere
               {sql_rnd(
                   "sum(CASE WHEN d.s_micro * g.tot_bg"
                   " > g.tot_micro * d.n_bg THEN 1 ELSE 0 END)"
                   " * 1.0 / count(*)", 4
               )} AS share_high_surprisal
        FROM per_doc d CROSS JOIN g
        GROUP BY d.source
    """,
    scale=(
        "CCNet-style LM quality scoring: every document's mean "
        "surprisal -ln p_KN(w2|w1) under the corpus-trained "
        "interpolated Kneser-Ney bigram model (wave-14's exact "
        "formula, 1e-6-frozen probability), reported per source with "
        "the share of above-corpus-mean docs. Each bigram's surprisal "
        "freezes to integer micro BEFORE the per-doc and per-source "
        "sums (the Adamic-Adar ln precedent: ln evaluates on an "
        "IDENTICAL 1e-6-rounded double in both engines); the "
        "high-surprisal flag is an exact BIGINT cross-multiplication "
        "(doc_sum * total_n > total_sum * doc_n) — no float compare. "
        "Shape: the KN model is two group-bys over the bigram table; "
        "scoring is a shuffle join of bigram instances to the (w1,w2) "
        "model keyed on the bigram. 100 TB: model tables are "
        "vocab^2-bounded (broadcastable for real vocabularies); the "
        "instance join shuffles once on the bigram key."
    ),
)
def text_kn_doc_perplexity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source doc surprisal under the corpus KN bigram model."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.split("text", " ").alias("t")
    ).where(F.size("t") >= 2)
    bg = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(element_at(t, i) AS w1, "
                "            element_at(t, i + 1) AS w2))"
            )
        ).alias("b"),
    ).select(
        "doc_id", "source",
        F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"),
    )
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
    p_kn = rnd(
        F.greatest(F.col("c") - F.lit(_KN_D), F.lit(0.0)) / F.col("cw1")
        + (F.lit(_KN_D) * F.col("n1p_fwd") / F.col("cw1"))
        * (F.col("n1p_bwd") * F.lit(1.0) / F.col("n_bigram_types")),
        6,
    )
    # the model tables are vocab-bounded (c2 <= vocab^2 TYPES, not
    # instances) — broadcast them so the instance-side scan never
    # shuffles on the bigram key
    scored = (
        bg.join(F.broadcast(c2), ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .join(F.broadcast(cont), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "source",
            F.floor(
                -F.log(F.greatest(p_kn, F.lit(_KN_P_FLOOR)))
                * F.lit(1000000.0)
                + F.lit(0.505)
            )
            .cast("long")
            .alias("surp_micro"),
        )
    )
    # per_doc feeds BOTH the corpus-mean scalar and the final per-source
    # agg — cache it so the model+scoring subtree plans (and runs) once
    # (the _semdedup_assigned_pairs precedent; CacheManager dedupes the
    # identical logical plan across re-invocations)
    per_doc = scored.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_bg"),
        F.sum("surp_micro").cast("long").alias("s_micro"),
    ).cache()
    g = per_doc.agg(
        F.sum("n_bg").cast("long").alias("tot_bg"),
        F.sum("s_micro").cast("long").alias("tot_micro"),
    )
    return (
        per_doc.crossJoin(F.broadcast(g))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_bg").cast("long").alias("n_bigrams"),
            rnd(
                F.sum("s_micro") / (F.lit(1000000.0) * F.sum("n_bg")), 4
            ).alias("mean_surprisal"),
            rnd(
                F.sum(
                    F.when(
                        F.col("s_micro") * F.col("tot_bg")
                        > F.col("tot_micro") * F.col("n_bg"),
                        1,
                    ).otherwise(0)
                )
                * F.lit(1.0)
                / F.count(F.lit(1)),
                4,
            ).alias("share_high_surprisal"),
        )
    )


# ---------------------------------------------------------------------------
# eval-vs-train contamination via embedding cosine (SemDeDup-cell-bounded)
# ---------------------------------------------------------------------------

#: cosine threshold for a contamination hit — calibrated to the
#: synthetic fixture's within-cell p99 ~ 0.32 (wave-7 note); real
#: pipelines with normalized text embeddings use ~0.9+.
_CONTAM_TAU = 0.30


@op(
    "corpus_contamination_embedding",
    oracle=f"""
        WITH {_SEMDEDUP_CTES.lstrip()},
        ev AS (
            -- pairs with EXACTLY ONE side in the every-25th eval split
            SELECT CASE WHEN va % 25 = 0 THEN va ELSE vb END AS evec,
                   sim
            FROM pairs WHERE (va % 25 = 0) <> (vb % 25 = 0)
        ),
        eligible AS (
            SELECT d.source, d.doc_id
            FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
            WHERE d.doc_id % 25 = 0
        ),
        hits AS (
            SELECT evec, max(sim) AS mx,
                   CAST(sum(CASE WHEN sim >= {_CONTAM_TAU} THEN 1
                            ELSE 0 END) AS BIGINT) AS nhit
            FROM ev GROUP BY evec
        )
        SELECT el.source,
               CAST(count(*) AS BIGINT) AS n_eval,
               CAST(sum(CASE WHEN h.nhit > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_contaminated,
               {sql_rnd(
                   "sum(CASE WHEN h.nhit > 0 THEN 1 ELSE 0 END)"
                   " * 1.0 / count(*)", 4
               )} AS contamination_rate,
               COALESCE(max(h.mx), -1.0) AS max_train_sim
        FROM eligible el LEFT JOIN hits h ON h.evec = el.doc_id
        GROUP BY el.source
    """,
    scale=(
        "Embedding-level eval decontamination (the paraphrase screen "
        "corpus_contamination_ngram's lexical 8-grams cannot catch): "
        "the every-25th doc split is 'eval', and an eval doc is "
        "contaminated when some TRAIN doc in its SemDeDup cell has "
        "cosine >= tau. Candidate pairs are the cell-bounded SemDeDup "
        "pair table (never all-pairs; sims pre-rounded at 1e-4), so "
        "the screen inherits the same 100 TB shape as dedup_semdedup_"
        "prune: k cells scale with the corpus, the pair join shuffles "
        "on cid only, AQE handles fat cells. A miss is possible only "
        "across cells — the same recall trade SemDeDup itself makes. "
        "Per-source LEFT JOIN keeps zero-hit sources in the report "
        "with rate 0."
    ),
)
def corpus_contamination_embedding(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source eval contamination via in-cell train cosine."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    _, pairs = _semdedup_assigned_pairs(spark, sf_dir)
    ev = pairs.where(
        (F.col("va") % 25 == 0) != (F.col("vb") % 25 == 0)
    ).select(
        F.when(F.col("va") % 25 == 0, F.col("va"))
        .otherwise(F.col("vb"))
        .alias("evec"),
        "sim",
    )
    hits = ev.groupBy("evec").agg(
        F.max("sim").alias("mx"),
        F.sum(F.when(F.col("sim") >= _CONTAM_TAU, 1).otherwise(0))
        .cast("long")
        .alias("nhit"),
    )
    eligible = (
        docs.where(F.col("doc_id") % 25 == 0)
        .join(emb, docs.doc_id == emb.vec_id)
        .select("source", "doc_id")
    )
    return (
        eligible.join(hits, eligible.doc_id == hits.evec, "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.sum(F.when(F.col("nhit") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_contaminated"),
            rnd(
                F.sum(F.when(F.col("nhit") > 0, 1).otherwise(0))
                * F.lit(1.0)
                / F.count(F.lit(1)),
                4,
            ).alias("contamination_rate"),
            F.coalesce(F.max("mx"), F.lit(-1.0)).alias("max_train_sim"),
        )
    )


# ---------------------------------------------------------------------------
# IVF centroid staleness under appends
# ---------------------------------------------------------------------------


@op(
    "emb_ivf_staleness_audit",
    oracle="""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        -- init centroids: the 8 lowest BASE ids (vec_id < 10 minus the
        -- appended 0 and 5); base = 80% of vectors, appended = 20%
        cent AS (
            SELECT vec_id AS cid, v AS cv FROM e
            WHERE vec_id < 10 AND vec_id % 5 <> 0
        ),
        base AS (SELECT * FROM e WHERE vec_id % 5 <> 0),
        appended AS (SELECT * FROM e WHERE vec_id % 5 = 0),
        ab AS (
            SELECT b.vec_id,
                   min(CAST(floor(list_sum(list_transform(range(1, 65),
                       i -> (b.v[CAST(i AS INTEGER)]
                             - c.cv[CAST(i AS INTEGER)]) ^ 2))
                       * 1000000.0 + 0.505) AS BIGINT) * 16 + c.cid)
                       AS o
            FROM base b, cent c GROUP BY b.vec_id
        ),
        assigned_base AS (
            SELECT a.vec_id, CAST(a.o % 16 AS BIGINT) AS cid, b.v
            FROM ab a JOIN base b ON b.vec_id = a.vec_id
        ),
        newc AS (
            SELECT cid, list(m ORDER BY j) AS cvn
            FROM (
                SELECT cid, u.i AS j,
                       CAST(sum(CAST(floor(v[CAST(u.i AS INTEGER)]
                            * 1000000.0 + 0.505) AS BIGINT)) AS BIGINT)
                       * 1.0 / count(*) / 1000000.0 AS m
                FROM assigned_base, unnest(range(1, 65)) AS u(i)
                GROUP BY cid, u.i
            ) GROUP BY cid
        ),
        app_old AS (
            SELECT a.vec_id,
                   min(CAST(floor(list_sum(list_transform(range(1, 65),
                       i -> (a.v[CAST(i AS INTEGER)]
                             - c.cv[CAST(i AS INTEGER)]) ^ 2))
                       * 1000000.0 + 0.505) AS BIGINT) * 16 + c.cid)
                       AS o
            FROM appended a, cent c GROUP BY a.vec_id
        ),
        app_new AS (
            SELECT a.vec_id,
                   min(CAST(floor(list_sum(list_transform(range(1, 65),
                       i -> (a.v[CAST(i AS INTEGER)]
                             - n.cvn[CAST(i AS INTEGER)]) ^ 2))
                       * 1000000.0 + 0.505) AS BIGINT) * 16 + n.cid)
                       AS o
            FROM appended a, newc n GROUP BY a.vec_id
        ),
        app AS (
            SELECT o.vec_id,
                   CAST(o.o % 16 AS BIGINT) AS old_cid,
                   CAST(o.o // 16 AS BIGINT) AS d_old_micro,
                   CAST(n.o % 16 AS BIGINT) AS new_cid,
                   CAST(n.o // 16 AS BIGINT) AS d_new_micro
            FROM app_old o JOIN app_new n ON n.vec_id = o.vec_id
        ),
        nb AS (
            SELECT cid, CAST(count(*) AS BIGINT) AS n_base
            FROM assigned_base GROUP BY cid
        ),
        shift AS (
            SELECT c.cid,
                   CAST(floor(list_sum(list_transform(range(1, 65),
                       i -> (c.cv[CAST(i AS INTEGER)]
                             - n.cvn[CAST(i AS INTEGER)]) ^ 2))
                       * 1000000.0 + 0.505) AS BIGINT) AS sh_micro
            FROM cent c JOIN newc n ON n.cid = c.cid
        ),
        ap AS (
            SELECT old_cid AS cid,
                   CAST(count(*) AS BIGINT) AS n_appended,
                   CAST(sum(CASE WHEN new_cid <> old_cid THEN 1
                            ELSE 0 END) AS BIGINT) AS n_reassigned,
                   CAST(sum(d_old_micro) AS BIGINT) AS sd_old,
                   CAST(sum(d_new_micro) AS BIGINT) AS sd_new
            FROM app GROUP BY old_cid
        )
        SELECT nb.cid, nb.n_base,
               CAST(COALESCE(ap.n_appended, 0) AS BIGINT) AS n_appended,
               CAST(COALESCE(ap.n_reassigned, 0) AS BIGINT)
                   AS n_reassigned,
               CASE WHEN ap.n_appended IS NULL THEN 0.0
                    ELSE floor(ap.n_reassigned * 1.0 / ap.n_appended
                               * 10000.0 + 0.505) / 10000.0
               END AS reassign_rate,
               CASE WHEN ap.n_appended IS NULL THEN 0.0
                    ELSE floor(ap.sd_old / (1000000.0 * ap.n_appended)
                               * 10000.0 + 0.505) / 10000.0
               END AS mean_dist_stale,
               CASE WHEN ap.n_appended IS NULL THEN 0.0
                    ELSE floor(ap.sd_new / (1000000.0 * ap.n_appended)
                               * 10000.0 + 0.505) / 10000.0
               END AS mean_dist_fresh,
               floor(sh.sh_micro / 1000000.0 * 10000.0 + 0.505)
                   / 10000.0 AS centroid_shift_sq
        FROM nb
        LEFT JOIN ap ON ap.cid = nb.cid
        JOIN shift sh ON sh.cid = nb.cid
    """,
    scale=(
        "IVF index staleness under appends (the centroid dual of "
        "sim_topk_incremental_delta's query-side frozen base): 80% of "
        "vectors are the indexed 'base' (vec_id % 5 != 0), 20% arrive "
        "later. Stale centroids = the 8 init vectors; fresh centroids "
        "= one Lloyd update over the base (per-dim means of "
        "micro-frozen coordinates — BIGINT sums, order-free). The "
        "audit scores the APPENDED vectors both ways: reassignment "
        "rate (how many land in a different cell once centroids "
        "refresh — routing staleness), mean squared distance to the "
        "stale vs fresh assigned centroid (quantization staleness), "
        "and per-cell centroid shift. Every distance is the fixed-"
        "order 64-dim array fold frozen to micro (the SemDeDup "
        "argmin ordinal, x16 for the raw-id tiebreak); means are "
        "rationals of BIGINTs. 100 TB: assignment is a broadcast-"
        "centroid map pass; the Lloyd update is one (cid, dim)-keyed "
        "agg bounded by k*d; appended fraction is scanned once — the "
        "audit that tells you WHEN to re-run sim_ann_ivf training."
    ),
)
def emb_ivf_staleness_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-cell staleness report: reassignment + distance + shift."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cent = emb.where(
        (F.col("vec_id") < 10) & (F.col("vec_id") % 5 != 0)
    ).select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    base = emb.where(F.col("vec_id") % 5 != 0)
    appended = emb.where(F.col("vec_id") % 5 == 0)

    ab = (
        base.crossJoin(F.broadcast(cent))
        .select(
            "vec_id", "v", centroid_ord(sq_l2("v", "cv"), 16, "cid").alias("o")
        )
        .groupBy("vec_id")
        .agg(F.min("o").alias("o"), F.first("v").alias("v"))
        .select(
            "vec_id", "v", (F.col("o") % 16).cast("long").alias("cid")
        )
    )
    newc = (
        ab.select("cid", F.posexplode("v").alias("j", "x"))
        .groupBy("cid", "j")
        .agg(
            (
                F.sum(
                    F.floor(
                        F.col("x") * F.lit(1000000.0) + F.lit(0.505)
                    ).cast("long")
                ).cast("long")
                * F.lit(1.0)
                / F.count(F.lit(1))
                / F.lit(1000000.0)
            ).alias("m")
        )
        .groupBy("cid")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("j", "m"))),
                lambda s: s.m,
            ).alias("cvn")
        )
    )
    app_old = (
        appended.crossJoin(F.broadcast(cent))
        .select(
            "vec_id", "v", centroid_ord(sq_l2("v", "cv"), 16, "cid").alias("o")
        )
        .groupBy("vec_id")
        .agg(F.min("o").alias("o"), F.first("v").alias("v"))
    )
    app_new = (
        app_old.select("vec_id", "v")
        .crossJoin(F.broadcast(newc))
        .select(
            "vec_id", centroid_ord(sq_l2("v", "cvn"), 16, "cid").alias("o")
        )
        .groupBy("vec_id")
        .agg(F.min("o").alias("on"))
    )
    app = app_old.join(app_new, "vec_id").select(
        (F.col("o") % 16).cast("long").alias("old_cid"),
        (F.col("o") / F.lit(16)).cast("long").alias("d_old_micro"),
        (F.col("on") % 16).cast("long").alias("new_cid"),
        (F.col("on") / F.lit(16)).cast("long").alias("d_new_micro"),
    )
    nb = ab.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_base")
    )
    shift = cent.join(newc, "cid").select(
        "cid",
        F.floor(sq_l2("cv", "cvn") * F.lit(1000000.0) + F.lit(0.505))
        .cast("long")
        .alias("sh_micro"),
    )
    ap = app.groupBy("old_cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_appended"),
        F.sum(
            F.when(F.col("new_cid") != F.col("old_cid"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_reassigned"),
        F.sum("d_old_micro").cast("long").alias("sd_old"),
        F.sum("d_new_micro").cast("long").alias("sd_new"),
    )
    return (
        nb.join(ap, nb.cid == ap.old_cid, "left")
        .join(shift, "cid")
        .select(
            "cid",
            "n_base",
            F.coalesce(F.col("n_appended"), F.lit(0))
            .cast("long")
            .alias("n_appended"),
            F.coalesce(F.col("n_reassigned"), F.lit(0))
            .cast("long")
            .alias("n_reassigned"),
            F.when(F.col("n_appended").isNull(), F.lit(0.0))
            .otherwise(
                rnd(
                    F.col("n_reassigned")
                    * F.lit(1.0)
                    / F.col("n_appended"),
                    4,
                )
            )
            .alias("reassign_rate"),
            F.when(F.col("n_appended").isNull(), F.lit(0.0))
            .otherwise(
                rnd(
                    F.col("sd_old")
                    / (F.lit(1000000.0) * F.col("n_appended")),
                    4,
                )
            )
            .alias("mean_dist_stale"),
            F.when(F.col("n_appended").isNull(), F.lit(0.0))
            .otherwise(
                rnd(
                    F.col("sd_new")
                    / (F.lit(1000000.0) * F.col("n_appended")),
                    4,
                )
            )
            .alias("mean_dist_fresh"),
            rnd(F.col("sh_micro") / F.lit(1000000.0), 4).alias(
                "centroid_shift_sq"
            ),
        )
    )


# ---------------------------------------------------------------------------
# sample-ratio-mismatch health check
# ---------------------------------------------------------------------------


@op(
    "events_srm_check",
    oracle=f"""
        WITH du AS (
            SELECT DISTINCT
                   CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
                        AS BIGINT) AS day_num,
                   user_id
            FROM events
        ),
        d AS (
            SELECT day_num,
                   CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_a,
                   CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_b
            FROM du GROUP BY day_num
        ),
        z AS (
            SELECT day_num, n_a, n_b,
                   -- 2-cell chi-square vs 50/50: (na-nb)^2/(na+nb),
                   -- an exact rational of BIGINTs; z = sqrt(chi2) is
                   -- IEEE-correctly-rounded, frozen to micro
                   CAST(floor(sqrt((n_a - n_b) * (n_a - n_b) * 1.0
                        / (n_a + n_b)) * 1000000.0 + 0.505) AS BIGINT)
                       AS zm
            FROM d
        )
        SELECT day_num, n_a, n_b,
               {sql_rnd(
                   "(n_a - n_b) * (n_a - n_b) * 1.0 / (n_a + n_b)", 4
               )} AS chi2,
               {sql_rnd("zm / 1000000.0", 4)} AS z,
               {sql_rnd(f"2.0 * (1.0 - {_phi_sql('zm')})", 4)} AS p_srm,
               CAST(CASE WHEN 2.0 * (1.0 - {_phi_sql("zm")}) < 0.01
                    THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
        FROM z
    """,
    scale=(
        "Sample-ratio-mismatch: THE experiment health gate (a split "
        "that deviates from its designed 50/50 invalidates every "
        "downstream read-out — CUPED, MDE, the posterior). Per day, "
        "distinct users per arm (user_id parity), the 2-cell "
        "chi-square (n_a-n_b)^2/(n_a+n_b) as an exact BIGINT "
        "rational, and the p-value through the shared wave-17 "
        "literal logistic-CDF table on z = sqrt(chi2) (sqrt is "
        "IEEE-correctly-rounded, z frozen to micro, table interp is "
        "pure arithmetic — no libm transcendental in either engine). "
        "The flag compares identical doubles, so it can never "
        "disagree. 100 TB: one distinct-users agg keyed (day, user) "
        "with map-side combine, then a day-keyed fold — the shape of "
        "distinct_users_per_type."
    ),
)
def events_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day SRM chi-square + p-value on the user-parity split."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        (F.unix_micros("ts") / F.lit(86400000000))
        .cast("long")
        .alias("day_num"),
        "user_id",
    ).distinct()
    d = du.groupBy("day_num").agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    chi2 = (
        (F.col("n_a") - F.col("n_b"))
        * (F.col("n_a") - F.col("n_b"))
        * F.lit(1.0)
        / (F.col("n_a") + F.col("n_b"))
    )
    z = d.select(
        "day_num",
        "n_a",
        "n_b",
        F.floor(F.sqrt(chi2) * F.lit(1000000.0) + F.lit(0.505))
        .cast("long")
        .alias("zm"),
    )
    p = F.lit(2.0) * (F.lit(1.0) - _phi_col(F.col("zm")))
    chi2b = (
        (F.col("n_a") - F.col("n_b"))
        * (F.col("n_a") - F.col("n_b"))
        * F.lit(1.0)
        / (F.col("n_a") + F.col("n_b"))
    )
    return z.select(
        "day_num",
        "n_a",
        "n_b",
        rnd(chi2b, 4).alias("chi2"),
        rnd(F.col("zm") / F.lit(1000000.0), 4).alias("z"),
        rnd(p, 4).alias("p_srm"),
        F.when(p < 0.01, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("srm_flag"),
    )

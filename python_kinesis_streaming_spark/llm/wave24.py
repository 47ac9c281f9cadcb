"""Round-14 wave-24 ops (SURVEY §2.36): session planning, vocabulary
growth, manifest pruning, ablation planning.

- ``events_session_gap_sweep``: sessionize_30min's gap threshold is a
  guess — this op prices the WHOLE gap grid (session counts, mean
  session size, collapsed idle mass per literal gap) from ONE lag
  pass, the planning table read before fixing the session window.
- ``text_heaps_law_fit``: vocabulary growth (Heaps' law beta) from the
  half-corpus vs full-corpus vocabulary sizes + hapax shares — the
  scaling signal that predicts tokenizer OOV when the corpus grows
  10x (pairs with text_vocab_coverage_curve / overlap matrix).
- ``lakehouse_manifest_prune_audit``: REAL manifest-level file
  skipping through sources/snapshots.py — eight range-append commits,
  then per literal probe interval: files pruned via footer stats,
  rows scanned vs matched, and the correctness boolean (pruned read
  must return exactly the full read's matches).
- ``corpus_source_ablation_matrix``: leave-one-source-out corpus
  stats (token share removed, mean-length shift, language-mix shift)
  as pure arithmetic on per-source aggregates — the first table a
  mixture ablation consults, computed without ever rescanning.

Same discipline as waves 7-23: exact integers before any
cross-partition sum, identical aliases both engines, BIGINT casts in
oracles, 1.0::DOUBLE where sums multiply, literal grids, bounded
windows, broadcast-bounded joins; ln only on identical doubles
(Adamic-Adar precedent), never exp/pow.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from python_kinesis_streaming_spark.functions.rounding import rnd, sql_rnd
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table, sf_tag


# ---------------------------------------------------------------------------
# session gap sensitivity sweep
# ---------------------------------------------------------------------------

#: literal session-gap thresholds priced, seconds
_SG_GAPS = (300, 900, 1800, 3600, 7200)


@op(
    "events_session_gap_sweep",
    oracle=f"""
        WITH e AS (
            SELECT user_id,
                   CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
                       AS ts_us,
                   event_id
            FROM events
        ),
        g AS (
            SELECT ts_us - lag(ts_us) OVER (PARTITION BY user_id
                       ORDER BY ts_us, event_id) AS gap_us
            FROM e
        ),
        tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n_events,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
            FROM e
        ),
        grid0(gap_i) AS (VALUES {", ".join(f"({s})" for s in _SG_GAPS)}),
        -- INT32 * 1000000 overflows in DuckDB too — BIGINT up front
        grid AS (SELECT CAST(gap_i AS BIGINT) AS gap_s FROM grid0),
        agg AS (
            -- a session starts at each user's first event plus at
            -- every gap exceeding the threshold: ONE lag pass prices
            -- the whole grid
            SELECT gr.gap_s,
                   CAST(sum(CASE WHEN g.gap_us > gr.gap_s * 1000000
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_breaks,
                   CAST(sum(CASE WHEN g.gap_us > gr.gap_s * 1000000
                            THEN g.gap_us ELSE 0 END) AS BIGINT)
                       AS idle_us
            FROM g CROSS JOIN grid gr
            GROUP BY gr.gap_s
        )
        SELECT CAST(a.gap_s AS BIGINT) AS gap_s, t.n_users, t.n_events,
               CAST(t.n_users + a.n_breaks AS BIGINT) AS n_sessions,
               {sql_rnd(
                   "t.n_events * 1.0 / (t.n_users + a.n_breaks)", 2
               )} AS avg_events_per_session,
               {sql_rnd("a.idle_us / 3600000000.0", 2)} AS idle_hours,
               {sql_rnd(
                   "(t.n_users + a.n_breaks) * 1.0 / t.n_events", 4
               )} AS session_start_share
        FROM agg a CROSS JOIN tot t
    """,
    scale=(
        "The planning sweep behind sessionize_30min's hard-coded gap: "
        "a session starts at each user's first event plus at every "
        "inter-event gap above the threshold, so session counts, mean "
        "session size and the collapsed idle mass for EVERY literal "
        "gap come from ONE per-user lag pass (no per-threshold "
        "re-sessionization — the gap column is threshold-free). All "
        "counts and idle sums are exact BIGINT micros; ratios are "
        "single frozen rationals. Shape: one equi-keyed fact window "
        "(the sessionize sort), a 5-row literal grid fan-out with "
        "map-side combine, a 5-row report. 100 TB: identical to the "
        "sessionizer's own shuffle — if sessionize runs, this sweep "
        "runs at the same cost and prices every alternative gap."
    ),
)
def events_session_gap_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Session counts / idle mass per literal gap from one lag pass."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    g = ev.select(
        (F.col("ts_us") - F.lag("ts_us").over(w)).alias("gap_us")
    )
    tot = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    grid = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(int(s)) for s in _SG_GAPS])
        ).alias("gap_i")
    ).select(
        # int * 1000000 overflows int32 under ANSI — cast to long
        F.col("gap_i").cast("long").alias("gap_s")
    )
    agg = (
        g.crossJoin(F.broadcast(grid))
        .groupBy("gap_s")
        .agg(
            F.sum(
                F.when(
                    F.col("gap_us") > F.col("gap_s") * 1000000, 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_breaks"),
            F.sum(
                F.when(
                    F.col("gap_us") > F.col("gap_s") * 1000000,
                    F.col("gap_us"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("idle_us"),
        )
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        F.col("gap_s").cast("long").alias("gap_s"),
        "n_users",
        "n_events",
        (F.col("n_users") + F.col("n_breaks")).cast("long").alias(
            "n_sessions"
        ),
        rnd(
            F.col("n_events")
            * F.lit(1.0)
            / (F.col("n_users") + F.col("n_breaks")),
            2,
        ).alias("avg_events_per_session"),
        rnd(F.col("idle_us") / F.lit(3600000000.0), 2).alias(
            "idle_hours"
        ),
        rnd(
            (F.col("n_users") + F.col("n_breaks"))
            * F.lit(1.0)
            / F.col("n_events"),
            4,
        ).alias("session_start_share"),
    )


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary growth fit
# ---------------------------------------------------------------------------


@op(
    "text_heaps_law_fit",
    oracle=f"""
        WITH bounds AS (
            SELECT (CAST(min(doc_id) AS BIGINT)
                    + CAST(max(doc_id) AS BIGINT)) // 2 AS mid,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM documents
        ),
        tok AS (
            SELECT d.doc_id, unnest(string_split(d.text, ' ')) AS w
            FROM documents d
        ),
        half AS (
            SELECT CAST(count(*) AS BIGINT) AS n1,
                   CAST(count(DISTINCT t.w) AS BIGINT) AS v1
            FROM tok t CROSS JOIN bounds b
            WHERE t.doc_id <= b.mid
        ),
        halfhx AS (
            SELECT CAST(count(*) AS BIGINT) AS hapax1
            FROM (SELECT t.w FROM tok t CROSS JOIN bounds b
                  WHERE t.doc_id <= b.mid
                  GROUP BY t.w HAVING count(*) = 1)
        ),
        full_c AS (
            SELECT CAST(count(*) AS BIGINT) AS n2,
                   CAST(count(DISTINCT w) AS BIGINT) AS v2
            FROM tok
        ),
        fullhx AS (
            SELECT CAST(count(*) AS BIGINT) AS hapax2
            FROM (SELECT w FROM tok GROUP BY w HAVING count(*) = 1)
        )
        SELECT b.n_docs, b.mid AS mid_doc_id,
               h.n1 AS tokens_half, h.v1 AS vocab_half,
               f.n2 AS tokens_full, f.v2 AS vocab_full,
               {sql_rnd("hx1.hapax1 * 1.0 / h.v1", 4)}
                   AS hapax_share_half,
               {sql_rnd("hx2.hapax2 * 1.0 / f.v2", 4)}
                   AS hapax_share_full,
               -- Heaps V = K*n^beta  =>  beta = ln(V2/V1)/ln(n2/n1);
               -- ln only on identical doubles (Adamic-Adar precedent)
               {sql_rnd(
                   "ln(f.v2 * 1.0 / h.v1) / ln(f.n2 * 1.0 / h.n1)", 4
               )} AS beta_heaps
        FROM bounds b CROSS JOIN half h CROSS JOIN halfhx hx1
        CROSS JOIN full_c f CROSS JOIN fullhx hx2
    """,
    scale=(
        "Vocabulary growth (Heaps' law V = K*n^beta) fitted from the "
        "two cheapest prefixes a corpus has — the doc-id half vs the "
        "whole — plus hapax-legomena shares at both sizes. beta near "
        "0.5 is healthy natural text; beta drifting up with scale "
        "means the vocabulary never saturates (tokenizer OOV keeps "
        "growing — read with text_vocab_coverage_curve before fixing "
        "V); a falling hapax share means the marginal data is "
        "repeating itself (read with corpus_ngram_novelty_curve). All "
        "counts exact BIGINTs; the only doubles are two ln calls on "
        "identical integer rationals and their quotient, frozen at "
        "1e-4. Shape: one token explode feeding two count-distinct "
        "aggs + two HAVING=1 vocab aggs, all scalars, 1-row report. "
        "100 TB: vocabulary aggregates are the corpus sufficient "
        "statistic; the half/full pair costs one scan."
    ),
)
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row Heaps-beta + hapax report (half vs full corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    bounds = docs.agg(
        (
            (F.min("doc_id").cast("long") + F.max("doc_id").cast("long"))
            / 2
        )
        .cast("long")
        .alias("mid"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    # tok feeds four aggregates (half/full x tokens/hapax) — cached so
    # the explode plans once (wave-22 Exchange-count precedent)
    tok = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("w")
        )
        .crossJoin(F.broadcast(bounds))
        .cache()
    )
    half = tok.where(F.col("doc_id") <= F.col("mid")).agg(
        F.count(F.lit(1)).cast("long").alias("n1"),
        F.countDistinct("w").cast("long").alias("v1"),
    )
    halfhx = (
        tok.where(F.col("doc_id") <= F.col("mid"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") == 1)
        .agg(F.count(F.lit(1)).cast("long").alias("hapax1"))
    )
    full_c = tok.agg(
        F.count(F.lit(1)).cast("long").alias("n2"),
        F.countDistinct("w").cast("long").alias("v2"),
    )
    fullhx = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") == 1)
        .agg(F.count(F.lit(1)).cast("long").alias("hapax2"))
    )
    return (
        bounds.crossJoin(F.broadcast(half))
        .crossJoin(F.broadcast(halfhx))
        .crossJoin(F.broadcast(full_c))
        .crossJoin(F.broadcast(fullhx))
        .select(
            "n_docs",
            F.col("mid").alias("mid_doc_id"),
            F.col("n1").alias("tokens_half"),
            F.col("v1").alias("vocab_half"),
            F.col("n2").alias("tokens_full"),
            F.col("v2").alias("vocab_full"),
            rnd(
                F.col("hapax1") * F.lit(1.0) / F.col("v1"), 4
            ).alias("hapax_share_half"),
            rnd(
                F.col("hapax2") * F.lit(1.0) / F.col("v2"), 4
            ).alias("hapax_share_full"),
            rnd(
                F.log(F.col("v2") * F.lit(1.0) / F.col("v1"))
                / F.log(F.col("n2") * F.lit(1.0) / F.col("n1")),
                4,
            ).alias("beta_heaps"),
        )
    )


# ---------------------------------------------------------------------------
# manifest-level file pruning audit (REAL sources/snapshots.py stats)
# ---------------------------------------------------------------------------

#: probe intervals as (lo_eighths, hi_eighths) of the key span —
#: literal fractions so the oracle reproduces the arithmetic exactly
_MP_PROBES = ((0, 1), (2, 4), (3, 6), (0, 8))
#: number of contiguous key-range files the table is committed as
_MP_FILES = 8


@op(
    "lakehouse_manifest_prune_audit",
    oracle=f"""
        WITH b AS (
            SELECT CAST(min(o_orderkey) AS BIGINT) AS kmin,
                   CAST(max(o_orderkey) AS BIGINT) AS kmax,
                   CAST(max(o_orderkey) - min(o_orderkey) + 1 AS BIGINT)
                       AS span
            FROM orders
        ),
        fgrid AS (SELECT CAST(u.f AS BIGINT) AS f
                  FROM unnest(range(0, {_MP_FILES})) AS u(f)),
        fstat AS (
            -- actual per-file key min/max — exactly the parquet footer
            -- stats the manifest records (empty ranges write no file)
            SELECT g.f,
                   min(o.o_orderkey) AS fmin, max(o.o_orderkey) AS fmax,
                   CAST(count(*) AS BIGINT) AS frows
            FROM fgrid g
            CROSS JOIN b
            JOIN orders o
              ON o.o_orderkey >= b.kmin + g.f * ((b.span + {_MP_FILES - 1})
                     // {_MP_FILES})
             AND o.o_orderkey < b.kmin + (g.f + 1)
                     * ((b.span + {_MP_FILES - 1}) // {_MP_FILES})
            GROUP BY g.f
        ),
        probes(probe_id, a, bb) AS (VALUES {", ".join(
            f"({i}, {a}, {bh})" for i, (a, bh) in enumerate(_MP_PROBES)
        )}),
        pr AS (
            SELECT p.probe_id,
                   b.kmin + b.span * p.a // 8 AS lo_key,
                   b.kmin + b.span * p.bb // 8 - 1 AS hi_key
            FROM probes p CROSS JOIN b
        ),
        kept AS (
            SELECT pr.probe_id,
                   CAST(count(*) AS BIGINT) AS files_kept,
                   CAST(sum(fs.frows) AS BIGINT) AS rows_in_kept_files
            FROM pr JOIN fstat fs
              ON fs.fmax >= pr.lo_key AND fs.fmin <= pr.hi_key
            GROUP BY pr.probe_id
        ),
        matched AS (
            SELECT pr.probe_id, CAST(count(*) AS BIGINT) AS rows_matched
            FROM pr JOIN orders o
              ON o.o_orderkey BETWEEN pr.lo_key AND pr.hi_key
            GROUP BY pr.probe_id
        ),
        ftot AS (SELECT CAST(count(*) AS BIGINT) AS files_total
                 FROM fstat)
        SELECT CAST(pr.probe_id AS BIGINT) AS probe_id,
               pr.lo_key, pr.hi_key, t.files_total, k.files_kept,
               m.rows_matched, k.rows_in_kept_files,
               {sql_rnd(
                   "(t.files_total - k.files_kept) * 1.0"
                   " / t.files_total", 4
               )} AS file_skip_share,
               TRUE AS prune_correct
        FROM pr
        JOIN kept k ON k.probe_id = pr.probe_id
        JOIN matched m ON m.probe_id = pr.probe_id
        CROSS JOIN ftot t
    """,
    scale=(
        "Manifest pruning through the REAL machinery: orders committed "
        "as 8 contiguous key-range files via sources/snapshots.py "
        "(footer min/max stats recorded per commit), then each literal "
        "probe interval runs prune_files + a pruned read_snapshot. "
        "Emitted per probe: files kept (stats intersection, inclusive "
        "bounds — the oracle reproduces the same intersection from "
        "per-range key min/max), rows scanned vs matched, the skip "
        "share, and the correctness boolean the whole feature rests "
        "on: the PRUNED read's filtered count must equal the FULL "
        "read's (pruning may over-keep, never drop). The oracle's "
        "prune_correct is literal TRUE — the Spark side computes it "
        "from two real reads, so a pruning bug breaks the hash. "
        "100 TB: manifest skipping is what avoids even LISTING "
        "irrelevant files; this audit prices its selectivity per "
        "predicate shape before anyone trusts it."
    ),
)
def lakehouse_manifest_prune_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Prune real snapshot files per probe; verify pruned == full."""
    from python_kinesis_streaming_spark.operators.scans import SCRATCH
    from python_kinesis_streaming_spark.sources import snapshots

    tdir = os.path.join(SCRATCH, f"w24_prune_{sf_tag(sf_dir)}")
    shutil.rmtree(tdir, ignore_errors=True)
    os.makedirs(tdir, exist_ok=True)

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    kmin, kmax = orders.agg(F.min("key"), F.max("key")).first()
    span = kmax - kmin + 1
    width = (span + _MP_FILES - 1) // _MP_FILES
    # one pass finds the nonempty ranges (no per-range probe jobs)
    nonempty = {
        r["f"]
        for r in orders.select(
            ((F.col("key") - F.lit(kmin)) / F.lit(width))
            .cast("long")
            .alias("f")
        )
        .groupBy("f")
        .count()
        .collect()
    }
    for f in sorted(nonempty):
        part = orders.where(
            (F.col("key") >= kmin + f * width)
            & (F.col("key") < kmin + (f + 1) * width)
        )
        snapshots.write_snapshot(
            part.coalesce(1), tdir, message=f"range {f}", mode="append"
        )
    files_total = len(snapshots.live_files(tdir))

    probes = [
        (i, kmin + span * a // 8, kmin + span * bh // 8 - 1)
        for i, (a, bh) in enumerate(_MP_PROBES)
    ]
    # ONE full-read pass prices every probe's true match count
    full_row = (
        snapshots.read_snapshot(spark, tdir)
        .agg(
            *[
                F.count(
                    F.when(F.col("key").between(lo, hi), 1)
                ).alias(f"m{i}")
                for i, lo, hi in probes
            ]
        )
        .first()
    )
    rows = []
    for i, lo, hi in probes:
        kept = snapshots.prune_files(tdir, "key", lo, hi)
        # one agg per probe over the PRUNED read: rows scanned + rows
        # matched in the same job
        pruned = (
            snapshots.read_snapshot(spark, tdir, prune=("key", lo, hi))
            .agg(
                F.count(F.lit(1)).alias("scanned"),
                F.count(
                    F.when(F.col("key").between(lo, hi), 1)
                ).alias("matched"),
            )
            .first()
        )
        full_matched = full_row[f"m{i}"]
        rows.append(
            (
                i,
                lo,
                hi,
                files_total,
                len(kept),
                full_matched,
                pruned["scanned"],
                pruned["matched"] == full_matched,
            )
        )
    out = spark.createDataFrame(
        rows,
        "probe_id long, lo_key long, hi_key long, files_total long, "
        "files_kept long, rows_matched long, rows_in_kept_files long, "
        "prune_correct boolean",
    )
    return out.select(
        "probe_id",
        "lo_key",
        "hi_key",
        "files_total",
        "files_kept",
        "rows_matched",
        "rows_in_kept_files",
        rnd(
            (F.col("files_total") - F.col("files_kept"))
            * F.lit(1.0)
            / F.col("files_total"),
            4,
        ).alias("file_skip_share"),
        "prune_correct",
    )


# ---------------------------------------------------------------------------
# leave-one-source-out ablation matrix
# ---------------------------------------------------------------------------


@op(
    "corpus_source_ablation_matrix",
    oracle=f"""
        WITH d AS (
            SELECT source,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en
            FROM documents
        ),
        per AS (
            SELECT source,
                   CAST(count(*) AS BIGINT) AS docs_s,
                   CAST(sum(toks) AS BIGINT) AS toks_s,
                   CAST(sum(is_en) AS BIGINT) AS en_s
            FROM d GROUP BY source
        ),
        tot AS (
            SELECT CAST(sum(docs_s) AS BIGINT) AS docs,
                   CAST(sum(toks_s) AS BIGINT) AS toks,
                   CAST(sum(en_s) AS BIGINT) AS en
            FROM per
        )
        SELECT p.source, p.docs_s, p.toks_s,
               {sql_rnd("p.toks_s * 1.0 / t.toks", 4)}
                   AS token_share_removed,
               {sql_rnd(
                   "(t.toks - p.toks_s) * 1.0 / (t.docs - p.docs_s)", 2
               )} AS loo_mean_tokens,
               {sql_rnd(
                   "(t.toks - p.toks_s) * 1.0 / (t.docs - p.docs_s)"
                   " - t.toks * 1.0 / t.docs", 2
               )} AS delta_mean_tokens,
               {sql_rnd(
                   "(t.en - p.en_s) * 1.0 / (t.docs - p.docs_s)", 4
               )} AS loo_en_share,
               {sql_rnd(
                   "(t.en - p.en_s) * 1.0 / (t.docs - p.docs_s)"
                   " - t.en * 1.0 / t.docs", 4
               )} AS delta_en_share
        FROM per p CROSS JOIN tot t
    """,
    scale=(
        "Leave-one-source-out ablation table: removing source s shifts "
        "the corpus mean length by delta_mean_tokens and the language "
        "mix by delta_en_share, and frees token_share_removed of the "
        "budget — ALL derived arithmetically from per-source BIGINT "
        "aggregates and the grand totals (LOO = total minus source; "
        "nothing is rescanned per ablation, the whole matrix costs "
        "one agg). The first table a mixture ablation consults before "
        "corpus_mixture_temperature re-weights anything. Identical "
        "operand order both engines; single frozen rationals. Shape: "
        "one map-side-combinable |sources|-key agg + a 1-row total, "
        "|sources|-row report. 100 TB: the per-source agg IS the "
        "existing datasheet scan — the ablation matrix is free."
    ),
)
def corpus_source_ablation_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LOO corpus stats per source from one aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        F.size(F.split("text", " ")).cast("long").alias("toks"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("is_en"),
    )
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("docs_s"),
        F.sum("toks").cast("long").alias("toks_s"),
        F.sum("is_en").cast("long").alias("en_s"),
    )
    tot = per.agg(
        F.sum("docs_s").cast("long").alias("docs"),
        F.sum("toks_s").cast("long").alias("toks"),
        F.sum("en_s").cast("long").alias("en"),
    )
    loo_mean = (F.col("toks") - F.col("toks_s")) * F.lit(1.0) / (
        F.col("docs") - F.col("docs_s")
    )
    loo_en = (F.col("en") - F.col("en_s")) * F.lit(1.0) / (
        F.col("docs") - F.col("docs_s")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "docs_s",
        "toks_s",
        rnd(F.col("toks_s") * F.lit(1.0) / F.col("toks"), 4).alias(
            "token_share_removed"
        ),
        rnd(loo_mean, 2).alias("loo_mean_tokens"),
        rnd(
            loo_mean - F.col("toks") * F.lit(1.0) / F.col("docs"), 2
        ).alias("delta_mean_tokens"),
        rnd(loo_en, 4).alias("loo_en_share"),
        rnd(
            loo_en - F.col("en") * F.lit(1.0) / F.col("docs"), 4
        ).alias("delta_en_share"),
    )

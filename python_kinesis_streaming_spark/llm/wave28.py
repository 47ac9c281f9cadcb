"""Round-14 wave-28 ops (SURVEY §2.40): sampling-vs-dedup methodology,
snapshot rollback, churn dynamics, distributional fit.

- ``dedup_sample_bias_audit``: measuring dup rates on a SAMPLE
  underestimates them (pair retention scales with r^2, not r) — this
  op measures exact-dup rates at literal hash-sample rates against
  the full-corpus truth, the methodological trap every "we sampled
  10% and found few dups" claim walks into.
- ``lakehouse_snapshot_restore_audit``: ROLLBACK through the real
  commit log — v0 written, v1 reprices it, a restore commit makes
  v0's file set the head again; the head read must equal the v0 read
  EXACTLY (anti-join emptiness, not just counts), history keeps all
  three versions.
- ``events_weekly_churn_hazard``: week-over-week hazard (1 - share of
  this week's actives still active next week) — the marginal-dynamics
  view the retention cohort matrix integrates.
- ``text_length_lognormal_fit``: are doc lengths log-normal? per
  source: mean/sd of ln(length) from frozen-integer moments and the
  measured within-1-sigma share against the literal 0.6827 — the
  distributional sanity behind every length-based quality gate.

Same discipline as waves 7-27: exact integers before any
cross-partition sum (squared terms frozen to safe units), identical
aliases both engines, BIGINT casts in oracles, 1.0::DOUBLE where sums
multiply, literal grids, bounded windows, broadcast-bounded joins; ln
only on identical doubles, never exp/pow.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from python_kinesis_streaming_spark.functions.rounding import rnd, sql_rnd
from python_kinesis_streaming_spark.llm.dedup import md5_hash64, _sql_hash64
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table, sf_tag


# ---------------------------------------------------------------------------
# sampling-vs-dedup bias audit
# ---------------------------------------------------------------------------

#: literal hash-sample rates (percent)
_SB_RATES = (10, 25, 50)


@op(
    "dedup_sample_bias_audit",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, md5(text) AS h,
                   {_sql_hash64("'smp:' || CAST(doc_id AS VARCHAR)")}
                       % 100 AS smp
            FROM documents
        ),
        grp AS (
            SELECT h, CAST(count(*) AS BIGINT) AS sz
            FROM d GROUP BY h
        ),
        fulla AS (
            SELECT CAST(sum(sz) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN sz > 1 THEN sz ELSE 0 END)
                        AS BIGINT) AS n_dup_docs
            FROM grp
        ),
        grid(rate) AS (VALUES {", ".join(f"({r})" for r in _SB_RATES)}),
        sgrp AS (
            SELECT g.rate, d.h, CAST(count(*) AS BIGINT) AS sz
            FROM d JOIN grid g ON d.smp < g.rate
            GROUP BY g.rate, d.h
        ),
        samp AS (
            SELECT rate,
                   CAST(sum(sz) AS BIGINT) AS n_sampled,
                   CAST(sum(CASE WHEN sz > 1 THEN sz ELSE 0 END)
                        AS BIGINT) AS n_dup_sampled
            FROM sgrp GROUP BY rate
        )
        SELECT CAST(s.rate AS BIGINT) AS rate_pct,
               s.n_sampled, s.n_dup_sampled,
               {sql_rnd("s.n_dup_sampled * 1.0 / s.n_sampled", 6)}
                   AS dup_rate_sampled,
               f.n_docs, f.n_dup_docs,
               {sql_rnd("f.n_dup_docs * 1.0 / f.n_docs", 6)}
                   AS dup_rate_full,
               -- observed underestimation factor (sampled/full);
               -- pair retention predicts ~rate for duplicate PAIRS
               CASE WHEN s.n_dup_sampled = 0 THEN 0.0 ELSE
               {sql_rnd(
                   "(s.n_dup_sampled * 1.0 / s.n_sampled)"
                   " / (f.n_dup_docs * 1.0 / f.n_docs)", 4
               )} END AS observed_ratio
        FROM samp s CROSS JOIN fulla f
    """,
    scale=(
        "The sampling-vs-dedup trap, measured: exact-dup DOC rate in "
        "a deterministic hash sample vs the full corpus. A duplicate "
        "pair survives a rate-r sample with probability r^2, so the "
        "sampled dup rate reads ~r times the true rate — 'we sampled "
        "10% and found almost no dups' is exactly what a heavily "
        "duplicated corpus looks like through a sample. All counts "
        "exact BIGINTs over md5 text groups; the sample is the "
        "md5-rank hash (content-stable, the reservoir pattern). "
        "Shape: one hash agg, a 3-rate grid fan-out re-agg, 3-row "
        "report. 100 TB: THE reason the dedup funnel runs "
        "full-corpus hash passes instead of sampling — this op is "
        "the evidence."
    ),
)
def dedup_sample_bias_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sampled vs full exact-dup rates at literal hash-sample rates."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.md5("text").alias("h"),
        (
            md5_hash64(
                F.concat_ws(":", F.lit("smp"), F.col("doc_id").cast("string"))
            )
            % 100
        ).alias("smp"),
    )
    # d feeds the full groups AND every sampled re-group — cached
    d = d.cache()
    grp = d.groupBy("h").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    fulla = grp.agg(
        F.sum("sz").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("sz") > 1, F.col("sz")).otherwise(0))
        .cast("long")
        .alias("n_dup_docs"),
    )
    grid = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(int(r)) for r in _SB_RATES])
        ).alias("rate")
    )
    sgrp = (
        d.join(F.broadcast(grid), F.col("smp") < F.col("rate"))
        .groupBy("rate", "h")
        .agg(F.count(F.lit(1)).cast("long").alias("sz"))
    )
    samp = sgrp.groupBy("rate").agg(
        F.sum("sz").cast("long").alias("n_sampled"),
        F.sum(F.when(F.col("sz") > 1, F.col("sz")).otherwise(0))
        .cast("long")
        .alias("n_dup_sampled"),
    )
    return samp.crossJoin(F.broadcast(fulla)).select(
        F.col("rate").cast("long").alias("rate_pct"),
        "n_sampled",
        "n_dup_sampled",
        rnd(
            F.col("n_dup_sampled") * F.lit(1.0) / F.col("n_sampled"), 6
        ).alias("dup_rate_sampled"),
        "n_docs",
        "n_dup_docs",
        rnd(
            F.col("n_dup_docs") * F.lit(1.0) / F.col("n_docs"), 6
        ).alias("dup_rate_full"),
        F.when(F.col("n_dup_sampled") == 0, F.lit(0.0))
        .otherwise(
            rnd(
                (
                    F.col("n_dup_sampled")
                    * F.lit(1.0)
                    / F.col("n_sampled")
                )
                / (
                    F.col("n_dup_docs")
                    * F.lit(1.0)
                    / F.col("n_docs")
                ),
                4,
            )
        )
        .alias("observed_ratio"),
    )


# ---------------------------------------------------------------------------
# snapshot restore (rollback) audit — REAL commit-log machinery
# ---------------------------------------------------------------------------

#: literal day cut for the v0 slice
_RS_CUT = "1998-06-01"


@op(
    "lakehouse_snapshot_restore_audit",
    oracle=f"""
        WITH s0 AS (
            SELECT o_orderkey AS key,
                   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                       AS cents
            FROM orders
            WHERE CAST(o_orderdate AS TIMESTAMP)
                  < TIMESTAMP '{_RS_CUT} 00:00:00'
        )
        SELECT CAST(3 AS BIGINT) AS n_versions,
               CAST(count(*) AS BIGINT) AS v0_rows,
               CAST(sum(cents) AS BIGINT) AS v0_sum_cents,
               CAST(count(*) AS BIGINT) AS head_rows,
               CAST(sum(cents) AS BIGINT) AS head_sum_cents,
               TRUE AS restore_exact,
               TRUE AS v1_differs
        FROM s0
    """,
    scale=(
        "ROLLBACK through the real commit log: v0 (early orders) "
        "committed via sources/snapshots.py, v1 reprices every even "
        "key (+5%), then a RESTORE commit swaps v0's immutable file "
        "set back in as the head (add v0's files, remove v1's — one "
        "atomic O_EXCL commit; no data is copied or rewritten). The "
        "audit reads the head and v0 and proves exact equality by "
        "full-outer anti-join emptiness (restore_exact), proves v1 "
        "actually differed (v1_differs — a restore test against an "
        "unchanged table proves nothing), and pins history() at 3 "
        "versions. The oracle recomputes v0's aggregates from the "
        "fixture and pins the booleans literal TRUE — a broken "
        "replay/restore breaks the hash. 100 TB: restore is O(log) "
        "commit replay + one manifest write; this audit is the "
        "disaster-recovery drill."
    ),
)
def lakehouse_snapshot_restore_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Write v0, v1; restore v0 as head; prove exact equality."""
    from python_kinesis_streaming_spark.operators.scans import SCRATCH
    from python_kinesis_streaming_spark.sources import snapshots

    tdir = os.path.join(SCRATCH, f"w28_restore_{sf_tag(sf_dir)}")
    shutil.rmtree(tdir, ignore_errors=True)
    os.makedirs(tdir, exist_ok=True)

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.col("o_orderdate").alias("odate"),
    )
    cut = F.lit(_RS_CUT).cast("timestamp")
    early = orders.where(F.col("odate") < cut).select("key", "cents")
    v0 = snapshots.write_snapshot(early.coalesce(4), tdir, message="v0")
    repriced = early.select(
        "key",
        F.when(
            F.col("key") % 2 == 0,
            F.col("cents") + F.expr("cents div 20"),
        )
        .otherwise(F.col("cents"))
        .alias("cents"),
    )
    snapshots.write_snapshot(
        repriced.coalesce(4), tdir, message="v1 reprice", mode="overwrite"
    )
    # RESTORE: commit v0's live file set as the new head (no data copy)
    base = snapshots.current_version(tdir)
    actions = [
        {"action": "add", **{k: f[k] for k in ("path", "size", "stats")}}
        for f in snapshots.live_files(tdir, v0)
    ]
    for f in snapshots.live_files(tdir, base):
        actions.append({"action": "remove", "path": f["path"]})
    snapshots.commit(
        tdir, actions, message="restore v0", expected_version=base
    )
    n_versions = len(snapshots.history(tdir))

    head = snapshots.read_snapshot(spark, tdir).alias("h")
    s0 = snapshots.read_snapshot(spark, tdir, v0).alias("z")
    s1 = snapshots.read_snapshot(spark, tdir, v0 + 1)
    # exact equality: full outer on (key, cents) with no unmatched row
    mism = (
        head.join(
            s0,
            (F.col("h.key") == F.col("z.key"))
            & (F.col("h.cents") == F.col("z.cents")),
            "full_outer",
        )
        .where(F.col("h.key").isNull() | F.col("z.key").isNull())
        .count()
    )
    v1_diff = (
        s1.alias("a")
        .join(
            snapshots.read_snapshot(spark, tdir, v0).alias("b"),
            (F.col("a.key") == F.col("b.key"))
            & (F.col("a.cents") == F.col("b.cents")),
            "full_outer",
        )
        .where(F.col("a.key").isNull() | F.col("b.key").isNull())
        .count()
    )
    v0_agg = s0.agg(
        F.count(F.lit(1)).cast("long").alias("r"),
        F.sum("z.cents").cast("long").alias("s"),
    ).first()
    head_agg = head.agg(
        F.count(F.lit(1)).cast("long").alias("r"),
        F.sum("h.cents").cast("long").alias("s"),
    ).first()
    out = spark.createDataFrame(
        [
            (
                n_versions,
                v0_agg["r"],
                v0_agg["s"],
                head_agg["r"],
                head_agg["s"],
                mism == 0,
                v1_diff > 0,
            )
        ],
        "n_versions long, v0_rows long, v0_sum_cents long, "
        "head_rows long, head_sum_cents long, restore_exact boolean, "
        "v1_differs boolean",
    )
    return out


# ---------------------------------------------------------------------------
# weekly churn hazard
# ---------------------------------------------------------------------------


@op(
    "events_weekly_churn_hazard",
    oracle="""
        WITH b AS (
            SELECT CAST(min(epoch_us(CAST(ts AS TIMESTAMP))
                        // 86400000000) AS BIGINT) AS d0
            FROM events
        ),
        wk AS (
            SELECT DISTINCT e.user_id,
                   CAST((epoch_us(CAST(e.ts AS TIMESTAMP))
                        // 86400000000 - b.d0) // 7 AS BIGINT) AS w
            FROM events e CROSS JOIN b
        ),
        act AS (
            SELECT w, CAST(count(*) AS BIGINT) AS n_active
            FROM wk GROUP BY w
        ),
        ret AS (
            SELECT a.w,
                   CAST(count(*) AS BIGINT) AS n_retained
            FROM wk a JOIN wk n
              ON n.user_id = a.user_id AND n.w = a.w + 1
            GROUP BY a.w
        ),
        last_w AS (SELECT CAST(max(w) AS BIGINT) AS mx FROM wk)
        SELECT a.w AS week, a.n_active,
               COALESCE(r.n_retained, 0) AS n_retained,
               {RND_RET} AS retention,
               {RND_HAZ} AS hazard
        FROM act a
        LEFT JOIN ret r ON r.w = a.w
        CROSS JOIN last_w
        WHERE a.w < last_w.mx
    """.replace(
        "{RND_RET}",
        sql_rnd("COALESCE(r.n_retained, 0) * 1.0 / a.n_active", 4),
    ).replace(
        "{RND_HAZ}",
        sql_rnd(
            "1.0 - COALESCE(r.n_retained, 0) * 1.0 / a.n_active", 4
        ),
    ),
    scale=(
        "Week-over-week churn hazard: of the users active in week w, "
        "what share is GONE in week w+1 (1 - retained/active) — the "
        "marginal-dynamics view whose integral is the retention "
        "cohort matrix (events_retention_cohort_matrix); a hazard "
        "spike localizes WHEN churn happens, which the cohort "
        "triangle smears. The final (partial) week is excluded — a "
        "hazard against a truncated week is a lie. Exact distinct "
        "user-week sets; the adjacency join is equi-keyed on "
        "(user_id, w+1) — the DAU/WAU pattern, no range join. "
        "Shape: one distinct, one self equi-join, two week-keyed "
        "aggs. 100 TB: user-week co-partitions with the distinct's "
        "shuffle."
    ),
)
def events_weekly_churn_hazard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weekly active/retained/hazard rows (final partial week cut)."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        (F.min(F.unix_micros(F.col("ts"))) / F.lit(86400000000))
        .cast("long")
        .alias("d0")
    )
    wk = (
        ev.select(
            "user_id",
            (F.unix_micros(F.col("ts")) / F.lit(86400000000))
            .cast("long")
            .alias("d"),
        )
        .crossJoin(F.broadcast(b))
        .select(
            "user_id",
            F.expr("(d - d0) div 7").cast("long").alias("w"),
        )
        .distinct()
        .cache()  # feeds act, both join ends and the max-week scalar
    )
    act = wk.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("n_active")
    )
    a = wk.select(F.col("user_id").alias("au"), F.col("w").alias("aw"))
    n = wk.select(F.col("user_id").alias("nu"), F.col("w").alias("nw"))
    ret = (
        a.join(
            n,
            (F.col("nu") == F.col("au"))
            & (F.col("nw") == F.col("aw") + 1),
        )
        .groupBy(F.col("aw").alias("rw"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_retained"))
    )
    last_w = wk.agg(F.max("w").cast("long").alias("mx"))
    return (
        act.join(ret, F.col("rw") == F.col("w"), "left")
        .crossJoin(F.broadcast(last_w))
        .where(F.col("w") < F.col("mx"))
        .select(
            F.col("w").alias("week"),
            "n_active",
            F.coalesce(F.col("n_retained"), F.lit(0))
            .cast("long")
            .alias("n_retained"),
            rnd(
                F.coalesce(F.col("n_retained"), F.lit(0))
                * F.lit(1.0)
                / F.col("n_active"),
                4,
            ).alias("retention"),
            rnd(
                F.lit(1.0)
                - F.coalesce(F.col("n_retained"), F.lit(0))
                * F.lit(1.0)
                / F.col("n_active"),
                4,
            ).alias("hazard"),
        )
    )


# ---------------------------------------------------------------------------
# log-normal length fit
# ---------------------------------------------------------------------------


@op(
    "text_length_lognormal_fit",
    oracle=f"""
        WITH d AS (
            SELECT source,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS len
            FROM documents
        ),
        l AS (
            -- ln of an integer length: identical doubles both
            -- engines; frozen to micro per doc before any sum
            SELECT source, len,
                   CAST(floor(ln(len * 1.0) * 1000000.0 + 0.505)
                        AS BIGINT) AS lm
            FROM d WHERE len > 0
        ),
        mom AS (
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(lm) AS BIGINT) AS s1,
                   CAST(sum(lm * lm) AS BIGINT) AS s2
            FROM l GROUP BY source
        ),
        st AS (
            -- mean/sd of ln-length from the BIGINT moments,
            -- identical operand order; frozen at 1e-4
            SELECT source, n, s1, s2,
                   {sql_rnd("s1 / (1000000.0::DOUBLE * n)", 4)} AS mu,
                   {sql_rnd(
                       "sqrt((n * 1.0::DOUBLE * s2"
                       " - s1 * 1.0::DOUBLE * s1)"
                       " / (n * 1.0::DOUBLE * n)) / 1000000.0", 4
                   )} AS sigma
            FROM mom
        ),
        band AS (
            SELECT st.source, st.n, st.mu, st.sigma,
                   CAST(sum(CASE WHEN abs(l.lm / 1000000.0 - st.mu)
                                 <= st.sigma
                            THEN 1 ELSE 0 END) AS BIGINT) AS within
            FROM l JOIN st ON st.source = l.source
            GROUP BY st.source, st.n, st.mu, st.sigma
        )
        SELECT source, n AS n_docs, mu AS mean_ln_len,
               sigma AS sd_ln_len,
               {sql_rnd("within * 1.0 / n", 4)} AS within_1sd_share,
               0.6827 AS normal_expect,
               {sql_rnd("abs(within * 1.0 / n - 0.6827)", 4)}
                   AS lognormal_dev
        FROM band
    """,
    scale=(
        "Is the length distribution log-normal (the usual shape for "
        "natural documents)? Per source: mean and sd of ln(length) "
        "from micro-frozen integer moments (ln on an integer — "
        "identical doubles both engines; lm^2 sums stay inside int64 "
        "at 1e8 docs x (9e6)^2 per-term... per-doc lm <= ~9e6 so "
        "lm^2 <= 8e13, bounded by doc count ~1e5 per source at "
        "fixture x100 — safe), then the measured within-1-sigma "
        "share against the literal normal 68.27%. A source whose "
        "share is far off is bimodal or truncated — its length-based "
        "quality gates (dq gates, padding/truncation planners) are "
        "mis-calibrated. Shape: one scan, a source-keyed moment agg, "
        "one broadcast re-join for the band count, |sources|-row "
        "report. 100 TB: two passes, both map-side combinable."
    ),
)
def text_length_lognormal_fit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source ln-length mean/sd + within-1-sigma share."""
    docs = load_table(spark, sf_dir, "documents")
    l = (
        docs.select(
            "source",
            F.size(F.split("text", " ")).cast("long").alias("len"),
        )
        .where(F.col("len") > 0)
        .select(
            "source",
            F.floor(
                F.log(F.col("len") * F.lit(1.0)) * F.lit(1000000.0)
                + F.lit(0.505)
            )
            .cast("long")
            .alias("lm"),
        )
        .cache()  # feeds the moment agg AND the band re-join
    )
    mom = l.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("lm").cast("long").alias("s1"),
        F.sum(F.col("lm") * F.col("lm")).cast("long").alias("s2"),
    )
    st = mom.select(
        "source",
        "n",
        rnd(F.col("s1") / (F.lit(1000000.0) * F.col("n")), 4).alias(
            "mu"
        ),
        rnd(
            F.sqrt(
                (
                    F.col("n") * F.lit(1.0) * F.col("s2")
                    - F.col("s1") * F.lit(1.0) * F.col("s1")
                )
                / (F.col("n") * F.lit(1.0) * F.col("n"))
            )
            / F.lit(1000000.0),
            4,
        ).alias("sigma"),
    )
    band = (
        l.join(
            F.broadcast(
                st.select(
                    F.col("source").alias("ssrc"),
                    F.col("n").alias("sn"),
                    "mu",
                    "sigma",
                )
            ),
            F.col("ssrc") == F.col("source"),
        )
        .groupBy("ssrc", "sn", "mu", "sigma")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("lm") / F.lit(1000000.0) - F.col("mu"))
                    <= F.col("sigma"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("within")
        )
    )
    return band.select(
        F.col("ssrc").alias("source"),
        F.col("sn").alias("n_docs"),
        F.col("mu").alias("mean_ln_len"),
        F.col("sigma").alias("sd_ln_len"),
        rnd(F.col("within") * F.lit(1.0) / F.col("sn"), 4).alias(
            "within_1sd_share"
        ),
        F.lit(0.6827).alias("normal_expect"),
        rnd(
            F.abs(
                F.col("within") * F.lit(1.0) / F.col("sn")
                - F.lit(0.6827)
            ),
            4,
        ).alias("lognormal_dev"),
    )

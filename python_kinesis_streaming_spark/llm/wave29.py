"""Round-14 wave-29 ops (SURVEY §2.41, r15 queue): out-of-order
arrivals, truncation planning, bipartite cohesion, shard balance.

- ``events_arrival_inversion_audit``: under hash-jittered arrivals,
  how often does a later event overtake an earlier one (the
  out-of-order pairs a streaming re-sort buffer must absorb) — the
  pair-level dual of events_watermark_lateness_audit, bounded by the
  jitter horizon via the bucketized range join.
- ``emb_prefix_energy_share``: cumulative PREFIX-ORDER energy share
  at literal dim cuts — the Matryoshka planning table (prefix recall
  measures outcomes; this measures the cause: how much signal mass
  the first D dims carry).
- ``graph_bipartite_square_density``: 4-cycle (square) cohesion of
  the order-supplier graph — supplier pairs sharing 2+ orders are
  the bipartite analogue of triangles, the redundancy structure
  sampling and link prediction both lean on.
- ``corpus_shard_balance_plan``: hash-shard assignment balance (16
  shards): per-shard doc/token mass, imbalance ratio, largest-shard
  share vs the uniform ideal — the pre-write audit for
  llm/shards.py's WebDataset writer.

Same discipline as waves 7-28: exact integers before any
cross-partition sum, identical aliases both engines, BIGINT casts in
oracles, 1.0::DOUBLE where sums multiply, literal grids, bounded
windows, broadcast-bounded joins; no exp/pow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from python_kinesis_streaming_spark.functions.rounding import rnd, sql_rnd
from python_kinesis_streaming_spark.llm.dedup import md5_hash64, _sql_hash64
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# arrival inversion audit (out-of-order pairs under jitter)
# ---------------------------------------------------------------------------

#: max hash-jitter network delay, seconds (same model as the
#: watermark-lateness audit — an inversion needs ts gap < this)
_IV_JMAX = 300


@op(
    "events_arrival_inversion_audit",
    oracle=f"""
        WITH e AS (
            SELECT user_id, event_type,
                   CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
                       AS ts_us,
                   CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
                     + ({_sql_hash64("CAST(event_id AS VARCHAR)")}
                        % {_IV_JMAX}) * 1000000 AS arr_us,
                   event_id,
                   CAST(epoch_us(CAST(ts AS TIMESTAMP))
                        // {_IV_JMAX * 1000000} AS BIGINT) AS bkt
            FROM events
        ),
        -- bucketized range join: an inversion needs ts_b - ts_a <
        -- Jmax, so candidate pairs live in the same or adjacent
        -- Jmax-wide bucket (never a per-user quadratic self-join)
        pairs AS (
            SELECT a.event_type, a.ts_us AS ta, b.ts_us AS tb,
                   a.arr_us AS aa, b.arr_us AS ab
            FROM e a JOIN e b
              ON b.user_id = a.user_id
             AND b.bkt BETWEEN a.bkt AND a.bkt + 1
             AND b.ts_us > a.ts_us
             AND b.ts_us < a.ts_us + {_IV_JMAX * 1000000}
        ),
        agg AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_candidate_pairs,
                   CAST(sum(CASE WHEN ab < aa THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_inversions,
                   CAST(max(CASE WHEN ab < aa THEN tb - ta END)
                        AS BIGINT) AS max_depth_us
            FROM pairs GROUP BY event_type
        )
        SELECT event_type, n_candidate_pairs, n_inversions,
               {sql_rnd(
                   "n_inversions * 1.0 / n_candidate_pairs", 4
               )} AS inversion_share,
               {sql_rnd(
                   "COALESCE(max_depth_us, 0) / 1000000.0", 3
               )} AS max_depth_s
        FROM agg
    """,
    scale=(
        "Out-of-order pair census: under the same hash-jitter arrival "
        "model as the watermark-lateness audit, a pair (a, b) with "
        "ts_a < ts_b inverts when b ARRIVES first — exactly the pairs "
        "an in-order re-sort buffer must hold. An inversion requires "
        "ts_b - ts_a < jitter_max, so candidates come from the "
        "bucketized range join (same/adjacent Jmax-wide time bucket "
        "per user — the subtitles-alignment pattern, never a "
        "quadratic per-user self-join). Grouped by the overtaken "
        "event's type: candidate pairs, inversions, share, and the "
        "deepest inversion in seconds (= minimum safe re-sort "
        "horizon). All BIGINT micros. Shape: one scan, one "
        "(user, bucket)-keyed bounded join, a |types|-key agg. "
        "100 TB: candidate volume is density x Jmax per shard — "
        "linear, and the same join the watermark op prices."
    ),
)
def events_arrival_inversion_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-type inversion pairs/depth under jittered arrivals."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        (
            F.unix_micros(F.col("ts"))
            + (md5_hash64(F.col("event_id").cast("string")) % _IV_JMAX)
            * F.lit(1000000)
        ).alias("arr_us"),
        (F.unix_micros(F.col("ts")) / F.lit(_IV_JMAX * 1000000))
        .cast("long")
        .alias("bkt"),
    )
    a = ev.select(
        F.col("user_id").alias("au"),
        F.col("event_type").alias("atype"),
        F.col("ts_us").alias("ta"),
        F.col("arr_us").alias("aa"),
        F.col("bkt").alias("abkt"),
    )
    b = ev.select(
        F.col("user_id").alias("bu"),
        F.col("ts_us").alias("tb"),
        F.col("arr_us").alias("ab"),
        F.col("bkt").alias("bbkt"),
    )
    pairs = a.join(
        b,
        (F.col("bu") == F.col("au"))
        & (F.col("bbkt") >= F.col("abkt"))
        & (F.col("bbkt") <= F.col("abkt") + 1)
        & (F.col("tb") > F.col("ta"))
        & (F.col("tb") < F.col("ta") + _IV_JMAX * 1000000),
    )
    agg = pairs.groupBy(F.col("atype").alias("event_type")).agg(
        F.count(F.lit(1)).cast("long").alias("n_candidate_pairs"),
        F.sum(F.when(F.col("ab") < F.col("aa"), 1).otherwise(0))
        .cast("long")
        .alias("n_inversions"),
        F.max(
            F.when(F.col("ab") < F.col("aa"), F.col("tb") - F.col("ta"))
        )
        .cast("long")
        .alias("max_depth_us"),
    )
    return agg.select(
        "event_type",
        "n_candidate_pairs",
        "n_inversions",
        rnd(
            F.col("n_inversions")
            * F.lit(1.0)
            / F.col("n_candidate_pairs"),
            4,
        ).alias("inversion_share"),
        rnd(
            F.coalesce(F.col("max_depth_us"), F.lit(0))
            / F.lit(1000000.0),
            3,
        ).alias("max_depth_s"),
    )


# ---------------------------------------------------------------------------
# prefix-order energy share
# ---------------------------------------------------------------------------

#: literal prefix cuts (dims)
_PE_CUTS = (16, 32, 48, 64)


@op(
    "emb_prefix_energy_share",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        x AS (
            SELECT CAST(u.j AS BIGINT) AS j,
                   CAST(floor(v[CAST(u.j AS INTEGER) + 1] * 1000000.0
                        + 0.505) AS BIGINT) AS xm
            FROM e, unnest(range(0, 64)) AS u(j)
        ),
        dim AS (
            -- per-dim energy from BIGINT moments, micro-frozen
            SELECT j,
                   CAST(floor(sum(xm * xm) * 1.0::DOUBLE / count(*)
                        / 1000000.0 + 0.505) AS BIGINT) AS e_micro
            FROM x GROUP BY j
        ),
        grid(cut) AS (VALUES {", ".join(
            f"({c})" for c in _PE_CUTS)}),
        agg AS (
            SELECT g.cut,
                   CAST(sum(CASE WHEN d.j < g.cut THEN d.e_micro
                            ELSE 0 END) AS BIGINT) AS prefix_micro,
                   CAST(sum(d.e_micro) AS BIGINT) AS total_micro
            FROM dim d CROSS JOIN grid g
            GROUP BY g.cut
        )
        SELECT CAST(cut AS BIGINT) AS prefix_dims,
               prefix_micro, total_micro,
               {sql_rnd("prefix_micro * 1.0 / total_micro", 4)}
                   AS energy_share,
               {sql_rnd("cut / 64.0", 4)} AS uniform_expect,
               {sql_rnd(
                   "prefix_micro * 1.0 / total_micro - cut / 64.0", 4
               )} AS excess_share
        FROM agg
    """,
    scale=(
        "The Matryoshka CAUSE table: how much of the total "
        "second-moment energy the first D dims carry, at literal "
        "cuts — emb_matryoshka_prefix_recall measures the retrieval "
        "OUTCOME of truncation, this measures the signal mass that "
        "explains it (excess over the uniform D/64 means the "
        "embedding was trained prefix-heavy and truncation is "
        "cheap). Per-dim energy is micro-frozen from order-free "
        "BIGINT moments (sum(xm^2)/n per dim); the prefix sums are "
        "exact integer sums over the 64-row aggregate. Shape: one "
        "posexplode, a 64-key agg, a 4-cut literal grid, 4-row "
        "report. 100 TB: one map pass + d-bounded arithmetic."
    ),
)
def emb_prefix_energy_share(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Prefix-order energy shares at literal dim cuts."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    x = emb.select(F.posexplode("v").alias("j", "xd")).select(
        F.col("j").cast("long").alias("j"),
        F.floor(F.col("xd") * F.lit(1000000.0) + F.lit(0.505))
        .cast("long")
        .alias("xm"),
    )
    dim = x.groupBy("j").agg(
        F.floor(
            F.sum(F.col("xm") * F.col("xm"))
            * F.lit(1.0)
            / F.count(F.lit(1))
            / F.lit(1000000.0)
            + F.lit(0.505)
        )
        .cast("long")
        .alias("e_micro")
    )
    grid = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(int(c)) for c in _PE_CUTS])
        ).alias("cut0")
    ).select(F.col("cut0").cast("long").alias("cut"))
    agg = (
        dim.crossJoin(F.broadcast(grid))
        .groupBy("cut")
        .agg(
            F.sum(
                F.when(
                    F.col("j") < F.col("cut"), F.col("e_micro")
                ).otherwise(0)
            )
            .cast("long")
            .alias("prefix_micro"),
            F.sum("e_micro").cast("long").alias("total_micro"),
        )
    )
    return agg.select(
        F.col("cut").cast("long").alias("prefix_dims"),
        "prefix_micro",
        "total_micro",
        rnd(
            F.col("prefix_micro") * F.lit(1.0) / F.col("total_micro"), 4
        ).alias("energy_share"),
        rnd(F.col("cut") / F.lit(64.0), 4).alias("uniform_expect"),
        rnd(
            F.col("prefix_micro") * F.lit(1.0) / F.col("total_micro")
            - F.col("cut") / F.lit(64.0),
            4,
        ).alias("excess_share"),
    )


# ---------------------------------------------------------------------------
# bipartite square (4-cycle) density
# ---------------------------------------------------------------------------


@op(
    "graph_bipartite_square_density",
    oracle=f"""
        WITH edges AS (
            SELECT DISTINCT l_orderkey AS o, l_suppkey AS s
            FROM lineitem
        ),
        co AS (
            -- supplier pairs sharing an order (s1 < s2): the 2-path
            -- census, bounded by per-order degree (C(deg,2) pairs)
            SELECT a.s AS s1, b.s AS s2,
                   CAST(count(*) AS BIGINT) AS m
            FROM edges a JOIN edges b
              ON b.o = a.o AND b.s > a.s
            GROUP BY a.s, b.s
        ),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n_copairs,
                   CAST(sum(m) AS BIGINT) AS n_wedges,
                   CAST(sum(CASE WHEN m >= 2 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_copairs_2plus,
                   CAST(sum(m * (m - 1) // 2) AS BIGINT) AS n_squares,
                   CAST(max(m) AS BIGINT) AS max_shared
            FROM co
        ),
        ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges)
        SELECT ne.n_edges, a.n_copairs, a.n_wedges, a.n_copairs_2plus,
               a.n_squares, a.max_shared,
               {sql_rnd("a.n_copairs_2plus * 1.0 / a.n_copairs", 6)}
                   AS repeat_pair_share,
               {sql_rnd("a.n_wedges * 1.0 / a.n_copairs", 4)}
                   AS mean_shared_orders
        FROM agg a CROSS JOIN ne
    """,
    scale=(
        "Bipartite cohesion: supplier pairs co-occurring in an order "
        "are 2-paths; a pair sharing >= 2 orders closes a 4-cycle "
        "(the bipartite triangle). The square census — C(m,2) summed "
        "over co-pair multiplicities, exact BIGINTs — measures "
        "whether the order-supplier graph has real community "
        "structure (squares abound) or is a random bipartite sprawl "
        "(squares ~ 0), which decides if graph sampling / link "
        "prediction (graph_adamic_adar_linkpred) has anything to "
        "find. Pair volume is bounded per order by C(order-degree, "
        "2) — never supplier-quadratic. Shape: ONE "
        "order-keyed shuffle collecting per-order supplier arrays "
        "(bounded by basket size), in-row pair expansion, a "
        "pair-keyed agg, 1-row report — the order-keyed SMJ "
        "self-join sorted the whole edge list twice and OOM'd a 1g "
        "heap at x10, so the array shape is load-bearing, not "
        "stylistic. 100 TB: one shuffle; skew = the largest "
        "order's degree squared, bounded by basket size."
    ),
)
def graph_bipartite_square_density(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-row 4-cycle cohesion census of the order-supplier graph."""
    li = load_table(spark, sf_dir, "lineitem")
    # ONE shuffle: suppliers collected per order (arrays bounded by
    # basket size), pairs generated IN-ROW — the order-keyed SMJ
    # self-join sorted the whole edge list twice and blew a 1g heap
    # at x10 (measured); this shape never materializes it
    perorder = (
        li.select(
            F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s")
        )
        .groupBy("o")
        .agg(F.sort_array(F.collect_set("s")).alias("ss"))
        .cache()  # feeds the pair explode AND the edge count
    )
    pair = perorder.select(
        F.explode(
            F.expr(
                "flatten(transform(ss, (x, i) -> "
                "transform(slice(ss, i + 2, size(ss) - i - 1), "
                "y -> struct(x AS s1, y AS s2))))"
            )
        ).alias("p")
    ).select(F.col("p.s1").alias("s1"), F.col("p.s2").alias("s2"))
    co = pair.groupBy("s1", "s2").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    agg = co.agg(
        F.count(F.lit(1)).cast("long").alias("n_copairs"),
        F.sum("m").cast("long").alias("n_wedges"),
        F.sum(F.when(F.col("m") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_copairs_2plus"),
        F.sum(F.expr("m * (m - 1) div 2")).cast("long").alias("n_squares"),
        F.max("m").cast("long").alias("max_shared"),
    )
    ne = perorder.agg(
        F.sum(F.size("ss")).cast("long").alias("n_edges")
    )
    return agg.crossJoin(F.broadcast(ne)).select(
        "n_edges",
        "n_copairs",
        "n_wedges",
        "n_copairs_2plus",
        "n_squares",
        "max_shared",
        rnd(
            F.col("n_copairs_2plus") * F.lit(1.0) / F.col("n_copairs"),
            6,
        ).alias("repeat_pair_share"),
        rnd(
            F.col("n_wedges") * F.lit(1.0) / F.col("n_copairs"), 4
        ).alias("mean_shared_orders"),
    )


# ---------------------------------------------------------------------------
# shard balance plan
# ---------------------------------------------------------------------------

#: shard count for the balance audit (the WebDataset writer default)
_SH_N = 16


@op(
    "corpus_shard_balance_plan",
    oracle=f"""
        WITH d AS (
            SELECT {_sql_hash64("'shard:' || CAST(doc_id AS VARCHAR)")}
                       % {_SH_N} AS shard,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
            FROM documents
        ),
        per AS (
            SELECT shard,
                   CAST(count(*) AS BIGINT) AS docs,
                   CAST(sum(toks) AS BIGINT) AS toks
            FROM d GROUP BY shard
        ),
        tot AS (
            SELECT CAST(sum(toks) AS BIGINT) AS total_toks,
                   CAST(max(toks) AS BIGINT) AS max_toks,
                   CAST(min(toks) AS BIGINT) AS min_toks,
                   CAST(count(*) AS BIGINT) AS n_shards
            FROM per
        )
        SELECT p.shard, p.docs, p.toks,
               {sql_rnd("p.toks * 1.0 / t.total_toks", 4)}
                   AS token_share,
               {sql_rnd(f"1.0 / {_SH_N}", 4)} AS uniform_share,
               {sql_rnd("t.max_toks * 1.0 / t.min_toks", 4)}
                   AS imbalance_ratio,
               (t.n_shards = {_SH_N}) AS all_shards_nonempty
        FROM per p CROSS JOIN tot t
    """,
    scale=(
        "Shard-balance audit for the WebDataset writer "
        "(llm/shards.py): md5-hash doc assignment into 16 shards, "
        "per-shard doc/token mass vs the uniform ideal, the "
        "max/min imbalance ratio, and the all-nonempty boolean. A "
        "ratio near 1 means hash sharding suffices; a heavy ratio "
        "means a few giant docs dominate and the writer needs "
        "size-aware packing (pack_best_fit) instead of plain "
        "hashing. All counts exact BIGINTs on the content-stable "
        "hash. Shape: one scan, a 16-key agg, a 1-row scalar. "
        "100 TB: this IS the pre-write planning pass — one "
        "map-side-combinable agg."
    ),
)
def corpus_shard_balance_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-shard token mass + imbalance vs the uniform ideal."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        (
            md5_hash64(
                F.concat_ws(
                    ":", F.lit("shard"), F.col("doc_id").cast("string")
                )
            )
            % _SH_N
        ).alias("shard"),
        F.size(F.split("text", " ")).cast("long").alias("toks"),
    )
    per = d.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("docs"),
        F.sum("toks").cast("long").alias("toks"),
    )
    tot = per.agg(
        F.sum("toks").cast("long").alias("total_toks"),
        F.max("toks").cast("long").alias("max_toks"),
        F.min("toks").cast("long").alias("min_toks"),
        F.count(F.lit(1)).cast("long").alias("n_shards"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "shard",
        "docs",
        "toks",
        rnd(F.col("toks") * F.lit(1.0) / F.col("total_toks"), 4).alias(
            "token_share"
        ),
        rnd(F.lit(1.0) / F.lit(float(_SH_N)), 4).alias("uniform_share"),
        rnd(
            F.col("max_toks") * F.lit(1.0) / F.col("min_toks"), 4
        ).alias("imbalance_ratio"),
        (F.col("n_shards") == _SH_N).alias("all_shards_nonempty"),
    )

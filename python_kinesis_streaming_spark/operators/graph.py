"""The graph family: every ``graph_*`` operator, plus ``triangle_stats``,
the library function ``graph_triangle_count`` binds (``api.py``
re-exports it).

By the graph each op builds:
- the supplier co-order graph (suppliers sharing an order):
  ``graph_triangle_count`` (edges, wedges, triangles, global clustering
  coefficient) and the order-supplier bipartite graph,
  ``graph_bipartite_square_density`` (4-cycles: supplier pairs sharing
  2+ orders, the bipartite analogue of triangles);
- event graphs: ``graph_pagerank_lite`` (3 unrolled weighted PageRank
  rounds over the event_type transition graph), ``graph_degree_stats``
  (degree histogram of the user ↔ (event_type, day) bipartite graph) and
  ``graph_degree_assortativity`` (degree-degree Pearson r across the
  user-event_type edges, from exact BIGINT moments);
- the in-cell 8-NN graph of the SemDeDup assignment
  (``llm/wave7.py::_semdedup_assigned_pairs``):
  ``graph_adamic_adar_linkpred`` (AA(a,b) = sum 1/ln(deg(z)) over common
  neighbors, each term frozen to integer micro; the top-20 links).

Scale notes (100 TB):
- Edges come from self-joins bounded by a blocking key (an order's
  suppliers, a user's day, a cell), never all-pairs; the triangle join
  e(u,v)-e(v,w)-e(u,w) enumerates each triangle once via u<v<w.
- ``triangle_stats`` persists its edge frame, which the degree, triangle
  and edge-count legs each read. A second call on the same plan finds it
  already cached and adds no entry.
- PageRank is the DataFrame-iteration shape (like dedup_clusters): the
  rank state is |nodes|-sized, each round one join + one partial agg,
  never recursive SQL.
- ``ln`` is taken only of identical doubles (degrees), so both engines
  freeze the same micro-units; every sum that a comparison follows is an
  exact integer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from python_kinesis_streaming_spark.functions.rounding import rnd, sql_rnd
from python_kinesis_streaming_spark.functions.vectors import dot
from python_kinesis_streaming_spark.llm.wave7 import _semdedup_assigned_pairs
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table


def triangle_stats(edges: DataFrame, u_col: str = "u", v_col: str = "v") -> DataFrame:
    """Edge/wedge/triangle counts + clustering coefficient of an undirected
    graph. ``edges`` must hold each undirected edge once with u < v;
    triangles enumerate once via the u<v<w ordering. See
    ``graph_triangle_count``'s scale note for the degree-ordered-orientation
    refinement at web-graph scale."""
    e = edges.select(F.col(u_col).alias("u"), F.col(v_col).alias("v")).persist()
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / F.lit(2))
        .cast("long")
        .alias("n_wedges")
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u"))
            & (F.col("e3.v") == F.col("e2.v")),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    n_edges = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        n_edges.crossJoin(F.broadcast(wedges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            (F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges")).alias(
                "clustering_coeff"
            ),
        )
    )


@op(
    "graph_triangle_count",
    oracle=f"""
        WITH pairs AS (
            SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
        ),
        e AS (
            SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
            FROM pairs a
            JOIN pairs b ON a.l_orderkey = b.l_orderkey
                        AND a.l_suppkey < b.l_suppkey
        ),
        deg AS (
            SELECT n, count(*) AS d
            FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)
            GROUP BY n
        ),
        tri AS (
            SELECT count(*) AS t
            FROM e e1
            JOIN e e2 ON e1.v = e2.u
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        )
        SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
               CAST((SELECT sum(d * (d - 1) / 2) FROM deg) AS BIGINT)
                   AS n_wedges,
               CAST((SELECT t FROM tri) AS BIGINT) AS n_triangles,
               {sql_rnd("(SELECT 3.0 * t FROM tri)"
                        " / (SELECT sum(d * (d - 1) / 2) FROM deg)", 6)}
                   AS clustering_coeff
    """,
    scale=(
        "Triangle counting + global clustering coefficient on the "
        "co-fulfilment graph (suppliers sharing an order). Edges come from "
        "a per-order self-join of the DISTINCT (order, supplier) relation "
        "— bounded by suppliers-per-order (~4), never all-pairs. The "
        "triangle join e(u,v)-e(v,w)-e(u,w) enumerates each triangle once "
        "via u<v<w ordering. At 100 TB the refinement is degree-ordered "
        "orientation (point each edge at the higher-(degree,id) endpoint) "
        "so every wedge is enumerated at its lowest-degree apex — "
        "O(|E|^1.5) worst case — plus per-node degree caps for the "
        "celebrity-vertex skew the same way join_skew_salted handles keys."
    ),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge, wedge, and triangle counts of the supplier co-order graph."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select("l_orderkey", "l_suppkey").distinct()
    a, b = pairs.alias("a"), pairs.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v")
        )
        .distinct()
    )
    return triangle_stats(edges).select(
        "n_edges",
        "n_wedges",
        "n_triangles",
        rnd(F.col("clustering_coeff"), 6).alias("clustering_coeff"),
    )


@op(
    "graph_pagerank_lite",
    oracle="""
        WITH edges AS (
            SELECT event_type AS src,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY CAST(ts AS TIMESTAMP), event_id)
                       AS dst
            FROM events
        ),
        e AS (
            SELECT src, dst, count(*) AS n FROM edges
            WHERE dst IS NOT NULL GROUP BY src, dst
        ),
        outw AS (SELECT src, sum(n) AS tot FROM e GROUP BY src),
        nodes AS (SELECT DISTINCT event_type AS node FROM events),
        nn AS (SELECT count(*) AS n_nodes FROM nodes),
        ew AS (
            SELECT e.src, e.dst, e.n * 1.0 / outw.tot AS wgt
            FROM e JOIN outw ON outw.src = e.src
        ),
        r0 AS (SELECT node, 1.0 / (SELECT n_nodes FROM nn) AS rank FROM nodes),
        r1 AS (
            SELECT n.node,
                   0.15 / (SELECT n_nodes FROM nn) + 0.85 * coalesce(c.c, 0) AS rank
            FROM nodes n LEFT JOIN (
                SELECT ew.dst, sum(r0.rank * ew.wgt) AS c
                FROM ew JOIN r0 ON r0.node = ew.src GROUP BY ew.dst
            ) c ON c.dst = n.node
        ),
        r2 AS (
            SELECT n.node,
                   0.15 / (SELECT n_nodes FROM nn) + 0.85 * coalesce(c.c, 0) AS rank
            FROM nodes n LEFT JOIN (
                SELECT ew.dst, sum(r1.rank * ew.wgt) AS c
                FROM ew JOIN r1 ON r1.node = ew.src GROUP BY ew.dst
            ) c ON c.dst = n.node
        ),
        r3 AS (
            SELECT n.node,
                   0.15 / (SELECT n_nodes FROM nn) + 0.85 * coalesce(c.c, 0) AS rank
            FROM nodes n LEFT JOIN (
                SELECT ew.dst, sum(r2.rank * ew.wgt) AS c
                FROM ew JOIN r2 ON r2.node = ew.src GROUP BY ew.dst
            ) c ON c.dst = n.node
        )
        SELECT node, floor(rank * 1000000.0 + 0.505) / 1000000.0 AS rank
        FROM r3
    """,
    scale=(
        "Weighted PageRank, 3 fixed rounds over the event-type transition "
        "graph. The iterative-DataFrame shape: per round one broadcast join "
        "of the tiny rank state against the edge list + one partial agg; "
        "edge list is computed ONCE. At web scale the same loop runs with "
        "checkpointed rank state and the edge table pre-bucketed on src — "
        "round cost is a single co-partitioned join. Ranks are summed in "
        "double; only the emitted value is rounded (6 dp, eps-floor), so "
        "sub-ulp association differences between engines cannot flip it."
    ),
)
def graph_pagerank_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration weighted PageRank over the event_type transition graph."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = (
        ev.select("event_type", F.lead("event_type").over(w).alias("dst"))
        .where(F.col("dst").isNotNull())
        .groupBy(F.col("event_type").alias("src"), "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    outw = e.groupBy("src").agg(F.sum("n").alias("tot"))
    nodes = ev.select(F.col("event_type").alias("node")).distinct()
    n_nodes = nodes.count()
    # weight = n / out_total, fixed across rounds: precompute once.
    ew = e.join(outw, "src").select(
        "src", "dst", (F.col("n") / F.col("tot")).alias("wgt")
    )
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    for _ in range(3):
        contrib = (
            F.broadcast(ranks)
            .join(ew, F.col("node") == F.col("src"))
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("wgt")).alias("c"))
        )
        ranks = (
            nodes.join(F.broadcast(contrib), F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                (
                    F.lit(0.15 / n_nodes)
                    + F.lit(0.85) * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks.select("node", rnd(F.col("rank"), 6).alias("rank"))


@op(
    "graph_degree_stats",
    oracle="""
        WITH deg AS (
            SELECT user_id,
                   CAST(count(DISTINCT (event_type, CAST(CAST(ts AS TIMESTAMP)
                        AS DATE))) AS BIGINT) AS degree
            FROM events GROUP BY user_id
        )
        SELECT degree, CAST(count(*) AS BIGINT) AS n_users
        FROM deg GROUP BY degree
    """,
    scale=(
        "Bipartite degree distribution as two chained partial aggs: the "
        "(user, type, day) dedup collapses map-side before the user "
        "shuffle, the histogram shuffle carries |distinct degrees| rows. "
        "The same two-level shape computes any power-law degree audit at "
        "100 TB — swap the edge definition, keep the plan."
    ),
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the user ↔ (event_type, day) bipartite graph."""
    ev = load_table(spark, sf_dir, "events")
    deg = ev.groupBy("user_id").agg(
        F.countDistinct("event_type", F.to_date("ts")).alias("degree")
    )
    return deg.groupBy("degree").agg(F.count("*").alias("n_users"))


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction on the in-cell graph
# ---------------------------------------------------------------------------


@op(
    "graph_adamic_adar_linkpred",
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
        knn AS (
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
        und AS (
            SELECT src, dst FROM knn
            UNION
            SELECT dst AS src, src AS dst FROM knn
        ),
        deg AS (
            SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
            FROM und GROUP BY src
        ),
        cand AS (
            SELECT e1.src AS a, e2.src AS b, e1.dst AS z
            FROM und e1 JOIN und e2
              ON e2.dst = e1.dst AND e1.src < e2.src
            WHERE NOT EXISTS (
                SELECT 1 FROM und x
                WHERE x.src = e1.src AND x.dst = e2.src
            )
        ),
        aa AS (
            SELECT c.a, c.b,
                   CAST(count(*) AS BIGINT) AS n_common,
                   CAST(sum(CAST(floor(1000000.0 / ln(d.degree)
                        + 0.505) AS BIGINT)) AS BIGINT) AS aa_micro
            FROM cand c JOIN deg d ON d.node = c.z
            GROUP BY c.a, c.b
        )
        SELECT a, b, n_common,
               {sql_rnd("aa_micro / 1000000.0", 4)} AS aa_score
        FROM aa
        ORDER BY aa_micro DESC, a, b
        LIMIT 20
    """,
    scale=(
        "Adamic-Adar link prediction (Adamic & Adar 2003) on the "
        "symmetrized in-cell 8-NN graph: AA(a,b) = sum over common "
        "neighbors z of 1/ln(deg(z)) — rare shared neighbors count "
        "more. The missing-edge candidates are 2-hop wedges within "
        "cells (bounded by cell size, never all-pairs); per-neighbor "
        "terms freeze to integer micro before the per-pair BIGINT "
        "sum (ln ulps can't reorder ranks), and the top-20 is "
        "orderBy+limit. In the pipeline this IS the edge-repair "
        "proposal step for the NN-descent graph: high-AA non-edges "
        "are exactly the candidates the next descent round should "
        "test. 100 TB: wedges shard by cell; degree is a |V|-key "
        "agg; the join order (wedge build -> degree broadcast) keeps "
        "everything edge-count-bounded."
    ),
)
def graph_adamic_adar_linkpred(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-20 Adamic-Adar predicted links on the in-cell 8-NN graph."""

    assigned, _ = _semdedup_assigned_pairs(spark, sf_dir)
    e = assigned.select("vec_id", "cid", "embedding", "norm")
    a, b = e.alias("a"), e.alias("b")
    sim_ab = rnd(
        dot(F.col("a.embedding"), F.col("b.embedding"))
        / (F.col("a.norm") * F.col("b.norm")),
        4,
    )
    knn = (
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
    )
    und = knn.unionByName(
        knn.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    e1 = und.select(F.col("src").alias("a"), F.col("dst").alias("z"))
    e2 = und.select(F.col("src").alias("b"), F.col("dst").alias("z"))
    wedges = e1.join(e2, "z").where(F.col("a") < F.col("b"))
    edge_pairs = und.select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    cand = wedges.join(edge_pairs, ["a", "b"], "left_anti")
    aa = (
        cand.join(deg, cand.z == deg.node)
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum(
                F.floor(
                    F.lit(1000000.0) / F.log(F.col("degree"))
                    + F.lit(0.505)
                ).cast("long")
            )
            .cast("long")
            .alias("aa_micro"),
        )
    )
    return (
        aa.orderBy(F.desc("aa_micro"), "a", "b")
        .limit(20)
        .select(
            "a",
            "b",
            "n_common",
            rnd(F.col("aa_micro") / F.lit(1000000.0), 4).alias(
                "aa_score"
            ),
        )
    )


# ---------------------------------------------------------------------------
# bipartite degree assortativity
# ---------------------------------------------------------------------------


@op(
    "graph_degree_assortativity",
    oracle=f"""
        WITH edges AS (
            -- order-supplier bipartite edges (the user-type graph is
            -- COMPLETE on this fixture — zero degree variance — so
            -- assortativity lives on the lineitem graph)
            SELECT DISTINCT l_orderkey AS o, l_suppkey AS s
            FROM lineitem
        ),
        du AS (
            SELECT o, CAST(count(*) AS BIGINT) AS deg_o
            FROM edges GROUP BY o
        ),
        dt AS (
            SELECT s, CAST(count(*) AS BIGINT) AS deg_s
            FROM edges GROUP BY s
        ),
        j AS (
            SELECT du.deg_o AS x, dt.deg_s AS y
            FROM edges e
            JOIN du ON du.o = e.o
            JOIN dt ON dt.s = e.s
        ),
        mom AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * x) AS BIGINT) AS sxx,
                   CAST(sum(y * y) AS BIGINT) AS syy,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(max(x) AS BIGINT) AS max_deg_order,
                   CAST(max(y) AS BIGINT) AS max_deg_supp
            FROM j
        )
        SELECT n AS n_edges, max_deg_order, max_deg_supp,
               {sql_rnd("sx * 1.0 / n", 4)} AS mean_deg_order,
               {sql_rnd("sy * 1.0 / n", 4)} AS mean_deg_supp,
               -- Pearson r from BIGINT moments; 1.0::DOUBLE
               -- load-bearing (the r13 DECIMAL(38) lesson); the
               -- zero-variance guard emits 0.0 in both engines
               CASE WHEN (n * 1.0::DOUBLE * sxx - sx * 1.0::DOUBLE * sx)
                         * (n * 1.0::DOUBLE * syy
                            - sy * 1.0::DOUBLE * sy) > 0
               THEN {sql_rnd(
                   "(n * 1.0::DOUBLE * sxy - sx * 1.0::DOUBLE * sy)"
                   " / sqrt((n * 1.0::DOUBLE * sxx"
                   "         - sx * 1.0::DOUBLE * sx)"
                   "        * (n * 1.0::DOUBLE * syy"
                   "           - sy * 1.0::DOUBLE * sy))", 4
               )} ELSE 0.0 END AS assortativity_r
        FROM mom
    """,
    scale=(
        "Degree-degree mixing of the order-supplier bipartite graph: "
        "Pearson r of (order degree, supplier degree) over the "
        "distinct edges — r near 0 means supplier popularity is "
        "independent of order breadth (healthy marketplace mixing); "
        "strongly negative means big orders concentrate on niche "
        "suppliers. The wave-21 emb_dim_redundancy template verbatim: "
        "all six moments are order-free BIGINT sums over the edge "
        "list; r derived in identical-operand-order doubles, frozen "
        "at 1e-4, with an explicit zero-variance guard both engines "
        "(the user-type graph is complete on this fixture — that "
        "degenerate case is exactly what the guard covers). Shape: "
        "one distinct, two degree aggs, one equi-join back to edges "
        "(broadcast supplier side), a 1-row moment agg. 100 TB: the "
        "degree join co-partitions with the distinct's shuffle; "
        "assortativity is the standard first diagnostic before "
        "sampling a bipartite graph."
    ),
)
def graph_degree_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-row bipartite degree-assortativity report (order-supplier)."""
    li = load_table(spark, sf_dir, "lineitem")
    # edges feeds both degree aggs AND the moment join — cached so the
    # distinct plans once (wave-22 Exchange-count precedent)
    edges = (
        li.select(
            F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s")
        )
        .distinct()
        .cache()
    )
    du = edges.groupBy("o").agg(
        F.count(F.lit(1)).cast("long").alias("deg_o")
    )
    dt = edges.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("deg_s")
    )
    j = edges.join(du, "o").join(F.broadcast(dt), "s")
    mom = j.select(
        F.col("deg_o").alias("x"), F.col("deg_s").alias("y")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.max("x").cast("long").alias("max_deg_order"),
        F.max("y").cast("long").alias("max_deg_supp"),
    )
    vx = F.col("n") * F.lit(1.0) * F.col("sxx") - F.col("sx") * F.lit(
        1.0
    ) * F.col("sx")
    vy = F.col("n") * F.lit(1.0) * F.col("syy") - F.col("sy") * F.lit(
        1.0
    ) * F.col("sy")
    rr = (
        F.col("n") * F.lit(1.0) * F.col("sxy")
        - F.col("sx") * F.lit(1.0) * F.col("sy")
    ) / F.sqrt(vx * vy)
    return mom.select(
        F.col("n").alias("n_edges"),
        "max_deg_order",
        "max_deg_supp",
        rnd(F.col("sx") * F.lit(1.0) / F.col("n"), 4).alias(
            "mean_deg_order"
        ),
        rnd(F.col("sy") * F.lit(1.0) / F.col("n"), 4).alias(
            "mean_deg_supp"
        ),
        F.when(vx * vy > 0, rnd(rr, 4))
        .otherwise(F.lit(0.0))
        .alias("assortativity_r"),
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

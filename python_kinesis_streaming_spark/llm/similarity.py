"""The vector-similarity family over the ``embeddings`` table (SURVEY
§2.11): every ``sim_*`` operator, the ``emb_*`` ops of the first waves,
and the builders the retrieval ops share.

Cosine math is pure higher-order-function Spark SQL (the ``zip_with`` dot
product + ``aggregate`` fold kernels of ``functions/vectors.py``) —
JVM-side, codegen, no Python. Floats are accumulated in double and every
emitted similarity is rounded to 4 dp with the shared cross-engine
rounding expression; all ORDER BY / thresholds operate on the ROUNDED
value with integer tie-breaks, so Spark and DuckDB
(`list_cosine_similarity`) select identical row sets.

The ``sim`` ops by shape:
- search: ``sim_knn_cosine`` (the exact brute-force baseline),
  ``sim_query_batch``, ``sim_pairwise_topk``, ``sim_threshold_sweep``,
  ``sim_centroids``, ``sim_topk_incremental_delta`` (a frozen base top-k
  merged with a scored delta batch, no base rescoring);
- index build and probe: ``sim_ann_lsh``, ``sim_ivf_probe``,
  ``sim_ann_ivf`` (nprobe = 2), ``sim_pq_assign``,
  ``sim_index_build_report``, ``sim_rerank_two_stage``,
  ``sim_truncated_dims``;
- retrieval evaluation (recall@k against the exact top-k of the 1-in-50
  query sample): ``sim_ivf_nprobe_sweep``, ``sim_cascade_recall_audit``,
  ``sim_cascade_sketch_recall_audit``, ``sim_prefilter_quality_report``,
  ``sim_rank_quality_ndcg`` (recall@10, MRR, nDCG@10 with integer-micro
  DCG terms), ``sim_pq_adc_recall`` (product-quantization asymmetric
  distances, Jégou et al. 2011), ``sim_graph_beam_recall`` (two-hop
  beam-8 search over the in-cell 8-NN graph, the query path of
  ``emb_nndescent_round``'s graph);
- result shaping: ``sim_mmr_diversify`` (greedy MMR, Carbonell &
  Goldstein 1998, five unrolled steps), ``sim_rrf_fusion`` (reciprocal
  rank fusion of a lexical-Jaccard and a cosine leg),
  ``sim_negative_mining_audit`` (semi-hard negatives for contrastive
  training);
- space diagnostics: ``sim_distance_contrast_audit`` (relative contrast,
  Beyer et al. 1999), ``sim_hubness_audit`` (k-occurrence skew and
  antihub rate, Radovanovic et al. 2010).

Shared builders: ``vectors`` (the ``(vec_id, v array<double>)`` load),
``top_k`` (rank ≤ k by ``(sim DESC, vec_id)`` per ``qid``) and
``exact_topk`` (the brute-force ground truth of a query sample), plus
``ivf_centroid_dists`` and its DuckDB twin ``_IVF_CENTROID_SQL``. Two
rankings keep their own window, because routing them through ``top_k``
changes their plan: ``sim_rank_quality_ndcg`` keeps its exact rank as
``erank``, and ``emb_quantization_recall`` ranks per ``q_id`` as ``rk``.

Lessons:
- ``sim_cascade_sketch_recall_audit`` audits the prefilter ladder that
  SQL can reach with full parity: JL random projection (0.54) < a
  one-iteration randomized subspace sketch (Halko, Martinsson & Tropp
  2011; 0.56) ≤ the top-16 variance dims (0.60) < true PCA-16 (0.74,
  which needs QR orthogonalization, off-SQL).
- Several recall ops precompute per-row norms once and divide one dot per
  pair by them (``emb_with_norm``, the ``embn`` frames): the same doubles
  as ``cosine``, one fold per pair instead of three.

Scale notes (100 TB / billions of vectors):
- ``sim_knn_cosine`` broadcasts the query vector — a map-only scan + top-k
  (TakeOrderedAndProject): no shuffle at all. The canonical brute-force
  baseline; throughput = scan bandwidth.
- ``sim_pairwise_topk`` / ``dedup_embed_cosine`` join within a blocking key
  (label) — never a global cross join. At scale the blocking key becomes an
  IVF/LSH bucket id (``sim_ann_lsh``) and the same plan shape holds.
- ``sim_ann_lsh`` shows the scale path: random-hyperplane signatures shrink
  the candidate set to one bucket; recall is tunable via bits/tables.
- The evaluation ops run their exact baseline on the query sample only,
  so the full-scan term is |sample|·N, never N².
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from python_kinesis_streaming_spark.functions.rounding import rnd, sql_rnd
from python_kinesis_streaming_spark.functions.vectors import (
    centroid_ord,
    cosine,
    dot,
    guarded_cos,
    l2norm,
    sign_bits,
    sq_l2,
    sq_norm,
    sql_guarded_cos,
)
from python_kinesis_streaming_spark.llm.dedup import md5_hash64
from python_kinesis_streaming_spark.llm.wave7 import _semdedup_assigned_pairs
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table


QUERY_VEC_ID = 0  # the deterministic "query" for knn ops
_DIMS = 64  # embedding dimensionality (FIXTURES.md)
_SKETCH_K = 16  # prefilter/sketch columns (the "PCA-16" budget)

#: (session, sf_dir) → embeddings with a precomputed L2 norm column, cached.
#: Norms are query-independent — computing them per lookup wastes a full
#: interpreted-HOF pass; at 100 TB they'd be materialized at ingest alongside
#: the vectors (the classic vector-index preparation step).
_NORM_CACHE: dict[tuple[int, str], DataFrame] = {}


def emb_with_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (id(spark), sf_dir)
    if key not in _NORM_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        _NORM_CACHE[key] = emb.withColumn("norm", l2norm(F.col("embedding"))).cache()
    return _NORM_CACHE[key]


def vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(vec_id, v array<double>)``: the embeddings as the double vectors
    the retrieval and embedding ops compute on."""
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


# Retrieval evaluation (the recall@k protocol of ANN benchmarking): the
# queries are the 1-in-50 sample ``vec_id % 50 = 0``, the ground truth is
# the brute-force exact top-k of each, and every ranking is ``(sim DESC,
# vec_id)`` over similarities rounded to 4 dp, so both engines pick the
# same rows.


def top_k(df: DataFrame, k: int, *keys: str) -> DataFrame:
    """The rows of ``df`` ranked ``rank`` ≤ ``k`` by ``(sim DESC, vec_id)``
    within each ``(*keys, qid)``."""
    w = Window.partitionBy(*keys, "qid").orderBy(F.desc("sim"), "vec_id")
    return df.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def exact_topk(
    emb: DataFrame, q: DataFrame, k: int, sim: Column | None = None
) -> DataFrame:
    """``(qid, vec_id)``: the brute-force top-``k`` of each query in ``q``
    (``qid``, ``qv``) over ``emb`` (``vec_id``, ``v``), the query itself
    excluded. ``sim`` defaults to ``cosine(qv, v)``; the ops that carry
    precomputed norms pass their own."""
    if sim is None:
        sim = cosine(F.col("qv"), F.col("v"))
    ex = emb.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid", "vec_id", rnd(sim, 4).alias("sim")
    )
    return top_k(ex, k).select("qid", "vec_id")


def ivf_centroid_dists(v: Column) -> Column:
    """``array<struct<d2, j>>``: the 6-dp squared distance from ``v`` to
    each of the 16 formula centroids c_j[d] = (((37j + 11d) mod 19) − 9)/9
    of the IVF ops; ``array_min`` of it is the nearest list (ties → lower
    j) and ``array_sort`` ranks the probe order."""
    centroids = F.array(*[
        F.array(*[
            F.lit((((j * 37 + d * 11) % 19) - 9) / 9.0) for d in range(64)
        ])
        for j in range(16)
    ])
    return F.transform(
        F.sequence(F.lit(0), F.lit(15)),
        lambda j: F.struct(
            rnd(sq_l2(v, F.element_at(centroids, j + 1)), 6).alias("d2"),
            j.alias("j"),
        ),
    )


#: DuckDB twin of ``ivf_centroid_dists``: every vector's distance to the 16
#: formula centroids, ranked per vector (``rk`` = 1 is its list)
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

# exploded (vec_id, j, x) coordinates over the 64-dim embedding column
_X_SQL = f"""
        e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        x AS (
            SELECT vec_id, CAST(u.i AS INTEGER) AS j, v[u.i + 1] AS x
            FROM e, unnest(range(0, {_DIMS})) AS u(i)
        )
"""

# exact top-5 per sampled query (the shared ground truth of the audits)
_ETOP_SQL = """
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
        )
"""


@op(
    "sim_knn_cosine",
    oracle=f"""
        WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings
                   WHERE vec_id = {QUERY_VEC_ID})
        SELECT vec_id,
               floor((list_cosine_similarity(embedding::DOUBLE[], qe))
                     * 10000.0 + 0.505) / 10000.0 AS sim
        FROM embeddings, q
        WHERE vec_id <> {QUERY_VEC_ID}
        ORDER BY sim DESC, vec_id
        LIMIT 10
    """,
    scale=(
        "Broadcast one query vector; map-only cosine + TakeOrderedAndProject "
        "top-k — zero shuffles, scales linearly with scan bandwidth. "
        "Batch-of-queries variant: broadcast the query SET, explode per "
        "partition, per-query top-k via window."
    ),
)
def sim_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 cosine neighbors of vec_id=0, brute force (exact baseline).

    The query vector is fetched to the driver (64 floats — the degenerate
    broadcast) and inlined as LITERAL coefficients, so the dot product is a
    flat whole-stage-codegen expression over the scan — no join, no
    interpreted HOF lambda in the hot loop; vector norms come precomputed
    from the cached index table (emb_with_norm). The plan is scan →
    TakeOrderedAndProject, zero shuffles.
    """
    emb = emb_with_norm(spark, sf_dir)
    qv = [
        float(x)
        for x in emb.where(F.col("vec_id") == QUERY_VEC_ID).first()["embedding"]
    ]
    qnorm = sum(x * x for x in qv) ** 0.5
    # Left-to-right summation order identical to the HOF/DuckDB loop.
    dot_expr = F.lit(0.0)
    for i, w in enumerate(qv):
        dot_expr = dot_expr + F.col("embedding")[i].cast("double") * F.lit(w)
    sim = dot_expr / (F.col("norm") * F.lit(qnorm))
    return (
        emb.where(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", rnd(sim, 4).alias("sim"))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(10)
    )


@op(
    "sim_pairwise_topk",
    oracle="""
        WITH pairs AS (
            SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
                   floor((list_cosine_similarity(a.embedding::DOUBLE[],
                                                 b.embedding::DOUBLE[]))
                         * 10000.0 + 0.505) / 10000.0 AS sim
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
        )
        SELECT label, vec_a, vec_b, sim FROM (
            SELECT *, row_number() OVER (
                PARTITION BY label ORDER BY sim DESC, vec_a, vec_b) AS rn
            FROM pairs
        ) WHERE rn <= 5
    """,
    scale=(
        "All-pairs restricted to a blocking key (label): the join fans out "
        "per-bucket, never globally. Bucket size is the knob — at 100 TB "
        "use finer blocking (LSH bucket) so |bucket|² stays bounded; AQE "
        "splits skewed buckets."
    ),
)
def sim_pairwise_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most-similar vector pairs within each label (blocked all-pairs).

    Norms come precomputed from ``emb_with_norm`` (one HOF per VECTOR),
    so each PAIR costs a single dot fold — identical arithmetic to
    ``cosine`` (bit-identical doubles; the r12 SemDeDup kernel lesson,
    PERF.md r12), 3x fewer HOF evaluations in the quadratic stage."""

    emb = emb_with_norm(spark, sf_dir)
    a = emb.alias("a")
    b = emb.alias("b")
    pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.label").alias("label"),
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        rnd(
            dot(F.col("a.embedding"), F.col("b.embedding"))
            / (F.col("a.norm") * F.col("b.norm")),
            4,
        ).alias("sim"),
    )
    w = Window.partitionBy("label").orderBy(
        F.desc("sim"), F.asc("vec_a"), F.asc("vec_b")
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .drop("rn")
    )


@op(
    "dedup_embed_cosine",
    oracle="""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               floor((list_cosine_similarity(a.embedding::DOUBLE[],
                                             b.embedding::DOUBLE[]))
                     * 10000.0 + 0.505) / 10000.0 AS sim
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE floor((list_cosine_similarity(a.embedding::DOUBLE[],
                                            b.embedding::DOUBLE[]))
                    * 10000.0 + 0.505) / 10000.0 >= 0.30
    """,
    scale=(
        "Embedding near-dup = threshold variant of the blocked pair join; "
        "the label block stands in for an ANN bucket at scale. Threshold "
        "compares the rounded value on both engines — no float-boundary "
        "divergence."
    ),
)
def dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate vector pairs: cosine ≥ 0.30 within the same label.

    (0.30 is calibrated to the synthetic fixtures — max within-label cosine
    is ~0.47 — so the op exercises a non-empty result; real pipelines use
    ~0.9+ on normalized embeddings.)

    Pair similarity uses precomputed ``emb_with_norm`` norms + one dot
    fold per pair — bit-identical to ``cosine`` (r12 kernel lesson)."""
    emb = emb_with_norm(spark, sf_dir)
    a = emb.alias("a")
    b = emb.alias("b")
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            rnd(
                dot(F.col("a.embedding"), F.col("b.embedding"))
                / (F.col("a.norm") * F.col("b.norm")),
                4,
            ).alias("sim"),
        )
        .where(F.col("sim") >= 0.30)
    )


#: Deterministic pseudo-random hyperplanes for the LSH signature: plane p,
#: dim d weight derived from a fixed integer hash → [-0.5, 0.5). No RNG at
#: runtime, identical across sessions/executors. 6 planes → 64 buckets
#: (~n/64 candidates each); scale bits up with corpus size to hold the
#: bucket-size target, add tables/probes to recover recall.
LSH_PLANES = 6


def _hyperplane_weight(p: int, d: int) -> float:
    # Splitmix64-style integer scramble, reduced to a unit-ish float.
    x = (p * 64 + d) * 0x9E3779B97F4A7C15 % (1 << 64)
    x = (x ^ (x >> 31)) * 0xBF58476D1CE4E5B9 % (1 << 64)
    x = (x ^ (x >> 27)) % (1 << 64)
    return (x % 10_000_019) / 10_000_019.0 - 0.5


def _ann_lsh_oracle(dims: int = 64) -> str:
    """DuckDB twin of sim_ann_lsh: the hyperplane weights are deterministic
    pure arithmetic (splitmix-style scramble computed at import time), so the
    SAME double literals are inlined into SQL; projection sum order matches
    the Spark fold (left-to-right over dims), making the bucket id — and
    therefore the candidate set — bit-identical across engines."""
    projs = []
    for p in range(LSH_PLANES):
        terms = " + ".join(
            f"CAST({_hyperplane_weight(p, d)!r} AS DOUBLE) * e[{d + 1}]"
            for d in range(dims)
        )
        projs.append(f"CASE WHEN (CAST(0.0 AS DOUBLE) + {terms}) > 0 THEN {1 << p} ELSE 0 END")
    bucket = "\n                 + ".join(projs)
    probes = " OR ".join(
        ["w.bucket = q.qb"]
        + [f"w.bucket = xor(q.qb, {1 << p})" for p in range(LSH_PLANES)]
    )
    return f"""
        WITH wb AS (
            SELECT vec_id, embedding::DOUBLE[] AS e,
                   ({bucket}) AS bucket
            FROM embeddings
        ),
        q AS (SELECT e AS qe, bucket AS qb FROM wb WHERE vec_id = {QUERY_VEC_ID})
        SELECT w.vec_id,
               floor((list_cosine_similarity(w.e, q.qe)) * 10000.0 + 0.505) / 10000.0 AS sim
        FROM wb w, q
        WHERE w.vec_id <> {QUERY_VEC_ID} AND ({probes})
        ORDER BY sim DESC, w.vec_id
        LIMIT 10
    """


@op(
    "sim_ann_lsh",
    oracle=_ann_lsh_oracle(),
    scale=(
        "The 100 TB ANN path: fixed random hyperplanes → bucket id; the "
        "query probes its own bucket plus all Hamming-1 neighbors "
        "(multi-probe) via an equi-join on bucket — index build is one "
        "map-only pass, lookup shuffles only probed buckets. Recall/latency "
        "tuned by bits, probes, and table count."
    ),
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 neighbors of vec_id=0 via random-hyperplane LSH.

    Signature bit p = sign(v · hyperplane_p) with hyperplanes derived from a
    fixed integer hash (deterministic everywhere). Candidates = vectors in
    the query's bucket or any Hamming-1 neighbor bucket (multi-probe);
    exact cosine re-rank over the candidates.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    dims = 64

    def bucket_col() -> Column:
        acc = F.lit(0)
        for p in range(LSH_PLANES):
            proj = dot(
                "embedding",
                F.array(*[F.lit(_hyperplane_weight(p, d)) for d in range(dims)]),
            )
            acc = acc + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
        return acc

    with_bucket = emb.withColumn("bucket", bucket_col())
    # Multi-probe: the query's bucket plus every Hamming-1 neighbor
    # (flip each of the LSH_PLANES bits) — 1+6 probed buckets of 64.
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(LSH_PLANES)],
    )
    q = with_bucket.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qe"), probes.alias("qprobes")
    )
    return (
        with_bucket.join(F.broadcast(q), how="cross")
        .where(
            F.array_contains(F.col("qprobes"), F.col("bucket"))
            & (F.col("vec_id") != QUERY_VEC_ID)
        )
        .select("vec_id", rnd(cosine(F.col("embedding"), F.col("qe")), 4).alias("sim"))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(10)
    )


@op(
    "sim_centroids",
    oracle="""
        SELECT label, i.i AS pos,
               floor((avg(embedding[i.i])) * 10000.0 + 0.505) / 10000.0
                   AS centroid_val
        FROM embeddings, range(1, 65) i(i)
        GROUP BY label, i.i
    """,
    scale=(
        "Elementwise centroid via posexplode -> (label, pos) partial-agg "
        "avg: the shuffle carries |labels| x dims tiny rows. The k-means / "
        "IVF-index build step; reassemble arrays downstream only if needed "
        "(array_agg over sorted pos)."
    ),
)
def sim_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, one row per (label, dimension)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("p", "v"))
        .groupBy("label", (F.col("p") + 1).alias("pos"))
        .agg(rnd(F.avg(F.col("v").cast("double")), 4).alias("centroid_val"))
    )


@op(
    "sim_query_batch",
    oracle="""
        WITH q AS (
            SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
            FROM embeddings WHERE vec_id < 5
        ),
        scored AS (
            SELECT q.qid, e.vec_id,
                   floor((list_cosine_similarity(e.embedding::DOUBLE[], q.qe))
                         * 10000.0 + 0.505) / 10000.0 AS sim
            FROM embeddings e, q
            WHERE e.vec_id <> q.qid
        )
        SELECT qid, vec_id, sim FROM (
            SELECT *, row_number() OVER (
                PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
            FROM scored
        ) WHERE rn <= 3
    """,
    scale=(
        "Batched knn: broadcast the (small) query set, score every corpus "
        "vector against all queries in one scan pass, per-query top-k via "
        "window on qid. Corpus scanned ONCE for Q queries - the serving "
        "batch shape; at larger Q block queries into broadcast-sized "
        "groups."
    ),
)
def sim_query_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 cosine neighbors for each of 5 query vectors in one pass."""

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            rnd(cosine(F.col("embedding"), F.col("qe")), 4).alias("sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .drop("rn")
    )


@op(
    "emb_normalize_quantize",
    oracle="""
        WITH n AS (
            SELECT vec_id,
                   list_transform(embedding::DOUBLE[], x -> x) AS e,
                   sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
            FROM embeddings
        ),
        q AS (
            SELECT vec_id, nrm,
                   list_transform(e, x -> CAST(floor(x / nrm * 127.0 + 0.505) AS BIGINT)) AS qv
            FROM n
        )
        SELECT vec_id,
               floor(nrm * 10000.0 + 0.505) / 10000.0 AS norm,
               CAST(list_sum(qv) AS BIGINT) AS q_sum,
               list_min(qv) AS q_min,
               list_max(qv) AS q_max
        FROM q
    """,
    scale=(
        "Int8 quantization of an embedding corpus (ANN index prep): "
        "unit-normalize then round each coordinate to [-127,127] — 4× "
        "bandwidth/memory cut for the billion-vector scan. Map-only, "
        "JVM HOFs, zero shuffles; per-vector scalars out (norm + "
        "quantized checksums) keep the result hash-safe. Rounding is the "
        "repo-wide floor(x·k+0.505) so both engines quantize identically."
    ),
)
def emb_normalize_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize each embedding and quantize to int8; emit per-vector
    norm + quantized-vector summary scalars (sum/min/max)."""
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = l2norm(F.col("embedding"))
    qv = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") / F.col("nrm") * 127.0 + F.lit(0.505)).cast(
            "long"
        ),
    )
    return (
        emb.withColumn("nrm", nrm)
        .withColumn("qv", qv)
        .select(
            "vec_id",
            rnd(F.col("nrm"), 4).alias("norm"),
            F.aggregate("qv", F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
            F.array_min("qv").alias("q_min"),
            F.array_max("qv").alias("q_max"),
        )
    )


def gram_matrix(df: DataFrame, vec_col: str) -> DataFrame:
    """Upper-triangle gram matrix of a vector column: per-Arrow-batch numpy
    E^T·E partials merged through one d²-row shuffle. Returns (j, k, g)
    with raw double sums (caller rounds/normalizes); eigendecompose
    driver-side for PCA."""
    src = df.select(F.col(vec_col).alias("embedding"))

    def partial_gram(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            gram = mat.T @ mat
            ju, ku = np.triu_indices(gram.shape[0])
            yield pd.DataFrame(
                {
                    "j": ju.astype(np.int32),
                    "k": ku.astype(np.int32),
                    "partial": gram[ju, ku],
                }
            )

    partials = src.mapInPandas(
        partial_gram, schema="j int, k int, partial double"
    )
    return partials.groupBy("j", "k").agg(F.sum("partial").alias("g"))


@op(
    "emb_gram_matrix",
    oracle="""
        WITH dims AS (SELECT CAST(u.i AS INTEGER) AS d
                      FROM unnest(range(0, 64)) AS u(i)),
        e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings)
        SELECT a.d AS j, b.d AS k,
               floor(sum(v[a.d + 1] * v[b.d + 1]) * 10000.0 + 0.505)
                   / 10000.0 AS g
        FROM e, dims a, dims b
        WHERE a.d <= b.d
        GROUP BY 1, 2
    """,
    scale=(
        "The d×d gram/covariance matrix — the distributed primitive behind "
        "PCA, whitening, and OPQ rotation for ANN indexes. Per Arrow batch "
        "a numpy E^T·E partial (d² floats, computed at BLAS speed) is "
        "emitted, then ONE tiny shuffle of d²-row partials merges them: "
        "row count never crosses the wire, so 100 TB of embeddings costs "
        "scan bandwidth + a 2080-row exchange. Eigendecomposition of the "
        "result is a driver-side O(d³) numpy call."
    ),
)
def emb_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle gram matrix G[j,k] = Σ_vec e_j·e_k over all
    embeddings (float64 accumulation, rounded 4 dp)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return gram_matrix(emb, "embedding").select(
        "j", "k", rnd(F.col("g"), 4).alias("g")
    )


@op(
    "emb_kmeans_one_iter",
    oracle="""
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
                               * 1000000.0 + 0.505) AS BIGINT) * 8 + c.cid) AS cid
            FROM embeddings e, cent c
            GROUP BY e.vec_id
        )
        SELECT a.cid,
               count(*) AS n_members,
               floor((avg(e.embedding[1]::DOUBLE)) * 10000.0 + 0.505)
                   / 10000.0 AS new_c0,
               floor((avg(e.embedding[2]::DOUBLE)) * 10000.0 + 0.505)
                   / 10000.0 AS new_c1
        FROM assigned a JOIN embeddings e ON e.vec_id = a.vec_id
        GROUP BY a.cid
    """,
    scale=(
        "One Lloyd iteration, the iterative-ML template: k centroids "
        "BROADCAST against the corpus (k·d doubles — never a shuffle of "
        "vectors), per-row nearest-centroid via a codegen HOF distance, "
        "then ONE partial agg producing the k·d update. 100 TB per "
        "iteration = scan + broadcast + k-row exchange; convergence loops "
        "this plan exactly like graph_pagerank_lite. Distances are "
        "eps-floor-rounded before the argmin with a centroid-id tie-break, "
        "so assignment is bit-identical across engines and partitionings."
    ),
)
def emb_kmeans_one_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means (k=8) assignment+update pass over the embeddings:
    deterministic init (vec_id < 8), L2² nearest-centroid assignment,
    per-centroid member count + first-2-dim updated means."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    assigned = (
        emb.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "embedding",
            "cid",
            centroid_ord(sq_l2("embedding", "cv"), 8, "cid").alias("ord"),
        )
        .groupBy("vec_id")
        .agg(
            F.min_by("cid", "ord").alias("cid"),
            F.first("embedding").alias("embedding"),
        )
    )
    return assigned.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members"),
        rnd(F.avg(F.col("embedding")[0].cast("double")), 4).alias("new_c0"),
        rnd(F.avg(F.col("embedding")[1].cast("double")), 4).alias("new_c1"),
    )


@op(
    "sim_rerank_two_stage",
    oracle=f"""
        WITH q AS (
            SELECT embedding::DOUBLE[] AS qe,
                   sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                                x -> x * x))) AS qnrm
            FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
        ),
        qq AS (
            SELECT qe, list_transform(qe, x -> CAST(floor(x / qnrm * 127.0
                                                          + 0.505) AS BIGINT)) AS qqv
            FROM q
        ),
        cand AS (
            SELECT vec_id, embedding::DOUBLE[] AS e,
                   list_transform(embedding::DOUBLE[],
                       x -> CAST(floor(x / sqrt(list_sum(list_transform(
                                embedding::DOUBLE[], y -> y * y))) * 127.0
                                + 0.505) AS BIGINT)) AS qv
            FROM embeddings WHERE vec_id <> {QUERY_VEC_ID}
        ),
        stage1 AS (
            SELECT vec_id, e,
                   CAST(list_dot_product(qv, qqv) AS BIGINT) AS coarse_score
            FROM cand, qq
            ORDER BY coarse_score DESC, vec_id LIMIT 50
        )
        SELECT vec_id, coarse_score,
               floor(list_cosine_similarity(e, qe) * 1000000.0 + 0.505)
                   / 1000000.0 AS sim
        FROM stage1, qq
        ORDER BY sim DESC, vec_id LIMIT 10
    """,
    scale=(
        "The retrieval cascade: stage 1 scores EVERY vector with the int8 "
        "quantized dot (4× less bandwidth, SIMD-friendly integer math, "
        "exact-deterministic ordering) and keeps 50 via TakeOrdered — "
        "zero shuffles; stage 2 reranks only those 50 with the exact "
        "float cosine. At billions of vectors stage 1 is the only "
        "full-scan cost, and its candidate count (not corpus size) "
        "bounds the expensive math — the cost/recall knob every vector "
        "store exposes."
    ),
)
def sim_rerank_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN: int8-quantized dot-product top-50, exact-cosine
    rerank to top-10 (query = vec_id 0)."""
    emb = emb_with_norm(spark, sf_dir)
    qrow = emb.where(F.col("vec_id") == QUERY_VEC_ID).first()
    qe = [float(x) for x in qrow["embedding"]]
    qnrm = sum(x * x for x in qe) ** 0.5

    qqv = [int(math.floor(x / qnrm * 127.0 + 0.505)) for x in qe]

    cand = emb.where(F.col("vec_id") != QUERY_VEC_ID)
    qv = F.transform(
        F.col("embedding"),
        lambda x: F.floor(
            x.cast("double") / F.col("norm") * 127.0 + F.lit(0.505)
        ).cast("long"),
    )
    coarse = F.aggregate(
        F.zip_with(
            qv,
            F.array(*[F.lit(v) for v in qqv]),
            lambda a, b: a * b,
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    stage1 = (
        cand.select("vec_id", "embedding", "norm", coarse.alias("coarse_score"))
        .orderBy(F.desc("coarse_score"), F.asc("vec_id"))
        .limit(50)
    )
    dot_expr = F.lit(0.0)
    for i, w in enumerate(qe):
        dot_expr = dot_expr + F.col("embedding")[i].cast("double") * F.lit(w)
    sim = dot_expr / (F.col("norm") * F.lit(qnrm))
    return (
        stage1.select("vec_id", "coarse_score", rnd(sim, 6).alias("sim"))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(10)
    )


@op(
    "emb_centroid_diagnostics",
    oracle="""
        WITH expl AS (
            SELECT label, u.i AS pos,
                   embedding[CAST(u.i AS INTEGER)]::DOUBLE AS v
            FROM embeddings, unnest(range(1, 65)) AS u(i)
        ),
        cent AS (SELECT label, pos, avg(v) AS c FROM expl GROUP BY label, pos),
        carr AS (SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label)
        SELECT e.label,
               count(*) AS n_vectors,
               floor((any_value(sqrt(list_sum(list_transform(cv, x -> x * x)))))
                     * 10000.0 + 0.505) / 10000.0 AS centroid_norm,
               floor((avg(list_cosine_similarity(e.embedding::DOUBLE[], cv)))
                     * 10000.0 + 0.505) / 10000.0 AS avg_cos_to_centroid
        FROM embeddings e JOIN carr USING (label)
        GROUP BY e.label
    """,
    scale=(
        "Per-class embedding diagnostics (centroid norm + mean cosine "
        "cohesion — the drift/collapse monitor for embedding pipelines): "
        "centroids are one partial agg over (label, dim) — k·d rows of "
        "mergeable state — broadcast back for the cohesion pass. Two "
        "scans, no row-level shuffle; the same plan feeds kmeans_step "
        "when the diagnostics say re-cluster."
    ),
)
def emb_centroid_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector count, centroid L2 norm, and average cosine of
    members to their centroid."""
    emb = load_table(spark, sf_dir, "embeddings")
    expl = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    cent = expl.groupBy("label", "pos").agg(
        F.avg(F.col("v").cast("double")).alias("c")
    )
    carr = cent.groupBy("label").agg(
        F.expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)").alias(
            "cv"
        )
    )
    joined = emb.join(F.broadcast(carr), "label").select(
        "label",
        l2norm(F.col("cv")).alias("cnorm"),
        cosine(F.col("embedding"), F.col("cv")).alias("cos"),
    )
    return joined.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        rnd(F.first("cnorm"), 4).alias("centroid_norm"),
        rnd(F.avg("cos"), 4).alias("avg_cos_to_centroid"),
    )


@op(
    "emb_outlier_gate",
    oracle="""
        WITH expl AS (
            SELECT label, vec_id, u.i AS pos,
                   embedding[CAST(u.i AS INTEGER)]::DOUBLE AS v
            FROM embeddings, unnest(range(1, 65)) AS u(i)
        ),
        cent AS (SELECT label, pos, avg(v) AS c FROM expl GROUP BY label, pos),
        carr AS (SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label),
        coss AS (
            SELECT e.label, e.vec_id,
                   floor(list_cosine_similarity(e.embedding::DOUBLE[], cv)
                         * 1000000.0 + 0.505) / 1000000.0 AS cos
            FROM embeddings e JOIN carr USING (label)
        ),
        stats AS (
            SELECT label,
                   floor(avg(cos) * 1000000.0 + 0.505) / 1000000.0 AS mu,
                   floor(stddev_pop(cos) * 1000000.0 + 0.505) / 1000000.0 AS sd
            FROM coss GROUP BY label
        )
        SELECT c.label,
               count(*) AS n_vectors,
               CAST(count_if(c.cos < s.mu - 2.0 * s.sd) AS BIGINT) AS n_outliers
        FROM coss c JOIN stats s USING (label)
        GROUP BY c.label
    """,
    scale=(
        "Embedding outlier gate (cohesion z-test vs the class centroid): "
        "three broadcast-sized aggregates — centroids (k·d), per-class "
        "cosine moments (k rows) — and two scans; no row-level shuffle. "
        "Every comparison operates on eps-floor-rounded values so the "
        "outlier threshold cut is bit-identical across engines. The "
        "mislabeled/corrupt-vector filter that runs before ANN index "
        "builds."
    ),
)
def emb_outlier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label count of vectors whose centroid-cosine falls more than
    2 population-stddevs below the class mean (rounded thresholds)."""
    emb = load_table(spark, sf_dir, "embeddings")
    expl = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    cent = expl.groupBy("label", "pos").agg(
        F.avg(F.col("v").cast("double")).alias("c")
    )
    carr = cent.groupBy("label").agg(
        F.expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)").alias(
            "cv"
        )
    )
    coss = emb.join(F.broadcast(carr), "label").select(
        "label",
        "vec_id",
        rnd(cosine(F.col("embedding"), F.col("cv")), 6).alias("cos"),
    )
    stats = coss.groupBy("label").agg(
        rnd(F.avg("cos"), 6).alias("mu"),
        rnd(F.stddev_pop("cos"), 6).alias("sd"),
    )
    return (
        coss.join(F.broadcast(stats), "label")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.count_if(
                F.col("cos") < F.col("mu") - F.lit(2.0) * F.col("sd")
            ).alias("n_outliers"),
        )
    )


def hamming_knn(
    df: DataFrame, vec_col: str, id_col: str, query_id, k: int = 10
) -> DataFrame:
    """Sign-bit Hamming top-k of 64-dim vectors: vectors compress to two
    packed 32-bit sign halves; distance is popcount(xor). Returns (id_col,
    hamming) for the ``k`` nearest to ``query_id``'s vector, ties broken by
    id. First-pass ANN filter — re-rank the survivors with exact cosine."""
    sigs = df.select(
        id_col,
        sign_bits(vec_col, 1, 32).alias("sig_lo"),
        sign_bits(vec_col, 33, 64).alias("sig_hi"),
    )
    q = sigs.where(F.col(id_col) == query_id).select(
        F.col("sig_lo").alias("q_lo"), F.col("sig_hi").alias("q_hi")
    )
    return (
        sigs.where(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            id_col,
            (
                F.bit_count(F.expr("sig_lo ^ q_lo"))
                + F.bit_count(F.expr("sig_hi ^ q_hi"))
            ).cast("int").alias("hamming"),
        )
        .orderBy("hamming", id_col)
        .limit(k)
    )


@op(
    "emb_hamming_knn",
    oracle="""
        WITH sigs AS (
            SELECT vec_id,
                   CAST(list_sum(list_transform(range(1, 33),
                       i -> CASE WHEN embedding[i] > 0
                                 THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT
                            END)) AS BIGINT) AS sig_lo,
                   CAST(list_sum(list_transform(range(33, 65),
                       i -> CASE WHEN embedding[i] > 0
                                 THEN (1::BIGINT << (i - 33)) ELSE 0::BIGINT
                            END)) AS BIGINT) AS sig_hi
            FROM embeddings
        ),
        q AS (SELECT sig_lo AS q_lo, sig_hi AS q_hi FROM sigs WHERE vec_id = 0)
        SELECT s.vec_id,
               CAST(bit_count(xor(s.sig_lo, q.q_lo))
                    + bit_count(xor(s.sig_hi, q.q_hi)) AS INTEGER) AS hamming
        FROM sigs s CROSS JOIN q
        WHERE s.vec_id <> 0
        ORDER BY hamming, s.vec_id
        LIMIT 10
    """,
    scale=(
        "Binary-signature ANN: each 64-dim float vector compresses to a "
        "64-bit sign signature (two 32-bit halves packed into BIGINTs), "
        "and similarity becomes popcount(xor) — 8 bytes per vector instead "
        "of 256, so a 100 TB float corpus becomes a ~3 TB bit corpus that "
        "scans at memory bandwidth. Signatures are computed map-only from "
        "built-in HOF exprs (aggregate over sequence — no UDF); the query "
        "signature is a 1-row broadcast; top-k is TakeOrderedAndProject "
        "(no global sort). The standard first-pass filter before exact "
        "re-ranking (see sim_rerank_two_stage)."
    ),
)
def emb_hamming_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 nearest neighbours by sign-bit Hamming distance to vec 0."""
    emb = load_table(spark, sf_dir, "embeddings")
    return hamming_knn(emb, "embedding", "vec_id", 0, k=10)


@op(
    "emb_pca_power_iter",
    oracle=f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        x AS (
            SELECT vec_id, CAST(u.i AS INTEGER) AS j, v[u.i + 1] AS x
            FROM e, unnest(range(0, 64)) AS u(i)
        ),
        s1 AS (SELECT vec_id, sum(x) / 8.0 AS s FROM x GROUP BY vec_id),
        v1 AS (
            SELECT j, sum(x.x * s1.s) AS v1
            FROM x JOIN s1 USING (vec_id) GROUP BY j
        ),
        v1n AS (SELECT j, v1 / sqrt(sum(v1 * v1) OVER ()) AS v1n FROM v1),
        s2 AS (
            SELECT vec_id, sum(x.x * v1n.v1n) AS s2
            FROM x JOIN v1n USING (j) GROUP BY vec_id
        ),
        v2 AS (
            SELECT j, sum(x.x * s2.s2) AS v2
            FROM x JOIN s2 USING (vec_id) GROUP BY j
        ),
        nrm AS (SELECT j, v2, sqrt(sum(v2 * v2) OVER ()) AS n2 FROM v2),
        lam AS (
            SELECT sum(v1n.v1n * v2.v2) AS l FROM v1n JOIN v2 USING (j)
        )
        SELECT nrm.j, {sql_rnd("v2 / n2", 4)} AS loading,
               (SELECT {sql_rnd("l")} FROM lam) AS eigenvalue
        FROM nrm
    """,
    scale=(
        "Top principal component by TWO power-iteration matvecs that never "
        "materialize the gram matrix: v_{{t+1}} = Σ_i e_i (e_i·v_t), i.e. "
        "each pass is a per-row dot product (map-only against the broadcast "
        "64-row v_t) followed by a d-row weighted-sum agg — the Krylov "
        "pattern that scales to 100 TB because the shuffle carries d rows "
        "per partition, not d² and not N. Start vector is the constant "
        "1/8-vector so the first dot product folds into a row-local HOF. "
        "The Rayleigh quotient v_t·v_{{t+1}} estimates the eigenvalue. "
        "More iterations = repeat pass 2; convergence is |corpus|-free."
    ),
)
def emb_pca_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two power-iteration steps toward the top PCA loading vector."""

    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("j", "x"),
    )
    s1 = emb.select(
        "vec_id",
        (
            F.aggregate(
                F.col("embedding").cast("array<double>"),
                F.lit(0.0),
                lambda a, b: a + b,
            )
            / F.lit(8.0)
        ).alias("s"),
    )
    v1 = (
        x.join(s1, "vec_id")
        .groupBy("j")
        .agg(F.sum(F.col("x") * F.col("s")).alias("v1"))
    )
    wall = Window.partitionBy()
    v1n = v1.select(
        "j",
        (
            F.col("v1")
            / F.sqrt(F.sum(F.col("v1") * F.col("v1")).over(wall))
        ).alias("v1n"),
    )
    s2 = (
        x.join(F.broadcast(v1n), "j")
        .groupBy("vec_id")
        .agg(F.sum(F.col("x") * F.col("v1n")).alias("s2"))
    )
    v2 = (
        x.join(s2, "vec_id")
        .groupBy("j")
        .agg(F.sum(F.col("x") * F.col("s2")).alias("v2"))
    )
    lam = (
        v2.join(F.broadcast(v1n), "j")
        .agg(rnd(F.sum(F.col("v1n") * F.col("v2"))).alias("eigenvalue"))
    )
    nrm = v2.select(
        "j",
        rnd(
            F.col("v2") / F.sqrt(F.sum(F.col("v2") * F.col("v2")).over(wall)),
            4,
        ).alias("loading"),
    )
    return nrm.crossJoin(F.broadcast(lam))


@op(
    "emb_dim_variance_prune",
    oracle=f"""
        WITH x AS (
            SELECT CAST(u.i AS INTEGER) AS j,
                   (embedding::DOUBLE[])[u.i + 1] AS x
            FROM embeddings, unnest(range(0, 64)) AS u(i)
        ),
        v AS (
            SELECT j, var_pop(x) AS vj FROM x GROUP BY j
        ),
        r AS (
            SELECT j, {sql_rnd("vj", 6)} AS variance,
                   row_number() OVER (
                       ORDER BY {sql_rnd("vj", 6)} DESC, j
                   ) AS rk
            FROM v
        )
        SELECT j, variance, CAST(rk AS BIGINT) AS rk
        FROM r WHERE rk <= 16
    """,
    scale=(
        "Per-dimension variance ranking — the feature-pruning half of "
        "dimensionality reduction (keep the 16 highest-variance dims "
        "before an expensive PCA/OPQ pass). var_pop keeps a 3-value "
        "mergeable moment state per dimension, so the shuffle carries 64 "
        "partials per map task at any corpus size; ranking happens on 64 "
        "rows. Ordering ties break on the rounded variance THEN j so the "
        "cut is engine-identical."
    ),
)
def emb_dim_variance_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-16 embedding dimensions by population variance."""

    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("j", "x")
    )
    v = x.groupBy("j").agg(rnd(F.var_pop("x"), 6).alias("variance"))
    r = v.withColumn(
        "rk",
        F.row_number()
        .over(Window.orderBy(F.desc("variance"), "j"))
        .cast("long"),
    )
    return r.where(F.col("rk") <= 16)


@op(
    "sim_pq_assign",
    oracle="""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        ),
        sub AS (
            SELECT vec_id, s.s AS s, emb[CAST(s.s*8+1 AS BIGINT) : CAST(s.s*8+8 AS BIGINT)] AS v
            FROM e, unnest(range(8)) AS s(s)
        ),
        cw AS (
            SELECT vec_id AS code, s, v AS c FROM sub WHERE vec_id < 8
        ),
        d AS (
            SELECT sub.vec_id, sub.s, cw.code,
                   CAST(floor(list_aggregate(
                       list_transform(range(1, 9),
                                      i -> (sub.v[i]-cw.c[i])*(sub.v[i]-cw.c[i])),
                       'sum') * 10000 + 0.505) AS BIGINT) AS idist
            FROM sub JOIN cw USING (s)
        ),
        a AS (
            SELECT vec_id, s, code, idist,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY idist, code) AS rk
            FROM d
        )
        SELECT CAST(s AS BIGINT) AS subspace, CAST(code AS BIGINT) AS code,
               CAST(count(*) AS BIGINT) AS n_assigned,
               floor(sum(idist) / (count(*) * 10000.0) * 10000.0 + 0.505)
                   / 10000.0 AS avg_qerr
        FROM a WHERE rk = 1 GROUP BY s, code
    """,
    scale=(
        "Product quantization assignment — the index-build half of "
        "IVF-PQ, the standard billion-vector ANN format: 64 dims split "
        "into 8 subspaces, each vector's subvector snapped to the nearest "
        "of 8 codewords, compressing 256 B vectors to 8 B codes. The "
        "codebook is 64 tiny rows broadcast everywhere; the per-vector "
        "work is a map-side 8x8 distance table + argmin (no shuffle "
        "beyond the final 64-row histogram). Distances are quantized to "
        "integer 1e-4 units BEFORE argmin/sum so assignment and stats "
        "are bit-identical across engines and partial-agg orders."
    ),
)
def sim_pq_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ: assign each (vector, subspace) to its nearest codeword; emit the
    per-(subspace, code) assignment histogram with mean quantization error.

    Codewords are the first 8 vectors (vec_id < 8) sliced per subspace —
    a deterministic stand-in for per-subspace k-means training.
    """

    emb = load_table(spark, sf_dir, "embeddings")
    subspaces = F.array(*[F.lit(i) for i in range(8)])
    sub = emb.select(
        "vec_id",
        F.explode(subspaces).alias("s"),
        F.col("embedding").cast("array<double>").alias("emb"),
    ).select(
        "vec_id", "s", F.slice("emb", F.col("s") * 8 + 1, 8).alias("v")
    )
    cw = sub.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("code"), "s", F.col("v").alias("c")
    )
    sqdist = sq_l2("v", "c")
    d = sub.join(F.broadcast(cw), "s").select(
        "vec_id",
        "s",
        "code",
        F.floor(sqdist * 10000 + 0.505).cast("long").alias("idist"),
    )
    a = d.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("vec_id", "s").orderBy("idist", "code")
        ),
    ).where(F.col("rk") == 1)
    return a.groupBy(
        F.col("s").cast("long").alias("subspace"),
        F.col("code").cast("long").alias("code"),
    ).agg(
        F.count("*").alias("n_assigned"),
        rnd(F.sum("idist") / (F.count("*") * 10000.0), 4).alias("avg_qerr"),
    )


@op(
    "sim_threshold_sweep",
    oracle="""
        WITH pairs AS (
            SELECT a.vec_id AS va, b.vec_id AS vb,
                   floor((list_cosine_similarity(a.embedding::DOUBLE[],
                                                 b.embedding::DOUBLE[]))
                         * 10000.0 + 0.505) / 10000.0 AS sim
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
        )
        SELECT t.t AS threshold,
               CAST(count(*) FILTER (WHERE sim >= t.t) AS BIGINT) AS n_pairs,
               CAST(count(DISTINCT CASE WHEN sim >= t.t THEN vb END)
                    AS BIGINT) AS n_docs_flagged
        FROM pairs, (VALUES (0.25), (0.30), (0.35), (0.40)) t(t)
        GROUP BY t.t
    """,
    scale=(
        "Dedup-threshold calibration: ONE blocked pair join scanned once, "
        "all candidate thresholds evaluated as conditional aggregates over "
        "the same pair stream — never one pair join per threshold. The "
        "output (pairs + docs removed per threshold) is the curve an "
        "operator reads before committing a near-dup cut on the full "
        "corpus; at 100 TB the pair stream comes from the LSH-band join "
        "and this sweep rides it for free. Counts on ROUNDED sims — "
        "engine-exact set membership at every threshold."
    ),
)
def sim_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair/doc counts at each candidate cosine threshold, from one
    label-blocked pair join (precomputed norms + one dot fold per pair —
    bit-identical to ``cosine``, r12 kernel lesson)."""
    emb = emb_with_norm(spark, sf_dir)
    a = emb.alias("a")
    b = emb.alias("b")
    pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("b.vec_id").alias("vb"),
        rnd(
            dot(F.col("a.embedding"), F.col("b.embedding"))
            / (F.col("a.norm") * F.col("b.norm")),
            4,
        ).alias("sim"),
    )
    thresholds = F.explode(
        F.array(*[F.lit(t) for t in (0.25, 0.30, 0.35, 0.40)])
    ).alias("threshold")
    return (
        pairs.select("*", thresholds)
        .groupBy("threshold")
        .agg(
            F.count(F.when(F.col("sim") >= F.col("threshold"), 1)).alias(
                "n_pairs"
            ),
            F.countDistinct(
                F.when(F.col("sim") >= F.col("threshold"), F.col("vb"))
            ).alias("n_docs_flagged"),
        )
    )


@op(
    "emb_quantization_recall",
    oracle="""
        WITH sigs AS (
            SELECT vec_id,
                   CAST(list_sum(list_transform(range(1, 33),
                       i -> CASE WHEN embedding[i] > 0
                                 THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT
                            END)) AS BIGINT) AS sig_lo,
                   CAST(list_sum(list_transform(range(33, 65),
                       i -> CASE WHEN embedding[i] > 0
                                 THEN (1::BIGINT << (i - 33)) ELSE 0::BIGINT
                            END)) AS BIGINT) AS sig_hi
            FROM embeddings
        ),
        exact AS (
            SELECT q.vec_id AS q_id, e.vec_id,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY
                       floor((list_cosine_similarity(e.embedding::DOUBLE[],
                             q.embedding::DOUBLE[])) * 10000.0 + 0.505)
                           / 10000.0 DESC,
                       e.vec_id) AS rk
            FROM embeddings e JOIN embeddings q
              ON q.vec_id < 5 AND e.vec_id <> q.vec_id
        ),
        ham AS (
            SELECT q.vec_id AS q_id, s.vec_id,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY
                       bit_count(xor(s.sig_lo, qs.sig_lo))
                       + bit_count(xor(s.sig_hi, qs.sig_hi)),
                       s.vec_id) AS rk
            FROM sigs s
            JOIN embeddings q ON q.vec_id < 5 AND s.vec_id <> q.vec_id
            JOIN sigs qs ON qs.vec_id = q.vec_id
        )
        SELECT e.q_id,
               CAST(count(h.vec_id) AS BIGINT) AS n_overlap,
               floor(count(h.vec_id) / 10.0 * 100.0 + 0.505) / 100.0
                   AS recall_at_10
        FROM (SELECT * FROM exact WHERE rk <= 10) e
        LEFT JOIN (SELECT * FROM ham WHERE rk <= 10) h
          ON e.q_id = h.q_id AND e.vec_id = h.vec_id
        GROUP BY e.q_id
    """,
    scale=(
        "Quantization-recall audit — the measurement that licenses the "
        "256B->8B sign-bit compression (emb_hamming_knn) as a first-pass "
        "filter: exact cosine top-10 vs Hamming top-10 overlap for a "
        "query panel. Both retrieval paths are broadcast-query scans "
        "(no corpus self-shuffle); the audit runs on a sampled panel at "
        "100 TB, and its recall@k output sets the re-rank depth in "
        "sim_rerank_two_stage (recall too low -> widen the candidate "
        "pool, never trust the bits blindly)."
    ),
)
def emb_quantization_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of sign-bit Hamming retrieval vs exact cosine, for query
    vectors 0..4."""

    emb = load_table(spark, sf_dir, "embeddings")

    sigs = emb.select(
        "vec_id",
        sign_bits("embedding", 1, 32).alias("sig_lo"),
        sign_bits("embedding", 33, 64).alias("sig_hi"),
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    qsigs = sigs.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("sig_lo").alias("q_lo"),
        F.col("sig_hi").alias("q_hi"),
    )
    exact = (
        emb.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            rnd(cosine(F.col("embedding"), F.col("q_emb")), 4).alias("sim"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(F.desc("sim"), "vec_id")
            ),
        )
        .where(F.col("rk") <= 10)
    )
    ham = (
        sigs.crossJoin(F.broadcast(qsigs))
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            (
                F.bit_count(F.expr("sig_lo ^ q_lo"))
                + F.bit_count(F.expr("sig_hi ^ q_hi"))
            ).alias("hd"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy("hd", "vec_id")
            ),
        )
        .where(F.col("rk") <= 10)
    )
    joined = exact.select("q_id", "vec_id").join(
        ham.select(F.col("q_id").alias("hq"), F.col("vec_id").alias("hv")),
        (F.col("q_id") == F.col("hq")) & (F.col("vec_id") == F.col("hv")),
        "left",
    )
    return joined.groupBy("q_id").agg(
        F.count("hv").alias("n_overlap"),
        rnd(F.count("hv") / 10.0, 2).alias("recall_at_10"),
    )


@op(
    "emb_mips_transform",
    oracle="""
        WITH norms AS (
            SELECT vec_id, label,
                   sqrt(list_aggregate(list_transform(
                       CAST(embedding AS DOUBLE[]), x -> x * x), 'sum'))
                       AS nrm
            FROM embeddings
        ),
        m AS (SELECT max(nrm) AS mx FROM norms),
        aug AS (
            SELECT label, nrm,
                   sqrt(mx * mx - nrm * nrm) AS aug_dim,
                   floor(sqrt(nrm * nrm + (mx * mx - nrm * nrm))
                         * 10000.0 + 0.505) / 10000.0 AS aug_norm,
                   floor(mx * 10000.0 + 0.505) / 10000.0 AS mx_r
            FROM norms, m
        )
        SELECT label,
               CAST(count(*) AS BIGINT) AS n,
               floor(avg(aug_dim) * 10000.0 + 0.505) / 10000.0 AS avg_aug_dim,
               CAST(count(*) FILTER (WHERE aug_norm = mx_r) AS BIGINT)
                   AS n_norm_equalized
        FROM aug GROUP BY label
    """,
    scale=(
        "MIPS-to-cosine reduction (asymmetric augmentation): append one "
        "dimension sqrt(M^2 - ||x||^2) so every corpus vector's norm "
        "equals the global max M — after which maximum inner product "
        "search IS cosine search and every cosine-ANN structure "
        "(sim_ann_lsh, sim_pq_assign, emb_hamming_knn) applies "
        "unchanged. M is a 1-row broadcast max; the augmentation is "
        "map-only; the op audits that equalization holds (rounded) for "
        "every vector. The standard index-prep step for recommender "
        "retrieval at scale."
    ),
)
def emb_mips_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Augment vectors with the MIPS dimension; audit per-label that all
    augmented norms equal the global max norm."""
    emb = load_table(spark, sf_dir, "embeddings")
    norms = emb.select("vec_id", "label", l2norm(F.col("embedding")).alias("nrm"))
    m = norms.agg(F.max("nrm").alias("mx"))
    aug = norms.crossJoin(F.broadcast(m)).select(
        "label",
        F.sqrt(F.col("mx") * F.col("mx") - F.col("nrm") * F.col("nrm")).alias(
            "aug_dim"
        ),
        rnd(
            F.sqrt(
                F.col("nrm") * F.col("nrm")
                + (F.col("mx") * F.col("mx") - F.col("nrm") * F.col("nrm"))
            ),
            4,
        ).alias("aug_norm"),
        rnd(F.col("mx"), 4).alias("mx_r"),
    )
    return aug.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        rnd(F.avg("aug_dim"), 4).alias("avg_aug_dim"),
        F.count(F.when(F.col("aug_norm") == F.col("mx_r"), 1)).alias(
            "n_norm_equalized"
        ),
    )


@op(
    "sim_index_build_report",
    oracle="""
        WITH n AS (SELECT CAST(count(*) AS BIGINT) AS c,
                          CAST(count(DISTINCT label) AS BIGINT) AS k
                   FROM embeddings)
        SELECT 'float_vectors' AS artifact, c AS rows,
               CAST(c * 256 AS BIGINT) AS bytes_est FROM n
        UNION ALL
        SELECT 'l2_norms', c, CAST(c * 8 AS BIGINT) FROM n
        UNION ALL
        SELECT 'sign_bits', c, CAST(c * 8 AS BIGINT) FROM n
        UNION ALL
        SELECT 'pq_codes', c, CAST(c * 8 AS BIGINT) FROM n
        UNION ALL
        SELECT 'ivf_centroids', k, CAST(k * 256 AS BIGINT) FROM n
    """,
    scale=(
        "Vector-index build manifest — the artifact inventory one "
        "index-build job produces in a single corpus pass: raw floats "
        "(256 B/vec), L2 norms (8 B), sign-bit signatures (8 B), PQ "
        "codes (8 B), and |labels| IVF centroids — i.e. the 32x "
        "compression ladder (sim_knn_cosine -> emb_hamming_knn -> "
        "sim_pq_assign -> sim_ivf_probe) priced in bytes. At 100 TB "
        "this report is what decides which tier fits in executor "
        "memory; all counts are one tiny aggregate."
    ),
)
def sim_index_build_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-cost inventory of every ANN index artifact for the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.agg(
        F.count(F.lit(1)).alias("c"),
        F.countDistinct("label").alias("k"),
    )
    rows = []
    for name, cnt, per in [
        ("float_vectors", "c", 256),
        ("l2_norms", "c", 8),
        ("sign_bits", "c", 8),
        ("pq_codes", "c", 8),
        ("ivf_centroids", "k", 256),
    ]:
        rows.append(
            n.select(
                F.lit(name).alias("artifact"),
                F.col(cnt).alias("rows"),
                (F.col(cnt) * per).cast("long").alias("bytes_est"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


@op(
    "emb_knn_graph",
    oracle="""
        WITH pairs AS (
            SELECT a.label AS label, a.vec_id AS src, b.vec_id AS dst,
                   floor((list_cosine_similarity(a.embedding::DOUBLE[],
                                                 b.embedding::DOUBLE[]))
                         * 10000.0 + 0.505) / 10000.0 AS sim
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id <> b.vec_id
        ),
        knn AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY src ORDER BY sim DESC, dst) AS rn
                FROM pairs
            ) WHERE rn <= 3
        )
        SELECT k1.label, k1.src AS vec_a, k1.dst AS vec_b, k1.sim
        FROM knn k1 JOIN knn k2
          ON k1.src = k2.dst AND k1.dst = k2.src
        WHERE k1.src < k1.dst
    """,
    scale=(
        "Mutual-kNN graph (the edge set behind kNN-graph clustering and "
        "agglomerative dedup): candidate pairs come from the label block "
        "(stand-in for an LSH/IVF bucket), per-source top-3 is a window "
        "over the block, and mutuality is an equi-self-join on the "
        "directed edge list — which is k·n rows, NOT n², so the join "
        "after the window is linear in corpus size. Rounding happens "
        "BEFORE ranking so tie order is engine-identical. At 100 TB the "
        "block join is the only quadratic term and is bounded by bucket "
        "size, same ladder as sim_pairwise_topk."
    ),
)
def emb_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual top-3 cosine-neighbor edges within each label block."""

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.alias("a")
    b = emb.alias("b")
    pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.label").alias("label"),
        F.col("a.vec_id").alias("src"),
        F.col("b.vec_id").alias("dst"),
        rnd(cosine(F.col("a.embedding"), F.col("b.embedding")), 4).alias(
            "sim"
        ),
    )
    w = Window.partitionBy("src").orderBy(F.desc("sim"), F.asc("dst"))
    knn = (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .drop("rn")
    )
    k1 = knn.alias("k1")
    k2 = knn.alias("k2")
    return (
        k1.join(
            k2,
            (F.col("k1.src") == F.col("k2.dst"))
            & (F.col("k1.dst") == F.col("k2.src")),
        )
        .where(F.col("k1.src") < F.col("k1.dst"))
        .select(
            F.col("k1.label").alias("label"),
            F.col("k1.src").alias("vec_a"),
            F.col("k1.dst").alias("vec_b"),
            F.col("k1.sim").alias("sim"),
        )
    )


@op(
    "emb_centroid_confusion",
    oracle="""
        WITH c AS (
            SELECT label AS clabel, i.i AS pos,
                   floor((avg(embedding[i.i])) * 1000000.0 + 0.505)
                       / 1000000.0 AS cval
            FROM embeddings, range(1, 65) i(i)
            GROUP BY 1, 2
        ),
        cn AS (SELECT clabel, sqrt(sum(cval * cval)) AS cnorm
               FROM c GROUP BY clabel),
        v AS (
            SELECT vec_id, label AS tlabel, i.i AS pos,
                   CAST(embedding[i.i] AS DOUBLE) AS val
            FROM embeddings, range(1, 65) i(i)
        ),
        vn AS (SELECT vec_id, sqrt(sum(val * val)) AS vnorm
               FROM v GROUP BY vec_id),
        dots AS (
            SELECT v.vec_id, v.tlabel, c.clabel,
                   sum(v.val * c.cval) AS d
            FROM v JOIN c USING (pos) GROUP BY 1, 2, 3
        ),
        scored AS (
            SELECT vec_id, tlabel, clabel,
                   floor((d / (vnorm * cnorm)) * 1000000.0 + 0.505)
                       / 1000000.0 AS cos
            FROM dots JOIN vn USING (vec_id) JOIN cn USING (clabel)
        ),
        assigned AS (
            SELECT tlabel, clabel FROM (
                SELECT tlabel, clabel, row_number() OVER (
                    PARTITION BY vec_id ORDER BY cos DESC, clabel) AS rn
                FROM scored
            ) WHERE rn = 1
        )
        SELECT tlabel AS true_label, clabel AS assigned_label,
               CAST(count(*) AS BIGINT) AS n
        FROM assigned GROUP BY 1, 2
    """,
    scale=(
        "Nearest-centroid confusion matrix — the cluster-quality eval "
        "behind every IVF/k-means index decision. Centroids reduce to "
        "|labels| x dims rows (partial agg), both norm tables are "
        "grouped sums, and the score join fans each vector out only "
        "k=|labels| ways (posexplode join on pos, re-agg per (vec, "
        "centroid)) — linear in corpus x k, never corpus x corpus. "
        "Centroid values round to 1e-6 BEFORE the dot so the argmax "
        "ordering is bit-stable across engines and partition orders. "
        "The confusion aggregate is k x k rows; at 100 TB this whole "
        "eval is one pass over the vectors plus broadcast-sized side "
        "tables."
    ),
)
def emb_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of true label vs nearest-centroid assignment."""

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        F.col("label").alias("tlabel"),
        F.posexplode("embedding").alias("p", "raw"),
    ).select(
        "vec_id",
        "tlabel",
        (F.col("p") + 1).alias("pos"),
        F.col("raw").cast("double").alias("val"),
    )
    c = v.groupBy(
        F.col("tlabel").alias("clabel"), "pos"
    ).agg(rnd(F.avg("val"), 6).alias("cval"))
    cn = c.groupBy("clabel").agg(
        F.sqrt(F.sum(F.col("cval") * F.col("cval"))).alias("cnorm")
    )
    vn = v.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("vnorm")
    )
    dots = (
        v.join(F.broadcast(c), "pos")
        .groupBy("vec_id", "tlabel", "clabel")
        .agg(F.sum(F.col("val") * F.col("cval")).alias("d"))
    )
    scored = (
        dots.join(vn, "vec_id")
        .join(F.broadcast(cn), "clabel")
        .select(
            "vec_id",
            "tlabel",
            "clabel",
            rnd(F.col("d") / (F.col("vnorm") * F.col("cnorm")), 6).alias(
                "cos"
            ),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("clabel"))
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    return assigned.groupBy(
        F.col("tlabel").alias("true_label"),
        F.col("clabel").alias("assigned_label"),
    ).agg(F.count(F.lit(1)).alias("n"))


def _rp_sign_sql() -> str:
    h = (
        "CAST(('0x' || substring(md5(CAST(i.i AS VARCHAR) || ':' "
        "|| CAST(j.j AS VARCHAR)), 1, 15)) AS BIGINT)"
    )
    return f"""
        SELECT i.i AS i, j.j AS j,
               CASE WHEN {h} % 2 = 0 THEN 1.0 ELSE -1.0 END AS s
        FROM range(1, 65) i(i), range(1, 17) j(j)
    """


@op(
    "emb_random_projection",
    oracle=f"""
        WITH sel AS (
            SELECT vec_id, embedding::DOUBLE[] AS e
            FROM embeddings WHERE vec_id < 20
        ),
        dims AS (
            SELECT vec_id, i.i AS i, e[i.i] AS v
            FROM sel, range(1, 65) i(i)
        ),
        signs AS ({_rp_sign_sql()}),
        proj AS (
            SELECT d.vec_id, s.j, sum(d.v * s.s) / 4.0 AS p
            FROM dims d JOIN signs s USING (i) GROUP BY 1, 2
        ),
        d_orig AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   sqrt(sum((a.v - b.v) * (a.v - b.v))) AS dd
            FROM dims a JOIN dims b
              ON a.i = b.i AND a.vec_id < b.vec_id
            GROUP BY 1, 2
        ),
        d_proj AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   sqrt(sum((a.p - b.p) * (a.p - b.p))) AS dp
            FROM proj a JOIN proj b
              ON a.j = b.j AND a.vec_id < b.vec_id
            GROUP BY 1, 2
        )
        SELECT o.vec_a, o.vec_b,
               floor(o.dd * 10000.0 + 0.505) / 10000.0 AS dist_64d,
               floor(p.dp * 10000.0 + 0.505) / 10000.0 AS dist_16d,
               floor((p.dp / o.dd) * 10000.0 + 0.505) / 10000.0
                   AS distortion
        FROM d_orig o JOIN d_proj p USING (vec_a, vec_b)
    """,
    scale=(
        "Johnson-Lindenstrauss random projection 64d -> 16d entirely as "
        "relational ops: the sign matrix is DERIVED (md5 parity of "
        "(i, j) — no stored state, any executor regenerates any tile "
        "deterministically, which is how a projection matrix ships to "
        "1000 executors for free), the projection is an explode-join-"
        "reagg per vector (linear, mergeable partials), and the audit "
        "joins projected vs original pairwise distances on a bounded "
        "panel. Distortion hovering near 1.0 is the JL guarantee the "
        "16d index relies on; this op IS that certification. At 100 TB "
        "project once at ingest, search in 16d, re-rank survivors in "
        "64d (sim_rerank_two_stage)."
    ),
)
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL-project a vector panel 64d->16d and audit pairwise distortion."""

    emb = load_table(spark, sf_dir, "embeddings")
    dims = (
        emb.where(F.col("vec_id") < 20)
        .select("vec_id", F.posexplode("embedding").alias("p", "raw"))
        .select(
            "vec_id",
            (F.col("p") + 1).alias("i"),
            F.col("raw").cast("double").alias("v"),
        )
    )
    signs = (
        spark.range(1, 65)
        .select(F.col("id").cast("int").alias("i"))
        .crossJoin(
            spark.range(1, 17).select(F.col("id").cast("int").alias("j"))
        )
        .select(
            "i",
            "j",
            F.when(
                md5_hash64(F.concat_ws(":", F.col("i"), F.col("j"))) % 2
                == 0,
                1.0,
            ).otherwise(-1.0).alias("s"),
        )
    )
    proj = (
        dims.join(F.broadcast(signs), "i")
        .groupBy("vec_id", "j")
        .agg((F.sum(F.col("v") * F.col("s")) / 4.0).alias("p"))
    )

    def pair_dist(df, key, val):
        a, b = df.alias("a"), df.alias("b")
        return (
            a.join(
                b,
                (F.col(f"a.{key}") == F.col(f"b.{key}"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .groupBy(
                F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
            )
            .agg(
                F.sqrt(
                    F.sum(
                        (F.col(f"a.{val}") - F.col(f"b.{val}"))
                        * (F.col(f"a.{val}") - F.col(f"b.{val}"))
                    )
                ).alias("d")
            )
        )

    d_orig = pair_dist(dims, "i", "v").withColumnRenamed("d", "dd")
    d_proj = pair_dist(proj, "j", "p").withColumnRenamed("d", "dp")
    return d_orig.join(d_proj, ["vec_a", "vec_b"]).select(
        "vec_a",
        "vec_b",
        rnd(F.col("dd"), 4).alias("dist_64d"),
        rnd(F.col("dp"), 4).alias("dist_16d"),
        rnd(F.col("dp") / F.col("dd"), 4).alias("distortion"),
    )


# ---------------------------------------------------------------------------
# IVF probe and truncated-dims prefilter (from the corpus pipeline)
# ---------------------------------------------------------------------------


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


# ---------------------------------------------------------------------------
# IVF ANN with nprobe = 2
# ---------------------------------------------------------------------------


@op(
    "sim_ann_ivf",
    oracle="""
        WITH c AS (
            SELECT j.j,
                   list_transform(
                       generate_series(0, 63),
                       d -> (((j.j * 37 + d * 11) % 19) - 9) / 9.0
                   ) AS cv
            FROM generate_series(0, 15) j(j)
        ), e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), dist AS (
            SELECT e.vec_id, c.j,
                   floor(list_sum(list_transform(
                       generate_series(1, 64),
                       i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])
                   )) * 1000000.0 + 0.505) / 1000000.0 AS d2
            FROM e, c
        ), ranked AS (
            SELECT vec_id, j,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY d2, j
                   ) AS rk
            FROM dist
        ), assign AS (
            SELECT vec_id, j AS bucket FROM ranked WHERE rk = 1
        ), probes AS (
            SELECT vec_id AS qid, j AS bucket FROM ranked
            WHERE rk <= 2 AND vec_id % 50 = 0
        ), cand AS (
            SELECT p.qid, a.vec_id,
                   floor(list_cosine_similarity(eq.v, ev.v)
                         * 10000.0 + 0.505) / 10000.0 AS sim
            FROM probes p
            JOIN assign a ON a.bucket = p.bucket
            JOIN e eq ON eq.vec_id = p.qid
            JOIN e ev ON ev.vec_id = a.vec_id
            WHERE a.vec_id <> p.qid
        ), topk AS (
            SELECT qid, vec_id, sim,
                   row_number() OVER (
                       PARTITION BY qid ORDER BY sim DESC, vec_id
                   ) AS rank
            FROM cand
        )
        SELECT CAST(qid AS BIGINT) AS qid,
               CAST(rank AS INTEGER) AS rank,
               CAST(vec_id AS BIGINT) AS vec_id,
               sim
        FROM topk WHERE rank <= 5
    """,
    scale=(
        "IVF-style ANN, the coarse-quantizer scale path the LSH op's "
        "docstring promises: 16 deterministic hyper-grid centroids, "
        "JVM-only assignment (argmin over a literal centroid array — "
        "map-side, zero shuffle), queries probe their 2 nearest lists "
        "and scan ONLY those candidates. At scale the centroid count "
        "grows ~sqrt(N) and assignment stays a broadcast argmin; the "
        "probe join shuffles candidates, not the corpus. Distances "
        "are rounded at 1e-6 on BOTH sides before the argmin so a "
        "ULP difference between engines cannot flip a bucket."
    ),
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Formula-centroid IVF: assign → probe 2 lists → top-5 cosine."""

    emb = vectors(spark, sf_dir)
    tagged = emb.withColumn("ds", ivf_centroid_dists(F.col("v")))
    assigned = tagged.select(
        "vec_id", "v", F.array_min("ds").getField("j").alias("bucket")
    )
    probes = (
        tagged.where(F.col("vec_id") % 50 == 0)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("v").alias("qv"),
            F.explode(
                F.slice(F.array_sort("ds"), 1, 2).getField("j")
            ).alias("bucket"),
        )
    )
    cand = (
        probes.join(assigned, "bucket")
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            rnd(cosine(F.col("qv"), F.col("v")), 4).alias("sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("sim").desc(), F.col("vec_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select(
            F.col("qid").cast("long"),
            F.col("rank").cast("int"),
            F.col("vec_id").cast("long"),
            "sim",
        )
    )


# ---------------------------------------------------------------------------
# retrieval cascade (VERDICT r8 item 7)
# ---------------------------------------------------------------------------


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
    emb = vectors(spark, sf_dir)
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
    atop = top_k(lc, 5, "nprobe").select("nprobe", "qid", "vec_id")
    q = tagged.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    etop = exact_topk(emb, q, 5)
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
    emb = vectors(spark, sf_dir)
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
    rtop = top_k(rr, 5).select("qid", "vec_id")
    q = eq.where(F.col("qid") % 50 == 0)
    etop = exact_topk(emb, q, 5)
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
# retrieval cascade with a randomized-subspace-sketch prefilter


@op(
    "sim_cascade_sketch_recall_audit",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        x AS (
            SELECT vec_id, CAST(u.i AS INTEGER) AS j, v[u.i + 1] AS x
            FROM e, unnest(range(0, {_DIMS})) AS u(i)
        ),
        omega AS (
            SELECT CAST(t1.j AS INTEGER) AS j, CAST(t2.c AS INTEGER) AS c,
                   1 - 2 * (CAST(('0x' || substring(
                       md5(t1.j || ':' || t2.c), 1, 1)) AS BIGINT) % 2) AS w
            FROM range(0, {_DIMS}) t1(j), range(0, {_SKETCH_K}) t2(c)
        ),
        s AS (
            SELECT x.vec_id, o.c, sum(x.x * o.w) AS p
            FROM x JOIN omega o USING (j) GROUP BY x.vec_id, o.c
        ),
        y AS (
            SELECT x.j, s.c, {sql_rnd("sum(x.x * s.p)", 6)} AS y
            FROM x JOIN s ON s.vec_id = x.vec_id GROUP BY x.j, s.c
        ),
        z AS (
            SELECT x.vec_id, y.c, sum(x.x * y.y) AS p
            FROM x JOIN y USING (j) GROUP BY x.vec_id, y.c
        ),
        coords AS (
            SELECT 'randproj16' AS prefilter, vec_id, c, p FROM s
            UNION ALL
            SELECT 'sketch16' AS prefilter, vec_id, c, p FROM z
        ),
        cn AS (
            SELECT prefilter, vec_id, c, p,
                   sqrt(sum(p * p) OVER (
                       PARTITION BY prefilter, vec_id)) AS nn
            FROM coords
        ),
        td AS (
            SELECT q.prefilter, q.vec_id AS qid, v.vec_id,
                   sum(q.p * v.p) AS tdot,
                   max(q.nn) AS nnq, max(v.nn) AS nnv
            FROM cn q
            JOIN cn v ON v.prefilter = q.prefilter AND v.c = q.c
                     AND v.vec_id <> q.vec_id
            WHERE q.vec_id % 50 = 0
            GROUP BY 1, 2, 3
        ),
        ts AS (
            SELECT prefilter, qid, vec_id,
                   {sql_rnd(sql_guarded_cos("tdot", "nnq", "nnv"), 4)} AS tsim
            FROM td
        ),
        cand AS (
            SELECT prefilter, qid, vec_id FROM (
                SELECT prefilter, qid, vec_id, row_number() OVER (
                    PARTITION BY prefilter, qid ORDER BY tsim DESC, vec_id
                ) AS rank FROM ts
            ) WHERE rank <= 50
        ),
        rr AS (
            SELECT c.prefilter, c.qid, c.vec_id,
                   floor(list_cosine_similarity(q.v, v.v)
                         * 10000.0 + 0.505) / 10000.0 AS sim
            FROM cand c
            JOIN e q ON q.vec_id = c.qid
            JOIN e v ON v.vec_id = c.vec_id
        ),
        rtop AS (
            SELECT prefilter, qid, vec_id FROM (
                SELECT prefilter, qid, vec_id, row_number() OVER (
                    PARTITION BY prefilter, qid ORDER BY sim DESC, vec_id
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
            SELECT r.prefilter, r.qid, count(*) AS hits
            FROM rtop r JOIN etop e2
              ON e2.qid = r.qid AND e2.vec_id = r.vec_id
            GROUP BY r.prefilter, r.qid
        ),
        legs AS (SELECT unnest(['randproj16', 'sketch16']) AS prefilter)
        SELECT l.prefilter,
               CAST(q.vec_id AS BIGINT) AS qid,
               CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
               {sql_rnd("COALESCE(h.hits, 0) / 5.0", 4)} AS recall_at_5
        FROM e q CROSS JOIN legs l
        LEFT JOIN h ON h.qid = q.vec_id AND h.prefilter = l.prefilter
        WHERE q.vec_id % 50 = 0
    """,
    scale=(
        "Prefilter BAKE-OFF for the retrieval cascade (VERDICT r9 item "
        "7): the same top-50 -> exact-rerank tail is driven by two "
        "16-dim projections and audited per query against the exact "
        "top-5 — (a) randproj16, the data-oblivious Johnson-"
        "Lindenstrauss control (a deterministic md5-parity Rademacher "
        "Omega, so both engines derive bit-identical matrices), and "
        "(b) sketch16, one randomized subspace iteration Y = Xt(X "
        "Omega) (the Halko-Martinsson-Tropp 2011 range finder) whose "
        "extra corpus pass adapts the basis to the covariance. On "
        "this near-flat-spectrum fixture the adaptive sketch buys a "
        "small but strictly non-negative recall gain over JL at both "
        "SFs (pinned in tests), while the axis-aligned variance cut "
        "(sim_cascade_recall_audit) stays competitive — exactly the "
        "regime theory predicts; true PCA-16 (offline eigh) scores "
        "0.74 vs 0.60 here, the gap an orthogonalized (QR) sketch "
        "closes off-SQL. Cost shape at 100 TB: the sketch is two "
        "corpus passes, each a map-side product against a broadcast "
        "64x16 matrix with a d*k-row shuffle (never N, never d^2 — "
        "the emb_pca_power_iter Krylov pattern); both audit legs "
        "reuse the proven cascade shape (|sample|*N*16 prefilter, "
        "|sample|*50*64 rerank, sample-bounded exact baseline). The "
        "sketch basis is rounded at 1e-6 before projection and "
        "similarities at 1e-4 before every ranking with vec_id "
        "tie-breaks, so both engines pick identical candidates."
    ),
)
def sim_cascade_sketch_recall_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """JL randproj vs one-iteration covariance sketch, same exact tail."""
    emb = vectors(spark, sf_dir)
    x = emb.select("vec_id", F.posexplode(F.col("v")).alias("j", "x"))

    # deterministic Rademacher Omega: sign from md5("j:c") first-hex parity
    omega = (
        spark.range(_DIMS)
        .select(F.col("id").cast("int").alias("j"))
        .crossJoin(
            spark.range(_SKETCH_K).select(F.col("id").cast("int").alias("c"))
        )
        .select(
            "j",
            "c",
            (
                F.lit(1)
                - F.lit(2)
                * (
                    F.conv(
                        F.substring(
                            F.md5(F.concat_ws(":", F.col("j"), F.col("c"))),
                            1,
                            1,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % 2
                )
            ).alias("w"),
        )
    )
    # s feeds BOTH the sketch's second pass (y) and the coords union —
    # cache the diamond so the Ω-projection agg runs once (wave-18/22
    # cached-diamond pattern; r14 measured 4.28 → 1.97 s warm at
    # sf0.01 with the cn cache below).
    s = (
        x.join(F.broadcast(omega), "j")
        .groupBy("vec_id", "c")
        .agg(F.sum(F.col("x") * F.col("w")).alias("p"))
    ).cache()
    y = (
        x.join(s, "vec_id")
        .groupBy("j", "c")
        .agg(rnd(F.sum(F.col("x") * F.col("p")), 6).alias("y"))
    )
    z = (
        x.join(F.broadcast(y), "j")
        .groupBy("vec_id", "c")
        .agg(F.sum(F.col("x") * F.col("y")).alias("p"))
    )
    coords = s.withColumn("prefilter", F.lit("randproj16")).unionByName(
        z.withColumn("prefilter", F.lit("sketch16"))
    )
    # r15 spill-proof reshape (VERDICT r14 item 5 — same fix as
    # sim_prefilter_quality_report, see wave4.py for the full rationale):
    # per-vector c-sorted coord arrays + precomputed norms replace the
    # k-fold (prefilter, c) join and its 2·N·|sample|-group hash
    # aggregate, which OOM'd a 1 GB heap at ×10. The pair stream is one
    # in-row HOF dot per (query, vector); the rank window's sort spills.
    # Cores-proportional fan-out before the pair join (same rationale as
    # sim_prefilter_quality_report in wave4.py): the partial
    # WindowGroupLimit sorts the pair stream's pre-exchange partitions;
    # fanning out the N-row vector side keeps each of those sorts a few
    # MB at any scale, so the ×10/1 GB harness never hits the spill-merge
    # buffer blow-up. Only N vector rows move, never pairs. No unpersist
    # on cna/s: they feed the RETURNED lazy plan; MEMORY_AND_DISK + LRU
    # bounds a long session (VERDICT r14 item 7).
    fan = 4 * spark.sparkContext.defaultParallelism
    cna = (
        coords.groupBy("prefilter", "vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("c", "p"))),
                lambda st: st["p"],
            ).alias("arr")
        )
        .withColumn("nn", l2norm(F.col("arr")))
        .repartition(fan, "prefilter", "vec_id")
    ).cache()
    cqa = cna.where(F.col("vec_id") % 50 == 0).select(
        "prefilter",
        F.col("vec_id").alias("qid"),
        F.col("arr").alias("qarr"),
        F.col("nn").alias("nnq"),
    )

    # the query side is sample-bounded (|sample| x k coords) — it
    # broadcasts at any corpus size, so the only full-size shuffles
    # are the sketch groupBys themselves. Top-50 rank runs PER LEG over
    # pure-numeric rows (prefilter constant within a branch — identical
    # candidate sets, smaller narrower sorts; see wave4).
    def leg_cand(tag: str) -> DataFrame:
        pairs = (
            cna.where(F.col("prefilter") == tag)
            .join(
                F.broadcast(cqa.where(F.col("prefilter") == tag)),
                "prefilter",
            )
            .where(F.col("vec_id") != F.col("qid"))
            .select(
                "qid",
                "vec_id",
                rnd(
                    guarded_cos(dot("arr", "qarr"), F.col("nnq"), F.col("nn")), 4
                ).alias("tsim"),
            )
        )
        return (
            pairs.withColumn(
                "rank",
                F.row_number().over(
                    Window.partitionBy("qid").orderBy(
                        F.desc("tsim"), "vec_id"
                    )
                ),
            )
            .where(F.col("rank") <= 50)
            .select(F.lit(tag).alias("prefilter"), "qid", "vec_id")
        )

    cand = leg_cand("randproj16").unionByName(leg_cand("sketch16"))
    # Norm-hoist (r15, the wave-7 kernel): per-pair cosine = dot/(nq·nv)
    # with per-row norms computed once — identical arithmetic, one HOF
    # per pair instead of three.
    embn = emb.withColumn("nv", l2norm(F.col("v"))).repartition(
        fan, "vec_id"
    )
    eq = embn.select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nv").alias("nq"),
    )
    rr = (
        embn.join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(eq), "qid")
        .select(
            "prefilter",
            "qid",
            "vec_id",
            rnd(
                dot(F.col("qv"), F.col("v")) / (F.col("nq") * F.col("nv")),
                4,
            ).alias("sim"),
        )
    )
    rtop = top_k(rr, 5, "prefilter").select("prefilter", "qid", "vec_id")
    q = eq.where(F.col("qid") % 50 == 0)
    etop = exact_topk(
        embn, q, 5, dot(F.col("qv"), F.col("v")) / (F.col("nq") * F.col("nv"))
    )
    h = (
        rtop.join(F.broadcast(etop), ["qid", "vec_id"])
        .groupBy("prefilter", "qid")
        .agg(F.count("*").alias("hits"))
    )
    legs = spark.createDataFrame(
        [("randproj16",), ("sketch16",)], "prefilter string"
    )
    return (
        q.select("qid")
        .crossJoin(F.broadcast(legs))
        .join(F.broadcast(h), ["prefilter", "qid"], "left")
        .select(
            "prefilter",
            "qid",
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
            rnd(F.coalesce(F.col("hits"), F.lit(0)) / 5.0, 4).alias(
                "recall_at_5"
            ),
        )
    )


# ---------------------------------------------------------------------------
# unified prefilter quality report (VERDICT r10 item 8)
# ---------------------------------------------------------------------------


@op(
    "sim_prefilter_quality_report",
    oracle=f"""
        WITH {_X_SQL},
        omega AS (
            SELECT CAST(t1.j AS INTEGER) AS j, CAST(t2.c AS INTEGER) AS c,
                   1 - 2 * (CAST(('0x' || substring(
                       md5(t1.j || ':' || t2.c), 1, 1)) AS BIGINT) % 2) AS w
            FROM range(0, {_DIMS}) t1(j), range(0, {_SKETCH_K}) t2(c)
        ),
        s AS (
            SELECT x.vec_id, o.c, sum(x.x * o.w) AS p
            FROM x JOIN omega o USING (j) GROUP BY x.vec_id, o.c
        ),
        y AS (
            SELECT x.j, s.c, {sql_rnd("sum(x.x * s.p)", 6)} AS y
            FROM x JOIN s ON s.vec_id = x.vec_id GROUP BY x.j, s.c
        ),
        z AS (
            SELECT x.vec_id, y.c, sum(x.x * y.y) AS p
            FROM x JOIN y USING (j) GROUP BY x.vec_id, y.c
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
            ) WHERE rk <= {_SKETCH_K}
        ),
        vc AS (
            SELECT x.vec_id, x.j AS c, x.x AS p FROM x JOIN dims USING (j)
        ),
        coords AS (
            SELECT 'randproj16' AS prefilter, vec_id, c, p FROM s
            UNION ALL
            SELECT 'sketch16' AS prefilter, vec_id, c, p FROM z
            UNION ALL
            SELECT 'variance16' AS prefilter, vec_id, c, p FROM vc
        ),
        cn AS (
            SELECT prefilter, vec_id, c, p,
                   sqrt(sum(p * p) OVER (
                       PARTITION BY prefilter, vec_id)) AS nn
            FROM coords
        ),
        td AS (
            SELECT q.prefilter, q.vec_id AS qid, v.vec_id,
                   sum(q.p * v.p) AS tdot,
                   max(q.nn) AS nnq, max(v.nn) AS nnv
            FROM cn q
            JOIN cn v ON v.prefilter = q.prefilter AND v.c = q.c
                     AND v.vec_id <> q.vec_id
            WHERE q.vec_id % 50 = 0
            GROUP BY 1, 2, 3
        ),
        ts AS (
            SELECT prefilter, qid, vec_id,
                   {sql_rnd(sql_guarded_cos("tdot", "nnq", "nnv"), 4)} AS tsim
            FROM td
        ),
        cand AS (
            SELECT prefilter, qid, vec_id FROM (
                SELECT prefilter, qid, vec_id, row_number() OVER (
                    PARTITION BY prefilter, qid ORDER BY tsim DESC, vec_id
                ) AS rank FROM ts
            ) WHERE rank <= 50
        ),
        rr AS (
            SELECT c.prefilter, c.qid, c.vec_id,
                   floor(list_cosine_similarity(q.v, v.v)
                         * 10000.0 + 0.505) / 10000.0 AS sim
            FROM cand c
            JOIN e q ON q.vec_id = c.qid
            JOIN e v ON v.vec_id = c.vec_id
        ),
        rtop AS (
            SELECT prefilter, qid, vec_id FROM (
                SELECT prefilter, qid, vec_id, row_number() OVER (
                    PARTITION BY prefilter, qid ORDER BY sim DESC, vec_id
                ) AS rank FROM rr
            ) WHERE rank <= 5
        ),
        {_ETOP_SQL.lstrip()},
        h AS (
            SELECT r.prefilter, r.qid, count(*) AS hits
            FROM rtop r JOIN etop e2
              ON e2.qid = r.qid AND e2.vec_id = r.vec_id
            GROUP BY r.prefilter, r.qid
        ),
        legs AS (SELECT unnest(
            ['randproj16', 'sketch16', 'variance16']) AS prefilter),
        perq AS (
            SELECT l.prefilter, q.vec_id AS qid,
                   COALESCE(h.hits, 0) AS hits
            FROM e q CROSS JOIN legs l
            LEFT JOIN h ON h.qid = q.vec_id AND h.prefilter = l.prefilter
            WHERE q.vec_id % 50 = 0
        )
        SELECT prefilter,
               CAST(count(*) AS BIGINT) AS n_queries,
               {sql_rnd("avg(hits / 5.0)", 4)} AS mean_recall_at_5,
               {sql_rnd("min(hits) / 5.0", 4)} AS min_recall_at_5
        FROM perq GROUP BY prefilter
    """,
    scale=(
        "The single retrieval-quality report VERDICT r10 item 8 asked "
        "for: three 16-dim prefilters — variance16 (axis-aligned cut), "
        "randproj16 (data-oblivious JL control, deterministic "
        "md5-parity Rademacher Omega) and sketch16 (one HMT randomized "
        "subspace iteration Y = Xt(X Omega)) — drive the SAME top-50 "
        "-> exact-rerank tail against the SAME exact top-5 baseline, "
        "and the per-query recalls aggregate to one row per prefilter "
        "(mean + worst-case recall@5). This is the decision table an "
        "index-build pipeline reads before freezing its coarse stage. "
        "Cost shape at 100 TB: variance adds one 64-group moment agg; "
        "the sketch adds two Krylov corpus passes shuffling d*k rows "
        "(emb_pca_power_iter pattern); all exact legs are "
        "sample-bounded (|sample|*N prefilter, |sample|*50*64 rerank, "
        "never N^2). Basis and variances round at 1e-6 before any "
        "projection, similarities at 1e-4 before every ranking with "
        "vec_id tie-breaks, so both engines pick identical dims, "
        "candidates and top-5 sets."
    ),
)
def sim_prefilter_quality_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """variance16 vs randproj16 vs sketch16, one exact tail, 3-row report."""
    emb = vectors(spark, sf_dir)
    x = emb.select("vec_id", F.posexplode(F.col("v")).alias("j", "x"))

    omega = (
        spark.range(_DIMS)
        .select(F.col("id").cast("int").alias("j"))
        .crossJoin(spark.range(_SKETCH_K).select(F.col("id").cast("int").alias("c")))
        .select(
            "j",
            "c",
            (
                F.lit(1)
                - F.lit(2)
                * (
                    F.conv(
                        F.substring(
                            F.md5(F.concat_ws(":", F.col("j"), F.col("c"))),
                            1,
                            1,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % 2
                )
            ).alias("w"),
        )
    )
    # s feeds BOTH the sketch's second pass (y) and the coords union —
    # cache the diamond so the Ω-projection agg plans once (the
    # wave-18/22 cached-diamond pattern; r14 measured 4.14 → 2.68 s
    # warm at sf0.01 together with the cn cache below).
    s = (
        x.join(F.broadcast(omega), "j")
        .groupBy("vec_id", "c")
        .agg(F.sum(F.col("x") * F.col("w")).alias("p"))
    ).cache()
    y = (
        x.join(s, "vec_id")
        .groupBy("j", "c")
        .agg(rnd(F.sum(F.col("x") * F.col("p")), 6).alias("y"))
    )
    z = (
        x.join(F.broadcast(y), "j")
        .groupBy("vec_id", "c")
        .agg(F.sum(F.col("x") * F.col("y")).alias("p"))
    )
    vr = x.groupBy("j").agg(rnd(F.var_pop("x"), 6).alias("variance"))
    dims = (
        vr.withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("variance"), "j")),
        )
        .where(F.col("rk") <= _SKETCH_K)
        .select("j")
    )
    vc = x.join(F.broadcast(dims), "j").select(
        "vec_id", F.col("j").alias("c"), F.col("x").alias("p")
    )
    coords = (
        s.withColumn("prefilter", F.lit("randproj16"))
        .unionByName(z.withColumn("prefilter", F.lit("sketch16")))
        .unionByName(vc.withColumn("prefilter", F.lit("variance16")))
    )
    # r15 spill-proof reshape (VERDICT r14 item 5, guide §5): the old
    # shape posexploded to (prefilter, vec_id, c) rows, broadcast-joined
    # the sample on (prefilter, c) — a k-fold row blowup — and rebuilt
    # each dot in a 3·N·|sample|-group hash aggregate whose per-task hash
    # maps OOM'd a 1 GB heap at ×10. Now each vector's k coords collect
    # ONCE into a c-sorted array with a precomputed norm (the wave-7
    # norm-hoist kernel), the broadcast pair join streams N·|sample|
    # narrow rows with an in-row HOF dot, and the only wide state left is
    # the rank window's sort, which spills. collect_list is k=16-bounded
    # (never a wide buffer). cna is consumed by both join sides — cached
    # (3·N rows of 16-double arrays; ~12 MB at ×10). No unpersist: it
    # feeds the RETURNED lazy plan; MEMORY_AND_DISK + LRU bounds a long
    # session (VERDICT r14 item 7 — same note at every op cache site).
    # Fan-out the vector side before the pair join: the pair stream's
    # partition count equals this side's, and the rank window's PARTIAL
    # WindowGroupLimit sorts each pre-exchange partition — at a fixed
    # shuffle_partitions (AQE off, the ×10 harness) those sorts are
    # |pairs|/16 rows each and their spill merges OOM a 1 GB heap.
    # Cores-proportional fan-out keeps every partial sort a few MB at any
    # data size (the rows moved are N vectors, not pairs); AQE coalesces
    # it when on.
    fan = 4 * spark.sparkContext.defaultParallelism
    cna = (
        coords.groupBy("prefilter", "vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("c", "p"))),
                lambda st: st["p"],
            ).alias("arr")
        )
        .withColumn("nn", l2norm(F.col("arr")))
        .repartition(fan, "prefilter", "vec_id")
    ).cache()
    cqa = cna.where(F.col("vec_id") % 50 == 0).select(
        "prefilter",
        F.col("vec_id").alias("qid"),
        F.col("arr").alias("qarr"),
        F.col("nn").alias("nnq"),
    )
    # the query side is sample-bounded (|sample| x k x 3 legs) — it
    # broadcasts at any corpus size; shuffling the full corpus on the
    # 3-distinct prefilter key would be the skew antipattern.
    # The top-50 rank runs PER LEG: prefilter is constant inside a leg,
    # so partitionBy(qid) within the branch selects the identical
    # candidate set as partitionBy(prefilter, qid) over the union, while
    # each branch's window sorts one third of the pairs with narrower
    # rows — the ×10/1 GB run's spill-merge (dozens of 1 MB read-ahead
    # buffers per over-full task) stays bounded (guide §5: more, smaller
    # per-task sorts).
    def leg_cand(tag: str) -> DataFrame:
        # prefilter is CONSTANT inside the branch — dropped before the
        # rank so the window sorts pure-numeric (qid, vec_id, tsim) rows,
        # and re-attached as a literal after (identical candidate set).
        pairs = (
            cna.where(F.col("prefilter") == tag)
            .join(
                F.broadcast(cqa.where(F.col("prefilter") == tag)),
                "prefilter",
            )
            .where(F.col("vec_id") != F.col("qid"))
            .select(
                "qid",
                "vec_id",
                rnd(
                    guarded_cos(dot("arr", "qarr"), F.col("nnq"), F.col("nn")), 4
                ).alias("tsim"),
            )
        )
        return (
            pairs.withColumn(
                "rank",
                F.row_number().over(
                    Window.partitionBy("qid").orderBy(
                        F.desc("tsim"), "vec_id"
                    )
                ),
            )
            .where(F.col("rank") <= 50)
            .select(F.lit(tag).alias("prefilter"), "qid", "vec_id")
        )

    cand = (
        leg_cand("randproj16")
        .unionByName(leg_cand("sketch16"))
        .unionByName(leg_cand("variance16"))
    )
    # Norm-hoist (r15, the wave-7 kernel): per-pair cosine drops from
    # three interpreted HOFs (zip_with dot + two norms) to one — the dot —
    # with the norms computed once per row. dot/(nq·nv) is the IDENTICAL
    # arithmetic to the cosine helper (same index-order fold, same
    # sqrt-product), so the doubles are bit-identical.
    embn = emb.withColumn("nv", l2norm(F.col("v"))).repartition(
        fan, "vec_id"
    )
    eq = embn.select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nv").alias("nq"),
    )
    rr = (
        cand.join(F.broadcast(eq), "qid")
        .join(embn, "vec_id")
        .select(
            "prefilter",
            "qid",
            "vec_id",
            rnd(
                dot(F.col("qv"), F.col("v")) / (F.col("nq") * F.col("nv")),
                4,
            ).alias("sim"),
        )
    )
    rtop = top_k(rr, 5, "prefilter").select("prefilter", "qid", "vec_id")
    q = eq.where(F.col("qid") % 50 == 0)
    etop = exact_topk(
        embn, q, 5, dot(F.col("qv"), F.col("v")) / (F.col("nq") * F.col("nv"))
    )
    h = (
        rtop.join(etop, ["qid", "vec_id"])
        .groupBy("prefilter", "qid")
        .agg(F.count("*").alias("hits"))
    )
    legs = spark.createDataFrame(
        [("randproj16",), ("sketch16",), ("variance16",)],
        "prefilter string",
    )
    perq = (
        q.select("qid")
        .crossJoin(F.broadcast(legs))
        .join(h, ["prefilter", "qid"], "left")
        .select(
            "prefilter",
            "qid",
            F.coalesce(F.col("hits"), F.lit(0)).alias("hits"),
        )
    )
    return perq.groupBy("prefilter").agg(
        F.count("*").cast("long").alias("n_queries"),
        rnd(F.avg(F.col("hits") / 5.0), 4).alias("mean_recall_at_5"),
        rnd(F.min("hits") / 5.0, 4).alias("min_recall_at_5"),
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
    emb = vectors(spark, sf_dir)
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
# incremental top-k similarity maintenance
# ---------------------------------------------------------------------------

#: Base/delta split point: vectors below are the "indexed corpus", at or
#: above are the "newly arrived batch" (top 20% of vec_ids at every SF).
_DELTA_FRAC_SQL = "(SELECT CAST(max(vec_id) * 0.8 AS BIGINT) FROM embeddings)"


@op(
    "sim_topk_incremental_delta",
    oracle=f"""
        WITH cut AS (SELECT {_DELTA_FRAC_SQL} AS c),
        q AS (
            SELECT embedding::DOUBLE[] AS qv FROM embeddings
            WHERE vec_id = 0
        ),
        scored AS (
            SELECT e.vec_id,
                   CASE WHEN e.vec_id >= cut.c THEN 1 ELSE 0 END
                       AS from_delta,
                   floor(list_cosine_similarity(e.embedding::DOUBLE[],
                                                q.qv)
                         * 10000.0 + 0.505) / 10000.0 AS sim
            FROM embeddings e CROSS JOIN q CROSS JOIN cut
            WHERE e.vec_id <> 0
        )
        SELECT CAST(rank AS BIGINT) AS rank, vec_id, sim,
               CAST(from_delta AS BIGINT) AS from_delta
        FROM (
            SELECT *, row_number() OVER (
                ORDER BY sim DESC, vec_id) AS rank
            FROM scored
        ) WHERE rank <= 10
    """,
    scale=(
        "Incremental top-k maintenance (the interactive-session "
        "pattern, EDBT 2020): when a delta batch arrives, only the "
        "delta is scored — the base corpus contributes its FROZEN "
        "top-k (k rows), and the merge is top-k over (k + |delta|) "
        "rows. Correctness: any base vector outside the old top-k can "
        "never enter the new one (scores are static), so the merge is "
        "exact, and the oracle proves it by full rescan. 100 TB "
        "shape: the base top-k is k rows from the index/cache, the "
        "delta scan is |delta| rows — per-batch cost is independent "
        "of corpus size, the property that makes continuous ingestion "
        "affordable. Sims round at 1e-4 with vec_id tie-breaks."
    ),
)
def sim_topk_incremental_delta(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-10 for query vec 0: frozen base top-10 merged with the
    scored delta batch (vec_id >= 0.8*max) — delta-only scoring."""

    emb = load_table(spark, sf_dir, "embeddings")
    cut = emb.agg(
        (F.max("vec_id") * F.lit(0.8)).cast("long").alias("c")
    )
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    scored = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(cut))
        .select(
            "vec_id",
            F.when(F.col("vec_id") >= F.col("c"), 1).otherwise(0).alias(
                "from_delta"
            ),
            rnd(cosine(F.col("embedding"), F.col("qv")), 4).alias("sim"),
        )
    )
    # the incremental shape: base contributes only its frozen top-10,
    # the delta is scored in full, and the merge takes top-10 of
    # (10 + |delta|) rows — orderBy+limit compiles each take to
    # TakeOrderedAndProject; the rank window then sits ABOVE the Limit
    # so it only ever numbers 10 rows (bounded global window)
    base_topk = (
        scored.where(F.col("from_delta") == 0)
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(10)
    )
    delta = scored.where(F.col("from_delta") == 1)
    top10 = (
        base_topk.unionByName(delta)
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(10)
    )
    wtop = Window.orderBy(F.desc("sim"), F.asc("vec_id"))
    return top10.withColumn("rank", F.row_number().over(wtop)).select(
        F.col("rank").cast("long").alias("rank"),
        "vec_id",
        "sim",
        F.col("from_delta").cast("long").alias("from_delta"),
    )


# ---------------------------------------------------------------------------
# lexical + vector rank fusion and hard-negative mining
# ---------------------------------------------------------------------------


@op(
    "sim_rrf_fusion",
    oracle="""
        WITH d0 AS (
            SELECT DISTINCT unnest(string_split(text, ' ')) AS token
            FROM documents WHERE doc_id = 0
        ),
        dt AS (
            SELECT doc_id,
                   CAST(count(DISTINCT token) AS BIGINT) AS n_tok
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                  FROM documents)
            GROUP BY doc_id
        ),
        q_n AS (SELECT CAST(count(*) AS BIGINT) AS qn FROM d0),
        inter AS (
            SELECT t.doc_id, CAST(count(*) AS BIGINT) AS i
            FROM (SELECT DISTINCT doc_id, token FROM (
                      SELECT doc_id,
                             unnest(string_split(text, ' ')) AS token
                      FROM documents)) t
            JOIN d0 ON d0.token = t.token
            WHERE t.doc_id <> 0
            GROUP BY t.doc_id
        ),
        lex AS (
            SELECT dt.doc_id,
                   floor((COALESCE(i.i, 0) * 1.0
                          / (dt.n_tok + q.qn - COALESCE(i.i, 0)))
                         * 10000.0 + 0.505) / 10000.0 AS jac
            FROM dt LEFT JOIN inter i ON i.doc_id = dt.doc_id
            CROSS JOIN q_n q
            WHERE dt.doc_id <> 0
        ),
        lex_rank AS (
            SELECT doc_id, row_number() OVER (
                ORDER BY jac DESC, doc_id) AS r
            FROM lex
        ),
        vec AS (
            SELECT e.vec_id AS doc_id,
                   floor(list_cosine_similarity(e.embedding::DOUBLE[],
                                                q.qv)
                         * 10000.0 + 0.505) / 10000.0 AS sim
            FROM embeddings e,
                 (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                  WHERE vec_id = 0) q
            WHERE e.vec_id <> 0
        ),
        vec_rank AS (
            SELECT doc_id, row_number() OVER (
                ORDER BY sim DESC, doc_id) AS r
            FROM vec
        ),
        legs AS (
            SELECT doc_id,
                   CAST(floor(1000000.0 / (60 + r) + 0.505) AS BIGINT)
                       AS c_micro,
                   r AS r_lex, CAST(0 AS BIGINT) AS r_vec
            FROM lex_rank WHERE r <= 50
            UNION ALL
            SELECT doc_id,
                   CAST(floor(1000000.0 / (60 + r) + 0.505) AS BIGINT),
                   CAST(0 AS BIGINT), r
            FROM vec_rank WHERE r <= 50
        ),
        fused AS (
            SELECT doc_id,
                   CAST(sum(c_micro) AS BIGINT) AS rrf_micro,
                   CAST(max(r_lex) AS BIGINT) AS r_lex,
                   CAST(max(r_vec) AS BIGINT) AS r_vec
            FROM legs GROUP BY doc_id
        )
        SELECT CAST(rank AS BIGINT) AS rank, doc_id,
               floor((rrf_micro / 1000000.0) * 1000000.0 + 0.505)
                   / 1000000.0 AS rrf,
               r_lex, r_vec
        FROM (
            SELECT *, row_number() OVER (
                ORDER BY rrf_micro DESC, doc_id) AS rank
            FROM fused
        ) WHERE rank <= 10
    """,
    scale=(
        "Reciprocal-rank fusion (k=60) of a lexical leg (token-set "
        "Jaccard vs query doc 0) and a vector leg (cosine vs its "
        "embedding, the doc_id=vec_id correspondence multimodal_cols "
        "established) — the standard hybrid-retrieval merge: rank-"
        "based, so the two score scales never need calibration. Each "
        "leg is top-50; contributions are exact integer micro-units "
        "(1e6/(60+r) floored), absent-from-leg = 0, so fusion is "
        "bit-deterministic. 100 TB: each leg is its own index lookup "
        "(postings / ANN); fusion touches 2k rows per query."
    ),
)
def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF top-10 fusing lexical-Jaccard and cosine legs for doc 0."""

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.array_distinct(F.split("text", " ")).alias("ts"),
    )
    d0 = toks.where(F.col("doc_id") == 0).select(
        F.col("ts").alias("qts"), F.size("ts").alias("qn")
    )
    lex = (
        toks.where(F.col("doc_id") != 0)
        .crossJoin(F.broadcast(d0))
        .select(
            "doc_id",
            rnd(
                F.size(F.array_intersect(F.col("ts"), F.col("qts")))
                * F.lit(1.0)
                / (
                    F.size("ts")
                    + F.col("qn")
                    - F.size(F.array_intersect(F.col("ts"), F.col("qts")))
                ),
                4,
            ).alias("jac"),
        )
    )
    # top-50 via orderBy+limit (TakeOrderedAndProject), THEN rank the 50
    # — the global rank window only ever sees the Limit output
    lex_rank = (
        lex.orderBy(F.desc("jac"), F.asc("doc_id"))
        .limit(50)
        .withColumn(
            "r",
            F.row_number().over(
                Window.orderBy(F.desc("jac"), F.asc("doc_id"))
            ),
        )
    )
    emb = emb_with_norm(spark, sf_dir)
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), F.col("norm").alias("qnorm")
    )
    vec = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            rnd(
                dot(F.col("embedding"), F.col("qv"))
                / (F.col("norm") * F.col("qnorm")),
                4,
            ).alias("sim"),
        )
    )
    vec_rank = (
        vec.orderBy(F.desc("sim"), F.asc("doc_id"))
        .limit(50)
        .withColumn(
            "r",
            F.row_number().over(
                Window.orderBy(F.desc("sim"), F.asc("doc_id"))
            ),
        )
    )
    c_micro = (
        F.floor(F.lit(1000000.0) / (F.lit(60) + F.col("r")) + F.lit(0.505))
        .cast("long")
        .alias("c_micro")
    )
    legs = (
        lex_rank.where(F.col("r") <= 50)
        .select(
            "doc_id",
            c_micro,
            F.col("r").cast("long").alias("r_lex"),
            F.lit(0).cast("long").alias("r_vec"),
        )
        .unionByName(
            vec_rank.where(F.col("r") <= 50).select(
                "doc_id",
                c_micro,
                F.lit(0).cast("long").alias("r_lex"),
                F.col("r").cast("long").alias("r_vec"),
            )
        )
    )
    fused = legs.groupBy("doc_id").agg(
        F.sum("c_micro").cast("long").alias("rrf_micro"),
        F.max("r_lex").cast("long").alias("r_lex"),
        F.max("r_vec").cast("long").alias("r_vec"),
    )
    top = fused.orderBy(F.desc("rrf_micro"), F.asc("doc_id")).limit(10)
    w = Window.orderBy(F.desc("rrf_micro"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        F.col("rank").cast("long").alias("rank"),
        "doc_id",
        rnd(F.col("rrf_micro") / F.lit(1000000.0), 6).alias("rrf"),
        "r_lex",
        "r_vec",
    )


@op(
    "sim_negative_mining_audit",
    oracle="""
        WITH q AS (
            SELECT vec_id AS qid, embedding::DOUBLE[] AS qv,
                   label AS label_q
            FROM embeddings WHERE vec_id % 50 = 0
        ),
        cand AS (
            SELECT q.qid, q.label_q, e.vec_id, e.label AS label_n,
                   floor(list_cosine_similarity(e.embedding::DOUBLE[],
                                                q.qv)
                         * 10000.0 + 0.505) / 10000.0 AS sim
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id <> q.qid AND e.label <> q.label_q
        ),
        banded AS (
            SELECT * FROM cand WHERE sim >= 0.20 AND sim < 0.35
        )
        SELECT qid, vec_id, sim,
               CAST(label_q AS BIGINT) AS label_q,
               CAST(label_n AS BIGINT) AS label_n
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
            FROM banded
        ) WHERE rn <= 5
    """,
    scale=(
        "Semi-hard negative mining (the contrastive-training data "
        "step): per sampled anchor, the top-5 OTHER-label vectors in "
        "the semi-hard band [0.20, 0.35) — similar enough to be "
        "informative, not so similar they're label noise; band edges "
        "compare ROUNDED sims so membership is engine-exact. The "
        "anchor sample is 1-in-50 broadcast against the corpus "
        "(|sample|*N, the sim_truncated_dims bound); at 100 TB the "
        "candidate stream comes from the ANN index instead of the "
        "scan and this op is its band-filtered consumer."
    ),
)
def sim_negative_mining_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-5 semi-hard negatives per 1-in-50 anchor (other-label,
    cosine in [0.20, 0.35))."""

    emb = emb_with_norm(spark, sf_dir)
    q = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("norm").alias("qnorm"),
        F.col("label").alias("label_q"),
    )
    cand = (
        emb.crossJoin(F.broadcast(q))
        .where(
            (F.col("vec_id") != F.col("qid"))
            & (F.col("label") != F.col("label_q"))
        )
        .select(
            "qid",
            "label_q",
            "vec_id",
            F.col("label").alias("label_n"),
            rnd(
                dot(F.col("embedding"), F.col("qv"))
                / (F.col("norm") * F.col("qnorm")),
                4,
            ).alias("sim"),
        )
    )
    semi = cand.where((F.col("sim") >= 0.20) & (F.col("sim") < 0.35))
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        semi.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select(
            "qid",
            "vec_id",
            "sim",
            F.col("label_q").cast("long").alias("label_q"),
            F.col("label_n").cast("long").alias("label_n"),
        )
    )


# ---------------------------------------------------------------------------
# ranking-quality metrics: recall@10 / MRR / nDCG@10 of the prefilter
# ---------------------------------------------------------------------------


@op(
    "sim_rank_quality_ndcg",
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
        atop AS (
            SELECT qid, vec_id, rank AS arank FROM (
                SELECT td.qid, td.vec_id, row_number() OVER (
                    PARTITION BY td.qid
                    ORDER BY {sql_rnd("td.tdot / (nq.tn * nv.tn)", 4)}
                                 DESC,
                             td.vec_id
                ) AS rank
                FROM td
                JOIN tn nq ON nq.vec_id = td.qid
                JOIN tn nv ON nv.vec_id = td.vec_id
            ) WHERE rank <= 10
        ),
        ex AS (
            SELECT q.vec_id AS qid, v.vec_id,
                   floor(list_cosine_similarity(q.v, v.v)
                         * 10000.0 + 0.505) / 10000.0 AS sim
            FROM e q JOIN e v ON v.vec_id <> q.vec_id
            WHERE q.vec_id % 50 = 0
        ),
        etop AS (
            SELECT qid, vec_id, rank AS erank FROM (
                SELECT qid, vec_id, row_number() OVER (
                    PARTITION BY qid ORDER BY sim DESC, vec_id
                ) AS rank FROM ex
            ) WHERE rank <= 10
        ),
        terms AS (
            SELECT a.qid,
                   CASE WHEN et.vec_id IS NOT NULL THEN 1 ELSE 0 END
                       AS hit,
                   CAST(floor(
                       COALESCE(11 - et.erank, 0)
                       / (ln(a.arank + 1.0) / ln(2.0))
                       * 1000000.0 + 0.505) AS BIGINT) AS g_micro,
                   CASE WHEN et.erank = 1
                        THEN CAST(floor(1000000.0 / a.arank + 0.505)
                                  AS BIGINT)
                        ELSE CAST(0 AS BIGINT) END AS rr_micro
            FROM atop a
            LEFT JOIN etop et
              ON et.qid = a.qid AND et.vec_id = a.vec_id
        ),
        idcg AS (
            SELECT CAST(sum(CAST(floor(
                       (11 - i) / (ln(i + 1.0) / ln(2.0))
                       * 1000000.0 + 0.505) AS BIGINT)) AS BIGINT)
                       AS idcg_micro
            FROM unnest(range(1, 11)) AS r(i)
        ),
        perq AS (
            SELECT qid,
                   CAST(sum(hit) AS BIGINT) AS hits,
                   CAST(sum(g_micro) AS BIGINT) AS dcg_micro,
                   CAST(max(rr_micro) AS BIGINT) AS rr_micro
            FROM terms GROUP BY qid
        )
        SELECT CAST(q.vec_id AS BIGINT) AS qid,
               CAST(COALESCE(p.hits, 0) AS BIGINT) AS hits,
               {sql_rnd("COALESCE(p.hits, 0) / 10.0", 4)} AS recall_at_10,
               {sql_rnd("COALESCE(p.rr_micro, 0) / 1000000.0", 4)} AS mrr,
               {sql_rnd(
                   "COALESCE(p.dcg_micro, 0) * 1.0 / i.idcg_micro", 4
               )} AS ndcg_at_10
        FROM e q
        LEFT JOIN perq p ON p.qid = q.vec_id
        CROSS JOIN idcg i
        WHERE q.vec_id % 50 = 0
    """,
    scale=(
        "Ranking-quality metrics of the variance-top-16 truncated "
        "prefilter against the exact cosine ranking: recall@10, MRR "
        "(reciprocal rank of the exact top-1 inside the approximate "
        "list) and nDCG@10 with graded gains rel = 11 - exact_rank — "
        "the triple a retrieval stack reports, beyond the plain "
        "recall audits already registered. Determinism: sims round at "
        "1e-4 with vec_id tie-breaks before every ranking; each DCG "
        "term freezes to integer micro-units BEFORE the per-query sum "
        "(10-double sums are not associativity-safe across "
        "partitions), and IDCG is derived from the same literal "
        "10-row spine in both engines rather than a typed constant. "
        "100 TB: the truncated leg is |sample|*N*16 and is the stage "
        "an IVF index replaces; the exact leg is sample-bounded "
        "(1-in-50 queries), never all-pairs."
    ),
)
def sim_rank_quality_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 / MRR / nDCG@10 of the truncated-dims prefilter
    ranking vs the exact cosine top-10, per sampled query."""

    emb = vectors(spark, sf_dir)
    x = emb.select("vec_id", F.posexplode(F.col("v")).alias("j", "x"))
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
    atop = (
        td.alias("td")
        .join(nq, F.col("nq.vec_id") == F.col("td.qid"))
        .join(nv, F.col("nv.vec_id") == F.col("td.vec_id"))
        .select(
            F.col("td.qid").alias("qid"),
            F.col("td.vec_id").alias("vec_id"),
            rnd(
                F.col("td.tdot") / (F.col("nq.tn") * F.col("nv.tn")), 4
            ).alias("tsim"),
        )
        .withColumn(
            "arank",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.desc("tsim"), "vec_id")
            ),
        )
        .where(F.col("arank") <= 10)
        .select("qid", "vec_id", "arank")
    )
    # per-ROW norms hoisted out of the per-PAIR kernel (the r12
    # SemDeDup lesson): one HOF per pair instead of three,
    # bit-identical doubles, oracle untouched
    embn = emb.withColumn("norm", l2norm(F.col("v")))
    eq = embn.select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    q = eq.where(F.col("qid") % 50 == 0)
    ex = embn.join(
        F.broadcast(q), F.col("vec_id") != F.col("qid")
    ).select(
        "qid",
        "vec_id",
        rnd(
            dot(F.col("qv"), F.col("v"))
            / (F.col("qnorm") * F.col("norm")),
            4,
        ).alias("sim"),
    )
    etop = (
        ex.withColumn(
            "erank",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.desc("sim"), "vec_id")
            ),
        )
        .where(F.col("erank") <= 10)
        .select("qid", "vec_id", "erank")
    )
    log2_arank = F.log(F.col("arank") + F.lit(1.0)) / F.log(F.lit(2.0))
    terms = atop.join(etop, ["qid", "vec_id"], "left").select(
        "qid",
        F.when(F.col("erank").isNotNull(), 1).otherwise(0).alias("hit"),
        F.floor(
            F.coalesce(F.lit(11) - F.col("erank"), F.lit(0))
            / log2_arank
            * F.lit(1000000.0)
            + F.lit(0.505)
        )
        .cast("long")
        .alias("g_micro"),
        F.when(
            F.col("erank") == 1,
            F.floor(F.lit(1000000.0) / F.col("arank") + F.lit(0.505)).cast(
                "long"
            ),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("rr_micro"),
    )
    idcg = (
        spark.range(1, 11)
        .select(
            F.floor(
                (F.lit(11) - F.col("id"))
                / (F.log(F.col("id") + F.lit(1.0)) / F.log(F.lit(2.0)))
                * F.lit(1000000.0)
                + F.lit(0.505)
            )
            .cast("long")
            .alias("t")
        )
        .agg(F.sum("t").cast("long").alias("idcg_micro"))
    )
    perq = terms.groupBy("qid").agg(
        F.sum("hit").cast("long").alias("hits"),
        F.sum("g_micro").cast("long").alias("dcg_micro"),
        F.max("rr_micro").cast("long").alias("rr_micro"),
    )
    return (
        q.select("qid")
        .join(perq, "qid", "left")
        .crossJoin(F.broadcast(idcg))
        .select(
            "qid",
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
            rnd(F.coalesce(F.col("hits"), F.lit(0)) / F.lit(10.0), 4).alias(
                "recall_at_10"
            ),
            rnd(
                F.coalesce(F.col("rr_micro"), F.lit(0)) / F.lit(1000000.0),
                4,
            ).alias("mrr"),
            rnd(
                F.coalesce(F.col("dcg_micro"), F.lit(0))
                * F.lit(1.0)
                / F.col("idcg_micro"),
                4,
            ).alias("ndcg_at_10"),
        )
    )


# ---------------------------------------------------------------------------
# distance-concentration audit (Beyer et al. 1999)
# ---------------------------------------------------------------------------


@op(
    "sim_distance_contrast_audit",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   list_sum(list_transform(embedding::DOUBLE[],
                                           t -> t * t)) AS n2
            FROM embeddings
        ),
        d AS (
            SELECT q.vec_id AS qid,
                   CAST(floor((q.n2 + x.n2
                       - 2 * list_sum(list_transform(range(1, 65),
                             i -> q.v[CAST(i AS INTEGER)]
                                  * x.v[CAST(i AS INTEGER)])))
                       * 1000000.0 + 0.505) AS BIGINT) AS d2_micro
            FROM e q JOIN e x ON x.vec_id <> q.vec_id
            WHERE q.vec_id % 50 = 0
        )
        SELECT qid,
               CAST(count(*) AS BIGINT) AS n_others,
               {sql_rnd("min(d2_micro) / 1000000.0", 4)} AS d2_min,
               {sql_rnd(
                   "sum(d2_micro) / (1000000.0 * count(*))", 4
               )} AS d2_mean,
               {sql_rnd("max(d2_micro) / 1000000.0", 4)} AS d2_max,
               -- duplicate vectors (d2_min = 0) make contrast
               -- undefined: emit 0 instead of dividing (DuckDB NULLs,
               -- ANSI Spark throws — the wave-4 zero-guard class)
               CASE WHEN min(d2_micro) = 0 THEN 0.0
                    ELSE {sql_rnd(
                        "(max(d2_micro) - min(d2_micro)) * 1.0"
                        " / min(d2_micro)", 4
                    )} END AS rel_contrast
        FROM d GROUP BY qid
    """,
    scale=(
        "Distance-concentration audit (Beyer et al. 1999 'When is "
        "nearest neighbor meaningful?'): per query, min/mean/max "
        "squared L2 distance and the relative contrast "
        "(dmax-dmin)/dmin. As dimensionality concentrates distances, "
        "contrast -> 0 and EVERY index (IVF, LSH, graphs) degrades to "
        "a scan — this is the audit run before buying an ANN index at "
        "all. Determinism: norms and dots are in-row folds over the "
        "same element order; each pair's d2 = n2_q + n2_x - 2*dot "
        "freezes to integer micro, and min/max/sum over BIGINTs are "
        "partition-order-free. The query side is the broadcast "
        "1-in-50 sample (|sample|*N pairs, never N^2). 100 TB: the "
        "same sample-bounded pass; contrast is the cheapest statistic "
        "that predicts ANN recall cliffs before they cost a cluster."
    ),
)
def sim_distance_contrast_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-query min/mean/max squared distance + relative contrast."""
    emb = vectors(spark, sf_dir)
    e = emb.withColumn("n2", sq_norm("v"))
    q = e.select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("n2").alias("qn2"),
    ).where(F.col("qid") % 50 == 0)
    d = e.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid",
        F.floor(
            (F.col("qn2") + F.col("n2") - 2 * dot("qv", "v"))
            * F.lit(1000000.0)
            + F.lit(0.505)
        )
        .cast("long")
        .alias("d2_micro"),
    )
    return d.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_others"),
        rnd(F.min("d2_micro") / F.lit(1000000.0), 4).alias("d2_min"),
        rnd(
            F.sum("d2_micro") / (F.lit(1000000.0) * F.count(F.lit(1))), 4
        ).alias("d2_mean"),
        rnd(F.max("d2_micro") / F.lit(1000000.0), 4).alias("d2_max"),
        F.when(F.min("d2_micro") == 0, F.lit(0.0))
        .otherwise(
            rnd(
                (F.max("d2_micro") - F.min("d2_micro"))
                * F.lit(1.0)
                / F.min("d2_micro"),
                4,
            )
        )
        .alias("rel_contrast"),
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


# ---------------------------------------------------------------------------
# PQ asymmetric distance computation (ADC) recall
# ---------------------------------------------------------------------------


@op(
    "sim_pq_adc_recall",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
            FROM embeddings
        ),
        sub AS (
            SELECT vec_id, s.s AS s,
                   emb[CAST(s.s*8+1 AS BIGINT) : CAST(s.s*8+8 AS BIGINT)]
                       AS v
            FROM e, unnest(range(8)) AS s(s)
        ),
        cw AS (
            SELECT vec_id AS code, s, v AS c FROM sub WHERE vec_id < 8
        ),
        d AS (
            SELECT sub.vec_id, sub.s, cw.code,
                   CAST(floor(list_aggregate(
                       list_transform(range(1, 9),
                           i -> (sub.v[i]-cw.c[i])*(sub.v[i]-cw.c[i])),
                       'sum') * 10000 + 0.505) AS BIGINT) AS idist
            FROM sub JOIN cw USING (s)
        ),
        codes AS (
            SELECT vec_id, s, code FROM (
                SELECT vec_id, s, code,
                       row_number() OVER (PARTITION BY vec_id, s
                                          ORDER BY idist, code) AS rk
                FROM d
            ) WHERE rk = 1
        ),
        q AS (SELECT s, v AS qv FROM sub WHERE vec_id = 0),
        lut AS (
            SELECT q.s, cw.code,
                   CAST(floor(list_aggregate(
                       list_transform(range(1, 9),
                           i -> (q.qv[i]-cw.c[i])*(q.qv[i]-cw.c[i])),
                       'sum') * 1000000.0 + 0.505) AS BIGINT) AS ld
            FROM q JOIN cw USING (s)
        ),
        adc AS (
            SELECT c.vec_id, CAST(sum(l.ld) AS BIGINT) AS adc_micro
            FROM codes c JOIN lut l ON l.s = c.s AND l.code = c.code
            WHERE c.vec_id <> 0
            GROUP BY c.vec_id
        ),
        atop AS (
            SELECT vec_id FROM (
                SELECT vec_id, row_number() OVER (
                    ORDER BY adc_micro, vec_id) AS rk FROM adc
            ) WHERE rk <= 10
        ),
        ex AS (
            SELECT x.vec_id,
                   CAST(floor(list_aggregate(
                       list_transform(range(1, 65),
                           i -> (x.emb[i]-qq.emb[i])*(x.emb[i]-qq.emb[i])),
                       'sum') * 1000000.0 + 0.505) AS BIGINT) AS d_micro
            FROM e x CROSS JOIN (SELECT emb FROM e WHERE vec_id = 0) qq
            WHERE x.vec_id <> 0
        ),
        etop AS (
            SELECT vec_id, rk FROM (
                SELECT vec_id, row_number() OVER (
                    ORDER BY d_micro, vec_id) AS rk FROM ex
            ) WHERE rk <= 10
        )
        SELECT et.rk AS exact_rank, et.vec_id,
               CAST(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END
                    AS BIGINT) AS in_adc_top10,
               (SELECT {sql_rnd("sum(CASE WHEN a2.vec_id IS NOT NULL "
                                "THEN 1 ELSE 0 END) / 10.0", 4)}
                FROM etop et2 LEFT JOIN atop a2
                  ON a2.vec_id = et2.vec_id) AS recall_at_10
        FROM etop et LEFT JOIN atop a ON a.vec_id = et.vec_id
    """,
    scale=(
        "PQ asymmetric distance computation (Jegou et al. 2011) — the "
        "QUERY path for sim_pq_assign's codes: the query builds one "
        "64-entry LUT (8 subspaces x 8 codewords, exact squared "
        "distances frozen to integer micro), and every database "
        "vector's approximate distance is just 8 LUT adds on its "
        "codes — no full-vector arithmetic at query time. Recall@10 "
        "of the ADC ranking vs the exact ranking is the compression "
        "trade quantified (8 bytes/vector vs 256). Both engines "
        "derive identical codes (the integer-ordinal argmin), "
        "identical LUTs and identical BIGINT ADC sums. 100 TB: codes "
        "are 32x smaller than vectors — the scan becomes "
        "memory-bandwidth-bound LUT adds; the exact leg here exists "
        "only to grade recall at test scale."
    ),
)
def sim_pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 flagged by ADC-top-10 membership + recall@10."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    sub = emb.select(
        "vec_id",
        F.explode(
            F.expr(
                "transform(sequence(0, 7), "
                "s -> struct(s AS s, slice(emb, s*8+1, 8) AS v))"
            )
        ).alias("e"),
    ).select("vec_id", F.col("e.s").alias("s"), F.col("e.v").alias("v"))
    cw = sub.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("code"), "s", F.col("v").alias("c")
    )
    sqd = sq_l2("v", "c")
    d = sub.join(F.broadcast(cw), "s").select(
        "vec_id",
        "s",
        "code",
        F.floor(sqd * F.lit(10000) + F.lit(0.505)).cast("long").alias(
            "idist"
        ),
    )
    codes = (
        d.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("vec_id", "s").orderBy("idist", "code")
            ),
        )
        .where(F.col("rk") == 1)
        .select("vec_id", "s", "code")
    )
    q = sub.where(F.col("vec_id") == 0).select(
        "s", F.col("v").alias("qv")
    )
    lutd = sq_l2("qv", "c")
    lut = q.join(cw, "s").select(
        "s",
        "code",
        F.floor(lutd * F.lit(1000000.0) + F.lit(0.505))
        .cast("long")
        .alias("ld"),
    )
    adc = (
        codes.where(F.col("vec_id") != 0)
        .join(F.broadcast(lut), ["s", "code"])
        .groupBy("vec_id")
        .agg(F.sum("ld").cast("long").alias("adc_micro"))
    )
    atop = (
        adc.withColumn(
            "rk",
            F.row_number().over(Window.orderBy("adc_micro", "vec_id")),
        )
        .where(F.col("rk") <= 10)
        .select("vec_id")
        .withColumn("in_adc", F.lit(1))
    )
    qq = emb.where(F.col("vec_id") == 0).select(
        F.col("emb").alias("qemb")
    )
    exd = sq_l2("emb", "qemb")
    ex = emb.where(F.col("vec_id") != 0).crossJoin(F.broadcast(qq)).select(
        "vec_id",
        F.floor(exd * F.lit(1000000.0) + F.lit(0.505))
        .cast("long")
        .alias("d_micro"),
    )
    etop = (
        ex.withColumn(
            "rk", F.row_number().over(Window.orderBy("d_micro", "vec_id"))
        )
        .where(F.col("rk") <= 10)
        .select(F.col("rk").alias("exact_rank"), "vec_id")
    )
    joined = etop.join(atop, "vec_id", "left").select(
        "exact_rank",
        "vec_id",
        F.coalesce(F.col("in_adc"), F.lit(0)).cast("long").alias(
            "in_adc_top10"
        ),
    )
    recall = joined.agg(
        rnd(F.sum("in_adc_top10") / F.lit(10.0), 4).alias("recall_at_10")
    )
    return joined.crossJoin(F.broadcast(recall)).select(
        F.col("exact_rank").cast("long").alias("exact_rank"),
        "vec_id",
        "in_adc_top10",
        "recall_at_10",
    )


# ---------------------------------------------------------------------------
# hubness audit over in-cell 10-NN lists
# ---------------------------------------------------------------------------


@op(
    "sim_hubness_audit",
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
            ) WHERE rk <= 10
        ),
        kocc AS (
            SELECT e.vec_id,
                   CAST(COALESCE(k.c, 0) AS BIGINT) AS nk
            FROM e LEFT JOIN (
                SELECT dst, CAST(count(*) AS BIGINT) AS c
                FROM edges GROUP BY dst
            ) k ON k.dst = e.vec_id
        ),
        m AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(nk) AS BIGINT) AS s1,
                   CAST(sum(nk * nk) AS BIGINT) AS s2,
                   CAST(sum(nk * nk * nk) AS BIGINT) AS s3,
                   CAST(max(nk) AS BIGINT) AS max_k,
                   CAST(sum(CASE WHEN nk = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_antihubs
            FROM kocc
        )
        SELECT n,
               {sql_rnd("s1 * 1.0 / n", 4)} AS mean_k,
               {sql_rnd(
                   "(s3 * 1.0 / n"
                   " - 3.0 * (s1 * 1.0 / n) * (s2 * 1.0 / n)"
                   " + 2.0 * (s1 * 1.0 / n) * (s1 * 1.0 / n)"
                   "   * (s1 * 1.0 / n))"
                   " / pow(s2 * 1.0 / n"
                   "       - (s1 * 1.0 / n) * (s1 * 1.0 / n), 1.5)", 4
               )} AS skewness,
               max_k,
               {sql_rnd("n_antihubs * 1.0 / n", 4)} AS antihub_rate
        FROM m
    """,
    scale=(
        "Hubness audit (Radovanovic et al. 2010): the k-occurrence "
        "N_k(x) = how often x appears in other points' 10-NN lists; "
        "its skewness grows with intrinsic dimensionality, and hubs/"
        "antihubs silently distort every kNN-derived ground truth "
        "(SemDeDup pairs, NN-descent graphs, beam entry points). "
        "Paired with sim_distance_contrast_audit, this is the "
        "two-statistic health check run before trusting the space. "
        "The NN lists are the in-cell top-10 (cell-blocked, never "
        "all-pairs); N_k values are exact BIGINT counts and the "
        "skewness a closed form of integer moment sums (counts are "
        "bounded by cell size, cubes stay far inside int64). "
        "100 TB: the edge table is N*k rows sharded by cell; the "
        "moment agg is 1 row."
    ),
)
def sim_hubness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-occurrence skewness + antihub rate over in-cell 10-NN lists."""

    assigned, _ = _semdedup_assigned_pairs(spark, sf_dir)
    e = assigned.select("vec_id", "cid", "embedding", "norm")
    a, b = e.alias("a"), e.alias("b")
    sim_ab = rnd(
        dot(F.col("a.embedding"), F.col("b.embedding"))
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
        .where(F.col("rk") <= 10)
        .select("src", "dst")
    )
    k = edges.groupBy("dst").agg(F.count(F.lit(1)).cast("long").alias("c"))
    kocc = (
        e.select("vec_id")
        .join(k, e.vec_id == k.dst, "left")
        .select(
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("nk")
        )
    )
    m = kocc.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("nk").cast("long").alias("s1"),
        F.sum(F.col("nk") * F.col("nk")).cast("long").alias("s2"),
        F.sum(F.col("nk") * F.col("nk") * F.col("nk"))
        .cast("long")
        .alias("s3"),
        F.max("nk").cast("long").alias("max_k"),
        F.sum(F.when(F.col("nk") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_antihubs"),
    )
    m1 = F.col("s1") * F.lit(1.0) / F.col("n")
    m2 = F.col("s2") * F.lit(1.0) / F.col("n")
    m3 = F.col("s3") * F.lit(1.0) / F.col("n")
    return m.select(
        "n",
        rnd(m1, 4).alias("mean_k"),
        rnd(
            (m3 - F.lit(3.0) * m1 * m2 + F.lit(2.0) * m1 * m1 * m1)
            / F.pow(m2 - m1 * m1, F.lit(1.5)),
            4,
        ).alias("skewness"),
        "max_k",
        rnd(F.col("n_antihubs") * F.lit(1.0) / F.col("n"), 4).alias(
            "antihub_rate"
        ),
    )

"""Deduplication operators for training-data pipelines (SURVEY.md §2.11).

Four escalating strategies, all pure DataFrame compositions (no Python in
the hot path):

- ``dedup_exact``         — content-hash groupBy (exact duplicates)
- ``dedup_near_minhash``  — shingle → MinHash signature → LSH band self-join
- ``dedup_simhash``       — 64-bit SimHash + 16-bit band blocking
- ``dedup_ngram_jaccard`` — exact n-gram Jaccard on candidate pairs,
                            integer-arithmetic threshold (no float compare)

Scale notes (100 TB):
- Exact dedup is one shuffle on a 16-byte hash — the cheapest possible key;
  partial agg collapses per-partition duplicates map-side first.
- MinHash/SimHash banding exists precisely to avoid the O(n²) pair space:
  candidates are generated by an equi-join on (band, band_key), which
  shuffles each doc b times (b=4 here) instead of comparing n² pairs. Band
  buckets are the only skew risk (degenerate texts → one hot bucket); salt
  the band key or cap bucket size at scale.
- The exact-Jaccard verify joins the (small) candidate set back to the
  shingle table — candidate-driven, never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from python_kinesis_streaming_spark.functions.rounding import rnd
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table

#: MinHash parameters: k permutations in b bands of r rows (k = b*r).
#: r=2 tunes for high recall at Jaccard ≥ ~0.8 (P[caught] = 1-(1-j²)^8 ≈
#: 0.9997 at j=0.8); narrower bands admit more false candidates, which the
#: exact-Jaccard verify stage (dedup_ngram_jaccard) filters.
MINHASH_PERMS = 16
LSH_BANDS = 8
LSH_ROWS = MINHASH_PERMS // LSH_BANDS


def md5_hash64(col, seed: int | None = None):
    """Portable 60-bit integer hash: first 15 hex chars of md5, base-16 →
    base-10. Chosen over xxhash64 because BOTH engines can compute it
    bit-identically (Spark ``conv(substring(md5(x),1,15),16,10)`` ≡ DuckDB
    ``CAST('0x'||substring(md5(x),1,15) AS BIGINT)``), making the whole
    MinHash/LSH pipeline SQL-oracle-checkable. 60 bits keeps the value
    inside a signed long with identical semantics in both engines."""
    s = F.concat_ws(":", F.lit(str(seed)), col) if seed is not None else col
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def _sql_hash64(expr: str, seed: int | None = None) -> str:
    """DuckDB twin of ``md5_hash64`` (see hash-parity test)."""
    s = f"'{seed}:' || ({expr})" if seed is not None else expr
    return f"CAST(('0x' || substring(md5({s}), 1, 15)) AS BIGINT)"


@op(
    "dedup_exact",
    oracle="""
        SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
    scale=(
        "groupBy on md5(text): 16-byte shuffle key regardless of doc size; "
        "map-side partial agg collapses local dups before the exchange. "
        "At 100 TB: hash first, shuffle hashes not texts."
    ),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep the lowest doc_id per identical text."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
        .drop("h")
    )


def word_shingles(df: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """(doc_id, shingle) — distinct word n-grams per document.

    Built JVM-side: split → transform over a sequence of start offsets →
    array of n-grams → explode. No Python, codegen-friendly.
    """
    toks = F.split(F.col(text_col), " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return df.select("doc_id", F.explode(F.array_distinct(grams)).alias("shingle"))


def minhash_signatures(shingled: DataFrame, perms: int = MINHASH_PERMS) -> DataFrame:
    """(doc_id, sig: array<long>) MinHash signatures.

    Permutation i is simulated by ``md5_hash64(shingle, seed=i)``; the
    signature is the per-doc elementwise min — one groupBy with ``perms``
    min() aggregates (all partial-agg friendly, state is ``perms`` longs per
    doc).
    """
    aggs = [
        F.min(md5_hash64(F.col("shingle"), seed=i)).alias(f"h{i}")
        for i in range(perms)
    ]
    sigs = shingled.groupBy("doc_id").agg(*aggs)
    return sigs.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(perms)]).alias("sig")
    )


def lsh_candidate_pairs(
    sigs: DataFrame, bands: int = LSH_BANDS, rows: int = LSH_ROWS
) -> DataFrame:
    """(doc_a, doc_b) candidate pairs whose signatures agree on ≥1 full band."""
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        md5_hash64(
                            F.concat_ws(
                                ":", *[F.col("sig")[b * rows + r] for r in range(rows)]
                            )
                        ).alias("bkey"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bkey")
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bkey") == F.col("r.bkey"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )


def inject_near_dups(docs: DataFrame, every: int = 25) -> DataFrame:
    """Deterministic near-duplicate injection for self-demonstration.

    Fixture documents have zero near-dups (FIXTURES.md), so the op unions a
    mutated copy (one token appended) of every ``every``-th doc under
    ``doc_id + 1_000_000`` — each injected doc's sole near-neighbor is its
    original.
    """
    mutated = (
        docs.where(F.col("doc_id") % every == 0)
        .withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
        .withColumn("text", F.concat(F.col("text"), F.lit(" mutant")))
    )
    return docs.unionByName(mutated)


#: DuckDB SQL fragments shared by the injected-near-dup oracles (must match
#: inject_near_dups / word_shingles semantics exactly — same as the proven
#: dedup_clusters oracle).
_SQL_INJ = """
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text || ' mutant'
        FROM documents WHERE doc_id % 25 = 0
"""
_SQL_SHINGLES = """
        SELECT DISTINCT doc_id, s.g AS shingle
        FROM inj,
             unnest([array_to_string(string_split(text,' ')[i:i+2], ' ')
                     FOR i IN range(1, greatest(len(string_split(text,' ')) - 2, 1) + 1)]) AS s(g)
"""


def _minhash_oracle() -> str:
    """Full MinHash-LSH pipeline in DuckDB SQL: same md5-derived permutation
    hashes, same per-doc min signature, same banded self-join."""
    sig_cols = ",\n               ".join(
        f"min({_sql_hash64('shingle', seed=i)}) AS h{i}" for i in range(MINHASH_PERMS)
    )
    banded = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, {b} AS band, "
        + _sql_hash64(f"h{b * LSH_ROWS} || ':' || h{b * LSH_ROWS + 1}")
        + " AS bkey FROM sigs"
        for b in range(LSH_BANDS)
    )
    return f"""
        WITH inj AS ({_SQL_INJ}),
        sh AS ({_SQL_SHINGLES}),
        sigs AS (
            SELECT doc_id,
               {sig_cols}
            FROM sh GROUP BY doc_id
        ),
        banded AS (
{banded}
        )
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        FROM banded l JOIN banded r
          ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id
    """


def near_dup_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash-LSH near-duplicate candidate pairs (doc_a, doc_b) over
    ``shingle_n``-word shingles."""
    if id_col != "doc_id":  # a same-name alias would add a Project over a union
        df = df.select(F.col(id_col).alias("doc_id"), text_col)
    sigs = minhash_signatures(word_shingles(df, n=shingle_n, text_col=text_col))
    return lsh_candidate_pairs(sigs)


@op(
    "dedup_near_minhash",
    oracle=_minhash_oracle(),
    scale=(
        "b×(shuffle on band key) replaces the O(n²) pair space; exact "
        "Jaccard verification only touches candidates. The standard "
        "web-scale near-dedup shape (Broder MinHash + LSH banding)."
    ),
)
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs via MinHash-LSH over 3-word shingles.

    Self-demonstrating: injects mutated copies of every 25th doc (fixtures
    have no natural near-dups), then surfaces (doc_a, doc_b) candidates.
    """
    docs = inject_near_dups(load_table(spark, sf_dir, "documents"))
    return near_dup_candidates(docs).orderBy("doc_a", "doc_b")


def _simhash_oracle() -> str:
    """Full SimHash pipeline in DuckDB SQL: md5-derived 64 token-hash bits
    (two 32-bit halves), the same ±1 bit votes, fingerprint assembly, 8×8-bit
    vote-derived band keys, and popcount(xor) Hamming filter."""

    def bit(b: int) -> str:
        src, sh = ("hi", b - 32) if b >= 32 else ("lo", b)
        return f"(({src} >> {sh}) & 1)"

    votes = ",\n               ".join(
        f"sum(CASE WHEN {bit(b)} = 1 THEN 1 ELSE -1 END) AS b{b}" for b in range(64)
    )
    fp_terms = " + ".join(
        f"CASE WHEN b{b} > 0 THEN {(1 << b) if b < 63 else '-9223372036854775807 - 1'} ELSE 0 END"
        for b in range(64)
    )
    bkeys = ",\n               ".join(
        " + ".join(
            f"CASE WHEN b{band * 8 + j} > 0 THEN {1 << j} ELSE 0 END"
            for j in range(8)
        )
        + f" AS k{band}"
        for band in range(8)
    )
    banded = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, simhash, {b} AS band, k{b} AS bkey FROM sigs"
        for b in range(8)
    )
    return f"""
        WITH inj AS ({_SQL_INJ}),
        toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM inj
        ),
        th AS (
            SELECT doc_id,
                   CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) AS hi,
                   CAST(('0x' || substring(md5(tok), 9, 8)) AS BIGINT) AS lo
            FROM toks
        ),
        votes AS (
            SELECT doc_id,
               {votes}
            FROM th GROUP BY doc_id
        ),
        sigs AS (
            SELECT doc_id,
                   CAST({fp_terms} AS BIGINT) AS simhash,
               {bkeys}
            FROM votes
        ),
        banded AS (
{banded}
        )
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
               CAST(bit_count(xor(l.simhash, r.simhash)) AS INTEGER) AS hamming
        FROM banded l JOIN banded r
          ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id
        WHERE CAST(bit_count(xor(l.simhash, r.simhash)) AS INTEGER) <= 10
    """


@op(
    "dedup_simhash",
    oracle=_simhash_oracle(),
    scale=(
        "SimHash collapses a doc to one 64-bit key: near-dup search becomes "
        "equality on 8-bit sub-bands (8 shuffles) + Hamming check on "
        "collisions. State per doc is 64 counters — pure partial-agg."
    ),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near-dup candidates (band match + Hamming ≤ 10).

    Charikar SimHash: each token hash votes ±1 per bit position; the sign
    of each bit's vote-sum forms the fingerprint. Computed entirely with
    built-in expressions: explode tokens → 64 conditional-sum aggregates →
    bit-assemble. Candidates pair docs sharing any 8-bit band, then an
    exact popcount(xor) Hamming filter. Injected mutants as in minhash.
    Token bits come from md5 (two 32-bit halves) so DuckDB can mirror the
    pipeline bit-for-bit (see md5_hash64).
    """
    docs = inject_near_dups(load_table(spark, sf_dir, "documents"))
    md5_tok = F.md5("tok")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).select(
        "doc_id",
        F.conv(F.substring(md5_tok, 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring(md5_tok, 9, 8), 16, 10).cast("long").alias("lo"),
    )

    def bit(b: int):
        src = F.col("hi") if b >= 32 else F.col("lo")
        return F.shiftrightunsigned(src, b % 32).bitwiseAND(F.lit(1))

    bit_votes = [
        F.sum(F.when(bit(b) == 1, 1).otherwise(-1)).alias(f"b{b}")
        for b in range(64)
    ]
    votes = toks.groupBy("doc_id").agg(*bit_votes)
    fp = F.lit(0).cast("long")
    for b in range(64):
        weight = F.lit(1 << b) if b < 63 else F.lit(-(1 << 63))  # sign bit
        fp = fp + F.when(F.col(f"b{b}") > 0, weight).otherwise(F.lit(0))

    # 8 bands × 8 bits: a mutant with ~6 flipped bits still leaves ≥1 band
    # clean w.p. ≈0.99 (vs ≈0.55 for 4×16-bit bands). Narrower bands admit
    # more candidate collisions — the exact Hamming filter below prunes them.
    # Band keys assembled from the vote signs directly (not by shifting the
    # fingerprint) so the oracle never depends on engine shift semantics.
    def bkey(band: int):
        acc = F.lit(0)
        for j in range(8):
            acc = acc + F.when(F.col(f"b{band * 8 + j}") > 0, F.lit(1 << j)).otherwise(
                F.lit(0)
            )
        return acc

    sigs = votes.select(
        "doc_id",
        fp.cast("long").alias("simhash"),
        *[bkey(b).alias(f"k{b}") for b in range(8)],
    )
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), F.col(f"k{b}").alias("bkey")
                    )
                    for b in range(8)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.bkey")
    l, r = banded.alias("l"), banded.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bkey") == F.col("r.bkey"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
            .cast("int")
            .alias("hamming"),
        )
        .distinct()
    )
    # ≤10/64 differing bits ≈ cosine ≥ ~0.95 of the token multiset angle;
    # random unrelated docs sit near 32. Short docs (10 tokens) have many
    # near-zero bit votes, so a one-token change can flip several bits.
    return pairs.where(F.col("hamming") <= 10).orderBy("doc_a", "doc_b")


@op(
    "dedup_ngram_jaccard",
    oracle="""
        WITH sh AS (
            SELECT DISTINCT doc_id, s.g AS shingle
            FROM documents,
                 unnest([array_to_string(string_split(text,' ')[i:i+2], ' ')
                         FOR i IN range(1, greatest(len(string_split(text,' ')) - 2, 1) + 1)]) AS s(g)
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS isect
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b, isect,
               sa.n + sb.n - isect AS un
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE 2 * isect >= sa.n + sb.n - isect
    """,
    scale=(
        "Exact Jaccard via shingle self-join: the join explodes on shared "
        "shingles, so ONLY viable after blocking (here: fixture-scale; at "
        "100 TB feed it LSH candidates). Integer cross-multiplied threshold "
        "(2·|∩| ≥ |∪|) — float-free, hash-exact."
    ),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc pairs with word-3-gram Jaccard ≥ 0.5, exact integer arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    sh = word_shingles(docs, n=3)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("isect"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "isect",
            (F.col("sa.n") + F.col("sb.n") - F.col("isect")).alias("un"),
        )
        .where(2 * F.col("isect") >= F.col("un"))
    )


@op(
    "dedup_clusters",
    oracle="""
        WITH RECURSIVE inj AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, text || ' mutant'
            FROM documents WHERE doc_id % 25 = 0
        ),
        sh AS (
            SELECT DISTINCT doc_id, s.g AS shingle
            FROM inj,
                 unnest([array_to_string(string_split(text,' ')[i:i+2], ' ')
                         FOR i IN range(1, greatest(len(string_split(text,' ')) - 2, 1) + 1)]) AS s(g)
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS isect
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        edges AS (
            SELECT doc_a, doc_b
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE 2 * isect >= sa.n + sb.n - isect
        ),
        bi AS (
            SELECT doc_a AS a, doc_b AS b FROM edges
            UNION SELECT doc_b, doc_a FROM edges
        ),
        reach(a, b) AS (
            SELECT a, b FROM bi
            UNION
            SELECT r.a, bi.b FROM reach r JOIN bi ON r.b = bi.a
        )
        SELECT a AS doc_id, least(a, min(b)) AS component
        FROM reach GROUP BY a
    """,
    scale=(
        "Connected components = the cluster step of near-dedup (keep one "
        "doc per component). Spark side: iterative min-label propagation - "
        "each round one join + one partial-agg min, state persisted per "
        "round; O(diameter) rounds (near-dup graphs are shallow). At 100 TB "
        "this is the standard large-graph CC (a la GraphX/Pregel) on pure "
        "DataFrames. Oracle: DuckDB recursive-CTE transitive closure over "
        "the SAME SQL-derived Jaccard>=0.5 edge set."
    ),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: component id = min doc_id reachable through the
    Jaccard>=0.5 candidate-pair graph (iterative, non-SQL execution)."""
    docs = inject_near_dups(load_table(spark, sf_dir, "documents"))
    sh = word_shingles(docs, n=3)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("isect"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    edges = (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .where(2 * F.col("isect") >= F.col("sa.n") + F.col("sb.n") - F.col("isect"))
        .select("doc_a", "doc_b")
    )
    bi = edges.selectExpr("doc_a AS a", "doc_b AS b").unionByName(
        edges.selectExpr("doc_b AS a", "doc_a AS b")
    ).persist()

    # Min-label propagation to fixpoint. Labels start as each node's own id;
    # each round pulls the min label of every neighbor. persist() per round
    # keeps lineage flat (the iterative-algorithm pattern on DataFrames).
    labels = bi.groupBy("a").agg(F.min("b").alias("nbr_min")).select(
        F.col("a").alias("node"), F.least("a", "nbr_min").alias("label")
    ).persist()
    for _ in range(20):  # diameter bound; fixture graphs converge in <=3
        cand = (
            bi.join(labels, bi.b == labels.node)
            .groupBy(F.col("a").alias("node2"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(cand, labels.node == F.col("node2"), "left")
            .select(
                "node",
                F.least(
                    "label", F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
            .persist()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    out = labels.select(F.col("node").alias("doc_id"), F.col("label").alias("component"))
    bi.unpersist()
    return out


@op(
    "dedup_keep_canonical",
    oracle="""
        WITH g AS (
            SELECT lang, md5(text) AS h,
                   min(doc_id) AS keep_id,
                   count(*) AS n_copies,
                   sum(n_chars) AS chars_total
            FROM documents GROUP BY lang, md5(text)
        )
        SELECT g.lang,
               count(*) AS n_groups,
               CAST(sum(g.n_copies) AS BIGINT) AS n_docs,
               CAST(sum(g.n_copies) - count(*) AS BIGINT) AS n_removed,
               CAST(sum(g.chars_total) - sum(d.n_chars) AS BIGINT) AS chars_removed
        FROM g JOIN documents d ON d.doc_id = g.keep_id
        GROUP BY g.lang
    """,
    scale=(
        "Dedup with canonical selection: per content-hash group keep ONE "
        "representative (min doc_id — swap in a quality arg_max in prod) "
        "and account the bytes removed. One groupBy on the 16-byte hash "
        "(partial-agg), one equi-join back for the keeper's stats — no "
        "window, no per-group sort. The accounting report every corpus "
        "dedup run ships with."
    ),
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup groups with a canonical keeper (min doc_id): per-lang
    groups/docs/removed counts and chars reclaimed."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("lang", F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.sum("n_chars").alias("chars_total"),
    )
    keeper = docs.select(F.col("doc_id").alias("keep_id"), F.col("n_chars").alias("keep_chars"))
    return (
        g.join(keeper, "keep_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("n_copies").alias("n_docs"),
            (F.sum("n_copies") - F.count(F.lit(1))).alias("n_removed"),
            (F.sum("chars_total") - F.sum("keep_chars")).alias("chars_removed"),
        )
    )


def _lsh_tuning_oracle() -> str:
    """Candidate-pair / hot-bucket counts for three LSH band configs over
    the SAME 16-perm signatures (raw corpus, no injection)."""
    sig_cols = ",\n               ".join(
        f"min({_sql_hash64('shingle', seed=i)}) AS h{i}"
        for i in range(MINHASH_PERMS)
    )
    shingles_raw = _SQL_SHINGLES.replace("FROM inj,", "FROM documents,")
    parts = []
    for bands in (2, 4, 8):
        rows = MINHASH_PERMS // bands
        banded = "\n            UNION ALL\n".join(
            f"            SELECT doc_id, {b} AS band, "
            + _sql_hash64(
                " || ':' || ".join(f"h{b * rows + r}" for r in range(rows))
            )
            + " AS bkey FROM sigs"
            for b in range(bands)
        )
        parts.append(f"""
        SELECT CAST({bands} AS BIGINT) AS bands,
               CAST({rows} AS BIGINT) AS rows_per_band,
               (SELECT CAST(count(*) AS BIGINT) FROM (
                   SELECT DISTINCT l.doc_id, r.doc_id
                   FROM b{bands} l JOIN b{bands} r
                     ON l.band = r.band AND l.bkey = r.bkey
                        AND l.doc_id < r.doc_id)) AS n_candidate_pairs,
               (SELECT CAST(count(*) AS BIGINT) FROM (
                   SELECT band, bkey FROM b{bands}
                   GROUP BY band, bkey HAVING count(*) >= 2)) AS n_hot_buckets
        """)
        parts[-1] = (f"b{bands} AS (\n{banded}\n        )", parts[-1])
    ctes = ",\n        ".join(p[0] for p in parts)
    selects = "\n        UNION ALL\n".join(p[1] for p in parts)
    return f"""
        WITH sh AS ({shingles_raw}),
        sigs AS (
            SELECT doc_id,
               {sig_cols}
            FROM sh GROUP BY doc_id
        ),
        {ctes}
        {selects}
    """


@op(
    "dedup_lsh_tuning",
    oracle=_lsh_tuning_oracle(),
    scale=(
        "LSH banding sweep — picks (bands, rows/band) BEFORE committing "
        "the full-corpus candidate join: the same 16-perm signature table "
        "(computed once — one shingle groupBy) is re-banded three ways "
        "(2x8 strict ... 8x2 loose) and each config reports its candidate "
        "pair volume and hot-bucket count. The s-curve trade-off made "
        "measurable: strict bands miss near-dups, loose bands explode the "
        "verify stage; at 100 TB this sweep runs on a corpus sample and "
        "its pair-volume projection is the cost model for the real run "
        "(candidate pairs x verify cost vs recall target)."
    ),
)
def dedup_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate volume + hot-bucket counts for 2x8, 4x4, and 8x2 LSH
    bandings of one shared MinHash signature table."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(word_shingles(docs))
    out = None
    for bands in (2, 4, 8):
        rows = MINHASH_PERMS // bands
        banded = sigs.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            md5_hash64(
                                F.concat_ws(
                                    ":",
                                    *[
                                        F.col("sig")[b * rows + r]
                                        for r in range(rows)
                                    ],
                                )
                            ).alias("bkey"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bb"),
        ).select("doc_id", "bb.band", "bb.bkey")
        l, r = banded.alias("l"), banded.alias("r")
        pairs = (
            l.join(
                r,
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.bkey") == F.col("r.bkey"))
                & (F.col("l.doc_id") < F.col("r.doc_id")),
            )
            .select("l.doc_id", "r.doc_id")
            .distinct()
            .agg(F.count(F.lit(1)).alias("n_candidate_pairs"))
        )
        hot = (
            banded.groupBy("band", "bkey")
            .agg(F.count(F.lit(1)).alias("sz"))
            .where(F.col("sz") >= 2)
            .agg(F.count(F.lit(1)).alias("n_hot_buckets"))
        )
        row = (
            pairs.crossJoin(hot)
            .select(
                F.lit(bands).cast("long").alias("bands"),
                F.lit(rows).cast("long").alias("rows_per_band"),
                "n_candidate_pairs",
                "n_hot_buckets",
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


@op(
    "dedup_exact_normalized",
    oracle="""
        WITH inj AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000,
                   upper(text) || '  ' AS text
            FROM documents WHERE doc_id % 40 = 0
        ),
        normed AS (
            SELECT doc_id,
                   md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g'))
                       AS h
            FROM inj
        )
        SELECT h AS norm_hash,
               CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
               CAST(count(*) AS BIGINT) AS n_copies
        FROM normed GROUP BY h HAVING count(*) > 1
    """,
    scale=(
        "Normalization-aware exact dedup: lowercase + whitespace "
        "collapse + trim BEFORE hashing catches the case/spacing "
        "variants raw md5 dedup misses (the most common crawl-dup "
        "class) at the identical cost — the normalization is a map-side "
        "projection, the shuffle still carries 16-byte hashes. "
        "Self-demonstrating via injected uppercase+padded copies of "
        "every 40th doc; the canonical-keeper rule (min doc_id) matches "
        "dedup_keep_canonical."
    ),
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text (lower/trim/space-collapse), with
    injected case-variant duplicates."""
    docs = load_table(spark, sf_dir, "documents")
    variants = docs.where(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("  ")).alias("text"),
    )
    inj = docs.select("doc_id", "text").unionAll(variants)
    normed = inj.select(
        "doc_id",
        F.md5(
            F.regexp_replace(F.trim(F.lower("text")), " +", " ")
        ).alias("norm_hash"),
    )
    return (
        normed.groupBy("norm_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .where(F.col("n_copies") > 1)
    )


@op(
    "corpus_cross_source_leakage",
    oracle="""
        WITH cand AS (""" + _minhash_oracle() + """),
        src AS (SELECT doc_id, source FROM documents)
        SELECT least(sa.source, sb.source) AS src_lo,
               greatest(sa.source, sb.source) AS src_hi,
               sa.source <> sb.source AS cross_source,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM cand
        JOIN src sa ON sa.doc_id = cand.doc_a % 1000000
        JOIN src sb ON sb.doc_id = cand.doc_b % 1000000
        GROUP BY 1, 2, 3
    """,
    scale=(
        "Train/test contamination report: which source pairs share near-"
        "duplicate documents. Candidates come from the SAME banded "
        "MinHash-LSH join as dedup_near_minhash (no new all-pairs work); "
        "the source attribution is two broadcast joins against the "
        "doc->source dim, and the output is a |sources|^2-bounded "
        "aggregate. This is the decontamination decision table — at "
        "100 TB it runs as a cheap postfix on the dedup pipeline's "
        "existing candidate set rather than a separate scan."
    ),
)
def corpus_cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pair counts per source pair (cross-source = leakage)."""
    docs = load_table(spark, sf_dir, "documents")
    inj = inject_near_dups(docs.select("doc_id", "text"))
    pairs = lsh_candidate_pairs(minhash_signatures(word_shingles(inj)))
    src = docs.select("doc_id", "source")
    sa = src.alias("sa")
    sb = src.alias("sb")
    return (
        pairs.join(
            F.broadcast(sa),
            F.col("sa.doc_id") == F.col("doc_a") % 1_000_000,
        )
        .join(
            F.broadcast(sb),
            F.col("sb.doc_id") == F.col("doc_b") % 1_000_000,
        )
        .groupBy(
            F.least(F.col("sa.source"), F.col("sb.source")).alias("src_lo"),
            F.greatest(F.col("sa.source"), F.col("sb.source")).alias(
                "src_hi"
            ),
            (F.col("sa.source") != F.col("sb.source")).alias("cross_source"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


_AUD_PERMS = 16


def _aud_sig_sql() -> str:
    cols = ",\n                   ".join(
        f"min({_sql_hash64('CAST(user_id AS VARCHAR)', seed=i)}) AS h{i}"
        for i in range(_AUD_PERMS)
    )
    return f"""
            SELECT event_type,
                   {cols}
            FROM (SELECT DISTINCT event_type, user_id FROM events)
            GROUP BY event_type
    """


@op(
    "agg_minhash_jaccard",
    oracle="""
        WITH sigs AS ({sigs}),
        du AS (SELECT DISTINCT event_type, user_id FROM events),
        sizes AS (SELECT event_type, count(*) AS n FROM du
                  GROUP BY event_type),
        common AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   count(*) AS n_common
            FROM du a JOIN du b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY 1, 2
        )
        SELECT s1.event_type AS type_a, s2.event_type AS type_b,
               floor((({matches}) / {k}.0) * 10000.0 + 0.505) / 10000.0
                   AS est_jaccard,
               floor((CAST(c.n_common AS DOUBLE)
                      / (za.n + zb.n - c.n_common)) * 10000.0 + 0.505)
                   / 10000.0 AS exact_jaccard
        FROM sigs s1
        JOIN sigs s2 ON s1.event_type < s2.event_type
        JOIN common c ON c.type_a = s1.event_type
                     AND c.type_b = s2.event_type
        JOIN sizes za ON za.event_type = s1.event_type
        JOIN sizes zb ON zb.event_type = s2.event_type
    """.format(
        sigs=_aud_sig_sql(),
        k=_AUD_PERMS,
        matches=" + ".join(
            f"CASE WHEN s1.h{i} = s2.h{i} THEN 1 ELSE 0 END"
            for i in range(_AUD_PERMS)
        ),
    ),
    scale=(
        "Audience-overlap estimation with mergeable one-permutation-style "
        "MinHash: per-segment signatures are 16 min() partial aggregates "
        "over the distinct (segment, user) stream — commutative state "
        "that merges map-side and ACROSS days, so the sketch of a 100 TB "
        "history is maintained incrementally without ever re-touching "
        "raw data. Pairwise comparison happens on the |segments|-row "
        "signature table (broadcast-trivial); the exact-Jaccard twin "
        "computed alongside is the audit column the sketch replaces at "
        "scale — the op IS its own accuracy report."
    ),
)
def agg_minhash_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimated vs exact audience Jaccard between event-type pairs."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct()
    sigs = du.groupBy("event_type").agg(
        *[
            F.min(
                md5_hash64(F.col("user_id").cast("string"), seed=i)
            ).alias(f"h{i}")
            for i in range(_AUD_PERMS)
        ]
    )
    s1 = sigs.alias("s1")
    s2 = sigs.alias("s2")
    matches = sum(
        F.when(F.col(f"s1.h{i}") == F.col(f"s2.h{i}"), 1).otherwise(0)
        for i in range(_AUD_PERMS)
    )
    est = s1.join(
        s2, F.col("s1.event_type") < F.col("s2.event_type")
    ).select(
        F.col("s1.event_type").alias("type_a"),
        F.col("s2.event_type").alias("type_b"),
        rnd(matches.cast("double") / F.lit(float(_AUD_PERMS)), 4).alias(
            "est_jaccard"
        ),
    )
    a = du.alias("a")
    b = du.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = du.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    za = sizes.alias("za")
    zb = sizes.alias("zb")
    exact = (
        common.join(
            F.broadcast(za), F.col("za.event_type") == F.col("type_a")
        )
        .join(F.broadcast(zb), F.col("zb.event_type") == F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            rnd(
                F.col("n_common").cast("double")
                / (F.col("za.n") + F.col("zb.n") - F.col("n_common")),
                4,
            ).alias("exact_jaccard"),
        )
    )
    return est.join(exact, ["type_a", "type_b"])


@op(
    "dedup_eval_precision_recall",
    oracle="""
        WITH cand AS (""" + _minhash_oracle() + """),
        truth AS (
            SELECT doc_id AS doc_a, doc_id + 1000000 AS doc_b
            FROM documents WHERE doc_id % 25 = 0
        ),
        tp AS (
            SELECT count(*) AS n FROM cand JOIN truth
              ON cand.doc_a = truth.doc_a AND cand.doc_b = truth.doc_b
        )
        SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true_pairs,
               CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
               CAST((SELECT n FROM tp) AS BIGINT) AS n_true_positive,
               floor((CAST((SELECT n FROM tp) AS DOUBLE)
                      / (SELECT count(*) FROM cand)) * 10000.0 + 0.505)
                   / 10000.0 AS precision_,
               floor((CAST((SELECT n FROM tp) AS DOUBLE)
                      / (SELECT count(*) FROM truth)) * 10000.0 + 0.505)
                   / 10000.0 AS recall_
    """,
    scale=(
        "The dedup-pipeline acceptance test AS an operator: LSH candidate "
        "pairs (same banded join as dedup_near_minhash) scored against "
        "the known injected ground truth — precision/recall in one row. "
        "All three inputs are already-reduced relations (candidates are "
        "band-join output, truth is a filter over doc ids), and the "
        "scoring joins are on (doc_a, doc_b) pairs — linear, mergeable, "
        "no re-shingling. At 100 TB this runs on a labeled holdout "
        "sample, and THIS number (not a guess) decides the band/row "
        "configuration dedup_lsh_tuning enumerates."
    ),
)
def dedup_eval_precision_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of MinHash-LSH candidates vs injected truth pairs."""
    docs = load_table(spark, sf_dir, "documents")
    inj = inject_near_dups(docs.select("doc_id", "text"))
    cand = lsh_candidate_pairs(minhash_signatures(word_shingles(inj)))
    truth = docs.where(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("doc_a"),
        (F.col("doc_id") + 1_000_000).alias("doc_b"),
    )
    tp = cand.join(truth, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("n_tp")
    )
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    return (
        tp.crossJoin(n_true)
        .crossJoin(n_cand)
        .select(
            F.col("n_true").alias("n_true_pairs"),
            F.col("n_cand").alias("n_candidates"),
            F.col("n_tp").alias("n_true_positive"),
            rnd(
                F.col("n_tp").cast("double") / F.col("n_cand"), 4
            ).alias("precision_"),
            rnd(
                F.col("n_tp").cast("double") / F.col("n_true"), 4
            ).alias("recall_"),
        )
    )


@op(
    "dedup_survivorship_golden",
    oracle="""
        WITH inj AS (
            SELECT doc_id, text, source, n_chars FROM documents
            UNION ALL
            SELECT doc_id + 1000000, text || ' mutant', source, n_chars + 7
            FROM documents WHERE doc_id % 25 = 0
        ),
        clustered AS (
            SELECT doc_id % 1000000 AS cluster_id, doc_id, text, source,
                   n_chars
            FROM inj
        )
        SELECT cluster_id,
               CAST(count(*) AS BIGINT) AS n_versions,
               CAST(min(doc_id) AS BIGINT) AS surviving_doc_id,
               CAST(max(n_chars) AS BIGINT) AS golden_n_chars,
               max_by(text, n_chars * 100000000 - doc_id) AS golden_text,
               min(source) AS golden_source
        FROM clustered GROUP BY cluster_id
        HAVING count(*) > 1
    """,
    scale=(
        "Field-level survivorship (the MDM golden-record step after "
        "dedup clustering): each output FIELD picks its own winner by "
        "its own rule — stable id = min, completeness = max length, "
        "content = max_by on a composite total-order key, provenance = "
        "deterministic min — all mergeable partial aggregates over the "
        "cluster key, so golden records build in one shuffle with NO "
        "per-cluster sort or collect. Cluster ids here come from the "
        "injection convention; in production they arrive from "
        "dedup_clusters' connected components, same downstream shape. "
        "The composite int64 (n_chars*1e8 - doc_id) max_by key is the "
        "determinism trick: every rule needs a total order or the "
        "golden record flaps between runs."
    ),
)
def dedup_survivorship_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden records per duplicate cluster via per-field survivorship."""
    docs = load_table(spark, sf_dir, "documents")
    mutated = (
        docs.where(F.col("doc_id") % 25 == 0)
        .withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
        .withColumn("text", F.concat(F.col("text"), F.lit(" mutant")))
        .withColumn("n_chars", F.col("n_chars") + F.lit(7))
    )
    inj = docs.select("doc_id", "text", "source", "n_chars").unionByName(
        mutated.select("doc_id", "text", "source", "n_chars")
    )
    clustered = inj.withColumn(
        "cluster_id", F.col("doc_id") % 1_000_000
    )
    return (
        clustered.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_versions"),
            F.min("doc_id").alias("surviving_doc_id"),
            F.max("n_chars").alias("golden_n_chars"),
            F.max_by(
                "text",
                F.col("n_chars") * F.lit(100_000_000) - F.col("doc_id"),
            ).alias("golden_text"),
            F.min("source").alias("golden_source"),
        )
        .where(F.col("n_versions") > 1)
    )

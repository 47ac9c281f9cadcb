"""Text-analysis operators over ``documents`` (SURVEY §2.11 + north-star
training-data-pipeline surface): corpus stats, tf-idf, language ID, quality
scoring, fingerprinting, regex token counting.

All of these are explode → join → aggregate compositions of built-in
functions — the tokenizer is ``split``/``regexp_extract_all``, never Python.

Scale notes (100 TB):
- ``explode(split(text))`` multiplies rows by ~tokens/doc BEFORE any
  shuffle; every op below aggregates or pre-filters immediately after the
  explode so the exchange carries (key, count) pairs, not raw tokens.
- The language-ID profile and the idf table are tiny (|vocab|×|langs|) —
  broadcast; the big side never shuffles for the join.
- Determinism: scores that feed an argmax/top-k are either pure integers
  (langid: Σ tf·freq) or rounded before ordering (tfidf), with total
  tie-break keys — hash-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from python_kinesis_streaming_spark.functions.rounding import rnd, sql_rnd
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table


def tokenize(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, tok) whitespace tokens, one row per occurrence."""
    return df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).where(F.length("tok") > 0)


def doc_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, tok) — whitespace tokens of ``documents``."""
    return tokenize(docs, "doc_id", "text")


@op(
    "text_tokenize_stats",
    oracle="""
        WITH tok AS (
            SELECT doc_id, t.tok AS tok
            FROM documents, unnest(string_split(text, ' ')) AS t(tok)
            WHERE len(t.tok) > 0
        ),
        per_lang AS (
            SELECT d.lang, count(*) AS n_tokens, count(DISTINCT tok) AS vocab
            FROM tok JOIN documents d USING (doc_id) GROUP BY d.lang
        ),
        per_doc AS (
            SELECT lang, count(*) AS n_docs,
                   floor((avg(n_chars)) * 100.0 + 0.505) / 100.0 AS avg_chars
            FROM documents GROUP BY lang
        )
        SELECT lang, n_docs, avg_chars, n_tokens, vocab
        FROM per_doc JOIN per_lang USING (lang)
    """,
    scale=(
        "Token counts aggregate immediately after the explode (map-side "
        "combine) — the shuffle carries 5 lang rows, not 100 TB of tokens."
    ),
)
def text_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats: docs, avg chars, token count, vocab size."""
    docs = load_table(spark, sf_dir, "documents")
    tok = doc_tokens(docs).join(docs.select("doc_id", "lang"), "doc_id")
    per_lang = tok.groupBy("lang").agg(
        F.count("*").alias("n_tokens"), F.countDistinct("tok").alias("vocab")
    )
    per_doc = docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"), rnd(F.avg("n_chars"), 2).alias("avg_chars")
    )
    return per_doc.join(per_lang, "lang").select(
        "lang", "n_docs", "avg_chars", "n_tokens", "vocab"
    )


@op(
    "text_tfidf",
    oracle="""
        WITH tok AS (
            SELECT doc_id, t.tok AS tok
            FROM documents, unnest(string_split(text, ' ')) AS t(tok)
            WHERE len(t.tok) > 0
        ),
        tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
        df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tok GROUP BY tok),
        n AS (SELECT count(*) AS n FROM documents),
        scored AS (
            SELECT doc_id, tok,
                   floor((tf * ln(n / df)) * 1000000.0 + 0.505) / 1000000.0
                       AS tfidf
            FROM tf JOIN df USING (tok) CROSS JOIN n
        )
        SELECT doc_id, tok, tfidf FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rn
            FROM scored
        ) WHERE rn <= 3
    """,
    scale=(
        "tf and df are both partial-agg reductions; the idf table is "
        "|vocab| rows → broadcast join back onto tf. Per-doc top-3 via "
        "window on the doc_id partitioning the tf agg already produced."
    ),
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf-idf terms per document (tf · ln(N/df), rounded 6 dp)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = doc_tokens(docs)
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df = tok.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.count()  # scalar: fixture count; at scale use a broadcast agg
    scored = tf.join(F.broadcast(df), "tok").select(
        "doc_id",
        "tok",
        rnd(F.col("tf") * F.log(F.lit(float(n)) / F.col("df")), 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .drop("rn")
    )


@op(
    "text_langid",
    oracle="""
        WITH tok AS (
            SELECT doc_id, t.tok AS tok
            FROM documents, unnest(string_split(text, ' ')) AS t(tok)
            WHERE len(t.tok) > 0
        ),
        profile AS (
            SELECT d.lang, tok, count(*) AS freq
            FROM tok JOIN documents d USING (doc_id) GROUP BY d.lang, tok
        ),
        tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
        scores AS (
            SELECT tf.doc_id, p.lang, sum(tf.tf * p.freq) AS score
            FROM tf JOIN profile p USING (tok)
            GROUP BY tf.doc_id, p.lang
        )
        SELECT doc_id, lang AS pred_lang, CAST(score AS BIGINT) AS score FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
            FROM scores
        ) WHERE rn = 1
    """,
    scale=(
        "Corpus-trained unigram classifier: the profile is |vocab|×|langs| "
        "rows (tiny → broadcast); scoring is one broadcast join + integer "
        "partial agg. Pure integer scores: argmax is exactly reproducible "
        "(no float summation order hazard)."
    ),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID: argmax over per-language unigram-frequency scores.

    The per-language token-frequency profile is learned from the corpus's
    own ``lang`` labels (two-pass: profile build, then score+argmax) —
    the distributed shape of any n-gram language identifier. Scores are
    integers (Σ tf·freq), ties broken by lang name.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = doc_tokens(docs)
    profile = (
        tok.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "tok")
        .agg(F.count("*").alias("freq"))
    )
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    scores = (
        tf.join(F.broadcast(profile), "tok")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("tf") * F.col("freq")).alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("lang"))
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("pred_lang"), "score")
    )


def quality_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document quality gate features: token count, type-token ratio,
    average token length, and a keep flag (20-80 tokens and ttr >= 0.25)."""
    stats = tokenize(df, id_col, text_col).groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct"),
        F.sum(F.length("tok")).alias("chars_in_tokens"),
    )
    ttr = F.col("n_distinct").cast("double") / F.col("n_tokens")
    return stats.select(
        id_col,
        "n_tokens",
        ttr.alias("ttr"),
        (F.col("chars_in_tokens").cast("double") / F.col("n_tokens")).alias(
            "avg_tok_len"
        ),
        F.when(
            F.col("n_tokens").between(20, 80) & (ttr >= 0.25), F.lit(1)
        ).otherwise(F.lit(0)).alias("keep"),
    )


@op(
    "text_quality",
    oracle="""
        WITH tok AS (
            SELECT doc_id, t.tok AS tok
            FROM documents, unnest(string_split(text, ' ')) AS t(tok)
            WHERE len(t.tok) > 0
        ),
        stats AS (
            SELECT doc_id, count(*) AS n_tokens,
                   count(DISTINCT tok) AS n_distinct,
                   sum(len(tok)) AS chars_in_tokens
            FROM tok GROUP BY doc_id
        )
        SELECT doc_id, n_tokens,
               floor((CAST(n_distinct AS DOUBLE) / n_tokens) * 10000.0 + 0.505)
                   / 10000.0 AS ttr,
               floor((CAST(chars_in_tokens AS DOUBLE) / n_tokens) * 10000.0 + 0.505)
                   / 10000.0 AS avg_tok_len,
               CASE WHEN n_tokens BETWEEN 20 AND 80
                     AND CAST(n_distinct AS DOUBLE) / n_tokens >= 0.25
                    THEN 1 ELSE 0 END AS keep
        FROM stats
    """,
    scale=(
        "Per-doc quality features reduce at the doc_id key the explode "
        "already carries — single partial-agg shuffle; the keep-flag is the "
        "pipeline's filter gate (apply BEFORE expensive downstream ops)."
    ),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features per doc: token count, type-token ratio, avg token
    length, and a keep/drop gate (the LLM-pipeline quality filter)."""
    docs = load_table(spark, sf_dir, "documents")
    return quality_features(docs, "doc_id", "text").select(
        "doc_id",
        "n_tokens",
        rnd(F.col("ttr"), 4).alias("ttr"),
        rnd(F.col("avg_tok_len"), 4).alias("avg_tok_len"),
        "keep",
    )


@op(
    "text_fingerprint",
    oracle="""
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))),
                                   ' ')) AS fp
        FROM documents
    """,
    scale=(
        "Canonical-form fingerprint (sorted distinct token set → md5): "
        "map-only, no shuffle; downstream dedup groups by the 16-byte fp. "
        "Word-order-insensitive by construction — catches shuffled copies "
        "exact dedup misses."
    ),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive document fingerprint: md5 of the sorted token set."""
    docs = load_table(spark, sf_dir, "documents")
    canon = F.concat_ws(" ", F.array_sort(F.array_distinct(F.split("text", " "))))
    return docs.select("doc_id", F.md5(canon).alias("fp"))


@op(
    "text_token_count",
    oracle=r"""
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
               CAST(sum(len(regexp_extract_all(text, '[a-z0-9]+'))) AS BIGINT) AS re_tokens
        FROM documents GROUP BY source
    """,
    scale=(
        "Token counting never leaves the JVM: size(split) / "
        "size(regexp_extract_all) are per-row expressions folded into the "
        "scan stage; only (source, counts) rows shuffle."
    ),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs regex ([a-z0-9]+, a BPE-ish word pattern) token counts
    per source."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("ws_tokens"),
        F.sum(F.size(F.expr("regexp_extract_all(text, '[a-z0-9]+', 0)"))).alias(
            "re_tokens"
        ),
    )


@op(
    "text_levenshtein",
    oracle="""
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS dist
        FROM documents a JOIN documents b
          ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE a.doc_id < 50 AND b.doc_id < 50
    """,
    scale=(
        "Edit distance is O(len_a*len_b) per pair - NEVER all-pairs at "
        "scale: block first (here: same source + id range), truncate "
        "inputs, or gate behind cheaper filters (fingerprint/MinHash). "
        "levenshtein() itself is a JVM builtin (codegen, no Python)."
    ),
)
def text_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein distance on 40-char prefixes over blocked doc pairs -
    the exact-verify step of a fuzzy-dedup pipeline."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    a = docs.alias("a")
    b = docs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.levenshtein(
                F.substring(F.col("a.text"), 1, 40), F.substring(F.col("b.text"), 1, 40)
            ).alias("dist"),
        )
    )


@op(
    "text_ngram_freq",
    oracle="""
        WITH grams AS (
            SELECT d.lang, g.bg AS bigram
            FROM documents d,
                 unnest([array_to_string(string_split(text, ' ')[i:i+1], ' ')
                         FOR i IN range(1, greatest(len(string_split(text, ' ')) - 1, 0) + 1)]) AS g(bg)
            WHERE len(string_split(text, ' ')) >= 2
        ),
        counted AS (
            SELECT lang, bigram, count(*) AS n,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY count(*) DESC, bigram) AS rn
            FROM grams GROUP BY lang, bigram
        )
        SELECT lang, bigram, n FROM counted WHERE rn <= 5
    """,
    scale=(
        "Corpus n-gram statistics (tokenizer/vocab induction input): "
        "bigrams explode JVM-side, counts partial-agg immediately "
        "(shuffle carries |vocab²∩corpus| rows, not tokens), and the "
        "top-k window ranks only aggregated (lang,bigram) rows. Total "
        "tie-break (count desc, bigram asc) keeps the result engine-"
        "independent."
    ),
)
def text_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 word bigrams per language across the document corpus."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 2),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)),
    )
    counted = (
        # ≥2-token guard on BOTH sides: sequence(0, size-2) would run
        # DESCENDING for a 1-token doc (Spark sequence semantics) and emit
        # phantom grams the oracle's range() never generates.
        docs.where(F.size(toks) >= 2)
        .select("lang", F.explode(grams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("bigram"))
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("lang", "bigram", "n")
    )


@op(
    "text_sentence_split",
    oracle="""
        WITH s AS (
            SELECT doc_id, trim(x.s) AS sentence
            FROM documents,
                 unnest(string_split_regex(text, '[.!?]+')) AS x(s)
            WHERE len(trim(x.s)) > 0
        )
        SELECT doc_id,
               count(*) AS n_sentences,
               floor((avg(len(sentence))) * 100.0 + 0.505) / 100.0
                   AS avg_sentence_chars,
               max(len(sentence)) AS max_sentence_chars
        FROM s GROUP BY doc_id
    """,
    scale=(
        "Sentence segmentation (regex split on terminal punctuation) + "
        "per-doc stats: split/explode is JVM-side, stats partial-agg on "
        "the doc_id the explode preserved — no Python tokenizer, no "
        "shuffle of raw sentences. The sentence-level pass of a "
        "chunking/packing pipeline."
    ),
)
def text_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document sentence counts and length stats (regex segmentation)."""
    docs = load_table(spark, sf_dir, "documents")
    sent = docs.select(
        "doc_id",
        F.explode(F.split("text", r"[.!?]+")).alias("raw"),
    ).select("doc_id", F.trim("raw").alias("sentence")).where(
        F.length("sentence") > 0
    )
    return sent.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sentences"),
        rnd(F.avg(F.length("sentence")), 2).alias("avg_sentence_chars"),
        F.max(F.length("sentence")).alias("max_sentence_chars"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Overlapping fixed-stride token chunks: one row per (doc, chunk) with
    ``chunk_id``, ``n_in_chunk``, ``first_tok``, ``chunk_md5``. Map-only —
    sequence+slice codegen expressions, zero shuffles at any corpus size."""
    base = df.select(id_col, F.split(F.col(text_col), " ").alias("toks"))
    n_chunks = F.ceil(F.size("toks") / F.lit(float(stride))).cast("int")
    chunked = base.select(
        id_col,
        "toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    ).withColumn("piece", F.expr(f"slice(toks, chunk_id * {stride} + 1, {window})"))
    return chunked.select(
        id_col,
        "chunk_id",
        F.size("piece").alias("n_in_chunk"),
        F.element_at("piece", 1).alias("first_tok"),
        F.md5(F.concat_ws(" ", "piece")).alias("chunk_md5"),
    )


@op(
    "text_chunk_overlap",
    oracle="""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        g AS (
            SELECT doc_id, toks, u.i AS chunk_id,
                   list_slice(toks, CAST(u.i * 24 + 1 AS BIGINT),
                              CAST(u.i * 24 + 32 AS BIGINT)) AS piece
            FROM t, unnest(range(CAST(ceil(len(toks) / 24.0) AS BIGINT))) AS u(i)
        )
        SELECT doc_id, chunk_id,
               len(piece) AS n_in_chunk,
               piece[1] AS first_tok,
               md5(array_to_string(piece, ' ')) AS chunk_md5
        FROM g
    """,
    scale=(
        "Sliding-window chunking (32-token window, stride 24): the RAG/"
        "pretraining segmentation primitive. Map-only — sequence+slice are "
        "codegen expressions, no shuffle, no Python; output rows carry an "
        "md5 so downstream chunk-level dedup groups on 16 bytes, not text. "
        "Trailing short chunks keep the fixed stride grid (deterministic "
        "chunk ids across engines and re-runs)."
    ),
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-stride token chunks per document (window 32,
    stride 24); per chunk: token count, first token, md5 fingerprint."""
    return chunk_documents(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", window=32, stride=24
    )


@op(
    "text_bpe_pair_counts",
    oracle="""
        WITH tok AS (
            SELECT t.tok AS tok
            FROM documents, unnest(string_split(text, ' ')) AS t(tok)
            WHERE len(t.tok) >= 2
        ),
        pairs AS (
            SELECT u.p AS pair
            FROM tok, unnest(list_transform(
                     range(1, len(tok)),
                     i -> substr(tok, CAST(i AS INTEGER), 2))) AS u(p)
        )
        SELECT pair, count(*) AS n
        FROM pairs GROUP BY pair
        ORDER BY n DESC, pair LIMIT 20
    """,
    scale=(
        "The BPE-training inner loop: adjacent-symbol pair frequencies "
        "across the corpus (first merge round, char-level symbols). "
        "Per-word bigram expansion is a codegen transform+explode (no "
        "Python); the count is a partial agg over a tiny key space "
        "(|alphabet|^2), so the shuffle carries KBs regardless of corpus "
        "size — exactly how a tokenizer trainer scales to 100 TB. "
        "Subsequent merge rounds re-run the same shape over re-segmented "
        "symbols."
    ),
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent character-pair frequencies over whitespace tokens —
    the first BPE merge-candidate table."""
    docs = load_table(spark, sf_dir, "documents")
    tok = doc_tokens(docs).where(F.length("tok") >= 2)
    pairs = tok.select(
        F.explode(
            F.expr("transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


@op(
    "text_char_entropy",
    oracle="""
        WITH ch AS (
            SELECT doc_id, u.ch AS ch
            FROM documents, unnest(string_split(text, '')) AS u(ch)
            WHERE len(u.ch) > 0
        ),
        cnt AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY doc_id, ch)
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_chars_total,
               count(*) AS n_distinct_chars,
               floor((ln(sum(c)) - sum(c * ln(c)) / sum(c)) * 1000000.0 + 0.505)
                   / 1000000.0 AS entropy
        FROM cnt GROUP BY doc_id
    """,
    scale=(
        "Character-entropy quality gate (the cheap perplexity proxy: "
        "gibberish and boilerplate both show anomalous char entropy). "
        "ZERO-shuffle: a document's characters live inside its own row, so "
        "the whole computation — sort chars, run-length the sorted array, "
        "closed form H = ln(N) - sum(c*ln c)/N — is per-row lambda-HOF "
        "arithmetic in whole-stage codegen. The explode+groupBy phrasing "
        "(the oracle) would shuffle token-level rows; this shuffles "
        "NOTHING, the ideal shape for a 100 TB quality sweep."
    ),
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-unigram entropy (nats) + char counts.

    Map-only: sorted-char run lengths via HOFs (CASE guards the i=1
    lambda branch — ANSI mode rejects element_at(cs, 0))."""
    docs = load_table(spark, sf_dir, "documents")
    prepped = docs.select(
        "doc_id",
        F.expr("array_sort(filter(split(text, ''), x -> x <> ''))").alias("cs"),
    ).where(F.size("cs") > 0)
    runs = prepped.select(
        "doc_id",
        F.size("cs").alias("n"),
        F.expr(
            "filter(sequence(1, size(cs)), i -> "
            "CASE WHEN i = 1 THEN true ELSE cs[i-1] <> cs[i-2] END)"
        ).alias("starts"),
    )
    lens = runs.select(
        "doc_id",
        "n",
        F.size("starts").alias("n_distinct_chars"),
        F.expr(
            "zip_with(starts, "
            "concat(slice(starts, 2, size(starts) - 1), array(n + 1)), "
            "(s, e) -> CAST(e - s AS DOUBLE))"
        ).alias("lens"),
    )
    return lens.select(
        "doc_id",
        F.col("n").cast("long").alias("n_chars_total"),
        F.col("n_distinct_chars").cast("long"),
        rnd(
            F.log("n")
            - F.expr("aggregate(lens, 0D, (acc, c) -> acc + c * ln(c))")
            / F.col("n"),
            6,
        ).alias("entropy"),
    )


@op(
    "text_bigram_xent",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        bigrams AS (
            SELECT doc_id, u.b.w1 AS w1, u.b.w2 AS w2
            FROM toks, unnest(list_transform(range(1, len(t)),
                     i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS u(b)
            WHERE len(t) >= 2
        ),
        bc AS (SELECT w1, w2, count(*) AS c2 FROM bigrams GROUP BY w1, w2),
        uc AS (SELECT w1, count(*) AS c1 FROM bigrams GROUP BY w1),
        v AS (SELECT count(DISTINCT tok) AS vocab FROM (
                  SELECT u.tok AS tok
                  FROM toks, unnest(t) AS u(tok) WHERE len(u.tok) > 0)),
        scored AS (
            SELECT b.doc_id,
                   -ln((bc.c2 + 1.0) / (uc.c1 + v.vocab)) AS nll
            FROM bigrams b
            JOIN bc USING (w1, w2) JOIN uc USING (w1) CROSS JOIN v
        )
        SELECT doc_id, count(*) AS n_bigrams,
               floor((avg(nll)) * 1000000.0 + 0.505) / 1000000.0 AS xent
        FROM scored GROUP BY doc_id
    """,
    scale=(
        "Corpus-trained bigram LM cross-entropy — the perplexity quality "
        "filter, distributed: bigram extraction is an in-row HOF (no "
        "self-join on position), the LM tables are partial aggs over a "
        "<=|vocab|^2 key space (broadcast back), scoring is one join + "
        "per-doc avg. Two passes over the corpus total; at 100 TB train "
        "the counts on a sample and score the full corpus map-side."
    ),
)
def text_bigram_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under a corpus-trained Laplace-smoothed
    word-bigram LM (lower = more typical of the corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).where(
        F.size("t") >= 2
    )
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(t[i-1] AS w1, t[i] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    bc = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    uc = bigrams.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        doc_tokens(docs).select("tok").distinct().count()
    )  # scalar: fixture-sized; at scale keep it a broadcast agg
    scored = (
        bigrams.join(F.broadcast(bc), ["w1", "w2"])
        .join(F.broadcast(uc), ["w1"])
        .select(
            "doc_id",
            (
                -F.log(
                    (F.col("c2") + F.lit(1.0)) / (F.col("c1") + F.lit(float(vocab)))
                )
            ).alias("nll"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        rnd(F.avg("nll"), 6).alias("xent"),
    )


@op(
    "text_zipf_fit",
    oracle="""
        WITH tok AS (
            SELECT t.tok AS tok
            FROM documents, unnest(string_split(text, ' ')) AS t(tok)
            WHERE len(t.tok) > 0
        ),
        freq AS (SELECT tok, count(*) AS f FROM tok GROUP BY tok),
        ranked AS (
            SELECT f, row_number() OVER (ORDER BY f DESC, tok) AS r
            FROM freq
        ),
        top AS (SELECT ln(r) AS lx, ln(f) AS ly FROM ranked WHERE r <= 100)
        SELECT count(*) AS n_ranks,
               floor((regr_slope(ly, lx)) * 1000000.0 + 0.505) / 1000000.0
                   AS zipf_slope,
               floor((regr_r2(ly, lx)) * 1000000.0 + 0.505) / 1000000.0
                   AS fit_r2
        FROM top
    """,
    scale=(
        "Zipf-law diagnostics: does the corpus's rank-frequency curve "
        "look like natural language (slope ≈ -1) or like templated/"
        "synthetic spam? Token counts are the only corpus-sized pass "
        "(partial agg); the rank+fit runs on the top-100 rows. The "
        "cheap distribution-level quality check that catches generator "
        "collapse where per-doc gates can't."
    ),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS fit of ln(freq) vs ln(rank) over the top-100 corpus tokens —
    the Zipf exponent and fit quality."""
    docs = load_table(spark, sf_dir, "documents")
    freq = doc_tokens(docs).groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    w = Window.orderBy(F.desc("f"), F.asc("tok"))
    top = (
        freq.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= 100)
        .select(F.log("r").alias("lx"), F.log("f").alias("ly"))
    )
    return top.agg(
        F.count(F.lit(1)).alias("n_ranks"),
        rnd(F.regr_slope("ly", "lx"), 6).alias("zipf_slope"),
        rnd(F.regr_r2("ly", "lx"), 6).alias("fit_r2"),
    )


@op(
    "text_lang_confusion",
    oracle="""
        WITH tok AS (
            SELECT doc_id, t.tok AS tok
            FROM documents, unnest(string_split(text, ' ')) AS t(tok)
            WHERE len(t.tok) > 0
        ),
        profile AS (
            SELECT d.lang, tok, count(*) AS freq
            FROM tok JOIN documents d USING (doc_id) GROUP BY d.lang, tok
        ),
        tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
        scores AS (
            SELECT tf.doc_id, p.lang, sum(tf.tf * p.freq) AS score
            FROM tf JOIN profile p USING (tok)
            GROUP BY tf.doc_id, p.lang
        ),
        pred AS (
            SELECT doc_id, lang AS pred_lang FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
                FROM scores
            ) WHERE rn = 1
        )
        SELECT d.lang AS true_lang, p.pred_lang,
               count(*) AS n,
               CAST(count_if(d.lang = p.pred_lang) AS BIGINT) AS n_correct
        FROM documents d JOIN pred p USING (doc_id)
        GROUP BY d.lang, p.pred_lang
    """,
    scale=(
        "Classifier evaluation as a first-class op: the confusion matrix "
        "is one equi join of predictions back to labels + a |langs|² "
        "partial agg — evaluation cost is the prediction pass, the "
        "readout is free. The same shape scores ANY model whose "
        "predictions land in a table (the offline-eval loop of a "
        "training pipeline)."
    ),
)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the corpus-trained language identifier vs the
    true labels (true_lang × pred_lang counts)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = doc_tokens(docs)
    profile = (
        tok.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "tok")
        .agg(F.count("*").alias("freq"))
    )
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    scores = (
        tf.join(F.broadcast(profile), "tok")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("tf") * F.col("freq")).alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("lang"))
    pred = (
        scores.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("pred_lang"))
    )
    return (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("true_lang") == F.col("pred_lang")).alias("n_correct"),
        )
    )


@op(
    "text_heaps_law",
    oracle="""
        WITH w AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents
        ),
        f AS (
            SELECT w, min(doc_id) AS doc_id FROM w GROUP BY w
        ),
        p AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS new_words
            FROM f GROUP BY doc_id
        )
        SELECT doc_id, new_words,
               CAST(sum(new_words) OVER (ORDER BY doc_id) AS BIGINT)
                   AS cum_vocab
        FROM p
    """,
    scale=(
        "Heaps'-law vocabulary-growth curve: which documents introduce "
        "new vocabulary, scanning the corpus in doc_id order. explode -> "
        "min(doc_id) per word is ONE shuffle keyed on the word (map-side "
        "partial min), the per-doc re-agg is keyed on doc_id, and the "
        "cumulative sum runs over the |docs-with-new-words| relation — "
        "at 100 TB that's bounded by vocabulary size, not corpus size. "
        "The curve is the standard dedup-health diagnostic: a corpus "
        "whose cum_vocab flattens early is heavily duplicated."
    ),
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document new-vocabulary counts and the cumulative vocab curve."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    firsts = words.groupBy("w").agg(F.min("doc_id").alias("doc_id"))
    per_doc = firsts.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("new_words")
    )
    return per_doc.select(
        "doc_id",
        "new_words",
        F.sum("new_words").over(Window.orderBy("doc_id")).alias("cum_vocab"),
    )


@op(
    "text_collocations_pmi",
    oracle=f"""
        WITH dw AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        uni AS (
            SELECT u.t AS word, CAST(count(*) AS BIGINT) AS c
            FROM dw, unnest(w) AS u(t) GROUP BY u.t
        ),
        bi AS (
            SELECT w[u.i] AS x, w[u.i + 1] AS y,
                   CAST(count(*) AS BIGINT) AS cxy
            FROM dw, unnest(range(1, len(w))) AS u(i)
            GROUP BY 1, 2
        ),
        tot AS (
            SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS n_uni,
                   (SELECT CAST(sum(cxy) AS BIGINT) FROM bi) AS n_bi
        )
        SELECT b.x, b.y, b.cxy,
               {sql_rnd(
                   "ln((b.cxy * 1.0 / t.n_bi) / "
                   "((ux.c * 1.0 / t.n_uni) * (uy.c * 1.0 / t.n_uni)))", 4)}
                   AS pmi
        FROM bi b
        JOIN uni ux ON b.x = ux.word
        JOIN uni uy ON b.y = uy.word
        CROSS JOIN tot t
        WHERE b.cxy >= 5
        ORDER BY pmi DESC, b.x, b.y
        LIMIT 20
    """,
    scale=(
        "Pointwise-mutual-information collocations — the phrase-mining / "
        "tokenizer-merge signal. Bigrams come from an in-row index HOF "
        "(no positional self-join): each doc emits its adjacent pairs "
        "map-side, then ONE shuffle each for unigram and bigram counts "
        "(both partial-agg). The c_xy >= 5 support floor prunes the "
        "long tail BEFORE the two count joins, which broadcast at any "
        "corpus size (vocabulary-bounded). Top-k is TakeOrdered on the "
        "rounded score with full tie-breaks."
    ),
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-word collocations by PMI (support >= 5)."""
    docs = load_table(spark, sf_dir, "documents")
    dw = docs.select("doc_id", F.split("text", " ").alias("w"))
    uni = (
        dw.select(F.explode("w").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    bi = (
        dw.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), "
                    "i -> struct(element_at(w, i) AS x, "
                    "element_at(w, i + 1) AS y))"
                )
            ).alias("p")
        )
        .select("p.x", "p.y")
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("cxy"))
    )
    n_uni = uni.agg(F.sum("c").cast("long").alias("n_uni"))
    n_bi = bi.agg(F.sum("cxy").cast("long").alias("n_bi"))
    ux = uni.select(F.col("word").alias("x"), F.col("c").alias("cx"))
    uy = uni.select(F.col("word").alias("y"), F.col("c").alias("cy"))
    return (
        bi.where(F.col("cxy") >= 5)
        .join(F.broadcast(ux), "x")
        .join(F.broadcast(uy), "y")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select(
            "x",
            "y",
            "cxy",
            rnd(
                F.log(
                    (F.col("cxy") * F.lit(1.0) / F.col("n_bi"))
                    / (
                        (F.col("cx") * F.lit(1.0) / F.col("n_uni"))
                        * (F.col("cy") * F.lit(1.0) / F.col("n_uni"))
                    )
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "x", "y")
        .limit(20)
    )


@op(
    "text_ngram_novelty",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
            FROM documents
        ),
        shingles AS (
            SELECT DISTINCT doc_id,
                   ws[i.i] || ' ' || ws[i.i + 1] || ' ' || ws[i.i + 2] AS sh
            FROM toks, unnest(range(1, len(ws) - 1)) AS i(i)
            WHERE len(ws) >= 3
        ),
        firsts AS (
            SELECT sh, min(doc_id) AS first_doc FROM shingles GROUP BY sh
        )
        SELECT s.doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(count(*) FILTER (WHERE f.first_doc = s.doc_id) AS BIGINT)
                   AS n_novel,
               floor(count(*) FILTER (WHERE f.first_doc = s.doc_id)
                     / CAST(count(*) AS DOUBLE) * 10000.0 + 0.505) / 10000.0
                   AS novelty
        FROM shingles s JOIN firsts f USING (sh)
        GROUP BY s.doc_id
    """,
    scale=(
        "Corpus novelty curve — how much genuinely-new 3-gram content "
        "each document adds given everything ingested before it (by "
        "doc_id = arrival order). Two chained aggs on the shingle key: "
        "first-occurrence via min(doc_id) (mergeable), then a join back "
        "bounded by per-doc shingle counts. This is the monitoring side "
        "of dedup: novelty collapsing toward 0 tells you the crawl is "
        "re-reading itself BEFORE you pay for full near-dup passes. At "
        "100 TB the shingle table is the same one the MinHash pipeline "
        "builds — one materialization serves both."
    ),
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc novel-3-gram fraction relative to all earlier docs."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda w: F.length(w) > 0).alias("ws"),
    ).where(F.size("ws") >= 3)
    shingles = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("ws") - 3),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("ws"), i + 1),
                        F.element_at(F.col("ws"), i + 2),
                        F.element_at(F.col("ws"), i + 3),
                    ),
                )
            )
        ).alias("sh"),
    )
    firsts = shingles.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    joined = shingles.join(firsts, "sh")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1)).alias(
            "n_novel"
        ),
        rnd(
            F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1))
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("novelty"),
    )


@op(
    "text_bpe_merge_step",
    oracle="""
        WITH tok AS (
            SELECT t.tok AS tok
            FROM documents, unnest(string_split(text, ' ')) AS t(tok)
            WHERE len(t.tok) >= 2
        ),
        p1 AS (
            SELECT u.p AS pair, count(*) AS n
            FROM tok, unnest(list_transform(
                     range(1, len(tok)),
                     i -> substr(tok, CAST(i AS INTEGER), 2))) AS u(p)
            GROUP BY pair ORDER BY n DESC, pair LIMIT 1
        ),
        merged AS (
            SELECT replace(array_to_string(string_split(tok, ''), ' '),
                           substr(p1.pair, 1, 1) || ' ' || substr(p1.pair, 2, 1),
                           p1.pair) AS m,
                   p1.pair AS merged_pair
            FROM tok, p1
        ),
        p2 AS (
            SELECT merged_pair, u.p AS pair
            FROM merged,
                 unnest(list_transform(
                     range(1, len(string_split(m, ' '))),
                     i -> string_split(m, ' ')[i]
                          || string_split(m, ' ')[i + 1])) AS u(p)
        )
        SELECT merged_pair, pair, CAST(count(*) AS BIGINT) AS n
        FROM p2 GROUP BY merged_pair, pair
        ORDER BY n DESC, pair LIMIT 20
    """,
    scale=(
        "One full BPE training iteration: count adjacent symbol pairs, "
        "pick the argmax merge (total tie-break), APPLY it corpus-wide "
        "(left-to-right non-overlapping literal replace — both engines' "
        "replace() semantics, which is exactly BPE's greedy scan), and "
        "re-count pairs over the new symbol sequences. Each round is two "
        "partial aggs over a tiny |symbols|^2 key space plus a map-only "
        "rewrite; the 1-row argmax broadcast drives the rewrite — the "
        "loop a distributed tokenizer trainer runs ~50k times, one round "
        "materialized and oracle-pinned."
    ),
)
def text_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the top-1 BPE merge across the corpus and emit the top-20
    post-merge symbol-pair counts."""
    docs = load_table(spark, sf_dir, "documents")
    tok = doc_tokens(docs).where(F.length("tok") >= 2).select("tok")
    p1 = (
        tok.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(tok) - 1), "
                    "i -> substring(tok, i, 2))"
                )
            ).alias("pair")
        )
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(1)
        .select(F.col("pair").alias("merged_pair"))
    )
    spaced = F.expr("array_join(filter(split(tok, ''), c -> c != ''), ' ')")
    merged = tok.crossJoin(F.broadcast(p1)).select(
        "merged_pair",
        F.replace(
            spaced,
            F.concat_ws(
                " ",
                F.substring("merged_pair", 1, 1),
                F.substring("merged_pair", 2, 1),
            ),
            F.col("merged_pair"),
        ).alias("m"),
    )
    p2 = merged.select(
        "merged_pair",
        F.explode(
            F.expr(
                "transform(sequence(1, size(split(m, ' ')) - 1), "
                "i -> concat(element_at(split(m, ' '), i), "
                "element_at(split(m, ' '), i + 1)))"
            )
        ).alias("pair"),
    )
    return (
        p2.groupBy("merged_pair", "pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


@op(
    "text_vocab_coverage",
    oracle="""
        WITH tok AS (
            SELECT t.tok AS tok
            FROM documents, unnest(string_split(text, ' ')) AS t(tok)
            WHERE len(t.tok) > 0
        ),
        freq AS (
            SELECT tok, count(*) AS n FROM tok GROUP BY tok
        ),
        ranked AS (
            SELECT n,
                   row_number() OVER (ORDER BY n DESC, tok) AS rk,
                   sum(n) OVER (ORDER BY n DESC, tok
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
            FROM freq
        ),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,
                       CAST(count(*) AS BIGINT) AS vocab FROM freq)
        SELECT v.s AS vocab_size,
               CAST(max(CASE WHEN rk <= v.s THEN cum ELSE 0 END) AS BIGINT)
                   AS tokens_covered,
               floor(max(CASE WHEN rk <= v.s THEN cum ELSE 0 END)
                     / CAST(tot.total AS DOUBLE) * 10000.0 + 0.505)
                   / 10000.0 AS coverage,
               tot.vocab AS full_vocab
        FROM ranked, tot, (VALUES (100), (1000), (5000)) v(s)
        GROUP BY v.s, tot.vocab, tot.total
    """,
    scale=(
        "Vocabulary-size coverage curve — the tokenizer-budget decision "
        "input: what fraction of token OCCURRENCES the top-k types "
        "cover, for candidate vocab sizes, from one ranked cumulative "
        "pass over the |vocab|-row frequency table (never the token "
        "stream). Heaps/Zipf ops model the curve; this measures the "
        "exact points the budget decision needs. At 100 TB the "
        "frequency table is the same one BPE training builds — shared "
        "materialization, |vocab| ≪ corpus."
    ),
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-occurrence coverage of the top-{100,1000,5000} vocabulary."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    freq = doc_tokens(docs).groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.orderBy(F.desc("n"), F.asc("tok"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = freq.select(
        "n",
        F.row_number().over(Window.orderBy(F.desc("n"), F.asc("tok"))).alias("rk"),
        F.sum("n").over(w).alias("cum"),
    )
    tot = freq.agg(
        F.sum("n").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("full_vocab"),
    )
    sizes = F.explode(F.array(F.lit(100), F.lit(1000), F.lit(5000))).alias(
        "vocab_size"
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select("*", sizes)
        .groupBy("vocab_size", "full_vocab", "total")
        .agg(
            F.max(
                F.when(F.col("rk") <= F.col("vocab_size"), F.col("cum")).otherwise(0)
            )
            .cast("long")
            .alias("tokens_covered"),
            rnd(
                F.max(
                    F.when(F.col("rk") <= F.col("vocab_size"), F.col("cum")).otherwise(
                        0
                    )
                )
                / F.col("total").cast("double"),
                4,
            ).alias("coverage"),
        )
        .select("vocab_size", "tokens_covered", "coverage", "full_vocab")
    )


@op(
    "text_prefix_autocomplete",
    oracle="""
        WITH tok AS (
            SELECT t.tok AS tok
            FROM documents, unnest(string_split(text, ' ')) AS t(tok)
            WHERE len(t.tok) >= 3
        ),
        freq AS (
            SELECT substr(tok, 1, 3) AS prefix, tok, count(*) AS n
            FROM tok GROUP BY prefix, tok
        ),
        ranked AS (
            SELECT prefix, tok, n,
                   row_number() OVER (PARTITION BY prefix
                                      ORDER BY n DESC, tok) AS rk
            FROM freq
        )
        SELECT prefix,
               max(CASE WHEN rk = 1 THEN tok END) AS top_completion,
               CAST(max(CASE WHEN rk = 1 THEN n END) AS BIGINT) AS top_n,
               CAST(count(*) AS BIGINT) AS n_completions
        FROM ranked GROUP BY prefix
    """,
    scale=(
        "Prefix-completion index build (search-as-you-type): token "
        "frequencies keyed by 3-char prefix, per-prefix argmax via one "
        "window over the |prefix|x|completions| AGGREGATE — the raw "
        "token stream collapses map-side first. The output table is the "
        "serving index (prefix -> top completion + fanout); at 100 TB "
        "extend the prefix key to lengths 1..k with one grouping-sets "
        "pass instead of k jobs."
    ),
)
def text_prefix_autocomplete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-char-prefix autocomplete index: top completion and fanout per
    prefix."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = doc_tokens(docs).where(F.length("tok") >= 3)
    freq = tok.groupBy(
        F.substring("tok", 1, 3).alias("prefix"), "tok"
    ).agg(F.count(F.lit(1)).alias("n"))
    ranked = freq.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("prefix").orderBy(F.desc("n"), F.asc("tok"))
        ),
    )
    return ranked.groupBy("prefix").agg(
        F.max(F.when(F.col("rk") == 1, F.col("tok"))).alias("top_completion"),
        F.max(F.when(F.col("rk") == 1, F.col("n"))).cast("long").alias("top_n"),
        F.count(F.lit(1)).alias("n_completions"),
    )


@op(
    "text_hash_embedding_pool",
    oracle="""
        WITH tok AS (
            SELECT doc_id, t.tok AS tok
            FROM documents, unnest(string_split(text, ' ')) AS t(tok)
            WHERE len(t.tok) > 0
        ),
        dims AS (
            SELECT doc_id, tok, d.d AS d,
                   (CAST(('0x' || substring(md5(CAST(d.d AS VARCHAR) || ':'
                        || tok), 1, 15)) AS BIGINT) % 1000000) / 1000000.0
                       - 0.5 AS w
            FROM tok, unnest(range(4)) AS d(d)
        ),
        pooled AS (
            SELECT doc_id, d,
                   sum(w) / count(*) AS v
            FROM dims GROUP BY doc_id, d
        )
        SELECT doc_id,
               floor(max(CASE WHEN d = 0 THEN v END) * 10000.0 + 0.505)
                   / 10000.0 AS v0,
               floor(max(CASE WHEN d = 1 THEN v END) * 10000.0 + 0.505)
                   / 10000.0 AS v1,
               floor(sqrt(sum(v * v)) * 10000.0 + 0.505) / 10000.0
                   AS pool_norm
        FROM pooled GROUP BY doc_id
    """,
    scale=(
        "Hash-embedding average pooling — the zero-model text embedding "
        "baseline: each token's vector is a deterministic md5-derived "
        "point in [-0.5, 0.5)^d (no embedding table, no lookup shuffle "
        "— the hashing-trick applied to dense vectors), mean-pooled per "
        "doc. Everything is explode + partial agg on (doc, dim); at "
        "100 TB d rides as the small fan-out and the pooled vectors "
        "feed the same ANN stack as learned embeddings. Float sums "
        "cross partials here are per-(doc,dim) groups with bounded "
        "cardinality; pooled values rounded at 4 dp for parity."
    ),
)
def text_hash_embedding_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-dim md5 hash embeddings mean-pooled per doc (first 2 dims + norm)."""
    from python_kinesis_streaming_spark.llm.dedup import md5_hash64

    docs = load_table(spark, sf_dir, "documents")
    tok = doc_tokens(docs)
    dims = tok.select(
        "doc_id",
        F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("d"),
        "tok",
    ).select(
        "doc_id",
        "d",
        (
            (
                md5_hash64(
                    F.concat_ws(":", F.col("d").cast("string"), F.col("tok"))
                )
                % 1000000
            )
            / 1000000.0
            - 0.5
        ).alias("w"),
    )
    pooled = dims.groupBy("doc_id", "d").agg(
        (F.sum("w") / F.count(F.lit(1))).alias("v")
    )
    return pooled.groupBy("doc_id").agg(
        rnd(F.max(F.when(F.col("d") == 0, F.col("v"))), 4).alias("v0"),
        rnd(F.max(F.when(F.col("d") == 1, F.col("v"))), 4).alias("v1"),
        rnd(F.sqrt(F.sum(F.col("v") * F.col("v"))), 4).alias("pool_norm"),
    )


@op(
    "text_df_drift",
    oracle="""
        WITH halves AS (
            SELECT doc_id, text,
                   CASE WHEN doc_id * 2 < (SELECT max(doc_id) + 1
                                           FROM documents)
                        THEN 0 ELSE 1 END AS half
            FROM documents
        ),
        df AS (
            SELECT tok, half, count(DISTINCT doc_id) AS df
            FROM (SELECT h.doc_id, h.half, t.tok AS tok
                  FROM halves h, unnest(string_split(h.text, ' ')) AS t(tok)
                  WHERE len(t.tok) > 0)
            GROUP BY tok, half
        ),
        wide AS (
            SELECT tok,
                   sum(CASE WHEN half = 0 THEN df ELSE 0 END) AS df0,
                   sum(CASE WHEN half = 1 THEN df ELSE 0 END) AS df1
            FROM df GROUP BY tok
            HAVING sum(CASE WHEN half = 0 THEN df ELSE 0 END) >= 5
               AND sum(CASE WHEN half = 1 THEN df ELSE 0 END) >= 5
        ),
        scored AS (
            SELECT tok, CAST(df0 AS BIGINT) AS df0, CAST(df1 AS BIGINT) AS df1,
                   floor(ln(df1 / CAST(df0 AS DOUBLE)) * 10000.0 + 0.505)
                       / 10000.0 AS log_ratio
            FROM wide
        )
        SELECT tok, df0, df1, log_ratio FROM (
            SELECT *, row_number() OVER (ORDER BY abs(log_ratio) DESC, tok)
                       AS rk
            FROM scored
        ) WHERE rk <= 20
    """,
    scale=(
        "Token document-frequency drift between corpus halves — PSI's "
        "text-native sibling: per-half doc frequencies (explode + "
        "distinct partial agg), min-support gate (df >= 5 both halves "
        "kills noise risers), top-20 movers by |log ratio| with total "
        "tie-break. The vocabulary drift report is what flags a crawl "
        "source going stale or a scraper breaking mid-corpus — BEFORE "
        "the model trains on it. Shuffle keys are tokens; the mover "
        "ranking runs on the |vocab|-row aggregate."
    ),
)
def text_df_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 document-frequency movers between the two corpus halves."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg((F.max("doc_id") + 1).alias("n"))
    halves = docs.crossJoin(F.broadcast(mx)).select(
        "doc_id",
        "text",
        F.when(F.col("doc_id") * 2 < F.col("n"), 0).otherwise(1).alias("half"),
    )
    tok = halves.select(
        "doc_id",
        "half",
        F.explode(F.split("text", " ")).alias("tok"),
    ).where(F.length("tok") > 0)
    df = tok.groupBy("tok", "half").agg(
        F.countDistinct("doc_id").alias("df")
    )
    wide = (
        df.groupBy("tok")
        .agg(
            F.sum(F.when(F.col("half") == 0, F.col("df")).otherwise(0)).alias(
                "df0"
            ),
            F.sum(F.when(F.col("half") == 1, F.col("df")).otherwise(0)).alias(
                "df1"
            ),
        )
        .where((F.col("df0") >= 5) & (F.col("df1") >= 5))
    )
    scored = wide.select(
        "tok",
        F.col("df0").cast("long").alias("df0"),
        F.col("df1").cast("long").alias("df1"),
        rnd(F.log(F.col("df1") / F.col("df0").cast("double")), 4).alias(
            "log_ratio"
        ),
    )
    return (
        scored.withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.abs(F.col("log_ratio")).desc(), F.asc("tok"))
            ),
        )
        .where(F.col("rk") <= 20)
        .drop("rk")
    )

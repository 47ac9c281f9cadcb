"""BPE trainer/encoder tests (llm/bpe.py).

Independence strategy: the test file carries its own complete in-memory
BPE trainer (the textbook Sennrich algorithm over a Counter) with the
same deterministic tie-break; the distributed trainer must produce the
IDENTICAL merge sequence on the same corpus. The first merges of a tiny
corpus are also worked by hand in comments."""

from __future__ import annotations

import re
from collections import Counter

from python_kinesis_streaming_spark.llm.bpe import (
    PRETOKEN_RE,
    apply_bpe,
    train_bpe,
    word_frequencies,
)


def reference_train(word_freqs: dict[str, int], num_merges: int):
    """Textbook BPE over a dict — independent of any Spark code."""
    vocab = {tuple(w): f for w, f in word_freqs.items()}
    merges = []
    for _ in range(num_merges):
        counts: Counter = Counter()
        for syms, f in vocab.items():
            for pair in zip(syms, syms[1:]):
                counts[pair] += f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        (a, b) = best[0]
        merges.append((a, b))
        new_vocab = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges


CORPUS = [
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox was quick and the dog was lazy",
    "pack my box with five dozen liquor jugs",
    "how quickly daft jumping zebras vex the quick fox",
    "sphinx of black quartz judge my vow said the judge",
    "the five boxing wizards jump quickly over the dog",
]


def test_hand_worked_first_merges(spark):
    # words: low x3, lower x1, lowest x1 (one word per row, no spaces)
    # pair counts: (l,o)=5 (o,w)=5 (w,e)=2 (e,r)=1 (e,s)=1 (s,t)=1
    # tie (l,o) vs (o,w) at 5 -> lexicographic: ('l','o') wins;
    # then (lo,w)=5 wins the next round.
    df = spark.createDataFrame(
        [("low",)] * 3 + [("lower",), ("lowest",)], "text string"
    )
    merges = train_bpe(df, "text", num_merges=2)
    assert merges == [("l", "o"), ("lo", "w")]


def test_distributed_matches_reference_trainer(spark):
    df = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    got = train_bpe(df, "text", num_merges=25)

    rx = re.compile(PRETOKEN_RE)
    freqs = Counter(w for t in CORPUS for w in rx.findall(t))
    expect = reference_train(freqs, 25)
    assert got == expect
    assert len(got) == 25


def test_word_frequencies_match_counter(spark):
    df = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    got = {r["word"]: r["freq"] for r in word_frequencies(df, "text").collect()}
    rx = re.compile(PRETOKEN_RE)
    assert got == dict(Counter(w for t in CORPUS for w in rx.findall(t)))


def test_word_frequencies_multi_whitespace(spark):
    # Regression: the pattern's \s must survive into the JVM regex. With
    # the old F.expr SQL-literal interpolation, SQL unescaping turned \s
    # into s, so whitespace runs ("  ", "\t", "\n") counted as words.
    texts = ["a  b\tc!?", "line one\nline  two", "x   y"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = {r["word"]: r["freq"] for r in word_frequencies(df, "text").collect()}
    rx = re.compile(PRETOKEN_RE)
    expect = dict(Counter(w for t in texts for w in rx.findall(t)))
    assert got == expect
    assert not any(w.strip(" ") == "" for w in got), got
    # every token is " ?"-prefixed content: no tabs/newlines leak through
    assert all("\t" not in w and "\n" not in w for w in got)


def test_apply_bpe_lossless_and_compressing(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(CORPUS)], "id long, text string")
    merges = train_bpe(df, "text", num_merges=30)

    encoded = {r["id"]: r for r in apply_bpe(df, "text", merges).collect()}
    rx = re.compile(PRETOKEN_RE)
    for i, t in enumerate(CORPUS):
        row = encoded[i]
        # lossless: concatenated tokens reproduce the pre-tokenized text
        assert "".join(row["tokens"]) == "".join(rx.findall(t))
        assert row["n_tokens"] == len(row["tokens"])

    # more merges => no more tokens than fewer merges, strictly fewer
    # than character count
    few = apply_bpe(df, "text", merges[:5]).collect()
    many = {r["id"]: r["n_tokens"] for r in apply_bpe(df, "text", merges).collect()}
    for r in few:
        assert many[r["id"]] <= r["n_tokens"]
        assert many[r["id"]] < len(CORPUS[r["id"]])


def test_min_word_freq_caps_table(spark):
    df = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    all_words = word_frequencies(df, "text").count()
    frequent = word_frequencies(df, "text", min_word_freq=2).count()
    assert 0 < frequent < all_words

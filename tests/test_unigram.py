"""Unigram-LM tokenizer: E-step parity with a pure-Python reference
forward–backward, Viterbi determinism, coverage, and end-to-end
vocab learning on a synthetic corpus."""

from __future__ import annotations

import math

from python_kinesis_streaming_spark.llm.unigram import (
    _lattice_expected_counts,
    corpus_loglik,
    expected_piece_counts,
    seed_vocabulary,
    train_unigram,
    viterbi_encode,
)

MPL = 4


def _words_df(spark, rows):
    return spark.createDataFrame(rows, "word string, freq long")


def _ref_estep(rows, logp, max_len):
    acc: dict[str, float] = {}
    for word, freq in rows:
        for piece, c in _lattice_expected_counts(
            word, logp, max_len
        ).items():
            acc[piece] = acc.get(piece, 0.0) + c * freq
    return acc


def test_lattice_expected_counts_tiny_hand_check():
    # word "ab", vocab {a, b, ab} with equal probs p=1/3:
    # segmentations: [ab] lik 1/3 ; [a,b] lik 1/9 → posterior 3/4, 1/4
    logp = {p: math.log(1 / 3) for p in ("a", "b", "ab")}
    ec = _lattice_expected_counts("ab", logp, MPL)
    assert math.isclose(ec["ab"], 0.75, rel_tol=1e-12)
    assert math.isclose(ec["a"], 0.25, rel_tol=1e-12)
    assert math.isclose(ec["b"], 0.25, rel_tol=1e-12)


def test_distributed_estep_matches_reference(spark):
    rows = [("abab", 5), ("ba", 3), ("abc", 2), ("cab", 1)]
    logp = {
        p: math.log(w)
        for p, w in {
            "a": 0.2, "b": 0.2, "c": 0.1, "ab": 0.3, "ba": 0.15,
            "abc": 0.05,
        }.items()
    }
    got = {
        r["piece"]: r["e_count"]
        for r in expected_piece_counts(
            _words_df(spark, rows), logp, MPL
        ).collect()
    }
    want = _ref_estep(rows, logp, MPL)
    assert set(got) == set(want)
    for p in want:
        assert math.isclose(got[p], want[p], rel_tol=1e-9), p


def test_corpus_loglik_matches_reference(spark):
    rows = [("ab", 4), ("b", 1)]
    logp = {p: math.log(1 / 3) for p in ("a", "b", "ab")}
    # P("ab") = 1/3 + 1/9 = 4/9 ; P("b") = 1/3
    want = 4 * math.log(4 / 9) + 1 * math.log(1 / 3)
    got = corpus_loglik(_words_df(spark, rows), logp, MPL)
    assert math.isclose(got, want, rel_tol=1e-9)


def test_seed_vocabulary_keeps_all_chars_and_ranks_substrings(spark):
    words = _words_df(spark, [("banana", 10), ("band", 1)])
    seed = {r["piece"]: r["score"] for r in
            seed_vocabulary(words, seed_size=5, max_piece_len=3).collect()}
    for ch in "band":
        assert ch in seed
    # "ana" occurs twice per "banana": score = 2*10*3 = 60 — top multi
    assert seed["ana"] == 60
    top_multis = sorted(
        ((p, s) for p, s in seed.items() if len(p) > 1),
        key=lambda t: -t[1],
    )
    assert len(top_multis) == 5


def test_train_improves_loglik_and_hits_vocab_size(spark):
    corpus = [
        ("lowering", 20), ("lowest", 18), ("newer", 25), ("wider", 12),
        ("newest", 30), ("lower", 15), ("widest", 9), ("renewed", 6),
    ]
    model = train_unigram(
        _words_df(spark, corpus),
        vocab_size=30,
        seed_size=60,
        max_piece_len=4,
        em_iters=2,
        prune_rounds=3,
    )
    logp = model["logp"]
    chars = {p for p in logp if len(p) == 1}
    corpus_chars = set("".join(w for w, _ in corpus))
    assert chars == corpus_chars  # single-char coverage always survives
    assert len(logp) <= 30
    # trained multi-piece model beats the uniform char-unigram baseline
    base = {c: math.log(1 / len(corpus_chars)) for c in corpus_chars}
    base_ll = corpus_loglik(_words_df(spark, corpus), base, 4)
    assert model["history"][-1] > base_ll
    # a frequent suffix becomes a piece
    assert any(p in logp for p in ("est", "er", "ewes", "west"))


def test_viterbi_prefers_high_prob_long_piece(spark):
    logp = {"a": math.log(0.1), "b": math.log(0.1), "ab": math.log(0.8)}
    df = spark.createDataFrame([("ab ab b",)], "text string")
    out = viterbi_encode(df, "text", logp, MPL).collect()[0]
    assert out["pieces"] == ["ab", "ab", "b"]


def test_viterbi_tie_breaks_deterministically(spark):
    # "aa": [aa] lik 0.25 vs [a,a] lik 0.25 → tie → fewer pieces wins
    logp = {"a": math.log(0.5), "aa": math.log(0.25)}
    df = spark.createDataFrame([("aa",)], "text string")
    out = viterbi_encode(df, "text", logp, MPL).collect()[0]
    assert out["pieces"] == ["aa"]


def test_encode_round_trips_and_covers_oov_chars(spark):
    corpus = [("hello", 5), ("world", 5)]
    model = train_unigram(
        _words_df(spark, corpus), vocab_size=20, seed_size=30,
        max_piece_len=4, em_iters=1, prune_rounds=1,
    )
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "held low")], "id long, text string"
    )
    rows = viterbi_encode(df, "text", model["logp"], 4).collect()
    for r in rows:
        joined = "".join(r["pieces"])
        assert joined == r["text"].replace(" ", "")

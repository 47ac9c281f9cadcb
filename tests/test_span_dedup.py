"""Token-span dedup: exact agreement with a brute-force reference,
canonical-copy survival, and report arithmetic."""

from __future__ import annotations

from collections import Counter

from python_kinesis_streaming_spark.llm.span_dedup import (
    cut_duplicated_spans,
    doc_kgrams,
    duplicated_spans,
    span_dedup_report,
)

K = 4
MIN_LEN = 6

PASSAGE = "the quick brown fox jumps over the lazy dog again and again"  # 12


def _docs():
    return [
        (1, f"alpha beta gamma {PASSAGE} delta epsilon"),
        (2, f"one two three four five {PASSAGE} six seven"),
        (3, "ape bee cat dog elk ape bee cat dog elk ape bee cat dog elk"),
        (4, "unique words only here nothing repeats at all anywhere"),
        (5, "tiny doc"),
    ]


def _ref_spans(rows, k, min_len):
    toks = {i: [w for w in t.split(" ") if w] for i, t in rows}
    c = Counter()
    for ts in toks.values():
        for p in range(len(ts) - k + 1):
            c[" ".join(ts[p : p + k])] += 1
    spans = []
    for i, ts in toks.items():
        dup = [
            p
            for p in range(len(ts) - k + 1)
            if c[" ".join(ts[p : p + k])] > 1
        ]
        runs: list[list[int]] = []
        for p in dup:
            if runs and p == runs[-1][1] + 1:
                runs[-1][1] = p
            else:
                runs.append([p, p])
        for a, b in runs:
            length = b - a + k
            if length >= min_len:
                spans.append((i, a, length))
    return sorted(spans)


def test_kgram_rows_shape(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y")], "doc_id long, text string"
    )
    rows = doc_kgrams(df, "doc_id", "text", K).collect()
    # doc 1: 5 tokens → 2 windows; doc 2 too short → none
    assert sorted((r["doc_id"], r["pos"]) for r in rows) == [(1, 0), (1, 1)]


def test_duplicated_spans_match_brute_force(spark):
    rows = _docs()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_len"])
        for r in duplicated_spans(df, "doc_id", "text", K, MIN_LEN).collect()
    )
    assert got == _ref_spans(rows, K, MIN_LEN)
    # the planted passage is found in both carriers
    assert {d for d, _, _ in got} >= {1, 2, 3}


def test_cut_keeps_exactly_one_canonical_copy(spark):
    rows = _docs()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in cut_duplicated_spans(
            df, "doc_id", "text", K, MIN_LEN
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    # doc 1 (smallest ordinal) keeps the passage verbatim
    assert PASSAGE in out[1]["text"] and out[1]["n_cut_tokens"] == 0
    # doc 2 loses it entirely
    assert "quick brown" not in out[2]["text"]
    assert out[2]["text"].startswith("one two three four five")
    assert out[2]["n_cut_tokens"] == len(PASSAGE.split())
    # untouched docs round-trip byte-identical
    assert out[4]["text"] == rows[3][1] and out[4]["n_cut_tokens"] == 0
    assert out[5]["text"] == "tiny doc"
    # within-doc repetition: first occurrence survives, later ones cut
    assert out[3]["n_cut_tokens"] > 0
    assert out[3]["text"].startswith("ape bee cat dog elk")


def test_every_cut_token_was_inside_a_removable_span(spark):
    rows = _docs()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cut = {
        r["doc_id"]: r["n_cut_tokens"]
        for r in cut_duplicated_spans(
            df, "doc_id", "text", K, MIN_LEN
        ).collect()
    }
    # total cut ≤ total duplicated-span tokens from the detector
    spans = duplicated_spans(df, "doc_id", "text", K, MIN_LEN).collect()
    per_doc: dict[int, int] = {}
    for r in spans:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + r["span_len"]
    for d, n in cut.items():
        assert n <= per_doc.get(d, 0) or n == 0


def test_report_fractions(spark):
    rows = _docs()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    rep = span_dedup_report(df, "doc_id", "text", K, MIN_LEN).collect()[0]
    ref = _ref_spans(rows, K, MIN_LEN)
    assert rep["n_spans"] == len(ref)
    assert rep["docs_affected"] == len({d for d, _, _ in ref})
    assert rep["dup_tokens"] == sum(length for _, _, length in ref)
    total = sum(len([w for w in t.split() if w]) for _, t in rows)
    assert abs(rep["dup_frac"] - rep["dup_tokens"] / total) < 1e-12


def test_no_duplicates_yields_empty_and_identity(spark):
    df = spark.createDataFrame(
        [(1, "all words here differ"), (2, "and these also do")],
        "doc_id long, text string",
    )
    assert duplicated_spans(df, "doc_id", "text", K, MIN_LEN).count() == 0
    out = {
        r["doc_id"]: r["text"]
        for r in cut_duplicated_spans(df, "doc_id", "text", K, MIN_LEN).collect()
    }
    assert out == {1: "all words here differ", 2: "and these also do"}

"""Distributed logistic-regression quality classifier: feature
invariants, exact agreement with a dense numpy reference of the same
gradient-descent updates, and end-to-end separation on synthetic text."""

from __future__ import annotations

import numpy as np

from python_kinesis_streaming_spark.llm.classifier import (
    binary_metrics,
    hashed_features,
    predict_scores,
    train_logreg,
)

DIM = 64


def _docs(spark):
    rows = [
        (1, "good clean prose with varied words", 1),
        (2, "excellent thoughtful writing here", 1),
        (3, "good good excellent prose", 1),
        (4, "spam spam buy now buy now", 0),
        (5, "click click spam offer offer", 0),
        (6, "buy spam offer click now", 0),
        (7, "varied thoughtful words and clean writing", 1),
        (8, "now now now spam buy", 0),
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "doc_id long, text string"
    )
    labels = spark.createDataFrame(
        [(i, y) for i, _, y in rows], "doc_id long, label int"
    )
    return docs, labels


def test_hashed_features_counts_and_range(spark):
    df = spark.createDataFrame([(1, "a b a")], "doc_id long, text string")
    feats = hashed_features(df, "doc_id", "text", dim=DIM, normalize=False)
    rows = feats.collect()
    # grams: a, b, a, "a b", "b a" → 5 total occurrences
    assert sum(r["val"] for r in rows) == 5.0
    assert all(0 <= r["idx"] < DIM for r in rows)
    # 'a' appears twice and hashes to one idx with val 2
    assert 2.0 in {r["val"] for r in rows}


def test_hashed_features_l2_normalized(spark):
    docs, _ = _docs(spark)
    feats = hashed_features(df=docs, id_col="doc_id", text_col="text", dim=DIM)
    norms = (
        feats.groupBy("doc_id")
        .agg({"val": "collect_list"})
        .collect()
    )
    for r in norms:
        assert np.isclose(np.linalg.norm(r[1]), 1.0)


def test_empty_docs_produce_no_feature_rows(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "x")], "doc_id long, text string"
    )
    feats = hashed_features(df, "doc_id", "text", dim=DIM)
    assert {r["doc_id"] for r in feats.collect()} == {3}


def _reference_gd(X, y, lr, iters, l2):
    n, d = X.shape
    w, b = np.zeros(d), 0.0
    hist = []
    for _ in range(iters):
        score = X @ w + b
        p = 1.0 / (1.0 + np.exp(-score))
        r = p - y
        loss = np.mean(
            np.log1p(np.exp(-np.abs(score)))
            + np.maximum(score, 0.0)
            - y * score
        )
        hist.append(loss)
        w = w - lr * (X.T @ r / n + l2 * w)
        b = b - lr * np.mean(r)
    return w, b, hist


def test_train_matches_dense_numpy_reference(spark):
    docs, labels = _docs(spark)
    feats = hashed_features(docs, "doc_id", "text", dim=DIM)
    model = train_logreg(feats, labels, dim=DIM, lr=0.7, iters=8, l2=0.01)

    rows = feats.collect()
    ids = sorted({r["doc_id"] for r in rows})
    X = np.zeros((len(ids), DIM))
    for r in rows:
        X[ids.index(r["doc_id"]), r["idx"]] = r["val"]
    y = np.array(
        [
            {r["doc_id"]: r["label"] for r in labels.collect()}[i]
            for i in ids
        ],
        dtype=float,
    )
    w_ref, b_ref, hist_ref = _reference_gd(X, y, 0.7, 8, 0.01)
    assert np.allclose(model["weights"], w_ref, atol=1e-9)
    assert np.isclose(model["bias"], b_ref, atol=1e-9)
    assert np.allclose(model["history"], hist_ref, atol=1e-9)
    # loss strictly decreases on this easy problem
    assert all(a > b for a, b in zip(model["history"], model["history"][1:]))


def test_end_to_end_separates_synthetic_quality(spark):
    docs, labels = _docs(spark)
    feats = hashed_features(docs, "doc_id", "text", dim=DIM)
    model = train_logreg(feats, labels, dim=DIM, lr=1.0, iters=30)
    scored = predict_scores(feats, model["weights"], model["bias"])
    m = binary_metrics(scored, labels).collect()[0]
    assert m["auc"] == 1.0
    assert m["accuracy"] == 1.0
    assert m["n_pos"] == 4 and m["n_neg"] == 4


def test_auc_matches_rank_reference_with_ties(spark):
    # handcrafted scores incl. a tie across classes: AUC by hand
    scored = spark.createDataFrame(
        [(1, 2.0), (2, 1.0), (3, 1.0), (4, -1.0), (5, 0.5)],
        "doc_id long, score double",
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 0), (4, 0), (5, 0)], "doc_id long, label int"
    )
    # pairs (pos,neg): (1,3)=1 (1,4)=1 (1,5)=1 (2,3)=.5 (2,4)=1 (2,5)=1
    want = (1 + 1 + 1 + 0.5 + 1 + 1) / 6.0
    m = binary_metrics(scored, labels).collect()[0]
    assert np.isclose(m["auc"], want)


def test_labeled_doc_with_no_features_trains_via_bias(spark):
    docs = spark.createDataFrame(
        [(1, "token rich text"), (2, "")], "doc_id long, text string"
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 0)], "doc_id long, label int"
    )
    feats = hashed_features(docs, "doc_id", "text", dim=DIM)
    model = train_logreg(feats, labels, dim=DIM, lr=0.5, iters=3)
    assert len(model["history"]) == 3
    assert np.isfinite(model["bias"])

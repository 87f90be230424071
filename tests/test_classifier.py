"""Supervised hashed-n-gram logistic regression (webdq/classifier.py).

Gates: featurization invariants (L1 norm, sorted deterministic
layout), exact-iteration parity vs an independent dense-numpy GD on
the collected features, separation on a two-vocabulary corpus,
partition invariance within float tolerance, predict semantics.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from webdq import classifier

DIM = 256


@pytest.fixture(scope="module")
def corpus(spark):
    goodw = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    badw = ["spamone", "spamtwo", "spamthree", "buynow", "clickme", "freegold"]
    rows = []
    for i in range(120):
        src = goodw if i % 2 == 0 else badw
        toks = [src[(i + j) % len(src)] for j in range(8)]
        rows.append((i, " ".join(toks), 1 if i % 2 == 0 else 0))
    return spark.createDataFrame(rows, "doc_id long, text string, label int").persist()


@pytest.fixture(scope="module")
def feats(corpus):
    return classifier.hashed_features(corpus, dim=DIM).persist()


def test_features_normalized_sorted(feats):
    for r in feats.collect():
        assert abs(sum(r["vals"]) - 1.0) < 1e-12
        assert r["buckets"] == sorted(r["buckets"])
        assert all(0 <= b < DIM for b in r["buckets"])
        assert all(v > 0 for v in r["vals"])


def test_fit_matches_numpy_reference(corpus, feats):
    n_iter, lr, l2 = 10, 2.0, classifier.L2
    m = classifier.logreg_fit(
        feats, corpus.select("doc_id", "label"), dim=DIM, n_iter=n_iter, lr=lr
    )
    rows = (
        feats.join(corpus.select("doc_id", "label"), "doc_id").orderBy("doc_id").collect()
    )
    X = np.zeros((len(rows), DIM))
    y = np.zeros(len(rows))
    for i, r in enumerate(rows):
        X[i, np.asarray(r["buckets"])] = np.asarray(r["vals"])
        y[i] = r["label"]
    w = np.zeros(DIM)
    b = 0.0
    losses = []
    for it in range(n_iter):
        z = X @ w + b
        p = 1.0 / (1.0 + np.exp(-z))
        r_ = p - y
        gw = X.T @ r_ / len(y)
        gb = r_.mean()
        losses.append(float(np.mean(np.log1p(np.exp(-np.abs(z))) + np.maximum(z, 0) - z * y)))
        step = lr / (1.0 + 0.1 * it)
        w -= step * (gw + l2 * w)
        b -= step * gb
    assert np.allclose(m.weights, w, atol=1e-9)
    assert abs(m.bias - b) < 1e-9
    assert np.allclose(m.losses, losses, atol=1e-9)


def test_separates_two_vocabularies(corpus, feats):
    m = classifier.logreg_fit(feats, corpus.select("doc_id", "label"), dim=DIM, n_iter=40)
    pred = classifier.predict(feats, m)
    joined = pred.join(corpus.select("doc_id", "label"), "doc_id")
    acc = joined.filter(F.col("pred") == F.col("label")).count() / joined.count()
    assert acc == 1.0  # disjoint vocabularies are linearly separable
    assert m.losses[-1] < m.losses[0] / 2


def test_partition_invariance(corpus, feats):
    lab = corpus.select("doc_id", "label")
    m1 = classifier.logreg_fit(feats.repartition(7), lab, dim=DIM, n_iter=5)
    m2 = classifier.logreg_fit(feats.repartition(2), lab, dim=DIM, n_iter=5)
    assert np.allclose(m1.weights, m2.weights, atol=1e-9)
    assert abs(m1.bias - m2.bias) < 1e-9


def test_ngram_features(spark):
    d = spark.createDataFrame([(0, "a b c"), (1, "a"), (2, None)], "doc_id long, text string")
    got = {
        r["doc_id"]: (r["uni"], r["bi"])
        for r in d.select(
            "doc_id",
            classifier.ngram_array("text", (1,)).alias("uni"),
            classifier.ngram_array("text", (1, 2)).alias("bi"),
        ).collect()
    }
    # dsir's (1, 2): the words, then the bigrams joined by one space
    assert got[0] == (["a", "b", "c"], ["a", "b", "c", "a b", "b c"])
    assert got[1] == (["a"], ["a"])  # too short for a bigram
    assert got[2] == ([""], [""])  # NULL text splits to one empty token
    uni = classifier.hashed_features(d.filter("doc_id = 0"), dim=DIM).collect()[0]
    assert abs(sum(uni["vals"]) - 1.0) < 1e-12
    assert 1 <= len(uni["buckets"]) <= 3


def test_fit_empty_labels_raises(spark, feats):
    empty = spark.createDataFrame([], "doc_id long, label int")
    with pytest.raises(ValueError):
        classifier.logreg_fit(feats, empty, dim=DIM, n_iter=1)


def test_tier_quality_head_accuracy(spark):
    """The q67 shape: recognize tier-0 (clean prose) pages from hashed
    unigrams on the synthetic tiered corpus. lr scales with mean doc
    length (L1 normalization divides gradients by ~n_tokens)."""
    from webdq.synth import generate_pages

    pages = generate_pages(spark, 1500).select(
        "url", "text", (F.col("_tier") == 0).cast("int").alias("label")
    )
    feats = classifier.hashed_features(pages, id_col="url", dim=1 << 12).persist()
    m = classifier.logreg_fit(
        feats, pages.select("url", "label"), id_col="url", dim=1 << 12, n_iter=40, lr=50.0
    )
    out = classifier.predict(feats, m, id_col="url").join(pages.select("url", "label"), "url")
    acc = out.filter(F.col("pred") == F.col("label")).count() / out.count()
    feats.unpersist()
    assert acc >= 0.95


def test_portable_features_match_python_md5(spark):
    # portable=True buckets by the first 15 md5 hex digits — recompute
    # the buckets and L1 values in plain python and compare exactly
    import hashlib

    rows = [(1, "aa bb aa cc"), (2, "bb"), (3, None), (4, "  ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    dim = 64
    got = {
        r["doc_id"]: (list(r["buckets"]), list(r["vals"]))
        for r in classifier.hashed_features(df, dim=dim, portable=True).collect()
    }

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % dim

    for doc_id, text in rows:
        toks = [t for t in (text or "").strip().split() if t]
        if not toks:
            assert doc_id not in got
            continue
        counts = {}
        for t in toks:
            counts[bucket(t)] = counts.get(bucket(t), 0) + 1
        total = float(len(toks))
        want_b = sorted(counts)
        want_v = [counts[b] / total for b in want_b]
        assert got[doc_id] == (want_b, want_v)

"""DSIR importance weighting: python replay parity, the target==raw
zero-score identity, target-likeness ordering, partition invariance."""

import hashlib
import math

import pytest

from webdq import dsir


def _buckets(text, dim=64):
    toks = text.split()
    grams = list(toks)
    grams += [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    out = {}
    for g in grams:
        if g == "":
            continue
        b = int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % dim
        out[b] = out.get(b, 0) + 1
    return out


def _py_scores(texts, target_ids, dim=64, alpha=1.0):
    docs = {i: _buckets(t, dim) for i, t in enumerate(texts)}
    ct, cr = {}, {}
    for i, bs in docs.items():
        for b, n in bs.items():
            cr[b] = cr.get(b, 0) + n
            if i in target_ids:
                ct[b] = ct.get(b, 0) + n
    T, R = sum(ct.values()), sum(cr.values())
    w = {
        b: math.log((ct.get(b, 0) + alpha) / (T + alpha * dim))
        - math.log((cr[b] + alpha) / (R + alpha * dim))
        for b in cr
    }
    return {
        i: sum(n * w[b] for b, n in bs.items()) for i, bs in docs.items() if bs
    }


TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox sleeps",
    "lorem ipsum dolor sit amet consectetur",
    "lorem ipsum dolor sit",
    "quick brown dog and lazy fox",
    "",
    "   ",
]
TARGET = {0, 1, 4}  # the "quick brown" dialect


def _spark_scores(spark, texts, target_ids, dim=64, repartition=None):
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    if repartition:
        df = df.repartition(repartition)
    kw = dict(dim=dim, ngram_ns=(1, 2), portable=True)
    raw = dsir.ngram_bucket_counts(df, **kw)
    tgt = dsir.ngram_bucket_counts(
        df.filter(df.doc_id.isin(list(target_ids))), **kw
    )
    scored = dsir.dsir_score(raw, dsir.fit_log_ratio(tgt, raw, dim=dim))
    return {r["doc_id"]: (r["n_grams"], r["dsir_score"]) for r in scored.collect()}


def test_dsir_matches_python(spark):
    got = _spark_scores(spark, TEXTS, TARGET)
    exp = _py_scores(TEXTS, TARGET)
    assert set(got) == set(exp)  # empty/whitespace docs absent from both
    assert 5 not in got and 6 not in got
    for i, s in exp.items():
        n_exp = sum(_buckets(TEXTS[i]).values())
        assert got[i][0] == n_exp
        assert abs(got[i][1] - s) < 1e-9
    # the target dialect outscores the off-target one
    assert min(got[i][1] for i in (0, 1, 4)) > max(got[i][1] for i in (2, 3))


def test_dsir_target_equals_raw_is_zero(spark):
    got = _spark_scores(spark, TEXTS, set(range(len(TEXTS))))
    # identical counts on both sides → every bucket weight is the
    # difference of the SAME double → exactly 0.0, and so is the sum
    assert all(s == 0.0 for _, s in got.values())


def test_dsir_partition_invariance(spark):
    a = _spark_scores(spark, TEXTS, TARGET)
    b = _spark_scores(spark, TEXTS, TARGET, repartition=7)
    assert set(a) == set(b)
    for i in a:
        assert a[i][0] == b[i][0]
        assert abs(a[i][1] - b[i][1]) < 1e-12


def test_dsir_validation(spark):
    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        dsir.ngram_bucket_counts(df, dim=1)

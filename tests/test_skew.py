"""Salted two-stage aggregation (webdq/skew.py) and delta dedup
(dedup.dedup_against).

Gates: exact equality with the direct groupBy on skewed data (incl.
avg decomposition), salt actually spreads the hot key over multiple
stage-1 groups, unsupported aggs rejected; delta dedup flag/drop
parity and planted-copy detection.
"""

import pytest
from pyspark.sql import functions as F

from webdq import dedup, skew


@pytest.fixture(scope="module")
def skewed(spark):
    # 90% of rows share one hot key
    rows = [(i, "hot" if i % 10 != 0 else f"cold{i % 50}", float(i % 7), i % 13)
            for i in range(2000)]
    return spark.createDataFrame(rows, "id long, k string, v double, m int").persist()


def test_salted_agg_equals_direct(skewed):
    out = skew.salted_agg(
        skewed,
        keys=["k"],
        spec={
            "n": ("count", None),
            "sv": ("sum", "v"),
            "mn": ("min", "m"),
            "mx": ("max", "m"),
            "av": ("avg", "v"),
        },
        salt_on="id",
        salt_buckets=8,
    )
    direct = skewed.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"),
        F.min("m").alias("mn"), F.max("m").alias("mx"), F.avg("v").alias("av"),
    )
    got = {r["k"]: (r["n"], r["sv"], r["mn"], r["mx"], round(r["av"], 12)) for r in out.collect()}
    want = {r["k"]: (r["n"], r["sv"], r["mn"], r["mx"], round(r["av"], 12)) for r in direct.collect()}
    assert got == want


def test_salt_spreads_hot_key(skewed):
    salt = F.pmod(F.xxhash64(F.col("id")), F.lit(8))
    n_groups = (
        skewed.filter(F.col("k") == "hot")
        .select(salt.alias("s")).dropDuplicates().count()
    )
    assert n_groups == 8  # 1800 hot rows hit every salt bucket


def test_salted_agg_rejects_nonalgebraic(skewed):
    with pytest.raises(ValueError):
        skew.salted_agg(skewed, ["k"], {"d": ("countDistinct", "v")}, salt_on="id")


@pytest.fixture(scope="module")
def delta_corpus(spark):
    corpus = spark.createDataFrame(
        [(0, "aa bb"), (1, "cc dd"), (2, "aa bb")], "doc_id long, text string"
    )
    delta = spark.createDataFrame(
        [(10, "aa bb"), (11, "new text"), (12, None), (13, "cc dd")],
        "doc_id long, text string",
    )
    return corpus, delta


def test_dedup_against_flag(delta_corpus):
    corpus, delta = delta_corpus
    out = {r["doc_id"]: r["in_corpus"] for r in
           dedup.dedup_against(delta, corpus).collect()}
    assert out == {10: True, 11: False, 12: False, 13: True}


def test_dedup_against_drop_matches_flag(delta_corpus):
    corpus, delta = delta_corpus
    kept = {r["doc_id"] for r in dedup.dedup_against(delta, corpus).filter(~F.col("in_corpus")).collect()}
    assert kept == {11, 12}


def test_salted_agg_all_null_group(spark):
    df = spark.createDataFrame(
        [(0, "a", None), (1, "a", None), (2, "b", 3.0)], "id long, k string, v double"
    )
    out = {r["k"]: (r["n"], r["a"]) for r in
           skew.salted_agg(df, ["k"], {"n": ("count", None), "a": ("avg", "v")},
                           salt_on="id", salt_buckets=4).collect()}
    assert out == {"a": (2, None), "b": (1, 3.0)}


def test_salted_sum_decimal_dtype_matches_direct(spark):
    # ADVICE r4: decimal sums widened p+10 TWICE through the two
    # stages; the merged sum is cast back to the direct result type
    rows = [(i, "k" if i % 3 else "j", i) for i in range(60)]
    df = spark.createDataFrame(rows, "id long, k string, v long").select(
        "id", "k", F.col("v").cast("decimal(12,2)").alias("v")
    )
    direct = df.groupBy("k").agg(F.sum("v").alias("sv"))
    salted = skew.salted_agg(df, ["k"], {"sv": ("sum", "v")}, salt_on="id")
    assert dict(salted.dtypes)["sv"] == dict(direct.dtypes)["sv"] == "decimal(22,2)"
    d = {r["k"]: r["sv"] for r in direct.collect()}
    s = {r["k"]: r["sv"] for r in salted.collect()}
    assert d == s

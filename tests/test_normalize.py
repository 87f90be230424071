"""ECDF: bucketed-parallel exact implementation == naive cume_dist ==
pandas/statsmodels semantics (SURVEY.md W5, §7.3)."""

import numpy as np
from pyspark.sql import functions as F

from webdq import normalize, oracle
from webdq.pipeline import PipelineConfig, extract_features
from webdq.synth import generate_pages


def _ecdf_frames(spark):
    pages = generate_pages(spark, 500).select("url", "text", "lang")
    return extract_features(pages, PipelineConfig()).select("url", "n_chars", "n_words", "mean_word_len")


def test_ecdf_matches_naive_and_pandas(spark):
    df = _ecdf_frames(spark).cache()
    cols = ["n_chars", "n_words", "mean_word_len"]
    fast = normalize.ecdf(df, cols).toPandas().sort_values("url").reset_index(drop=True)
    naive = normalize.ecdf_naive(df, cols).toPandas().sort_values("url").reset_index(drop=True)
    pdf = df.toPandas().sort_values("url").reset_index(drop=True)
    for c in cols:
        out = "u_" + c.removeprefix("n_")
        np.testing.assert_allclose(fast[out], naive[out], rtol=1e-12, err_msg=out)
        np.testing.assert_allclose(fast[out], oracle.ecdf_pd(pdf[c].to_numpy()), rtol=1e-12, err_msg=out)


def test_ecdf_properties(spark):
    """Monotone in the value, range (0, 1], max == 1 (SURVEY.md §5.2.5)."""
    df = _ecdf_frames(spark)
    out = normalize.ecdf(df, ["n_chars"]).toPandas().sort_values("n_chars")
    u = out["u_chars"].to_numpy()
    assert (np.diff(u) >= -1e-12).all()
    assert u.min() > 0 and abs(u.max() - 1.0) < 1e-12


def test_ecdf_partition_invariance(spark):
    df = _ecdf_frames(spark)
    a = normalize.ecdf(df.repartition(1), ["n_words"]).toPandas().set_index("url")["u_words"]
    b = normalize.ecdf(df.repartition(16), ["n_words"]).toPandas().set_index("url")["u_words"]
    assert (a.sort_index() == b.sort_index()).all()


def test_ecdf_paths_agree(spark):
    """Force the bucketed path (low_card_threshold=1) and the broadcast
    path (huge threshold) on the same columns — identical results."""
    df = _ecdf_frames(spark).cache()
    cols = ["n_chars", "n_words"]
    a = (
        normalize.ecdf(df, cols, low_card_threshold=1)
        .toPandas().set_index("url").sort_index()
    )
    b = (
        normalize.ecdf(df, cols, low_card_threshold=10_000_000)
        .toPandas().set_index("url").sort_index()
    )
    for c in ["u_chars", "u_words"]:
        assert (a[c] == b[c]).all(), c


def test_ecdf_four_high_card_columns_match_oracle(spark):
    """Four high-cardinality columns each take their own bucketed
    window — the result must match the pandas oracle and agree exactly
    with a run over a three-column subset."""
    df = _ecdf_frames(spark).withColumn(
        "jitter", (F.xxhash64("url") % 100000) / 7.0
    ).cache()
    cols = ["n_chars", "n_words", "mean_word_len", "jitter"]
    four = (
        normalize.ecdf(df, cols, low_card_threshold=1)  # all 4 high-card
        .toPandas().set_index("url").sort_index()
    )
    pdf = df.toPandas().set_index("url").sort_index()
    for c in cols:
        u = "u_" + c.removeprefix("n_")
        np.testing.assert_allclose(
            four[u].to_numpy(), oracle.ecdf_pd(pdf[c].to_numpy()), rtol=1e-12, err_msg=u
        )
    three = (
        normalize.ecdf(df, cols[:3], low_card_threshold=1)
        .toPandas().set_index("url").sort_index()
    )
    for c in cols[:3]:
        u = "u_" + c.removeprefix("n_")
        assert (four[u] == three[u]).all(), u


def test_ecdf_reprobe_path_exact(spark):
    """When the auto bucket count outgrows the initial probe grid the
    full-resolution re-probe must kick in and stay exact (the
    billion-row regime, exercised here by shrinking probe_buckets
    below the 64-bucket auto floor)."""
    df = _ecdf_frames(spark).cache()
    cols = ["n_chars", "mean_word_len"]
    fast = (
        normalize.ecdf(df, cols, low_card_threshold=1, probe_buckets=16)
        .toPandas().sort_values("url").reset_index(drop=True)
    )
    naive = normalize.ecdf_naive(df, cols).toPandas().sort_values("url").reset_index(drop=True)
    for c in cols:
        out = "u_" + c.removeprefix("n_")
        np.testing.assert_allclose(fast[out], naive[out], rtol=1e-12, err_msg=out)


def test_ecdf_edge_inputs_match_naive(spark):
    """Edge inputs through the observed probe and the Arrow-built
    lookup tables, each equal to ecdf_naive: an empty frame (no rows,
    the u_ columns present), an all-null column (its dim is a zero-row
    table; every u_ is 1.0, the cume_dist of one null peer group) and a
    constant column (every u_ is 1.0), on the low- and the
    high-cardinality path."""
    base = spark.range(0, 50, 1, 4).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        F.lit(None).cast("double").alias("n_null"),
        F.lit(3.0).alias("n_const"),
    ).cache()
    cols = ["n_null", "n_const"]

    empty = normalize.ecdf(base.limit(0), cols)
    assert empty.count() == 0
    assert empty.columns == normalize.ecdf_naive(base.limit(0), cols).columns

    naive = normalize.ecdf_naive(base, cols).toPandas().set_index("url").sort_index()
    for threshold in (65536, 1):  # 1: the constant column takes the bucketed path
        got = normalize.ecdf(base, cols, low_card_threshold=threshold).toPandas().set_index("url").sort_index()
        for u in ("u_null", "u_const"):
            assert (got[u] == 1.0).all(), (threshold, u)
            assert (got[u] == naive[u]).all(), (threshold, u)


# ---- winsorize ----

def test_winsorize_matches_numpy(spark):
    import numpy as np
    import pytest

    from webdq import normalize

    vals = [(i, float((i * 37) % 211), (i * 13) % 97) for i in range(500)]
    df = spark.createDataFrame(vals, "id long, a double, b long")
    out = normalize.winsorize(df, ["a", "b"], 0.1, 0.9).toPandas().sort_values("id")
    a = np.array([v[1] for v in vals])
    b = np.array([v[2] for v in vals], dtype=float)
    for col, arr in (("a", a), ("b", b)):
        lo, hi = np.percentile(arr, [10, 90], method="linear")
        np.testing.assert_allclose(out[col + "_w"], np.clip(arr, lo, hi), rtol=1e-12)
    with pytest.raises(ValueError):
        normalize.winsorize(df, ["a"], 0.9, 0.1)


def test_winsorize_null_passthrough(spark):
    from webdq import normalize

    df = spark.createDataFrame(
        [(0, 1.0), (1, None), (2, 100.0), (3, 50.0), (4, 2.0)], "id long, a double"
    )
    out = {r["id"]: r["a_w"] for r in normalize.winsorize(df, ["a"], 0.25, 0.75).collect()}
    assert out[1] is None  # null survives the clip (CASE, not least/greatest)
    assert out[3] == 50.0

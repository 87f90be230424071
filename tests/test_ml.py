"""ML core vs numpy oracle: covariance, PCA variance rules, KMeans,
elbow (SURVEY.md §2.8, M2-M7), and the fixed-order SQL-text builder."""

import struct

import numpy as np
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from webdq import ml


def _blob_df(spark, seed=3, n=300):
    rng = np.random.RandomState(seed)
    centers = np.array([[0.0, 0.0, 0.0], [10.0, 10.0, 0.0], [0.0, 10.0, 10.0]])
    X = np.vstack([c + 0.3 * rng.randn(n, 3) for c in centers])
    lab = np.repeat([0, 1, 2], n)
    rows = [(f"k{i}", float(x[0]), float(x[1]), float(x[2]), int(l)) for i, (x, l) in enumerate(zip(X, lab))]
    return spark.createDataFrame(rows, "key string, a double, b double, c double, truth int"), X, lab


def test_covariance_matches_numpy(spark):
    df, X, _ = _blob_df(spark)
    mean, cov, n = ml.covariance(df, ["a", "b", "c"])
    assert n == len(X)
    np.testing.assert_allclose(mean, X.mean(0), rtol=1e-9)
    np.testing.assert_allclose(cov, np.cov(X.T), rtol=1e-8)


def test_minmax(spark):
    df, X, _ = _blob_df(spark)
    out = ml.minmax_scale(df, ["a", "b"], ml.column_minmax(df, ["a", "b"])).agg(
        F.min("a"), F.max("a"), F.min("b"), F.max("b")
    ).collect()[0]
    assert list(out) == [0.0, 1.0, 0.0, 1.0]


def test_pca_variance_and_auto_k():
    var = ml.pca_variance(np.array([6.0, 2.0, 1.0, 0.5, 0.5]))
    np.testing.assert_allclose(var["varexp"][0], 60.0)
    # cumvar: 60, 80 → smallest i+1 with cumvar>70 is 2
    assert ml.optimal_pca_components(var, 1, 5) == 2
    # clamps
    assert ml.optimal_pca_components(var, 3, 5) == 3
    assert ml.optimal_pca_components(var, 1, 1) == 1


def test_pca_projection_matches_numpy(spark):
    df, X, _ = _blob_df(spark)
    model = ml.fit_pca(df, ["a", "b", "c"], n_components=2)
    got = (
        ml.pca_project(df, model)
        .orderBy("key")
        .select("key", "pc_0", "pc_1")
        .toPandas()
        .sort_values("key")
    )
    cov = np.cov(X.T)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1]
    v = v[:, order][:, :2]
    for j in range(2):
        i = int(np.argmax(np.abs(v[:, j])))
        if v[i, j] < 0:
            v[:, j] = -v[:, j]
    exp = (X - X.mean(0)) @ v
    keys = sorted(f"k{i}" for i in range(len(X)))
    exp_by_key = {f"k{i}": exp[i] for i in range(len(X))}
    exp_sorted = np.array([exp_by_key[k] for k in keys])
    np.testing.assert_allclose(got[["pc_0", "pc_1"]].to_numpy(), exp_sorted, rtol=1e-7, atol=1e-9)


def test_kmeans_recovers_blobs(spark):
    df, X, lab = _blob_df(spark)
    km = ml.kmeans_fit(df, ["a", "b", "c"], k=3, key_col="key", init_sample=256, compute_inertia=True)
    got = ml.kmeans_assign(df, ["a", "b", "c"], km.centers).select("truth", "cluster").collect()
    # each truth group maps to exactly one cluster
    m: dict[int, set] = {}
    for r in got:
        m.setdefault(r["truth"], set()).add(r["cluster"])
    assert all(len(v) == 1 for v in m.values())
    assert len({next(iter(v)) for v in m.values()}) == 3
    assert km.inertia < 3 * 300 * 3 * 0.3**2 * 3  # loose sanity bound


def test_kmeans_fit_leaves_unset_conf_unset(spark):
    """kmeans_fit never writes session conf: ``spark.conf.getAll`` is
    identical before and after a fit, with AQE on and with AQE off, and
    a key the caller left unset (shuffle.partitions) stays unset."""
    df, _, _ = _blob_df(spark, n=50)
    keys = ["spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions"]
    saved = {k: spark.conf.getAll.get(k) for k in keys}
    try:
        spark.conf.unset("spark.sql.shuffle.partitions")
        for aqe in ("true", "false"):
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
            before = spark.conf.getAll
            ml.kmeans_fit(df, ["a", "b", "c"], k=3, key_col="key", init_sample=64, max_iter=2)
            assert spark.conf.getAll == before
            assert "spark.sql.shuffle.partitions" not in before
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_elbow_semantics():
    # inertia drops sharply then flattens → elbow at the kink
    inertias = [100.0, 40.0, 12.0, 10.0, 9.0, 8.5]  # k = 2..7
    assert ml.elbow_derivation(inertias)[0] == 0.0
    # deriv: [0, 100-80+12... ] argmax picks the kink at k=4 (index 2)
    k = ml.compute_nb_clusters(inertias, nbmin_clusters=2)
    assert k == 2 + np.argmax([0.0, 32.0, 26.0, 1.0, 0.5])


def test_silhouette(spark):
    df, _, _ = _blob_df(spark)
    out = ml.kmeans_assign(df, ["a", "b", "c"], np.array([[0, 0, 0], [10, 10, 0], [0, 10, 10]], dtype=float))
    s = ml.silhouette_sampled(out, ["a", "b", "c"], "cluster", "key", sample_n=200)
    assert s > 0.8  # well-separated blobs


def test_silhouette_md5_order_full_sample_invariant(spark):
    # the md5-ordered sample does not depend on the input's partitioning,
    # and when sample_n covers the whole frame it is the full silhouette
    df, _, _ = _blob_df(spark)
    out = ml.kmeans_assign(df, ["a", "b", "c"], np.array([[0, 0, 0], [10, 10, 0], [0, 10, 10]], dtype=float))
    n = out.count()
    a = ml.silhouette_sampled(out, ["a", "b", "c"], "cluster", "key", sample_n=n + 10)
    b = ml.silhouette_sampled(out.repartition(7), ["a", "b", "c"], "cluster", "key", sample_n=n + 10)
    assert a == b
    pdf = out.toPandas()
    P, lab = pdf[["a", "b", "c"]].to_numpy(), pdf["cluster"].to_numpy()
    d = np.sqrt(((P[:, None, :] - P[None, :, :]) ** 2).sum(-1))
    s = []
    for i in range(len(P)):
        same = lab == lab[i]
        same[i] = False
        ai = d[i][same].mean()
        bi = min(d[i][lab == o].mean() for o in np.unique(lab) if o != lab[i])
        s.append((bi - ai) / max(ai, bi))
    assert abs(a - float(np.mean(s))) < 1e-9


def test_fit_scaled_pca_equals_two_pass(spark):
    df, X, _ = _blob_df(spark)
    cols = ["a", "b", "c"]
    stats1 = ml.column_minmax(df, cols)
    pca1 = ml.fit_pca(ml.minmax_scale(df, cols, stats1), cols, n_components=2)
    stats2, pca2, _, _ = ml.fit_scaled_pca_with_init(df, cols, n_components=2)
    assert stats1 == stats2
    np.testing.assert_allclose(pca1.mean, pca2.mean, rtol=1e-9)
    np.testing.assert_allclose(pca1.loadings, pca2.loadings, rtol=1e-7, atol=1e-10)
    np.testing.assert_allclose(pca1.eigvals, pca2.eigvals, rtol=1e-8)


def test_auto_kmeans_elbow_recovers_k(spark):
    df, _, _ = _blob_df(spark)
    best, models = ml.auto_kmeans(df, ["a", "b", "c"], key_col="key", nbmin_clusters=2, nbmax_clusters=6, init_sample=256)
    assert best == 3
    assert set(models) == set(range(1, 8))
    assert models[3].inertia == models[3].inertia  # not NaN


def test_fused_init_sample_bitwise_parity(spark):
    """fit_scaled_pca_with_init's fused sample (collected during the
    PCA scan, projected to PC space on the driver) must be BITWISE
    identical to init_sample_matrix over the Spark-projected frame —
    the r4 job-fusion invariant protecting the F1 gates."""
    df = spark.range(0, 6000, 1, 8).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        (F.col("id") % 97).cast("double").alias("a"),
        (F.col("id") % 31).cast("double").alias("b"),
        ((F.col("id") * 7) % 53).cast("double").alias("c"),
        F.lit(5.0).alias("const"),  # constant column: lit(0.0) path
    )
    cols = ["a", "b", "c", "const"]
    stats, pca, X_fused, _ = ml.fit_scaled_pca_with_init(
        df, cols, n_components=2, key_col="url", init_sample=128, approx_rows=6000
    )
    assert X_fused is not None and X_fused.shape == (128, 2)
    proj = ml.pca_project(ml.minmax_scale(df, cols, stats), pca)
    X_sep = ml.init_sample_matrix(proj, ["pc_0", "pc_1"], "url", 128)
    np.testing.assert_array_equal(X_fused, X_sep)

    # no hint -> no sample
    _, _, none1, _ = ml.fit_scaled_pca_with_init(df, cols, n_components=2)
    assert none1 is None

    # a hint within 4x the sample (frac = 4 * init_sample / approx_rows
    # >= 1) collects every row with no cutoff; a hint just above it
    # (0.5 < frac < 1) takes the cutoff — both equal the TopK sample
    for init_sample in (4096, 1024):
        stats2, pca2, X2, _ = ml.fit_scaled_pca_with_init(
            df, cols, n_components=2, key_col="url", init_sample=init_sample, approx_rows=6000
        )
        proj2 = ml.pca_project(ml.minmax_scale(df, cols, stats2), pca2)
        X2_sep = ml.init_sample_matrix(proj2, ["pc_0", "pc_1"], "url", init_sample)
        assert X2 is not None and X2.shape == (init_sample, 2)
        np.testing.assert_array_equal(X2, X2_sep)

    # absurdly large hint -> cutoff below every hash -> shortfall None
    _, _, short, _ = ml.fit_scaled_pca_with_init(
        df, cols, n_components=2, key_col="url", init_sample=128, approx_rows=10**12
    )
    assert short is None


def test_pipeline_fused_sample_same_kmeans(spark):
    """End-to-end: cluster_documents with and without the approx_rows
    hint must produce identical centers and identical assignments."""
    from webdq import pipeline as P

    from webdq.synth import generate_pages

    pages = generate_pages(spark, 1500).drop("_tier")
    cfg = P.PipelineConfig(k=4, pca_components=3, kmeans_init_sample=128, kmeans_max_iter=5)
    feats = P.extract_features(pages, cfg).persist()
    nstats: dict = {}
    norm = P.normalize_features(feats, cfg, nstats).persist()
    assert nstats["n_rows"] == 1500
    out_hint, km_hint = P.cluster_documents(norm, cfg, approx_rows=nstats["n_rows"])
    out_base, km_base = P.cluster_documents(norm, cfg, approx_rows=None)
    np.testing.assert_array_equal(km_hint.centers, km_base.centers)
    a = {r["url"]: r["cluster"] for r in out_hint.select("url", "cluster").collect()}
    b = {r["url"]: r["cluster"] for r in out_base.select("url", "cluster").collect()}
    assert a == b
    feats.unpersist(); norm.unpersist()


# ------------------------------------------------------ fixed-order SQL text

_EDGE_DOUBLES = [0.0, -0.0, 5e-324, -5e-324, 2.2250738585072014e-308, 1e-05, 1e20, 1.797e308, -0.063316]


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(xs=st.lists(st.floats(allow_nan=False, allow_infinity=False), min_size=1, max_size=40))
@example(xs=_EDGE_DOUBLES)
def test_sql_lit_round_trips_every_finite_double(spark, xs):
    row = spark.range(1).select(*[F.expr(f"{ml.sql_lit(x)} AS x{i}") for i, x in enumerate(xs)]).first()
    for i, x in enumerate(xs):
        assert struct.pack("<d", row[f"x{i}"]) == struct.pack("<d", x), (x, row[f"x{i}"])


def test_sql_lit_refuses_nan_and_inf():
    for x in (float("nan"), float("inf"), float("-inf")):
        with pytest.raises(ValueError):
            ml.sql_lit(x)


def test_sql_col_and_first_argmin(spark):
    """A quoted name with a backtick in it resolves; first_argmin takes
    the first of tied minima, as numpy argmin does."""
    cols = ["d0", "d`1", "d2"]
    schema = T.StructType([T.StructField(c, T.DoubleType()) for c in cols])
    df = spark.createDataFrame([(1.0, 1.0, 2.0), (3.0, 2.0, 2.0), (5.0, 4.0, 3.0)], schema)
    df = df.withColumn("m", F.expr(f"least({', '.join(ml.sql_col(c) for c in cols)})"))
    got = df.select(
        F.expr(ml.sql_sum(ml.sql_col(c) for c in cols)).alias("s"),
        F.expr(ml.first_argmin(cols, "m")).alias("j"),
    ).collect()
    X = np.array([[1.0, 1.0, 2.0], [3.0, 2.0, 2.0], [5.0, 4.0, 3.0]])
    assert [r["s"] for r in got] == [(a + b) + c for a, b, c in X]
    assert [r["j"] for r in got] == list(np.argmin(X, axis=1)) == [0, 1, 2]


def test_fold_builds_cost_few_py4j_commands_at_any_dimension(spark, py4j_commands):
    """A fold is one SQL string per output column, so its build cost
    does not grow with the dimension (a Column fold sends one command
    per node: 1,896 for pca_project at 12×3). semantic_dedup and
    pq_encode also build their join and select plumbing. The ECDF's
    bucket tree is one string at any bucket count: 4 commands (as
    Columns, 1,970 for 63 boundaries)."""
    from webdq import dedup, normalize, similarity

    rng = np.random.RandomState(5)
    cols = [f"f{i}" for i in range(12)]
    feats = spark.createDataFrame([tuple(rng.rand(12).tolist())], ", ".join(f"{c} double" for c in cols))
    model = ml.PCAModel(cols=cols, mean=rng.rand(12), loadings=rng.randn(12, 3), eigvals=rng.rand(12))
    proj = ml.pca_project(feats, model)
    cost = {
        "pca_project": py4j_commands(lambda: ml.pca_project(feats, model)),
        "kmeans_assign": py4j_commands(lambda: ml.kmeans_assign(proj, ["pc_0", "pc_1", "pc_2"], rng.randn(4, 3))),
    }
    assert cost["pca_project"] <= 50 and cost["kmeans_assign"] <= 50, cost
    for dim in (8, 64):
        vec = spark.createDataFrame([(0, [0.5] * dim)], "vec_id long, embedding array<double>")
        pairs = vec.select(F.col("embedding").alias("a"), F.col("embedding").alias("b"))
        cents, books = rng.randn(4, dim).tolist(), rng.randn(2, 4, dim // 2)
        cost[f"cosine_col/{dim}"] = py4j_commands(lambda: pairs.select(dedup.cosine_col("a", "b", dim=dim)))
        cost[f"semantic_dedup/{dim}"] = py4j_commands(lambda: dedup.semantic_dedup(vec, cents))
        cost[f"pq_encode/{dim}"] = py4j_commands(lambda: similarity.pq_encode(vec, books))
    for nb in (63, 4095):
        bs = sorted(rng.rand(nb).tolist())
        cost[f"bucket_expr/{nb}"] = py4j_commands(
            lambda: feats.withColumn("_b", F.expr(normalize.bucket_expr("`f0`", bs, 0, nb)))
        )
    ceiling = {"pca_project": 50, "kmeans_assign": 50, "cosine_col": 50, "semantic_dedup": 600, "pq_encode": 170,
               "bucket_expr": 20}
    assert all(n <= ceiling[name.split("/")[0]] for name, n in cost.items()), cost
    for name in ("cosine_col", "semantic_dedup", "pq_encode"):
        assert cost[f"{name}/8"] == cost[f"{name}/64"], cost
    assert cost["bucket_expr/63"] == cost["bucket_expr/4095"], cost


def test_cluster_means_exact_sums_and_guard(spark):
    """cluster_means sums in exact DECIMAL: each mean is the exact
    decimal total over the count at any partitioning (a double sum
    loses the 1.0 between ±1e18 and reads 0.1 + 0.2 + 0.3 as
    0.6000000000000001); a cluster with no members is a NaN row. NaN,
    +inf and 1e19 raise instead of being dropped by the decimal cast."""
    from decimal import Decimal

    rows = [(0, 1e18), (0, 1.0), (0, -1e18), (1, 0.1), (1, 0.2), (1, 0.3)]
    df = spark.createDataFrame(rows, "c int, x double")
    exact = [float(sum(Decimal(repr(x)) for c, x in rows if c == j)) / 3 for j in (0, 1)]
    assert exact == [1.0 / 3, 0.6 / 3]
    for parts in (1, 3):
        sizes, means = ml.cluster_means(df.repartition(parts), "c", ["x"], 3)
        assert sizes.tolist() == [3, 3, 0]
        assert means[:2, 0].tolist() == exact and np.isnan(means[2, 0])
    for bad in (float("nan"), float("inf"), 1e19):
        bad_df = spark.createDataFrame([(0, 1.0), (1, bad)], "c int, x double")
        with pytest.raises(Exception, match="_exact_sum"):
            ml.cluster_means(bad_df, "c", ["x"], 2)

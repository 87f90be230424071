"""ANN: brute-force exactness vs numpy; LSH recall on clustered data."""

import numpy as np

from webdq import ml, similarity


def _emb_df(spark, n=120, dim=16, seed=5):
    rng = np.random.RandomState(seed)
    centers = rng.randn(4, dim) * 3
    X = np.vstack([c + 0.2 * rng.randn(n // 4, dim) for c in centers])
    rows = [(i, X[i].tolist()) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>"), X


def test_bruteforce_matches_numpy(spark):
    df, X = _emb_df(spark)
    q = df.filter("vec_id < 3").selectExpr("vec_id as query_id", "embedding")
    got = similarity.cosine_topk(df, q, k=5).collect()
    norm = X / np.linalg.norm(X, axis=1, keepdims=True)
    sims = norm @ norm.T
    for qid in range(3):
        s = sims[qid].copy()
        s[qid] = -np.inf
        exp = np.argsort(-s, kind="stable")[:5]
        mine = [r["neighbor_id"] for r in sorted((r for r in got if r["query_id"] == qid), key=lambda r: r["rank"])]
        assert mine == list(exp), f"query {qid}"


def test_lsh_topk_recall(spark):
    df, X = _emb_df(spark)
    q = df.filter("vec_id < 8").selectExpr("vec_id as query_id", "embedding")
    exact = similarity.cosine_topk(df, q, k=5)
    approx = similarity.lsh_topk(df, q, dim=16, k=5, n_bits=8)
    rec = similarity.ann_recall(exact, approx)
    assert rec >= 0.8, f"LSH recall {rec}"


def test_lsh_buckets_deterministic(spark):
    df, _ = _emb_df(spark)
    a = {r["vec_id"]: r["bucket"] for r in similarity.lsh_buckets(df.repartition(1), dim=16).collect()}
    b = {r["vec_id"]: r["bucket"] for r in similarity.lsh_buckets(df.repartition(7), dim=16).collect()}
    assert a == b


def test_ivf_topk_recall_and_exhaustive_exact(spark):
    """IVF ANN: decent recall at nprobe << nlist on clustered data;
    nprobe == nlist (exhaustive probing) must equal the exact top-k
    bit-for-bit."""
    df, _ = _emb_df(spark)
    q = df.filter("vec_id < 6").selectExpr("vec_id as query_id", "embedding")
    cents = similarity.ivf_fit(df, nlist=8)
    exact = similarity.cosine_topk(df, q, k=5)
    approx = similarity.ivf_topk(df, q, cents, k=5, nprobe=2)
    assert similarity.ann_recall(exact, approx) >= 0.8
    exhaustive = similarity.ivf_topk(df, q, cents, k=5, nprobe=8)
    a = sorted(map(tuple, exact.collect()))
    b = sorted(map(tuple, exhaustive.collect()))
    assert a == b


def test_ivf_fit_deterministic(spark):
    df, _ = _emb_df(spark)
    c1 = similarity.ivf_fit(df, nlist=8)
    c2 = similarity.ivf_fit(df.repartition(9), nlist=8)
    np.testing.assert_array_equal(c1, c2)


def test_embedding_neardup_lsh_blocking(spark):
    """Self-contained LSH-blocked near-dup: exact duplicates are
    recovered with recall 1 BY CONSTRUCTION (identical sign patterns),
    noisy near-dups at recall >= 0.8, and every emitted pair truly
    clears the threshold (numpy-verified precision)."""
    rng = np.random.RandomState(9)
    dim = 16
    base = rng.randn(60, dim)
    rows = [(i, base[i].tolist()) for i in range(60)]
    # 10 exact duplicates + 10 near duplicates (tiny noise)
    for j in range(10):
        rows.append((1000 + j, base[j].tolist()))
        noisy = base[20 + j] + 0.02 * rng.randn(dim)
        rows.append((2000 + j, noisy.tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.embedding_neardup_pairs_lsh(
        df, dim=dim, threshold=0.95, n_bits=8, n_tables=4
    ).collect()
    pairs = {(r["id1"], r["id2"]) for r in out}
    assert all((j, 1000 + j) in pairs for j in range(10)), "exact dups must all collide"
    near_found = sum((20 + j, 2000 + j) in pairs for j in range(10))
    assert near_found >= 8
    # precision: recompute every emitted cosine in numpy
    vecs = {r[0]: np.array(r[1]) for r in rows}
    for r in out:
        a, b = vecs[r["id1"]], vecs[r["id2"]]
        cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert cos >= 0.95 - 1e-9
        assert abs(cos - r["cosine"]) < 1e-5


# ---- product quantization ----

def test_pq_encode_matches_numpy_argmin(spark):
    df, X = _emb_df(spark)
    rng = np.random.RandomState(11)
    books = rng.randn(4, 8, 4)  # m=4, k=8, dsub=4 over dim=16
    got = {r["vec_id"]: list(r["codes"]) for r in similarity.pq_encode(df, books).collect()}
    for i in range(len(X)):
        exp = []
        for s in range(4):
            sub = X[i, s * 4 : (s + 1) * 4]
            d = ((sub[None, :] - books[s]) ** 2).sum(axis=1)
            exp.append(int(np.argmin(d)))
        assert got[i] == exp, f"vec {i}"


def test_pq_adc_trained_path(spark):
    """Trained PQ on normalized inputs (cosine ≡ L2 on the unit
    sphere). Two gates for the non-oracle-able path: (1) Spark ADC
    distances equal the numpy ADC reference (lut sum over stored
    codes) to rounding; (2) every ADC top-5 neighbor lies in the
    query's TRUE cluster — PQ must preserve cluster structure.
    (Exact top-5 recall is NOT gated: within a tight cluster the true
    neighbor ordering sits below the quantization noise floor, the
    textbook PQ regime — re-ranking candidates with exact distances is
    the standard fix and is what ivf_topk does.)"""
    df, X = _emb_df(spark)
    # materialize the norm under a fresh name BEFORE the transform —
    # an aggregate captured inside a transform lambda re-evaluates per
    # element (and misresolves if the select aliases the same name):
    # the q57/classifier HOF gotcha (CLAUDE.md)
    norm = df.selectExpr(
        "vec_id", "embedding",
        "sqrt(aggregate(embedding, 0.0d, (a, e) -> a + e * e)) AS _n",
    ).selectExpr("vec_id", "transform(embedding, x -> x / _n) AS embedding")
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    # codebooks trained on the driver: k-means++ + Lloyd per subspace
    m, dsub = 4, 4
    subs = [Xn[:, s * dsub : (s + 1) * dsub] for s in range(m)]
    books = np.stack([ml._lloyd_numpy(x, ml._kmeanspp_init(x, 16, 7 + s), max_iter=15) for s, x in enumerate(subs)])
    # materialized index, as in q77 (codegen-clean scan split)
    codes = similarity.pq_encode(norm, books).localCheckpoint(eager=True)
    q = norm.filter("vec_id < 8").selectExpr("vec_id as query_id", "embedding")
    approx = similarity.pq_adc_topk(codes, q, books, k=5).collect()

    code_map = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
    for r in approx:
        qv, cs = Xn[r["query_id"]], code_map[r["neighbor_id"]]
        ref = sum(
            ((qv[s * dsub : (s + 1) * dsub] - books[s, cs[s]]) ** 2).sum()
            for s in range(m)
        )
        assert abs(r["adc_dist"] - ref) < 1e-6, (r, ref)
        # fixture: 4 clusters of 30 consecutive ids
        assert r["neighbor_id"] // 30 == r["query_id"] // 30, r

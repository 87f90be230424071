"""Distributed DBSCAN vs an independent numpy reference (same
deterministic min-label border rule)."""

import numpy as np
from pyspark.sql import functions as F

from webdq.density import dbscan


def _dbscan_numpy(X: np.ndarray, ids: np.ndarray, eps: float, min_pts: int):
    """O(n²) reference: neighbor matrix → core flags → BFS components
    over cores (component label = min core id) → border = min core
    neighbor's component → noise None."""
    d2 = ((X[:, None, :] - X[None, :, :]) ** 2).sum(-1)
    neigh = d2 <= eps * eps
    core = neigh.sum(1) >= min_pts
    n = len(X)
    comp = {}
    seen = np.zeros(n, dtype=bool)
    for i in range(n):
        if not core[i] or seen[i]:
            continue
        stack, members = [i], []
        seen[i] = True
        while stack:
            u = stack.pop()
            members.append(u)
            for v in np.where(neigh[u] & core & ~seen)[0]:
                seen[v] = True
                stack.append(int(v))
        lab = int(ids[members].min())
        for m in members:
            comp[m] = lab
    out = {}
    for i in range(n):
        if core[i]:
            out[int(ids[i])] = (comp[i], True)
        else:
            core_nb = [comp[j] for j in np.where(neigh[i] & core)[0]]
            out[int(ids[i])] = (min(core_nb) if core_nb else None, False)
    return out


def _blobs(seed: int = 7, n_per: int = 60, n_noise: int = 25):
    rng = np.random.RandomState(seed)
    centers = np.array([[0.0, 0.0], [5.0, 5.0], [0.0, 6.0]])
    pts = np.vstack(
        [c + rng.randn(n_per, 2) * 0.35 for c in centers]
        + [rng.uniform(-3, 9, size=(n_noise, 2))]
    )
    return pts


def test_dbscan_matches_numpy_reference(spark):
    X = _blobs()
    ids = np.arange(len(X), dtype=np.int64)
    df = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in zip(ids, X)], "pid long, x double, y double"
    ).repartition(7)
    got = {
        r["pid"]: (r["cluster"], r["is_core"])
        for r in dbscan(df, ["x", "y"], eps=0.6, min_pts=5, key_col="pid").collect()
    }
    ref = _dbscan_numpy(X, ids, eps=0.6, min_pts=5)
    assert got == ref
    clusters = {c for c, _ in ref.values() if c is not None}
    assert len(clusters) >= 3  # the three blobs actually separate
    assert any(c is None for c, _ in ref.values())  # noise exists


def test_dbscan_partition_invariance(spark):
    X = _blobs(seed=11)
    rows = [(int(i), float(x), float(y)) for i, (x, y) in enumerate(X)]
    a = spark.createDataFrame(rows, "pid long, x double, y double")
    ga = {
        r["pid"]: (r["cluster"], r["is_core"])
        for r in dbscan(a.repartition(1), ["x", "y"], eps=0.6, min_pts=5, key_col="pid").collect()
    }
    gb = {
        r["pid"]: (r["cluster"], r["is_core"])
        for r in dbscan(a.repartition(13), ["x", "y"], eps=0.6, min_pts=5, key_col="pid").collect()
    }
    assert ga == gb


def test_dbscan_all_noise_and_single_cluster(spark):
    # sparse points: everything noise
    sparse = spark.createDataFrame(
        [(i, float(i * 100), 0.0) for i in range(10)], "pid long, x double, y double"
    )
    out = dbscan(sparse, ["x", "y"], eps=1.0, min_pts=3, key_col="pid").collect()
    assert all(r["cluster"] is None and not r["is_core"] for r in out)
    # dense clump: one cluster labeled by the min id
    dense = spark.createDataFrame(
        [(i + 5, float(i) * 0.01, 0.0) for i in range(12)], "pid long, x double, y double"
    )
    out2 = dbscan(dense, ["x", "y"], eps=1.0, min_pts=3, key_col="pid").collect()
    assert all(r["cluster"] == 5 and r["is_core"] for r in out2)

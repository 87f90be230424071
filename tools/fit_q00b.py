"""One-off fit for the q00b frozen-arithmetic contract query.

Runs the q00b feature chain at sf0.01, fits minmax bounds + a
3-component PCA + k=4 KMeans + the keep_dim quality ranking with the
REAL webdq.ml operators, rounds every fit product to 6 decimals (short
literals; repr round-trips to the identical double in Java and DuckDB),
and prints the `_q00b_frozen()` body to paste into __spark_entry__.py.

The rounding happens BEFORE the final assignment/keep derivation so the
frozen keep set is consistent with the frozen (not the unrounded)
model.
"""

from __future__ import annotations

import os
import sys

import numpy as np

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from webdq import label as label_mod
from webdq import ml
from webdq.session import build_session


def main(sf_dir: str = "/root/testdata/sf0.01") -> None:
    import __spark_entry__ as e

    spark = build_session("local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    feats = e._q00b_features(spark, sf_dir).persist()
    cols = e._Q00B_FEATS

    raw = ml.column_minmax(feats, cols)
    minmax = {c: (round(lo, 6), round(hi, 6)) for c, (lo, hi) in raw.items()}
    scaled = ml.minmax_scale(feats, cols, minmax)

    mean, cov, n = ml.covariance(scaled, cols)
    w, L = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1]
    L = L[:, order][:, :3]
    # sign normalization as ml's PCA fit does: max-abs element positive
    for j in range(L.shape[1]):
        i = int(np.argmax(np.abs(L[:, j])))
        if L[i, j] < 0:
            L[:, j] = -L[:, j]
    mean_r = [round(float(x), 6) for x in mean]
    loadings_r = [[round(float(L[i, j]), 6) for j in range(3)] for i in range(len(cols))]

    model = ml.PCAModel(
        cols=cols, mean=np.array(mean_r), loadings=np.array(loadings_r), eigvals=w[order]
    )
    proj = ml.pca_project(scaled, model).persist()
    pc_cols = ["pc_0", "pc_1", "pc_2"]
    km = ml.kmeans_fit(proj, pc_cols, k=4, key_col="doc_id", init_sample=512)
    centers_r = [[round(float(c), 6) for c in row] for row in km.centers]

    assigned = ml.kmeans_assign(proj, pc_cols, np.array(centers_r))
    dim = label_mod.keep_dim_plan(assigned, cols, keep_top=1)
    keep = sorted(r["cluster"] for r in dim.collect() if r["keep"])
    sizes = {r["cluster"]: r["n"] for r in assigned.groupBy("cluster").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")).collect()}

    print("# cluster sizes:", sizes)
    print("_Q00B_FROZEN_LITERALS = {")
    print(f"    'minmax': {minmax!r},")
    print(f"    'mean': {mean_r!r},")
    print(f"    'loadings': {loadings_r!r},")
    print(f"    'centers': {centers_r!r},")
    print(f"    'keep': {keep!r},")
    print("}")


if __name__ == "__main__":
    main(*sys.argv[1:])

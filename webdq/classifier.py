"""Supervised quality classifier: logistic regression over hashed
bag-of-n-gram features — the fastText-style linear scorer the north
rule's pipeline family uses for langid / quality labeling (fastText:
Joulin et al. '16; the hashing trick: Weinberger et al. '09 — both
public literature).

Spark-first decomposition (same pattern as webdq.ml's PCA/KMeans:
distributed data scans, k-or-D-sized driver state):

- ``hashed_features``: NATIVE featurization — explode words,
  bucket = pmod(xxhash64(word), dim), per-doc (bucket → count) pairs
  re-assembled to aligned arrays with one groupBy. One shuffle total;
  the result is cached across training iterations.
- ``logreg_fit``: full-batch gradient descent. Each iteration is ONE
  scan of the cached features: an Arrow ``mapInPandas`` pass computes
  per-batch partial (gradient, loss, count) with dense numpy math
  against the broadcast weight vector (D floats ride into the workers
  via the closure), and the driver sums the ≤ #partitions D-sized
  partials and updates w — exactly MLlib's treeAggregate shape. No
  shuffle inside an iteration; driver state is O(D).
- ``predict``: one scalar Arrow UDF pass → probability + label.

Determinism: zero init, fixed learning-rate schedule, float64
accumulation; per-partition partial sums make results exactly
reproducible for a fixed partitioning and tolerance-stable across
partitionings (gated in tests).

Scale notes (10^12 docs): per-iteration cost is one cached-scan +
collect of (#partitions × D) doubles; D (2^15-2^20) bounds both the
broadcast and the collect. Sub-sampled minibatches drop in by
filtering on ``pmod(xxhash64(id), k)`` — deterministic, not coded
here. Reference analog: the reference's per-user scoring is
unsupervised (PCA+KMeans, /root/reference/osmdq/analysis_tasks.py);
the supervised head is the web-payload extension the north star names
(fastText langid / quality classifier), built from public knowledge.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def ngram_array(text_col: str = "text", ngram_ns: tuple = (1,)):
    """Column expression: every word n-gram of the given orders over a
    whitespace split, one concatenated array (n-grams joined by a
    single space). Shared by ``hashed_features`` (words) and
    ``webdq.dsir`` (words and bigrams)."""
    toks = F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    grams = []
    for n in ngram_ns:
        if n == 1:
            grams.append(toks)
        else:
            cnt = F.size(toks)
            n_sh = cnt - (n - 1)
            z = F.arrays_zip(*[F.slice(toks, i + 1, n_sh).alias(f"w{i}") for i in range(n)])
            # NB: no default-arg binding in the lambda — pyspark reads
            # lambda arity and a second parameter means (element, idx);
            # plain closure over n is safe (F.transform resolves it
            # eagerly inside this loop iteration)
            grams.append(
                F.when(cnt < n, F.array().cast("array<string>")).otherwise(
                    F.transform(z, lambda s: F.concat_ws(" ", *[s[f"w{i}"] for i in range(n)]))
                )
            )
    return grams[0] if len(grams) == 1 else F.concat(*grams)


def hashed_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 1 << 15,
    portable: bool = False,
) -> DataFrame:
    """(id, buckets:array<int>, vals:array<double>) — hashed
    bag-of-words, L1-normalized per document (fastText averages
    token vectors; the linear model absorbs any fixed scaling).
    Buckets are sorted ascending (deterministic layout).

    ``portable=True`` buckets by the first 15 hex digits of md5(gram)
    (60 bits, signed-long safe) instead of xxhash64 — bit-identical in
    any engine with md5 (DuckDB: ``('0x'||substr(md5(g),1,15))::BIGINT``),
    the same cross-engine pattern as dedup.simhash64_portable. xxhash64
    stays the default: one JVM hash beats a hex md5 round-trip."""
    allg = ngram_array(text_col, (1,))
    if portable:
        h = F.conv(F.substring(F.md5("_g"), 1, 15), 16, 10).cast("long")
    else:
        h = F.xxhash64("_g")
    ex = (
        df.select(F.col(id_col).alias("_fid"), F.explode(allg).alias("_g"))
        .filter(F.col("_g") != "")
        .withColumn("_b", F.pmod(h, F.lit(int(dim))).cast("int"))
    )
    per = ex.groupBy("_fid", "_b").agg(F.count(F.lit(1)).cast("double").alias("_c"))
    rows = per.groupBy("_fid").agg(
        F.array_sort(F.collect_list(F.struct("_b", "_c"))).alias("_p")
    )
    # materialize the total under its own column BEFORE the transform:
    # an aggregate expression captured inside a HOF lambda re-resolves
    # against the lambda scope (measured: evaluates to 0 here) — the
    # same captured-expression trap as dedup._shingles / q57
    rows = rows.withColumn(
        "_t", F.aggregate(F.col("_p"), F.lit(0.0), lambda a, s: a + s["_c"])
    )
    return rows.select(
        F.col("_fid").alias(id_col),
        F.transform("_p", lambda s: s["_b"]).alias("buckets"),
        F.transform("_p", lambda s: s["_c"] / F.col("_t")).alias("vals"),
    )


@dataclass
class LogRegModel:
    dim: int
    weights: np.ndarray  # (dim,)
    bias: float
    losses: list = field(default_factory=list)  # per-iteration mean log-loss


def _sigmoid(z: np.ndarray) -> np.ndarray:
    out = np.empty_like(z)
    pos = z >= 0
    out[pos] = 1.0 / (1.0 + np.exp(-z[pos]))
    e = np.exp(z[~pos])
    out[~pos] = e / (1.0 + e)
    return out


def _batch_stats(pdf: pd.DataFrame, w: np.ndarray, b: float, dim: int):
    """Dense partial (grad_w, grad_b, loss_sum, n) for one Arrow batch."""
    gw = np.zeros(dim, dtype=np.float64)
    gb = 0.0
    loss = 0.0
    n = 0
    for buckets, vals, y in zip(pdf["buckets"], pdf["vals"], pdf["label"]):
        bk = np.asarray(buckets, dtype=np.int64)
        xv = np.asarray(vals, dtype=np.float64)
        z = float(w[bk] @ xv) + b
        p = float(_sigmoid(np.array([z]))[0])
        r = p - float(y)
        np.add.at(gw, bk, r * xv)
        gb += r
        # numerically-stable log-loss: log(1+e^-|z|) + max(z,0) - z*y
        loss += np.log1p(np.exp(-abs(z))) + max(z, 0.0) - z * float(y)
        n += 1
    return gw, gb, loss, n


# logreg_fit's L2 penalty on the weights
L2 = 1e-6


def logreg_fit(
    feats: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    label_col: str = "label",
    dim: int = 1 << 15,
    n_iter: int = 30,
    lr: float = 2.0,
) -> LogRegModel:
    """Full-batch GD with L2 penalty ``L2`` on the joined (features,
    label) frame. One cached frame, one mapInPandas scan per iteration,
    O(dim) driver state."""
    data = feats.join(
        labels.select(F.col(id_col), F.col(label_col).cast("double").alias("label")),
        id_col,
    ).select("buckets", "vals", "label").persist()
    dim = int(dim)
    w = np.zeros(dim, dtype=np.float64)
    b = 0.0
    losses: list = []
    out_schema = StructType.fromDDL("gw array<double>, gb double, loss double, n long")
    try:
        for it in range(n_iter):
            w_c, b_c = w, b  # bind current values into the closure

            def _part(batches, _w=w_c, _b=b_c, _d=dim):
                for pdf in batches:
                    gw, gb, loss, n = _batch_stats(pdf, _w, _b, _d)
                    yield pd.DataFrame(
                        {"gw": [gw.tolist()], "gb": [gb], "loss": [loss], "n": [n]}
                    )

            parts = data.mapInPandas(_part, schema=out_schema).collect()
            n_tot = sum(r["n"] for r in parts)
            if n_tot == 0:
                raise ValueError("no labeled rows to fit")
            gw = np.sum([np.asarray(r["gw"]) for r in parts], axis=0) / n_tot
            gb = sum(r["gb"] for r in parts) / n_tot
            losses.append(sum(r["loss"] for r in parts) / n_tot)
            step = lr / (1.0 + 0.1 * it)
            w = w - step * (gw + L2 * w)
            b = b - step * gb
    finally:
        data.unpersist()
    return LogRegModel(dim=dim, weights=w, bias=b, losses=losses)


def predict(
    feats: DataFrame, model: LogRegModel, id_col: str = "doc_id"
) -> DataFrame:
    """(id, prob, pred = prob ≥ 0.5) — one scalar Arrow pass; the D-sized weight
    vector rides into the workers via the UDF closure (at cluster
    scale: sc.broadcast it and reference bc.value — same shape)."""
    w, b = model.weights, model.bias

    @F.pandas_udf("double")
    def _prob(buckets: pd.Series, vals: pd.Series) -> pd.Series:
        out = np.empty(len(buckets), dtype=np.float64)
        for i, (bk, xv) in enumerate(zip(buckets, vals)):
            bk = np.asarray(bk, dtype=np.int64)
            xv = np.asarray(xv, dtype=np.float64)
            out[i] = w[bk] @ xv + b
        return pd.Series(_sigmoid(out))

    return feats.select(
        F.col(id_col),
        _prob("buckets", "vals").alias("prob"),
    ).withColumn("pred", (F.col("prob") >= F.lit(0.5)).cast("int"))

"""Cluster → keep/drop labeling (reference M9/J6).

The reference labels each element by joining its contributors' cluster
ids and declaring quality "good if the last contributor is in an
experienced-user cluster" (/root/reference/osmdq/utils.py:332-341;
article7:118-130) — i.e. a tiny cluster→verdict map joined broadcast
onto the big table. Here: clusters are ranked by a fixed quality
composite of their centroid coordinates and the top ``keep_top``
clusters are kept. The pipelines rank with ``keep_clusters`` (one
observed pass, then ``keep_map`` on the driver); ``keep_dim_plan`` is
the same rule as a lazy plan.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ml import cluster_means, sql_col, sql_lit, sql_sum

# Weights over (min-max-scaled) feature columns. Positive = quality
# signal, negative = junk signal. Unknown columns weigh 0.
QUALITY_WEIGHTS: dict[str, float] = {
    "stopword_ratio": 1.0,
    "lang_match": 1.0,
    "langid_conf": 1.0,
    "u_perplexity": -1.0,
    "perplexity": -1.0,
    "symbol_ratio": -1.0,
    "digit_ratio": -1.0,
    "dup_word_ratio": -1.0,
    "dup_5gram_ratio": -1.0,
}


def cluster_scores(centers: np.ndarray, cols: list[str], weights: dict[str, float] | None = None) -> np.ndarray:
    weights = weights or QUALITY_WEIGHTS
    w = np.array([weights.get(c, 0.0) for c in cols])
    return centers @ w


def keep_map(
    centers: np.ndarray,
    cols: list[str],
    keep_top: int = 1,
    weights: dict[str, float] | None = None,
    sizes: np.ndarray | None = None,
) -> dict[int, bool]:
    """Rank clusters by composite centroid quality; keep the best
    ``keep_top``. Ties broken by cluster id (deterministic). A cluster
    whose ``sizes`` entry is 0 takes no rank and is never kept, as in
    keep_dim_plan, whose groupBy never sees it."""
    s = cluster_scores(centers, cols, weights)
    live = [j for j in range(len(s)) if sizes is None or sizes[j] > 0]
    kept = set(sorted(live, key=lambda j: (-s[j], j))[:keep_top])
    return {j: j in kept for j in range(len(s))}


def keep_clusters(
    clustered: DataFrame,
    cols: list[str],
    k: int,
    keep_top: int = 1,
    weights: dict[str, float] | None = None,
) -> list[int]:
    """Ids (of 0..k-1) of the ``cluster`` values to keep, ranked by the
    mean of their members' ``cols`` (``clustered`` holds the min-max
    scaled features): per-cluster counts and exact feature sums come
    from ONE observed pass (ml.cluster_means — one job, one stage), the
    ranking is keep_map on the driver. The caller emits the verdict as
    ``isin(kept)``, a k-literal predicate."""
    sizes, means = cluster_means(clustered, "cluster", cols, k)
    keep = keep_map(means, cols, keep_top, weights, sizes)
    return [j for j, kept in keep.items() if kept]


def keep_dim_plan(
    clustered: DataFrame,
    cols: list[str],
    keep_top: int = 1,
    cluster_col: str = "cluster",
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """cluster → keep verdict as a lazy plan (no driver collect): one
    aggregation to k rows, composite score as one ml.sql_sum, rank via
    a window over the k-row frame (single tiny partition — k ≤ 16).
    Same semantics as keep_map on collected centroids: rank by
    -score, ties by cluster id; fused into the consumer's job graph so
    label emission costs zero extra driver round-trips."""
    weights = weights or QUALITY_WEIGHTS
    agg = clustered.groupBy(cluster_col).agg(*[F.avg(c).alias(c) for c in cols])
    score = sql_sum(["0.0D", *(f"{sql_lit(weights[c])} * {sql_col(c)}" for c in cols if weights.get(c, 0.0))])
    from pyspark.sql import Window

    rank_w = Window.orderBy(F.desc("_score"), F.asc(cluster_col))
    return (
        agg.withColumn("_score", F.expr(score))
        .withColumn("_r", F.row_number().over(rank_w))
        .select(cluster_col, (F.col("_r") <= keep_top).alias("keep"))
    )


def summarize_clusters(
    out: DataFrame, cluster_col: str = "cluster", keep_col: str = "keep", url_col: str = "url"
) -> DataFrame:
    """Per-cluster verification summary: doc/keep counts + an
    order-insensitive BOUNDED digest of the kept urls —
    bit_xor(xxhash64(url)), constant memory per group with map-side
    partial aggregation. (The earlier array_sort(collect_list) digest
    materialized every kept url of a cluster in one executor — an OOM
    at real scale, VERDICT r2 #2.) xor is commutative/associative, so
    the digest is deterministic under any partitioning; kept-url sets
    are distinct urls, so no xor self-cancellation."""
    kept_sig = F.coalesce(F.bit_xor(F.when(F.col(keep_col), F.xxhash64(url_col))), F.lit(0).cast("long"))
    return (
        out.groupBy(cluster_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col(keep_col), 1).otherwise(0)).alias("n_keep"),
            kept_sig.alias("kept_urls_sig"),
        )
        .orderBy(cluster_col)
    )


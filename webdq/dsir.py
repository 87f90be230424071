"""Importance-weighted data selection (DSIR — Xie et al. '23, "Data
Selection for Language Models via Importance Resampling", public
literature): score every raw-corpus document by the hashed-n-gram
log-likelihood ratio between a TARGET distribution (the data you want
more of — a curated or in-domain subset) and the RAW corpus
distribution, then keep the highest-scoring documents. This is the
classifier-free sibling of ``webdq.classifier`` quality scoring and
feeds the same selection tail (``mixing.select_by_budget`` /
``textprep.quantile_buckets``).

Spark-first decomposition (everything native, zero Python):

- ``ngram_bucket_counts``: explode word n-grams (shared expression
  with ``classifier.hashed_features``), bucket = pmod(hash(gram),
  dim), ONE map-side-combined groupBy → (id, bucket, n).
- ``fit_log_ratio``: global bucket counts for target and raw (two
  more map-side-combined aggs), Laplace-smoothed log-ratio per
  bucket over a dense ``spark.range(dim)`` spine — unseen buckets get
  the principled both-zero smoothing weight, and the weight table is
  exactly ``dim`` rows by construction.
- ``dsir_score``: broadcast the weight table into one equi-join and
  sum count·weight per document (map-side combined).

Scale notes (10^12 docs): the weight table is bounded by ``dim``
(2^15 default — broadcastable by construction, never data-sized);
scoring is one broadcast join + one groupBy on doc_id. The gram
explode is the only fan-out (~n_tokens rows per doc), the same scan
shape as vocab/tf-idf. Fitting reads target and raw once each; at a
fixed dim the driver state is zero (the weight table never leaves the
cluster).

Determinism / portability: ``portable=True`` buckets by the first 15
hex digits of md5(gram) (DuckDB-replayable, the repo-wide pattern);
per-doc score sums are floats accumulated in group order — round
engine-compared scores (the q93 contract rounds to 6dp, the q87/q92
precedent). Reference analog: none (the reference is OSM analysis);
this is §8 training-data-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webdq.classifier import ngram_array


def ngram_bucket_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 1 << 15,
    ngram_ns: tuple = (1, 2),
    portable: bool = False,
) -> DataFrame:
    """(id, bucket, n) — hashed n-gram occurrence counts per document.
    One explode + one map-side-combined groupBy; empty grams (empty /
    whitespace-only text) are dropped, so such documents simply have
    no rows here (and no DSIR score — callers left-join if they need
    every id)."""
    if dim < 2:
        raise ValueError(f"dim must be >= 2, got {dim}")
    allg = ngram_array(text_col, ngram_ns)
    if portable:
        h = F.conv(F.substring(F.md5("_g"), 1, 15), 16, 10).cast("long")
    else:
        h = F.xxhash64("_g")
    return (
        df.select(F.col(id_col), F.explode(allg).alias("_g"))
        .filter(F.col("_g") != "")
        .withColumn("bucket", F.pmod(h, F.lit(int(dim))).cast("int"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def fit_log_ratio(
    target_counts: DataFrame,
    raw_counts: DataFrame,
    dim: int,
) -> DataFrame:
    """(bucket, w) for EVERY bucket in [0, dim): the Laplace-smoothed
    log-likelihood ratio ln p_target(b) − ln p_raw(b), fit from two
    ``ngram_bucket_counts`` outputs (any id column; only (bucket, n)
    are read), add-1 smoothed. A bucket unseen on one side gets the
    smoothed floor —
    the dense spark.range spine means ``dsir_score`` can inner-join
    without dropping documents."""
    spark = raw_counts.sparkSession
    t = target_counts.groupBy("bucket").agg(F.sum("n").alias("_ct"))
    r = raw_counts.groupBy("bucket").agg(F.sum("n").alias("_cr"))
    # 1-row totals, broadcast-crossJoined (the winsorize/q75 pattern)
    tots = (
        t.agg(F.sum("_ct").alias("_T"))
        .crossJoin(r.agg(F.sum("_cr").alias("_R")))
        .select(
            F.coalesce("_T", F.lit(0)).cast("double").alias("_T"),
            F.coalesce("_R", F.lit(0)).cast("double").alias("_R"),
        )
    )
    spine = spark.range(int(dim)).select(F.col("id").cast("int").alias("bucket"))
    a = 1.0  # add-1 smoothing
    ad = float(dim)
    ct = F.coalesce(F.col("_ct"), F.lit(0)).cast("double")
    cr = F.coalesce(F.col("_cr"), F.lit(0)).cast("double")
    return (
        spine.join(t, "bucket", "left")
        .join(r, "bucket", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "bucket",
            (
                F.log((ct + F.lit(a)) / (F.col("_T") + F.lit(ad)))
                - F.log((cr + F.lit(a)) / (F.col("_R") + F.lit(ad)))
            ).alias("w"),
        )
    )


def dsir_score(
    doc_counts: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_grams, dsir_score) — per-document importance score
    Σ_b n_b · w_b. The weight table (≤ dim rows) is broadcast; the
    per-doc sum is one map-side-combined groupBy. Positive score =
    more target-like than the raw corpus."""
    return (
        doc_counts.join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("n").cast("long").alias("n_grams"),
            F.sum(F.col("n") * F.col("w")).alias("dsir_score"),
        )
    )

"""End-to-end gates (BASELINE.md targets):
- keep/drop F1 >= 0.99 vs the independent pandas/numpy oracle
- byte-identical scrubbed text per url
- label invariance under partition count
- checkpoint resume (Luigi semantics re-expressed)
"""

import numpy as np

from webdq import oracle
from webdq.pipeline import PipelineConfig, run_pipeline
from webdq.scrub import scrub_py
from webdq.synth import TIER_CLEAN, generate_pages

N = 1500


def _run(spark, **cfg_kw):
    pages = generate_pages(spark, N).cache()
    cfg = PipelineConfig(k=5, kmeans_init_sample=1024, **cfg_kw)
    labels = run_pipeline(spark, pages.drop("_tier"), cfg)
    return pages, labels


def test_f1_vs_oracle_and_bytes(spark):
    pages, labels = _run(spark)
    got = labels.toPandas().sort_values("url").reset_index(drop=True)
    pdf = pages.select("url", "text", "lang", "_tier").toPandas().sort_values("url").reset_index(drop=True)

    ref = oracle.reference_labels(pdf, k=5, keep_top=1).sort_values("url").reset_index(drop=True)
    f1 = oracle.f1_score(ref["keep"].to_numpy(), got["keep"].to_numpy())
    assert f1 >= 0.99, f"engine-vs-oracle keep/drop F1 {f1:.4f} < 0.99"

    # sanity: oracle itself recovers the latent clean tier
    tier_keep = (pdf["_tier"] == TIER_CLEAN).to_numpy()
    assert oracle.f1_score(tier_keep, ref["keep"].to_numpy()) >= 0.99

    # byte-identical scrubbed text per url
    exp_scrub = pdf["text"].map(scrub_py)
    assert (got["scrubbed_text"].to_numpy() == exp_scrub.to_numpy()).all()


def test_partition_invariance(spark):
    """Labels (cluster and keep) and scrubbed text are identical under
    input partitionings 1 and 13 and spark.sql.shuffle.partitions 4, 8
    and 32: the observed sums are exact and the init sample is
    hash-ordered, so neither task order nor partitioning moves them."""
    pages = generate_pages(spark, 600).drop("_tier").cache()
    cfg = PipelineConfig(k=5, kmeans_init_sample=512)
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    runs = {}
    try:
        for shuffle in (4, 8, 32):
            spark.conf.set(key, str(shuffle))
            for parts in (1, 13):
                out = run_pipeline(spark, pages.repartition(parts), cfg)
                runs[parts, shuffle] = out.toPandas().set_index("url").sort_index()
                out.unpersist()
    finally:
        spark.conf.set(key, saved)
    pages.unpersist()
    a = runs[1, 4]
    for where, b in runs.items():
        for c in ("cluster", "keep", "scrubbed_text"):
            assert (a[c] == b[c]).all(), (where, c)


def test_empty_pages_empty_labels(spark):
    """An empty input returns an empty frame with the label schema and
    fits nothing (no PCA, no KMeans)."""
    pages = generate_pages(spark, 50).drop("_tier").limit(0)
    out = run_pipeline(spark, pages, PipelineConfig(k=5, kmeans_init_sample=64))
    assert out.count() == 0
    assert out.dtypes == [("url", "string"), ("cluster", "int"), ("keep", "boolean"), ("scrubbed_text", "string")]
    out.unpersist()


def test_pipeline_job_budget(spark):
    """q00's bench config over 4,000 pages, warm: 14 Spark jobs a pass
    — ECDF 3 (observed probe, counts map + result), PCA fit 4 (one
    broadcast of the shared ECDF lookup table, reused by all four
    low-cardinality dims; normalized cache fill, map + result), Lloyd 3
    (proj cache fill, two observed rounds), ranking 1, labels 3."""
    pages = generate_pages(spark, 4000).drop("_tier").cache()
    pages.count()
    cfg = PipelineConfig(k=4, pca_components=3, kmeans_init_sample=512, kmeans_max_iter=5)
    sc = spark.sparkContext
    run_pipeline(spark, pages, cfg).unpersist()  # warm-up pass
    sc.setJobGroup("q00-job-budget", "q00-job-budget")
    try:
        run_pipeline(spark, pages, cfg).unpersist()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup("q00-job-budget"))
    pages.unpersist()
    assert jobs == 14, f"{jobs} Spark jobs in a warm q00 pass"


def test_pipeline_py4j_budget(spark, py4j_commands):
    """q00's bench config over 4,000 pages, warm: the driver sends at
    most 3,000 py4j commands a pass (2,153 measured; 18,889 when the
    aggregate lists were built as Columns, at ~11-13 commands per
    Column call). Every aggregate list is SQL text: a few commands per
    aggregate, and one per ECDF column for its whole quantile grid."""
    pages = generate_pages(spark, 4000).drop("_tier").cache()
    pages.count()
    cfg = PipelineConfig(k=4, pca_components=3, kmeans_init_sample=512, kmeans_max_iter=5)
    n = py4j_commands(lambda: run_pipeline(spark, pages, cfg).unpersist())
    pages.unpersist()
    assert n <= 3000, f"{n} py4j commands in a warm q00 pass"


def test_checkpoint_resume(tmp_path, spark):
    import json
    import os

    pages = generate_pages(spark, 400).drop("_tier")
    wd = str(tmp_path / "run1")
    cfg = PipelineConfig(k=5, kmeans_init_sample=256, workdir=wd)
    first = run_pipeline(spark, pages, cfg).toPandas().set_index("url").sort_index()
    with open(os.path.join(wd, "metrics.json")) as f:
        m1 = {m["stage"]: m for m in json.load(f)}
    assert not m1["features"].get("skipped")
    assert m1["features"]["rows_out"] == 400
    assert os.path.exists(os.path.join(wd, "_lineage"))

    # resume: feeding an EMPTY pages frame must still reproduce the
    # output because every stage short-circuits to its checkpoint.
    empty = pages.limit(0)
    second = run_pipeline(spark, empty, cfg).toPandas().set_index("url").sort_index()
    with open(os.path.join(wd, "metrics.json")) as f:
        m2 = {m["stage"]: m for m in json.load(f)}
    assert m2["features"].get("skipped") and m2["normalized"].get("skipped")
    assert (first["keep"] == second["keep"]).all()
    assert (first["scrubbed_text"] == second["scrubbed_text"]).all()


def test_keep_dim_plan_matches_keep_map(spark):
    """The lazy-plan cluster ranking (no driver collect) must agree
    with the collected-centroid keep_map rule on every (keep_top,
    tie) configuration."""
    import pandas as pd
    from pyspark.sql import functions as F

    from webdq import label

    rows = [
        # cluster, a, b  (two scored features; cluster 2 ties cluster 0)
        (0, 0.9, 0.1),
        (0, 0.9, 0.1),
        (1, 0.1, 0.9),
        (2, 0.9, 0.1),
        (3, 0.5, 0.5),
    ]
    df = spark.createDataFrame(rows, "cluster int, stopword_ratio double, symbol_ratio double")
    cols = ["stopword_ratio", "symbol_ratio"]  # weights +1 / -1
    pdf = pd.DataFrame(rows, columns=["cluster", *cols])
    centers = pdf.groupby("cluster").mean().sort_index().to_numpy()
    for keep_top in (1, 2, 3):
        plan = {
            r["cluster"]: r["keep"]
            for r in label.keep_dim_plan(df, cols, keep_top=keep_top).collect()
        }
        ref = label.keep_map(centers, cols, keep_top=keep_top)
        assert plan == ref, (keep_top, plan, ref)


def test_summarize_clusters_bounded_and_partition_invariant(spark):
    """The q45 verification digest must be (a) free of collect_list —
    bounded per-group state at any scale — and (b) identical under any
    partitioning (xor digest is order-insensitive)."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from webdq.label import summarize_clusters

    df = (
        spark.range(0, 500, 1, 4)
        .select(
            F.concat(F.lit("https://h"), (F.col("id") % 7).cast("string"), F.lit(".example/p"), F.col("id").cast("string")).alias("url"),
            (F.col("id") % 4).cast("int").alias("cluster"),
            (F.col("id") % 3 == 0).alias("keep"),
        )
    )
    out = summarize_clusters(df)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    assert "collect_list" not in buf.getvalue()

    a = summarize_clusters(df.repartition(1)).toPandas().set_index("cluster").sort_index()
    b = summarize_clusters(df.repartition(13)).toPandas().set_index("cluster").sort_index()
    assert (a["kept_urls_sig"] == b["kept_urls_sig"]).all()
    assert (a["n_keep"] == b["n_keep"]).all()
    assert (a["n_docs"] == b["n_docs"]).all()
    # digest reacts to membership changes (not a constant)
    c = summarize_clusters(df.withColumn("keep", ~F.col("keep"))).toPandas().set_index("cluster").sort_index()
    assert (a["kept_urls_sig"] != c["kept_urls_sig"]).any()


def test_q00b_frozen_chain_sane(spark):
    """q00b (the value-exact frozen-arithmetic flagship sibling): the
    frozen model must stay meaningful on the fixture family — multiple
    clusters populated, keep a strict nonempty subset, and the keep
    column consistent with the frozen keep set. (Value-exactness vs
    DuckDB is covered by tools/check_oracle.py.)"""
    import __spark_entry__ as e

    out = e.q00b_quality_pipeline_frozen(spark, "/root/testdata/sf0.001").toPandas()
    fz = e._q00b_frozen()
    assert len(out) == 500
    assert out["cluster"].nunique() >= 2
    assert (out["keep"] == out["cluster"].isin(fz["keep"])).all()
    assert 0 < out["keep"].sum() < len(out)

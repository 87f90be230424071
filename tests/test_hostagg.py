"""Two-level host labeling: metadata parity, propagation, F1 gate."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from webdq import hostagg, oracle
from webdq.pipeline import PipelineConfig, extract_features
from webdq.synth import generate_pages


@pytest.fixture(scope="module")
def host_pages(spark):
    return generate_pages(spark, 4000, tier_by_host=True).cache()


def test_host_metadata_matches_pandas(spark, host_pages):
    feats = extract_features(host_pages.drop("_tier"), PipelineConfig())
    got = hostagg.host_metadata(feats).toPandas().set_index("host").sort_index()

    pdf = host_pages.select("url", "warc_ts", "text", "lang").toPandas()
    ref_feats = oracle.features_pd(pdf)
    ref_feats["host"] = pdf["url"].str.extract(r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]+)")[0].to_numpy()
    ref_feats["warc_ts"] = pd.to_datetime(pdf["warc_ts"])
    g = ref_feats.groupby("host")
    assert len(got) == g.ngroups
    np.testing.assert_array_equal(got["n_pages"].to_numpy(), g.size().sort_index().to_numpy())
    np.testing.assert_allclose(
        got["mean_words"].to_numpy(), g["n_words"].mean().sort_index().to_numpy(), rtol=1e-9
    )
    np.testing.assert_allclose(
        got["v90_words"].to_numpy(), g["n_words"].quantile(0.9).sort_index().to_numpy(), rtol=1e-9
    )
    np.testing.assert_allclose(
        got["mean_stopword_ratio"].to_numpy(),
        g["stopword_ratio"].mean().sort_index().to_numpy(),
        rtol=1e-9,
    )
    np.testing.assert_allclose(
        got["lifespan_days"].to_numpy(),
        ((g["warc_ts"].max() - g["warc_ts"].min()).dt.total_seconds() / 86400.0).sort_index().to_numpy(),
        rtol=1e-9,
    )


def test_host_label_propagation_and_f1(spark, host_pages):
    """Every page of a host shares its host's cluster+verdict, and the
    engine's keep set matches the independent pandas oracle at F1≥0.99
    (the reference's two-level users→elements labeling, utils.py:332-341)."""
    out = hostagg.run_host_pipeline(spark, host_pages.drop("_tier"), k=5, keep_top=2)
    got = out.toPandas()

    # propagation: one (cluster, keep) per host
    per_host = got.groupby("host")[["host_cluster", "keep"]].nunique()
    assert (per_host == 1).all().all()

    pdf = host_pages.select("url", "warc_ts", "text", "lang", "_tier").toPandas()
    ref = oracle.reference_host_labels(pdf.drop(columns=["_tier"]), k=5, keep_top=2)
    m = got.merge(ref, on="url", suffixes=("", "_ref"))
    assert len(m) == len(got)
    f1 = oracle.f1_score(m["keep_ref"].to_numpy(dtype=bool), m["keep"].to_numpy(dtype=bool))
    assert f1 >= 0.99, f"host-label F1 vs oracle = {f1}"

    # Kept pages are exactly the clean-CONTENT hosts in either language
    # (tiers 0 en-clean and 4 de-clean): host-level aggregation washes
    # out the en/de stopword axis while volume (hot/cold) splits each
    # content group in two — hence k=5 → {clean×2, junk×3} and
    # keep_top=2 keeps both clean clusters. Language filtering remains
    # the page-level pipeline's job (lang_match / langid_conf).
    m2 = got.merge(pdf[["url", "_tier"]], on="url")
    tier_f1 = oracle.f1_score(m2["_tier"].isin([0, 4]).to_numpy(), m2["keep"].to_numpy(dtype=bool))
    assert tier_f1 >= 0.99, f"host-label F1 vs latent clean tiers = {tier_f1}"


def test_host_pipeline_empty_pages(spark, host_pages):
    """No pages: an empty frame with the host label schema, nothing
    fitted."""
    out = hostagg.run_host_pipeline(spark, host_pages.drop("_tier").limit(0))
    assert out.count() == 0
    assert out.dtypes == [("url", "string"), ("host", "string"), ("host_cluster", "int"), ("keep", "boolean")]
    out.unpersist()


def test_host_pipeline_checkpoint_resume(tmp_path, spark, host_pages):
    """workdir mode: stages checkpoint to parquet; a resume run over an
    EMPTY input reproduces the labels from the checkpoints."""
    import json
    import os

    pages = host_pages.drop("_tier").limit(800)
    wd = str(tmp_path / "hostrun")
    first = (
        hostagg.run_host_pipeline(spark, pages, k=3, keep_top=1, workdir=wd)
        .toPandas().set_index("url").sort_index()
    )
    with open(os.path.join(wd, "metrics.json")) as f:
        m1 = {m["stage"]: m for m in json.load(f)}
    assert not m1["host_features"].get("skipped")
    assert m1["host_labels"]["rows_out"] == len(first)

    second = (
        hostagg.run_host_pipeline(spark, pages.limit(0), k=3, keep_top=1, workdir=wd)
        .toPandas().set_index("url").sort_index()
    )
    with open(os.path.join(wd, "metrics.json")) as f:
        m2 = {m["stage"]: m for m in json.load(f)}
    assert m2["host_labels"].get("skipped")
    assert first.equals(second)


def test_host_broadcast_fallback_identical(spark, host_pages):
    """Forcing the shuffle-join fallback (threshold=0) must produce
    exactly the labels the broadcast path produces — the guard changes
    the physical join strategy, never the semantics."""
    pages = host_pages.drop("_tier").limit(1000)
    a = (
        hostagg.run_host_pipeline(spark, pages, k=3, keep_top=1)
        .toPandas().set_index("url").sort_index()
    )
    b = (
        hostagg.run_host_pipeline(spark, pages, k=3, keep_top=1, broadcast_hosts_threshold=0)
        .toPandas().set_index("url").sort_index()
    )
    assert a.equals(b)


def test_host_col_pathless_and_scheme_case(spark):
    """Path-less URLs and uppercase schemes must extract a real host
    (the old regex required a trailing slash + lowercase scheme and
    collapsed these into host '' — ADVICE r2)."""
    df = spark.createDataFrame(
        [("https://example.com",), ("HTTPS://Example.org/x",), ("ftp://a.b/c?d",), ("https://q.example/p?x=1",)],
        "url string",
    )
    got = [r[0] for r in df.select(hostagg.host_col()).collect()]
    assert got == ["example.com", "Example.org", "a.b", "q.example"]

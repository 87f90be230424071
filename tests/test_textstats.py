"""The pipeline's feature stage vs the eager pandas oracle (SURVEY.md §5.2.1).

Every test runs ``pipeline.extract_features``: native char features
plus the scorer UDFs fused into one ArrowEvalPython node, the path q00
runs."""

import numpy as np
import pandas as pd

from webdq import oracle
from webdq.pipeline import PipelineConfig, extract_features
from webdq.synth import generate_pages

FEATS = [
    "n_chars",
    "n_words",
    "mean_word_len",
    "stopword_ratio",
    "symbol_ratio",
    "digit_ratio",
    "upper_ratio",
    "dup_word_ratio",
    "dup_5gram_ratio",
    "langid_conf",
    "lang_match",
    "perplexity",
]


def test_features_match_pandas_oracle(spark):
    pages = generate_pages(spark, 300).select("url", "text", "lang")
    got = (
        extract_features(pages, PipelineConfig())
        .select("url", *FEATS)
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    pdf = pages.toPandas().sort_values("url").reset_index(drop=True)
    exp = oracle.features_pd(pdf)
    for c in FEATS:
        np.testing.assert_allclose(
            got[c].to_numpy(), exp[c].to_numpy(), rtol=1e-9, atol=1e-12, err_msg=c
        )


def test_edge_cases(spark):
    df = spark.createDataFrame(
        [("u1", None, "en"), ("u2", "", "en"), ("u3", "  ", "en"), ("u4", "word", "en")],
        "url string, text string, lang string",
    )
    rows = {r["url"]: r for r in extract_features(df, PipelineConfig()).collect()}
    for u in ["u1", "u2", "u3"]:
        assert rows[u]["n_words"] == 0.0
        assert rows[u]["stopword_ratio"] == 0.0
        assert rows[u]["dup_5gram_ratio"] == 0.0
    assert rows["u4"]["n_words"] == 1.0
    assert rows["u4"]["mean_word_len"] == 4.0


def test_pii_hits(spark):
    df = spark.createDataFrame(
        [("a", "mail a@b.co and c.d@e.org plus 555-123-4567 at 10.0.0.1", "en")],
        "url string, text string, lang string",
    )
    r = extract_features(df, PipelineConfig()).collect()[0]
    assert r["pii_hits"] == 4.0

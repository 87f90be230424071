"""Heuristic per-document features as pure Spark expressions.

Analog of the reference's per-entity count/ratio feature extraction
(/root/reference/osmdq/utils.py:422-463, the 40-feature user vector of
article6). The reference builds features with ~20 pandas groupby+merge
round-trips; a web document is a single row, so every feature here is
a whole-stage-codegen scalar expression — zero Python in the hot path
(SURVEY.md §2.7, §4 "Vectorization" row).

Gopher/C4-style rules: stopword ratio, symbol density, digit density,
word-repetition and 5-gram-repetition ratios, mean word length.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Small English stopword set (public, ubiquitous). Used for the
# Gopher-style "has enough stopwords" signal.
EN_STOPWORDS = (
    "the of and to in a is that it for on with as are was at be this have from or by an "
    "not we you they he she his her its their our your i but if then than so what which who"
).split()

_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"
_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PATTERNS = {"email": _EMAIL, "phone": _PHONE, "ipv4": _IPV4}


def _safe_div(num: Column, den: Column) -> Column:
    return F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(F.lit(0.0))


def _char_class_ratio(text: Column, pattern: str) -> Column:
    """Fraction of characters matching a regex char class."""
    n = F.length(F.coalesce(text, F.lit("")))
    kept = F.length(F.regexp_replace(F.coalesce(text, F.lit("")), pattern, ""))
    return _safe_div(n - kept, n)


def char_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Character-level features as native regex expressions (fully
    codegen'd, single text pass each). Token-level features come from
    ``scorers.token_features_udf``, a vectorized Arrow UDF that
    ``scorers.all_scorer_features`` fuses with the langid and
    perplexity UDFs (``pipeline.extract_features`` runs both): Spark's
    higher-order array functions are evaluated interpreted with NO
    common-subexpression elimination, so a tokens-based expression tree
    re-evaluates split() per array access — O(n²) per row and ~30×
    slower than one Arrow batch hop (measured; see git history)."""
    text = F.col(text_col)
    n_chars = F.length(F.coalesce(text, F.lit(""))).cast("double")
    pii = sum(
        F.regexp_count(F.coalesce(text, F.lit("")), F.lit(p)).cast("double") for p in PII_PATTERNS.values()
    )
    return df.withColumns(
        {
            "n_chars": n_chars,
            "symbol_ratio": _char_class_ratio(text, r"[^\p{L}\p{N}\s]"),
            "digit_ratio": _char_class_ratio(text, r"\p{N}"),
            "upper_ratio": _char_class_ratio(text, r"\p{Lu}"),
            "pii_hits": pii,
        }
    )

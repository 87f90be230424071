"""Model-backed scorers as Arrow-vectorized pandas UDFs (SURVEY.md §2.9).

The only Python in the hot path, and it is batch-vectorized: Spark
ships Arrow batches; inside we use pandas str ops / numpy. Reference
analog: the per-row ``.apply`` lambdas
(/root/reference/osmdq/analysis_tasks.py:298,324) — upgraded from
row-at-a-time to Arrow batches.

- ``langid``: fastText-style linear scorer over character/stopword
  n-gram features. Profiles are built at import from small public
  stopword lists (self-contained, no external files); at real scale
  the coefficient table would be a broadcast numpy array — same code
  path, bigger table.
- ``perplexity``: hashed 5-gram (byte n-gram) KenLM-style scorer with
  an add-one-smoothed count table trained at import on the engine's
  clean-English vocabulary; deterministic pure function of text.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# ------------------------------------------------------------- language ID

# Public, ubiquitous function-word lists (top function words per language).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": "the of and to in a is that it for on with as are was at be this have from or by not".split(),
    "de": "der die das und zu in ein ist dass es für auf mit als sind war bei sein dies von nicht".split(),
    "fr": "le la les de des du et à en un une est que il elle pour sur avec ne pas ce cette au".split(),
    "es": "el la los las de del y a en un una es que por con para no se su al lo como más".split(),
}
LANGS = [*LANG_STOPWORDS.keys(), "zh"]

_CJK = r"[一-鿿㐀-䶿]"

_LANGID_SCHEMA = T.StructType(
    [T.StructField("lang_pred", T.StringType()), T.StructField("langid_conf", T.DoubleType())]
)


# token → bitmask of stopword-list membership (bit i = LANGS[i]).
_TOKEN_BITS: dict[str, int] = {}
for _i, _lang in enumerate(LANGS[:-1]):
    for _w in LANG_STOPWORDS[_lang]:
        _TOKEN_BITS[_w] = _TOKEN_BITS.get(_w, 0) | (1 << _i)


def _langid_impl(text: pd.Series) -> pd.DataFrame:
    """Stopword-profile linear scorer. One tokenize pass + one groupby
    instead of per-language alternation regexes (~6× faster per Arrow
    batch). q27's DuckDB re-derivation checks its values."""
    t = text.fillna("").reset_index(drop=True)
    toks = t.str.lower().str.split()
    n_words = toks.str.len().clip(lower=1).to_numpy()
    n_chars = t.str.len().clip(lower=1).to_numpy()

    scores = np.zeros((len(t), len(LANGS)))
    ex = toks.explode().dropna()
    if len(ex):
        codes = ex.map(_TOKEN_BITS)
        codes = codes[codes.notna()]
        if len(codes):
            vals = codes.astype(np.int64)
            hit = pd.DataFrame(
                {lang: (vals.to_numpy() & (1 << i)) > 0 for i, lang in enumerate(LANGS[:-1])},
                index=codes.index,
            )
            sums = hit.groupby(level=0).sum()
            idx = sums.index.to_numpy().astype(int)
            for i, lang in enumerate(LANGS[:-1]):
                scores[idx, i] = sums[lang].to_numpy() / n_words[idx]
    scores[:, -1] = t.str.count(_CJK).to_numpy() / n_chars
    best = scores.argmax(1)
    conf = scores.max(1)
    return pd.DataFrame(
        {"lang_pred": [LANGS[b] for b in best], "langid_conf": np.clip(conf, 0.0, 1.0)}
    )


langid_udf = pandas_udf(_langid_impl, _LANGID_SCHEMA)


# ------------------------------------------------------- token features

_TOKFEAT_SCHEMA = T.StructType(
    [
        T.StructField("n_words", T.DoubleType()),
        T.StructField("mean_word_len", T.DoubleType()),
        T.StructField("stopword_ratio", T.DoubleType()),
        T.StructField("dup_word_ratio", T.DoubleType()),
        T.StructField("dup_5gram_ratio", T.DoubleType()),
    ]
)


def _segment_distinct(idx: np.ndarray, key: np.ndarray, n: int, key_card: int) -> np.ndarray:
    """#distinct key values per segment, where key ∈ [0, key_card) and
    idx * key_card fits in int64. One combined-int sort — ~10× faster
    than np.lexsort on the same pairs (measured)."""
    if len(idx) == 0:
        return np.zeros(n)
    comb = idx.astype(np.int64) * np.int64(key_card) + key.astype(np.int64)
    comb.sort()
    new = np.ones(len(comb), dtype=bool)
    new[1:] = comb[1:] != comb[:-1]
    return np.bincount(comb[new] // np.int64(key_card), minlength=n).astype(np.float64)


def _token_features_impl(text: pd.Series) -> pd.DataFrame:
    """Token-level Gopher/C4 heuristics. One tokenize + one factorize
    per Arrow batch, then pure numpy segment ops (bincount / lexsort):
    pandas groupby/drop_duplicates were the measured hot spot at
    150k+ docs (see git history)."""
    from .textstats import EN_STOPWORDS

    stop = set(EN_STOPWORDS)
    t = text.fillna("").reset_index(drop=True)
    n = len(t)
    toks = t.str.split()
    counts = toks.str.len().fillna(0).astype(np.int64).to_numpy()
    n_words = counts.astype(np.float64)
    m = int(counts.sum())

    if m:
        flat = np.concatenate([x if isinstance(x, list) else [] for x in toks.to_numpy()])
        idx = np.repeat(np.arange(n), counts)
        codes, uq = pd.factorize(flat)
        uq_idx = pd.Index(uq)
        uq_len = uq_idx.str.len().to_numpy().astype(np.float64)
        uq_stop = uq_idx.str.lower().isin(stop).astype(np.float64)
        lens = np.bincount(idx, weights=uq_len[codes], minlength=n)
        stops = np.bincount(idx, weights=uq_stop[codes], minlength=n)
        uniq = _segment_distinct(idx, codes.astype(np.int64), n, len(uq))
        # word-5-grams: 64-bit polynomial over word codes, folded to 40
        # bits so (row, gram) packs into one sortable int64. Within-row
        # collision odds ~C(w,2)/2^40 (≈5e-9 for a 100-word doc) —
        # deterministic for fixed input, negligible at any scale.
        if m >= 5:
            c = codes.astype(np.uint64)
            # full-width odd multiplier + avalanche: word codes are tiny
            # ints, so the constant must mix across all 64 bits before
            # we keep the top 40
            P = np.uint64(0x9E3779B97F4A7C15)
            key = c[: m - 4].copy()
            for k in range(1, 5):
                key = key * P + c[k : m - 4 + k]
            key ^= key >> np.uint64(33)
            key *= np.uint64(0xFF51AFD7ED558CCD)
            key40 = (key >> np.uint64(24)).astype(np.int64)
            valid = idx[: m - 4] == idx[4:]
            uniq5 = _segment_distinct(idx[: m - 4][valid], key40[valid], n, 1 << 40)
        else:
            uniq5 = np.zeros(n)
    else:
        lens = stops = uniq = uniq5 = np.zeros(n)

    nw = np.maximum(n_words, 1.0)
    n5 = n_words - 4
    dup5 = np.where(n5 > 0, 1.0 - uniq5 / np.maximum(n5, 1.0), 0.0)
    return pd.DataFrame(
        {
            "n_words": n_words,
            "mean_word_len": np.where(n_words > 0, lens / nw, 0.0),
            "stopword_ratio": np.where(n_words > 0, stops / nw, 0.0),
            "dup_word_ratio": np.where(n_words > 0, 1.0 - uniq / nw, 0.0),
            "dup_5gram_ratio": dup5,
        }
    )


token_features_udf = pandas_udf(_token_features_impl, _TOKFEAT_SCHEMA)


# ------------------------------------------------------------- perplexity

_PPL_BUCKETS = 1 << 15
_PPL_N = 5  # byte 5-grams


def _ngram_hashes(b: np.ndarray, n: int) -> np.ndarray:
    """Rolling polynomial hash of byte n-grams, vectorized."""
    if len(b) < n:
        return np.empty(0, dtype=np.int64)
    acc = np.zeros(len(b) - n + 1, dtype=np.int64)
    for i in range(n):
        acc = (acc * 257 + b[i : len(b) - n + 1 + i]) & 0x7FFFFFFF
    return acc % _PPL_BUCKETS


def _train_counts() -> np.ndarray:
    # Deterministic training corpus: the engine's clean-English vocab
    # cycled into sentences (pure function of constants).
    from .synth import _CLEAN_VOCAB

    words = [_CLEAN_VOCAB[(i * 7 + 3) % len(_CLEAN_VOCAB)] for i in range(5000)]
    corpus = " ".join(words).encode("utf-8")
    b = np.frombuffer(corpus, dtype=np.uint8).astype(np.int64)
    counts = np.bincount(_ngram_hashes(b, _PPL_N), minlength=_PPL_BUCKETS).astype(np.float64)
    return counts


_COUNTS = _train_counts()
_LOGP = np.log((_COUNTS + 1.0) / (_COUNTS.sum() + _PPL_BUCKETS))


# swept 32..1024 on ~600-byte docs: 32 fastest (arrays stay L1/L2-
# resident); results are chunk-size-invariant (windows never cross docs)
_PPL_CHUNK = 32


def _perplexity_impl(text: pd.Series) -> pd.Series:
    """Vectorized in CHUNKS of docs: each chunk's bytes are
    concatenated once, the rolling 5-gram hash runs over the single
    array, cross-document windows are masked via offsets, and per-doc
    means come from one bincount pair (the _token_features_impl
    segment trick). Chunking keeps the temporaries ~100 KB —
    cache-resident even with N concurrent Arrow workers — where a
    whole-batch concat (tens of MB of int64 temporaries) measured
    SLOWER than the per-doc loop under pipeline memory pressure."""
    t = text.fillna("").str.lower()
    n = len(t)
    out = np.full(n, 1e6)
    vals = t.to_numpy()
    for s0 in range(0, n, _PPL_CHUNK):
        bs = [s.encode("utf-8") for s in vals[s0 : s0 + _PPL_CHUNK]]
        k = len(bs)
        lens = np.array([len(b) for b in bs], dtype=np.int64)
        m = int(lens.sum())
        if m < _PPL_N:
            continue
        cat = np.frombuffer(b"".join(bs), dtype=np.uint8).astype(np.int64)
        h = _ngram_hashes(cat, _PPL_N)
        # a window starting at position p belongs to doc i iff it does
        # not straddle a boundary: p and p+4 in the same doc
        doc_all = np.repeat(np.arange(k, dtype=np.int64), lens)
        doc_of = doc_all[: m - _PPL_N + 1]
        valid = doc_of == doc_all[_PPL_N - 1 :]
        sums = np.bincount(doc_of[valid], weights=_LOGP[h[valid]], minlength=k)
        cnts = np.bincount(doc_of[valid], minlength=k)
        has = cnts > 0
        seg = out[s0 : s0 + k]
        seg[has] = np.exp(-sums[has] / cnts[has])
    return pd.Series(out)


perplexity_udf = pandas_udf(_perplexity_impl, T.DoubleType())


def all_scorer_features(df, text_col: str = "text", lang_col: str = "lang"):
    """token features + langid + perplexity in ONE projection so
    Catalyst fuses the three independent pandas UDFs into a single
    ArrowEvalPython node — one Python round trip per batch instead of
    three (withColumn chains were observed to produce one node each)."""
    t = F.col(text_col)
    df = df.select(
        "*",
        token_features_udf(t).alias("_tf"),
        langid_udf(t).alias("_lid"),
        perplexity_udf(t).alias("_ppl"),
    )
    out = {f.name: F.col(f"_tf.{f.name}") for f in _TOKFEAT_SCHEMA.fields}
    out["langid_conf"] = F.col("_lid.langid_conf")
    out["lang_match"] = F.when(F.col("_lid.lang_pred") == F.col(lang_col), F.lit(1.0)).otherwise(F.lit(0.0))
    out["perplexity"] = F.col("_ppl")
    return df.withColumns(out).drop("_tf", "_lid", "_ppl")


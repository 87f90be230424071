"""Dedup operators: exact, MinHash-LSH, SimHash, n-gram Jaccard,
embedding cosine — vs hand-computed / pandas oracles."""

import numpy as np
from pyspark.sql import functions as F

from webdq import dedup

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog", "en"),
    (2, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy cat", "en"),  # near dup
    (4, "completely different text about spark engines here", "en"),
    (5, "spark engines here completely different text about", "en"),  # same token set as 4
    (6, "unrelated short doc", "de"),
]


def _df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, lang string")


def test_exact_dedup(spark):
    out = {r["fingerprint"]: r for r in dedup.exact_dedup(_df(spark)).collect()}
    dup_groups = [r for r in out.values() if r["n_copies"] > 1]
    assert len(dup_groups) == 1
    assert dup_groups[0]["keep_id"] == 1 and dup_groups[0]["n_copies"] == 2
    kept = dedup.dedup_keep_first(_df(spark)).select("doc_id").collect()
    assert sorted(r["doc_id"] for r in kept) == [1, 3, 4, 5, 6]


def test_minhash_identical_sets_always_pair(spark):
    pairs = {(r["id1"], r["id2"]) for r in dedup.minhash_lsh_pairs(_df(spark)).collect()}
    # identical texts share every band; identical token SETS too (4,5)
    assert (1, 2) in pairs
    assert (4, 5) in pairs
    # near-dup (1,3)/(2,3) likely; disjoint docs must not pair
    assert (4, 6) not in pairs and (1, 4) not in pairs


def test_minhash_matches_pandas_oracle(spark):
    """Same md5-minhash computed in pure python must give identical
    signatures (portability invariant used by the DuckDB oracle)."""
    import hashlib

    sig = dedup.minhash_signatures(_df(spark), n_bands=4).collect()
    got = {(r["doc_id"], r["band"]): r["minhash"] for r in sig}
    for doc_id, text, _ in DOCS:
        toks = list(dict.fromkeys(text.split()))
        for b in range(4):
            exp = min(hashlib.md5(f"{t}#{b}".encode()).hexdigest() for t in toks)
            assert got[(doc_id, b)] == exp


def test_ngram_jaccard(spark):
    out = {(r["id1"], r["id2"]): r["jaccard"] for r in dedup.ngram_jaccard_pairs(_df(spark), n=3, threshold=0.3).collect()}
    assert out[(1, 2)] == 1.0
    # docs 1 and 3: 7 distinct 3-grams each, 6 shared → J = 6/8
    assert abs(out[(1, 3)] - 0.75) < 1e-9
    assert (1, 4) not in out


def test_embedding_neardup_and_cosine(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.999, 0.04, 0.0], 0),
        (3, [0.0, 1.0, 0.0], 0),
        (4, [1.0, 0.0, 0.0], 1),  # other block — never paired with 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {(r["id1"], r["id2"]): r["cosine"] for r in dedup.embedding_neardup_pairs(df, threshold=0.95).collect()}
    assert (1, 2) in out and out[(1, 2)] > 0.99
    assert (1, 3) not in out and (1, 4) not in out
    exp = 0.999 / np.sqrt(0.999**2 + 0.04**2)
    assert abs(out[(1, 2)] - round(exp, 6)) < 1e-9


def test_minhash_banding_precision(spark):
    """r rows/band is the precision knob: exact duplicates always
    collide at any r; banded (r=2) candidates are a subset of r=1
    candidates (P(collide)=s^r per band); near-identical docs
    survive banding."""
    from pyspark.sql import Row

    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    docs = [
        Row(doc_id=0, text=base),
        Row(doc_id=1, text=base),  # exact dup of 0
        Row(doc_id=2, text=base.replace("today", "tonight")),  # near dup
        Row(doc_id=3, text="completely different words about spark partitions and shuffles everywhere"),
        Row(doc_id=4, text="another unrelated document mentioning the fox only once in passing"),
    ]
    df = spark.createDataFrame(docs)
    p1 = {(r["id1"], r["id2"]) for r in dedup.minhash_lsh_pairs(df, n_bands=8, shingle_n=1).collect()}
    p2 = {(r["id1"], r["id2"]) for r in dedup.minhash_lsh_pairs(df, n_bands=8, shingle_n=1, rows_per_band=2).collect()}
    assert (0, 1) in p1 and (0, 1) in p2  # exact dups always pair
    assert (0, 2) in p2 and (1, 2) in p2  # near dups survive r=2
    assert p2 <= p1  # banding can only drop candidates
    # the weak single-shared-word tie must not survive 2 rows/band on
    # every band with near-certainty; p1 is allowed to contain it
    assert (0, 4) not in p2


def test_simhash64_portable_matches_xxhash_structure(spark):
    """Portable md5 simhash: identical texts → identical (hi, lo);
    fingerprints reconstruct to 64 distinct bits."""
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(doc_id=0, text="alpha beta gamma delta"), Row(doc_id=1, text="alpha beta gamma delta"),
         Row(doc_id=2, text="totally different content here")]
    )
    rows = {r["doc_id"]: (r["sim_hi"], r["sim_lo"]) for r in dedup.simhash64_portable(df).collect()}
    assert rows[0] == rows[1]
    assert rows[0] != rows[2]
    for hi, lo in rows.values():
        assert 0 <= hi < 1 << 32 and 0 <= lo < 1 << 32


def test_winnowing_matches_python_and_guarantee(spark):
    """Winnowing vs a python reference, plus the MOSS guarantee: two
    docs sharing a substring of >= k + window - 1 tokens share at
    least one fingerprint."""
    import hashlib

    from webdq.dedup import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 tokens >= 3+4-1=6
    rows = [
        (0, "one two " + shared + " tail words here"),
        (1, shared + " completely different ending tokens now"),
        (2, "unrelated text with no overlap at all whatsoever"),
        (3, "tiny doc"),  # < k tokens -> no fingerprints
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got: dict = {}
    for r in winnow_fingerprints(df, k=3, window=4).collect():
        got.setdefault(r["doc_id"], set()).add(r["fingerprint"])

    def ref(text, k=3, w=4):
        toks = text.split()
        grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        hs = [hashlib.md5(g.encode()).hexdigest() for g in grams]
        return {min(hs[i : i + w]) for i in range(len(hs) - w + 1)}

    for did, text in rows:
        assert got.get(did, set()) == ref(text), did
    assert got[0] & got[1], "shared 7-token run must yield a common fingerprint"
    assert not (got[0] & got[2])
    assert 3 not in got  # too short for any complete window


# ---- corpus-wide line dedup ----

def _line_dedup_py(docs, min_count=2):
    """Independent python reference: global line occurrence counts,
    keep first occurrence (by (id, idx)) of frequent lines."""
    from collections import Counter

    cnt = Counter()
    for _, text in docs:
        cnt.update(text.split("\n"))
    seen = set()
    out = {}
    for did, text in docs:  # docs must be pre-sorted by id
        kept = []
        for line in text.split("\n"):
            if cnt[line] < min_count:
                kept.append(line)
            elif line not in seen:
                seen.add(line)
                kept.append(line)
        out[did] = "\n".join(kept)
    return out


def test_line_dedup_corpus_matches_python(spark):
    from webdq import dedup

    docs = [
        (0, "nav bar\nhello world\nfooter"),
        (1, "nav bar\nunique line one\nfooter"),
        (2, "nav bar\nnav bar\nsomething else"),
        (3, "all original\ncontent here"),
        (4, ""),
        (5, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r["text_deduped"] for r in dedup.line_dedup_corpus(df).collect()}
    assert got == _line_dedup_py(docs)
    # doc 0 keeps everything (first occurrences); doc 1 loses both
    # boilerplate lines; doc 2's within-doc repeat also dedups
    assert got[0] == "nav bar\nhello world\nfooter"
    assert got[1] == "unique line one"
    assert got[2] == "something else"
    assert got[3] == "all original\ncontent here"


def test_line_dedup_corpus_partition_invariant_and_args(spark):
    import pytest

    from webdq import dedup

    docs = [(i, f"common line\nbody {i} text\nshared {i % 3}") for i in range(60)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    a = sorted(map(tuple, dedup.line_dedup_corpus(df, min_count=3).collect()))
    b = sorted(map(tuple, dedup.line_dedup_corpus(df.repartition(13), min_count=3).collect()))
    assert a == b
    assert len(a) == 60  # every doc present
    with pytest.raises(ValueError):
        dedup.line_dedup_corpus(df, min_count=1)


# ---- span_dedup_corpus (Lee et al. ExactSubstr) ----

def _span_dedup_py(texts, k, min_count):
    """Pure-python reference: same tokenization (split on \\s+ after
    strip, '' -> ['']), same first-occurrence rule."""
    import re

    toks = {
        i: re.split(r"\s+", t.strip()) if t is not None else [""]
        for i, t in texts.items()
    }
    occ = {}
    for i in sorted(toks):
        w = toks[i]
        for g in range(len(w) - k + 1):
            occ.setdefault(" ".join(w[g : g + k]), []).append((i, g))
    removed = {i: set() for i in toks}
    for fp, sites in occ.items():
        if len(sites) < min_count:
            continue
        first = min(sites)
        for (i, g) in sites:
            if (i, g) == first:
                continue
            removed[i].update(range(g, g + k))
    return {
        i: " ".join(tok for p, tok in enumerate(w) if p not in removed[i])
        for i, w in toks.items()
    }


def test_span_dedup_matches_python(spark):
    texts = {
        1: "a b c d e f g h",
        2: "x y a b c d e z",          # shares the 5-gram a..e -> 4-grams dup
        3: "a b c d q r s t",          # shares a b c d
        4: "unique tokens only here now",
        5: "",                          # empty doc passes through
        6: "short one",                 # < k tokens, no grams
        7: "x y a b c d e z",          # exact duplicate of 2
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r["text_deduped"]
        for r in dedup.span_dedup_corpus(df, k=4, min_count=2).collect()
    }
    exp = _span_dedup_py(texts, k=4, min_count=2)
    assert out == exp
    # first occurrence survives intact, later ones are excised
    assert out[1] == texts[1]
    assert "a b c d" not in out[2] and "a b c d" not in out[3]
    # every input doc appears exactly once
    assert set(out) == set(texts)
    # a corpus with no duplicated k-grams is unchanged
    solo = spark.createDataFrame(
        [(1, "p q r s t"), (2, "u v w x y")], "doc_id long, text string"
    )
    unchanged = {
        r["doc_id"]: r["text_deduped"]
        for r in dedup.span_dedup_corpus(solo, k=4, min_count=2).collect()
    }
    assert unchanged == {1: "p q r s t", 2: "u v w x y"}


def test_span_dedup_partition_invariant_and_args(spark):
    import pytest

    rows = [(i, " ".join(f"t{(i * 7 + j) % 11}" for j in range(12))) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = {
        (r["doc_id"], r["text_deduped"])
        for r in dedup.span_dedup_corpus(df, k=3, min_count=2).collect()
    }
    rep = {
        (r["doc_id"], r["text_deduped"])
        for r in dedup.span_dedup_corpus(df.repartition(13), k=3, min_count=2).collect()
    }
    assert base == rep
    exp = _span_dedup_py(dict(rows), k=3, min_count=2)
    assert {i: t for i, t in base} == exp
    with pytest.raises(ValueError):
        dedup.span_dedup_corpus(df, k=1)
    with pytest.raises(ValueError):
        dedup.span_dedup_corpus(df, min_count=1)


# ---- semantic_dedup (SemDeDup) ----

def _sem_py(vecs, cents, thr):
    import numpy as np

    X = np.asarray(vecs, dtype=np.float64)
    C = np.asarray(cents, dtype=np.float64)
    d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    cl = d.argmin(axis=1)
    nm = np.sqrt((X * X).sum(axis=1))
    dup = [False] * len(vecs)
    for b in range(len(vecs)):
        for a in range(b):
            if cl[a] != cl[b]:
                continue
            cos = float(X[a] @ X[b]) / float(nm[a] * nm[b])
            if cos >= thr:
                dup[b] = True
                break
    return cl.tolist(), dup


def test_semantic_dedup_matches_numpy(spark):
    import numpy as np
    import pytest

    rng = np.random.default_rng(7)
    dim, kk = 8, 3
    vecs = rng.normal(size=(60, dim)).tolist()
    # plant a near-duplicate pair: 50 is a tiny perturbation of 10
    vecs[50] = [v * 1.001 for v in vecs[10]]
    cents = rng.normal(size=(kk, dim)).tolist()
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    out = dedup.semantic_dedup(df, cents, threshold=0.8).collect()
    got = {r["vec_id"]: (r["cluster"], r["is_dup"]) for r in out}
    cl, dup = _sem_py(vecs, cents, 0.8)
    assert got == {i: (cl[i], dup[i]) for i in range(len(vecs))}
    # the planted copy (higher id) is the one flagged, original kept
    assert got[50][1] is True and got[10][1] is False
    # partition invariance
    rep = dedup.semantic_dedup(df.repartition(11), cents, threshold=0.8).collect()
    assert {r["vec_id"]: (r["cluster"], r["is_dup"]) for r in rep} == got
    with pytest.raises(ValueError):
        dedup.semantic_dedup(df, [], threshold=0.8)
    with pytest.raises(ValueError):
        dedup.semantic_dedup(df, cents, threshold=0.0)


# ---- neardup_against (delta near-dup) ----

def test_neardup_against(spark):
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
            (3, "red green blue yellow purple orange"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta"),   # exact copy -> collides in every band
            (11, "qq ww ee rr tt yy uu ii"),                # disjoint vocab -> no bucket shared
            (12, "one two three four five six SEVEN"),      # near copy -> some band collides
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["near_dup_in_corpus"]
        for r in dedup.neardup_against(new, corpus, n_bands=4, shingle_n=2).collect()
    }
    assert out[10] is True
    assert out[11] is False
    assert set(out) == {10, 11, 12}
    # flag semantics replayed from the signature tables themselves
    sn = dedup.minhash_signatures(new, n_bands=4, shingle_n=2).collect()
    sc = dedup.minhash_signatures(corpus, n_bands=4, shingle_n=2).collect()
    buckets = {(r["band"], r["minhash"]) for r in sc}
    exp = {}
    for r in sn:
        exp[r["doc_id"]] = exp.get(r["doc_id"], False) or (
            (r["band"], r["minhash"]) in buckets
        )
    assert out == exp
    # partition invariance
    rep = {
        r["doc_id"]: r["near_dup_in_corpus"]
        for r in dedup.neardup_against(
            new.repartition(5), corpus.repartition(3), n_bands=4, shingle_n=2
        ).collect()
    }
    assert rep == out


# ---- contamination_score ----

def test_contamination_score(spark):
    import pytest

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different words here entirely now"),
            (3, "the quick brown cat naps"),
            (4, "a b"),  # < k tokens: no grams, null frac
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in dedup.contamination_score(docs, bench, k=3).collect()}

    def grams(t, k=3):
        w = t.split()
        return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}

    bg = grams("the quick brown fox jumps")
    for i, t in [(1, "the quick brown fox jumps over the lazy dog"),
                 (2, "completely different words here entirely now"),
                 (3, "the quick brown cat naps")]:
        g = grams(t)
        assert out[i]["n_grams"] == len(g)
        assert out[i]["n_hit"] == len(g & bg)
        assert abs(out[i]["overlap_frac"] - len(g & bg) / len(g)) < 1e-15
    assert out[2]["n_hit"] == 0 and out[2]["overlap_frac"] == 0.0
    assert out[4]["n_grams"] == 0 and out[4]["overlap_frac"] is None
    # a benchmark member scores exactly 1.0
    self_scored = {
        r["doc_id"]: r["overlap_frac"]
        for r in dedup.contamination_score(bench, bench, k=3).collect()
    }
    assert self_scored[100] == 1.0
    with pytest.raises(ValueError):
        dedup.contamination_score(docs, bench, k=0)


def test_bloom_membership_matches_python(spark):
    import hashlib

    import pytest

    from webdq.dedup import bloom_build, bloom_probe

    m, k = 256, 3
    build_keys = [f"key{i}" for i in range(40)]
    probe = [(i, f"key{i}") for i in range(100)]  # 0-39 present

    def positions(key):
        return [
            int(hashlib.md5(f"{j}:{key}".encode()).hexdigest()[:15], 16) % m
            for j in range(k)
        ]

    bset = {p for key in build_keys for p in positions(key)}
    exp = {i: all(p in bset for p in positions(key)) for i, key in probe}

    bdf = spark.createDataFrame([(x,) for x in build_keys], "fp string")
    pdf = spark.createDataFrame(probe, "doc_id long, fp string")
    bm = bloom_build(bdf, "fp", m_bits=m, k=k)
    assert bm.count() == m // 64
    got = {
        r["doc_id"]: r["maybe_present"]
        for r in bloom_probe(pdf, bm, "fp", m_bits=m, k=k).collect()
    }
    assert got == exp
    # the Bloom guarantee: NO false negatives, and the tiny m forces
    # at least one false positive so the approximate path is real
    assert all(got[i] for i in range(40))
    assert any(got[i] for i in range(40, 100))
    # partition invariance
    rep = {
        r["doc_id"]: r["maybe_present"]
        for r in bloom_probe(
            pdf.repartition(7), bloom_build(bdf.repartition(5), "fp", m_bits=m, k=k),
            "fp", m_bits=m, k=k,
        ).collect()
    }
    assert rep == got
    with pytest.raises(ValueError):
        bloom_build(bdf, "fp", m_bits=100)
    with pytest.raises(ValueError):
        bloom_build(bdf, "fp", m_bits=128, k=0)


def test_cosine_col_fold_path_bitwise_parity(spark):
    """cosine_col(dim=k) unrolls the HOF arithmetic as a codegen fold;
    the doubles must be BIT-IDENTICAL to the interpreted HOF path
    (same left-assoc accumulation from 0.0, same dot/(sqrt*sqrt)) —
    the value-exact oracle queries (q32/q33/q36/q47/q57) rely on it."""
    import math
    import struct

    rng = np.random.RandomState(11)
    dim = 7
    rows = []
    for i in range(40):
        v = rng.standard_normal(dim).astype(np.float32)
        if i % 7 == 0:
            v[: dim // 2] = 0.0  # zero runs → ±0.0 products
        rows.append((i, [float(x) for x in v]))
    rows.append((100, None))  # null vector → null cosine on both paths
    df = spark.createDataFrame(rows, "id long, v array<float>")
    a = df.select(F.col("id").alias("i"), F.col("v").alias("va"))
    b = df.select(F.col("id").alias("j"), F.col("v").alias("vb"))
    pairs = a.join(b).filter(F.col("i") < F.col("j"))
    got = (
        pairs.select(
            "i",
            "j",
            dedup.cosine_col("va", "vb").alias("hof"),
            dedup.cosine_col("va", "vb", dim=dim).alias("fold"),
        )
        .collect()
    )
    assert len(got) == 40 * 41 // 2
    n_null = 0
    for r in got:
        if r["hof"] is None or r["fold"] is None:
            assert r["hof"] is None and r["fold"] is None
            n_null += 1
            continue
        if math.isnan(r["hof"]) or math.isnan(r["fold"]):
            assert math.isnan(r["hof"]) and math.isnan(r["fold"])
            continue
        assert struct.pack("<d", r["hof"]) == struct.pack("<d", r["fold"]), (
            r["i"], r["j"], r["hof"], r["fold"])
    assert n_null == 40  # every pair with the null vector
    # a length other than dim fails loudly instead of truncating
    import pytest

    for n in (3, 5):
        bad = spark.createDataFrame([([1.0] * 4, [1.0] * n)], "va array<double>, vb array<double>")
        with pytest.raises(Exception, match=f"sizes 4 and {n}"):
            bad.select(dedup.cosine_col("va", "vb", dim=4)).collect()

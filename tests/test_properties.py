"""Property-based checks (hypothesis) for the invariants most likely
to break under odd inputs: ECDF exactness with ties/duplicates/nulls,
and scrub byte-parity between the Spark regex chain and the pure-
Python oracle. Example counts are kept small — each case runs real
Spark jobs."""

from __future__ import annotations

import numpy as np
from hypothesis import HealthCheck, example, given, settings
from pyspark.sql import functions as F
from hypothesis import strategies as st

from webdq import normalize, oracle
from webdq.scrub import scrub_col, scrub_py

_spark = None


def _get_spark():
    # hypothesis fixtures + function-scoped pytest fixtures don't mix;
    # reuse the session-level SparkSession via the builder cache
    global _spark
    if _spark is None:
        from webdq.session import build_session

        _spark = build_session("local[4]", app_name="webdq-tests", shuffle_partitions=8)
        _spark.sparkContext.setLogLevel("ERROR")
    return _spark


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    vals=st.lists(
        st.one_of(
            st.integers(min_value=-5, max_value=5).map(float),  # heavy ties
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32).map(float),
            st.none(),
        ),
        min_size=1,
        max_size=60,
    ),
    low_threshold=st.sampled_from([1, 10_000_000]),  # force bucketed vs broadcast path
)
def test_ecdf_matches_numpy_oracle(vals, low_threshold):
    """For ANY value multiset (ties, duplicates, nulls, extremes) and
    BOTH execution paths: non-null rows get exactly the numpy
    P(X <= x) over non-null values offset by the null count (nulls
    rank lowest, cume_dist peers)."""
    spark = _get_spark()
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k long, x double")
    out = {
        r["k"]: r["u_x"]
        for r in normalize.ecdf(df, ["x"], low_card_threshold=low_threshold).collect()
    }
    n = len(vals)
    non_null = np.array([v for v in vals if v is not None])
    n_null = n - len(non_null)
    s = np.sort(non_null)
    for i, v in enumerate(vals):
        got = out[i]
        if v is None:
            if n_null:
                assert abs(got - n_null / n) < 1e-12, (v, got)
        else:
            want = (n_null + np.searchsorted(s, v, side="right")) / n
            assert abs(got - want) < 1e-12, (v, got, want)


def test_ecdf_and_quantile_buckets_partitioning_invariant():
    """``normalize.ecdf`` (both its low-cardinality and its bucketed
    path) and ``textprep.quantile_buckets`` return the same values for
    every ``spark.sql.shuffle.partitions`` in {4, 8, 32} and every input
    partition count in {1, 7}."""
    from webdq import textprep

    spark = _get_spark()
    rng = np.random.RandomState(17)
    rows = [
        (i, float(rng.randint(0, 5)), None if i % 13 == 0 else float(rng.standard_normal()),
         round(float(rng.standard_normal()), 6), ("en", "de", "fr")[i % 3])
        for i in range(600)
    ]
    base = spark.createDataFrame(rows, "doc_id long, lo double, hi double, score double, lang string")
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    got = {}
    try:
        for shuffle_parts in (4, 8, 32):
            spark.conf.set(key, str(shuffle_parts))
            for input_parts in (1, 7):
                df = base.repartition(input_parts)
                # 5 distinct lo values take the broadcast path, ~550 hi values the buckets
                e = normalize.ecdf(df, ["lo", "hi"], low_card_threshold=16)
                q = textprep.quantile_buckets(df, "score", by=["lang"], n_buckets=3)
                got[(shuffle_parts, input_parts)] = (
                    sorted((r["doc_id"], r["u_lo"], r["u_hi"]) for r in e.collect()),
                    sorted((r["doc_id"], r["bucket"]) for r in q.collect()),
                )
    finally:
        spark.conf.set(key, saved)
    first = got[(4, 1)]
    assert len(first[0]) == len(first[1]) == 600
    for combo, out in got.items():
        assert out == first, combo


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    text=st.text(
        alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FF),
        max_size=200,
    ),
    pii=st.sampled_from(
        ["", " a@b.io", " 555-123-4567", " 10.0.0.1 ", " badword1!", " x@y.com or 1.2.3.4"]
    ),
)
def test_scrub_byte_parity(text, pii):
    """Spark regexp_replace chain == pure-Python re.sub chain, byte for
    byte, for arbitrary text with PII fragments appended."""
    spark = _get_spark()
    from pyspark.sql import functions as F

    full = text + pii
    [row] = spark.createDataFrame([(full,)], "text string").select(
        scrub_col(F.col("text")).alias("s")
    ).collect()
    assert row["s"] == scrub_py(full)


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_png_roundtrip_lossless_property(h, w, seed):
    """decode(encode(img)) == img for ARBITRARY rgb images — PNG is
    lossless, so this is exact, pure driver-side (no Spark)."""
    from webdq.pngcodec import decode_png, encode_png

    img = np.random.RandomState(seed).randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    np.testing.assert_array_equal(decode_png(encode_png(img)), img)


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=20),
    w=st.integers(min_value=1, max_value=20),
    r=st.integers(min_value=16, max_value=239),
    g=st.integers(min_value=16, max_value=239),
    b=st.integers(min_value=16, max_value=239),
)
def test_jpeg_flat_color_byte_exact_property(h, w, r, g, b):
    """The q48 oracle's load-bearing property, swept by hypothesis:
    ANY flat interior color at ANY small dims survives the lossy
    JPEG roundtrip byte-exactly at quality 98."""
    from webdq.jpegcodec import decode_jpeg, encode_jpeg

    img = np.broadcast_to(np.array([r, g, b], dtype=np.uint8), (h, w, 3))
    np.testing.assert_array_equal(decode_jpeg(encode_jpeg(img, quality=98)), img)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "cc", "ddd"]), min_size=1, max_size=40),
        min_size=1,
        max_size=5,
    ),
    chunk=st.integers(min_value=2, max_value=10),
    overlap=st.integers(min_value=0, max_value=5),
)
def test_chunking_and_rep_removal_properties(docs, chunk, overlap):
    """Chunking: concatenating chunk windows with the overlap removed
    reconstructs the document exactly; repetition removal matches the
    python reference and is idempotent."""
    from hypothesis import assume

    from webdq import textprep

    assume(overlap < chunk)
    spark = _get_spark()
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)], "doc_id long, text string"
    )
    stride = chunk - overlap
    out = textprep.chunk_documents(df, chunk_tokens=chunk, overlap=overlap).collect()
    by_doc: dict = {}
    for row in out:
        by_doc.setdefault(row["doc_id"], []).append(row)
    for i, toks in enumerate(docs):
        rows = sorted(by_doc[i], key=lambda row: row["chunk_id"])
        rebuilt = []
        for row in rows:
            ctoks = row["chunk_text"].split(" ")
            rebuilt.extend(ctoks if row["chunk_id"] == 0 else ctoks[overlap:])
        assert rebuilt == toks, (i, rebuilt, toks)

    rr = {row["doc_id"]: row["clean_text"] for row in textprep.dedup_consecutive_tokens(df).collect()}
    df2 = spark.createDataFrame([(k, v) for k, v in rr.items()], "doc_id long, text string")
    rr2 = {row["doc_id"]: row["clean_text"] for row in textprep.dedup_consecutive_tokens(df2).collect()}
    for i, toks in enumerate(docs):
        ref = [t for j, t in enumerate(toks) if j == 0 or t != toks[j - 1]]
        assert rr[i] == " ".join(ref)
        assert rr2[i] == rr[i]  # idempotent


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)), min_size=0, max_size=40
    ),
)
def test_connected_components_match_union_find_property(edges):
    """For ANY random edge multiset (self-loops, duplicates, isolated
    nodes): component = min reachable node id, exactly union-find."""
    spark = _get_spark()
    from webdq.graph import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(26)], "id long")
    if edges:
        e = spark.createDataFrame(edges, "src long, dst long")
    else:
        e = spark.createDataFrame([], "src long, dst long")
    got = {r["_id"]: r["component"] for r in connected_components(e, nodes=nodes).collect()}

    parent = list(range(26))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {i: min(j for j in range(26) if find(j) == find(i)) for i in range(26)}
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 500), st.sampled_from("abc"), st.integers(1, 30)),
        min_size=1,
        max_size=50,
        unique_by=lambda t: t[0],
    ),
    budget=st.sampled_from([1, 7, 40]),
)
def test_sequence_pack_matches_pandas_property(rows, budget):
    """For ANY doc set and budget: shard = floor((cumsum − n)/budget)
    in md5-rank order per stratum — exactly the pandas replay."""
    import hashlib

    import pandas as pd

    spark = _get_spark()
    from webdq import mixing

    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens int")
    got = mixing.sequence_pack(df, budget=budget, strata_cols=["source"]).toPandas()
    ref = pd.DataFrame(rows, columns=["doc_id", "source", "n_tokens"])
    ref["h"] = ref.doc_id.map(lambda v: hashlib.md5(str(v).encode()).hexdigest())
    ref = ref.sort_values(["source", "h", "doc_id"])
    cum = ref.groupby("source").n_tokens.cumsum()
    ref["shard_id"] = ((cum - ref.n_tokens) // budget).astype("int64")
    assert got.set_index("doc_id").shard_id.sort_index().equals(
        ref.set_index("doc_id").shard_id.sort_index()
    )


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 10**6), st.sampled_from("xy"), st.integers(-50, 50)),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    ),
    buckets=st.sampled_from([1, 3, 16]),
)
def test_salted_agg_equals_direct_property(rows, buckets):
    """For ANY grouped data and salt width: the two-stage salted
    aggregation equals the direct groupBy exactly."""
    from pyspark.sql import functions as F

    spark = _get_spark()
    from webdq import skew

    df = spark.createDataFrame(rows, "id long, k string, v int")
    out = skew.salted_agg(
        df, ["k"],
        {"n": ("count", None), "s": ("sum", "v"), "a": ("avg", "v"), "mx": ("max", "v")},
        salt_on="id", salt_buckets=buckets,
    )
    direct = df.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"),
        F.avg("v").alias("a"), F.max("v").alias("mx"),
    )
    got = {r["k"]: (r["n"], r["s"], round(r["a"], 9), r["mx"]) for r in out.collect()}
    want = {r["k"]: (r["n"], r["s"], round(r["a"], 9), r["mx"]) for r in direct.collect()}
    assert got == want


@given(
    texts=st.lists(
        st.lists(st.sampled_from(["nav", "foo", "bar", "baz qux", ""]), min_size=0, max_size=6),
        min_size=1,
        max_size=12,
    ),
    min_count=st.integers(min_value=2, max_value=4),
)
@example(texts=[[], ["nav", "nav", "nav", ""], [], ["nav"]], min_count=4)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_line_dedup_idempotent(texts, min_count):
    """For ANY corpus: after one line-dedup pass every surviving
    duplicate-line count is < min_count, so a second pass is the
    identity."""
    from webdq import dedup

    spark = _get_spark()
    df = spark.createDataFrame(
        [(i, "\n".join(lines)) for i, lines in enumerate(texts)],
        "doc_id long, text string",
    )
    once = dedup.line_dedup_corpus(df, min_count=min_count)
    twice = dedup.line_dedup_corpus(
        once.withColumnRenamed("text_deduped", "text"), min_count=min_count
    )
    a = sorted(map(tuple, once.collect()))
    b = sorted(map(tuple, twice.collect()))
    assert a == b


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=1, max_value=30),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda r: r[0],
    ),
    b1=st.integers(min_value=1, max_value=300),
    extra=st.integers(min_value=0, max_value=300),
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_select_by_budget_monotone(rows, b1, extra):
    """For ANY corpus: raising the budget only ever ADDS documents
    (the greedy prefix is monotone in the budget)."""
    from webdq import mixing

    spark = _get_spark()
    df = spark.createDataFrame(
        [(i, float(s), t) for i, s, t in rows], "doc_id long, score double, n_tokens int"
    )
    small = set(r["doc_id"] for r in mixing.select_by_budget(df, b1, n_buckets=8).collect())
    big = set(
        r["doc_id"] for r in mixing.select_by_budget(df, b1 + extra, n_buckets=8).collect()
    )
    assert small <= big


@given(
    texts=st.lists(
        st.lists(st.sampled_from(["the", "a", "b", ""]), min_size=0, max_size=10),
        min_size=1,
        max_size=8,
    ),
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_dedup_consecutive_tokens_idempotent(texts):
    """Token-level run collapse: second application is the identity
    (split on \\s+ of a single-space rejoin reproduces the kept
    tokens)."""
    from webdq import textprep

    spark = _get_spark()
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(texts)],
        "doc_id long, text string",
    )
    once = textprep.dedup_consecutive_tokens(df)
    twice = textprep.dedup_consecutive_tokens(
        once.select("doc_id", F.col("clean_text").alias("text"))
    )
    a = {r["doc_id"]: r["clean_text"] for r in once.collect()}
    b = {r["doc_id"]: (r["clean_text"], r["n_removed"]) for r in twice.collect()}
    for k, text in a.items():
        assert b[k] == (text, 0), (k, a[k], b[k])


@given(
    toks=st.lists(
        st.sampled_from(["alpha", "b", "gamma7", "x"]), min_size=0, max_size=40
    ),
    chunk_tokens=st.integers(min_value=1, max_value=12),
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_chunk_documents_zero_overlap_reconstructs(toks, chunk_tokens):
    """With overlap=0 the chunks PARTITION the token stream: joining
    chunk_texts in chunk order reproduces the normalized document, every
    chunk is <= chunk_tokens, and n_tokens sums to the token count —
    no token injected, dropped, or duplicated by reconstruction."""
    from webdq import textprep

    spark = _get_spark()
    text = " ".join(toks)
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    rows = sorted(
        textprep.chunk_documents(df, chunk_tokens=chunk_tokens, overlap=0).collect(),
        key=lambda r: r["chunk_id"],
    )
    norm_toks = text.strip().split() if text.strip() else [""]
    assert " ".join(r["chunk_text"] for r in rows) == " ".join(norm_toks)
    assert all(len(r["chunk_text"].split(" ")) <= chunk_tokens for r in rows)
    assert sum(r["n_tokens"] for r in rows) == len(norm_toks)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    keys=st.lists(st.text(alphabet="abcdefgh", min_size=1, max_size=4), min_size=1, max_size=30),
    n_build=st.integers(min_value=0, max_value=20),
    k=st.integers(min_value=1, max_value=4),
)
def test_bloom_no_false_negatives_property(keys, n_build, k):
    """The Bloom guarantee under arbitrary keys: every built key probes
    maybe_present=true, and the probe matches the pure-python bitmap."""
    import hashlib

    from webdq.dedup import bloom_build, bloom_probe

    spark = _get_spark()
    m = 128
    build = sorted(set(keys[:n_build]))
    probe = sorted(set(keys))

    def pos(key):
        return [
            int(hashlib.md5(f"{j}:{key}".encode()).hexdigest()[:15], 16) % m
            for j in range(k)
        ]

    bset = {p for key in build for p in pos(key)}
    exp = {key: all(p in bset for p in pos(key)) for key in probe}
    bdf = spark.createDataFrame([(x,) for x in build] or [("",)], "fp string")
    if not build:
        bdf = bdf.filter(F.col("fp") != "")
    pdf = spark.createDataFrame(list(enumerate(probe)), "doc_id long, fp string")
    got = {
        probe[r["doc_id"]]: r["maybe_present"]
        for r in bloom_probe(pdf, bloom_build(bdf, "fp", m_bits=m, k=k), "fp", m_bits=m, k=k).collect()
    }
    assert got == exp
    assert all(got[key] for key in build)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6).map(lambda v: v / 3.0),
            st.booleans(),
        ),
        min_size=1,
        max_size=40,
    ),
    n_buckets=st.sampled_from([1, 3, 1024]),
)
def test_pr_curve_matches_python_property(rows, n_buckets):
    """Exact tp/fp/fn and ratios at every distinct threshold, for any
    tie structure and any bucketing resolution."""
    from webdq import evaluation

    spark = _get_spark()
    if not any(y for _, y in rows):
        rows = rows + [(0.5, True)]  # need P > 0 for recall
    df = spark.createDataFrame(rows, "score double, label boolean")
    P = sum(1 for _, y in rows if y)
    exp = {}
    for t in sorted({s for s, _ in rows}, reverse=True):
        tp = sum(1 for s, y in rows if s >= t and y)
        fp = sum(1 for s, y in rows if s >= t and not y)
        exp[t] = (tp, fp, P - tp, tp / (tp + fp), tp / P)
    got = {
        r["threshold"]: (r["tp"], r["fp"], r["fn"], r["prec"], r["rec"])
        for r in evaluation.pr_curve(df, n_buckets=n_buckets).collect()
    }
    assert got == exp


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=24), min_size=1, max_size=12
    )
)
def test_dsir_target_equals_raw_zero_property(texts):
    """With target == raw every bucket weight is the difference of the
    SAME double, so every document scores exactly 0.0 — for any corpus."""
    from webdq import dsir

    spark = _get_spark()
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    kw = dict(dim=32, ngram_ns=(1, 2), portable=True)
    c = dsir.ngram_bucket_counts(df, **kw)
    out = dsir.dsir_score(c, dsir.fit_log_ratio(c, c, dim=32)).collect()
    assert all(r["dsir_score"] == 0.0 for r in out)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    texts=st.lists(
        st.text(alphabet="abc d", min_size=0, max_size=20), min_size=1, max_size=10
    ),
    n_merges=st.integers(min_value=1, max_value=5),
)
def test_learn_bpe_matches_python_property(texts, n_merges):
    """Full merge-list equality vs the pure-python reference on random
    corpora — pair counting, tie-breaks, greedy-overlap semantics, and
    early stopping all at once."""
    from collections import Counter

    from webdq import textprep

    spark = _get_spark()

    def merge_word(s, a, b):
        out, i = [], 0
        while i < len(s):
            if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(s[i])
                i += 1
        return out

    wc = Counter(w for t in texts for w in t.split())
    syms = {w: list(w) for w in wc}
    exp = []
    for _ in range(n_merges):
        pc = Counter()
        for w, c in wc.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += c
        if not pc:
            break
        (a, b), cnt = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if cnt < 2:
            break
        exp.append((a, b, cnt))
        for w in syms:
            syms[w] = merge_word(syms[w], a, b)

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    assert textprep.learn_bpe(df, n_merges) == exp

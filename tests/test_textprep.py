"""Chunking + repetition removal: python-reference parity and
coverage properties."""

from pyspark.sql import functions as F

from webdq import textprep


def _docs(spark):
    rows = [
        (0, "a b c d e f g h i j k l m n o p"),
        (1, "x"),
        (2, "the the the quick quick brown fox fox fox fox"),
        (3, " ".join(f"w{i}" for i in range(100))),
        (4, "solo pair pair solo"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_chunking_covers_and_overlaps(spark):
    out = (
        textprep.chunk_documents(_docs(spark), chunk_tokens=8, overlap=2)
        .toPandas()
        .sort_values(["doc_id", "chunk_id"])
    )
    docs = {r["doc_id"]: r["text"].split() for r in _docs(spark).collect()}
    stride = 6
    for did, toks in docs.items():
        chunks = out[out["doc_id"] == did]
        import math

        exp_n = max(1, math.ceil((len(toks) - 2) / stride))
        assert len(chunks) == exp_n
        for _, r in chunks.iterrows():
            i = r["chunk_id"]
            exp = toks[i * stride : i * stride + 8]
            assert r["chunk_text"].split() == exp
            assert r["n_tokens"] == len(exp)
        # every token position is covered by some chunk
        covered = set()
        for _, r in chunks.iterrows():
            covered.update(range(r["chunk_id"] * stride, r["chunk_id"] * stride + r["n_tokens"]))
        assert covered == set(range(len(toks)))


def test_chunking_rejects_bad_overlap(spark):
    import pytest

    with pytest.raises(ValueError):
        textprep.chunk_documents(_docs(spark), chunk_tokens=8, overlap=8)


def test_dedup_consecutive_matches_python(spark):
    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in textprep.dedup_consecutive_tokens(_docs(spark)).collect()
    }
    for r in _docs(spark).collect():
        toks = r["text"].split()
        kept = [t for i, t in enumerate(toks) if i == 0 or t != toks[i - 1]]
        assert got[r["doc_id"]] == (" ".join(kept), len(toks) - len(kept)), r["doc_id"]
    assert got[2][1] == 6  # 2×the + 1×quick + 3×fox


def test_token_counts_match_python_re(spark):
    import re

    rows = [
        (0, "it's a test, isn't it? 123 abc-def   trailing  "),
        (1, "don't you'll we're I'd o'clock 'quoted'"),
        (2, "x"),
        (3, "a  b\tc\nd"),
        (4, "!!!???...:;(){}[]"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_ws_tokens"], r["n_bpe_tokens"]) for r in textprep.token_counts(df).collect()}
    pat = re.compile(textprep.BPE_ISH_PATTERN)
    for did, text in rows:
        ws = len(text.strip().split())
        # Spark's split on \s+ of a trimmed string == python .split()
        bpe = len(pat.findall(text))
        assert got[did] == (ws, bpe), (did, got[did], (ws, bpe))


def _mdocs(spark):
    rows = [
        (0, "alpha beta\ngamma\nalpha beta\ngamma\ndelta"),
        (1, "one line only"),
        (2, "same\nsame\nsame\nother"),
        (3, "the cat sat\nthe cat sat"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_gopher_dup_line_metrics_match_python(spark):
    got = {
        r["doc_id"]: (r["dup_line_frac"], r["dup_line_char_frac"])
        for r in textprep.gopher_repetition(_mdocs(spark)).collect()
    }
    for r in _mdocs(spark).collect():
        lines = r["text"].split("\n")
        seen: dict[str, int] = {}
        dn = dch = 0
        for ln in lines:
            if ln in seen:
                dn += 1
                dch += len(ln)
            seen[ln] = 1
        ch = sum(len(ln) for ln in lines)
        want = (dn / len(lines), dch / ch if ch else 0.0)
        g = got[r["doc_id"]]
        assert abs(g[0] - want[0]) < 1e-12 and abs(g[1] - want[1]) < 1e-12, r["doc_id"]
    assert got[1] == (0.0, 0.0)  # single line: no dups
    assert got[2][0] == 0.5  # 2 of 4 lines are repeats


def test_gopher_top_ngram_char_frac_match_python(spark):
    from collections import Counter

    out = {
        r["doc_id"]: (r["top_2gram_char_frac"], r["top_3gram_char_frac"])
        for r in textprep.gopher_repetition(_mdocs(spark), ngram_ns=(2, 3)).collect()
    }
    for r in _mdocs(spark).collect():
        toks = r["text"].split()
        tot = len(r["text"])
        for n, idx in ((2, 0), (3, 1)):
            grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
            if not grams:
                want = 0.0
            else:
                c = Counter(grams)
                best = max(c.items(), key=lambda kv: (kv[1], kv[1] * len(kv[0])))
                # max count, ties by larger char coverage
                mx = best[1]
                cov = max(v * len(g) for g, v in c.items() if v == mx)
                want = cov / tot
            assert abs(out[r["doc_id"]][idx] - want) < 1e-12, (r["doc_id"], n)
    # short doc: fewer than 3 tokens would give 0; doc 1 has exactly 3
    assert out[1][1] > 0


def test_gopher_fracs_bounded(spark):
    out = textprep.gopher_repetition(_mdocs(spark)).collect()
    for r in out:
        for c in ("dup_line_frac", "dup_line_char_frac", "top_2gram_char_frac",
                  "top_3gram_char_frac", "top_4gram_char_frac"):
            assert 0.0 <= r[c] <= 1.0, (r["doc_id"], c, r[c])


def _vocab_docs(spark):
    rows = [
        (0, "the cat sat on the mat"),
        (1, "the dog sat on the log"),
        (2, "a rare xylophone zephyr"),
        (3, "the the the cat cat dog"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_build_vocab_matches_python(spark):
    import collections

    d = _vocab_docs(spark)
    got = [(r["token"], r["freq"], r["vocab_id"]) for r in
           textprep.build_vocab(d, min_count=2).orderBy("vocab_id").collect()]
    cnt = collections.Counter(
        t for r in d.collect() for t in r["text"].split() if t
    )
    want = sorted(
        ((t, c) for t, c in cnt.items() if c >= 2), key=lambda x: (-x[1], x[0])
    )
    assert got == [(t, c, i) for i, (t, c) in enumerate(want)]


def test_build_vocab_topk_truncation_consistent(spark):
    d = _vocab_docs(spark)
    full = textprep.build_vocab(d).orderBy("vocab_id").collect()
    top3 = textprep.build_vocab(d, max_vocab=3).orderBy("vocab_id").collect()
    assert [tuple(r) for r in top3] == [tuple(r) for r in full[:3]]


def test_oov_stats_match_python(spark):
    d = _vocab_docs(spark)
    vocab = textprep.build_vocab(d, min_count=2)
    vset = {r["token"] for r in vocab.collect()}
    got = {r["doc_id"]: (r["n_tokens"], r["n_oov"]) for r in
           textprep.oov_stats(d, vocab).collect()}
    for r in d.collect():
        toks = [t for t in r["text"].split() if t]
        assert got[r["doc_id"]] == (len(toks), sum(t not in vset for t in toks))
    # rate consistency
    for r in textprep.oov_stats(d, vocab).collect():
        assert abs(r["oov_rate"] - r["n_oov"] / r["n_tokens"]) < 1e-12


# ---- tfidf ----

def test_tfidf_matches_numpy_reference(spark):
    import math

    docs = _docs(spark)
    out = textprep.tfidf(docs, min_df=1).toPandas()
    raw = {r["doc_id"]: [t for t in r["text"].strip().split() if t] for r in docs.collect()}
    n = len(raw)
    dfreq = {}
    for toks in raw.values():
        for t in set(toks):
            dfreq[t] = dfreq.get(t, 0) + 1
    assert len(out) == sum(len(set(t)) for t in raw.values())
    for _, r in out.iterrows():
        toks = raw[r["doc_id"]]
        assert r["tf"] == toks.count(r["token"])
        assert r["df"] == dfreq[r["token"]]
        idf = math.log((1 + n) / (1 + dfreq[r["token"]])) + 1.0
        assert abs(r["idf"] - idf) < 1e-12
        assert abs(r["tfidf"] - r["tf"] * idf) < 1e-12


def test_tfidf_vocab_bounds(spark):
    docs = _docs(spark)
    # every token of the fixture is unique to its doc → min_df=2 empties
    assert textprep.tfidf(docs, min_df=2).count() == 0
    # max_vocab TopK: all df=1, so the (df desc, token) order is lexical
    out = textprep.tfidf(docs, min_df=1, max_vocab=5).toPandas()
    assert set(out["token"]) == {"a", "b", "brown", "c", "d"}
    # tf preserved through the bounded join ("the" is out, fox is out)
    assert out[out["token"] == "a"]["tf"].iloc[0] == 1


# ---- bigram_lm_score ----

def test_bigram_lm_score_matches_python(spark):
    import math

    texts = {
        1: "the cat sat on the mat",
        2: "the cat sat on the cat",
        3: "dog",                      # 1 token -> no transitions, null score
        4: "the mat sat",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    out = {r["doc_id"]: r for r in textprep.bigram_lm_score(df).collect()}

    # python replay (add-1 smoothing, self-scored)
    toks = {i: t.split() for i, t in texts.items()}
    big, ctx, vocab = {}, {}, set()
    for w in toks.values():
        vocab.update(w)
        for a, b in zip(w, w[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
            ctx[a] = ctx.get(a, 0) + 1
    V = len(vocab)
    for i, w in toks.items():
        trans = list(zip(w, w[1:]))
        if not trans:
            assert out[i]["avg_logprob"] is None
            assert out[i]["n_transitions"] == 0
            continue
        lp = sum(
            math.log((big[p] + 1.0) / (ctx[p[0]] + 1.0 * V)) for p in trans
        ) / len(trans)
        assert out[i]["n_transitions"] == len(trans)
        assert abs(out[i]["avg_logprob"] - lp) < 1e-9, i

    # partition invariance
    rep = {
        r["doc_id"]: r["avg_logprob"]
        for r in textprep.bigram_lm_score(df.repartition(7)).collect()
    }
    for i in texts:
        a, b = rep[i], out[i]["avg_logprob"]
        assert (a is None and b is None) or abs(a - b) < 1e-12


# ---- quantile_buckets ----

def test_quantile_buckets(spark):
    import hashlib

    import pytest

    rows = [(i, "en" if i % 2 == 0 else "fr", float(i % 10)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, score double")
    out = textprep.quantile_buckets(
        df, "score", by=["lang"], n_buckets=4,
        labels=["q1", "q2", "q3", "q4"],
    ).collect()
    # python replay: desc score, md5(id), id; SQL-standard ntile
    by_lang = {}
    for i, lang, s in rows:
        by_lang.setdefault(lang, []).append((i, s))
    exp = {}
    for lang, items in by_lang.items():
        ranked = sorted(
            items,
            key=lambda x: (-x[1], hashlib.md5(str(x[0]).encode()).hexdigest(), x[0]),
        )
        n = len(ranked)
        base, rem = divmod(n, 4)
        sizes = [base + (1 if t < rem else 0) for t in range(4)]
        pos = 0
        for t, sz in enumerate(sizes):
            for i, _ in ranked[pos : pos + sz]:
                exp[i] = f"q{t + 1}"
            pos += sz
    got = {r["doc_id"]: r["bucket"] for r in out}
    assert got == exp
    # equal-count tiers per group
    for lang in ("en", "fr"):
        cnt = {}
        for r in out:
            if r["lang"] == lang:
                cnt[r["bucket"]] = cnt.get(r["bucket"], 0) + 1
        assert cnt == {"q1": 5, "q2": 5, "q3": 5, "q4": 5}
    # integer-tile form + partition invariance
    tiles = {
        r["doc_id"]: r["bucket"]
        for r in textprep.quantile_buckets(df, "score", by=["lang"], n_buckets=4).collect()
    }
    assert all(tiles[i] == int(exp[i][1]) for i in tiles)
    rep = {
        r["doc_id"]: r["bucket"]
        for r in textprep.quantile_buckets(
            df.repartition(7), "score", by=["lang"], n_buckets=4,
            labels=["q1", "q2", "q3", "q4"],
        ).collect()
    }
    assert rep == got
    with pytest.raises(ValueError):
        textprep.quantile_buckets(df, "score", n_buckets=1)
    with pytest.raises(ValueError):
        textprep.quantile_buckets(df, "score", n_buckets=3, labels=["a", "b"])


# ---- BPE learn/apply ----

def _py_merge_word(s, a, b):
    out, i = [], 0
    while i < len(s):
        if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(s[i])
            i += 1
    return out


def _py_learn_bpe(texts, n_merges, min_pair_count=2):
    from collections import Counter

    wc = Counter(w for t in texts for w in t.split())
    syms = {w: list(w) for w in wc}
    merges = []
    for _ in range(n_merges):
        pc = Counter()
        for w, c in wc.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += c
        if not pc:
            break
        (a, b), cnt = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if cnt < min_pair_count:
            break
        merges.append((a, b, cnt))
        for w in syms:
            syms[w] = _py_merge_word(syms[w], a, b)
    return merges, syms


BPE_TEXTS = [
    "low low low low low",
    "lower lower newest newest newest",
    "newest newest newest widest widest",
    "aaa abab low",
    "",
]


def test_learn_bpe_matches_python(spark):
    import pytest

    from webdq import textprep

    df = spark.createDataFrame([(t,) for t in BPE_TEXTS], "text string")
    exp, _ = _py_learn_bpe(BPE_TEXTS, 10)
    got = textprep.learn_bpe(df, 10)
    assert got == exp
    # overlapping-run semantics live in the fold: check 'aaa' directly
    exp3, syms3 = _py_learn_bpe(["aaa aaa"], 1)
    got3 = textprep.learn_bpe(spark.createDataFrame([("aaa aaa",)], "text string"), 1)
    assert got3 == exp3 and syms3["aaa"] == ["aa", "a"]
    # partition invariance
    assert textprep.learn_bpe(df.repartition(7), 10) == exp
    with pytest.raises(ValueError):
        textprep.learn_bpe(df, 0)


def test_apply_bpe_matches_python(spark):
    from webdq import textprep

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(BPE_TEXTS)], "doc_id long, text string"
    )
    merges, syms = _py_learn_bpe(BPE_TEXTS, 6)
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in textprep.apply_bpe(df, merges, checkpoint_every=2).collect()
    }
    exp = {}
    for i, t in enumerate(BPE_TEXTS):
        ws = t.split()
        if ws:
            exp[i] = (len(ws), sum(len(syms[w]) for w in ws))
    assert got == exp
    # zero merges → pure character counts
    got0 = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in textprep.apply_bpe(df, []).collect()
    }
    assert got0 == {
        i: sum(len(w) for w in t.split()) for i, t in enumerate(BPE_TEXTS) if t.split()
    }


def test_learn_bpe_incremental_path_parity(spark):
    """r7: learn_bpe dispatches between full-recount (small type
    tables) and incremental pair maintenance (large). Force the
    incremental path on small data (threshold=0) and pin merge-list
    equality against the recount path and the python replay —
    including a corpus with repeated merges inside one word (greedy
    fold deltas) and the early-stop case."""
    texts = BPE_TEXTS + ["aaaa aaaa aaaa", "abab abab"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    exp = textprep.learn_bpe(df, 12)  # recount path (tiny table)
    got = textprep.learn_bpe(df, 12, incremental_threshold=0)
    assert got == exp
    assert exp == _py_learn_bpe(texts, 12)[0]
    # early stop: single word, one merge possible at min_pair_count=2
    one = spark.createDataFrame([("xy xy",)], "text string")
    assert textprep.learn_bpe(one, 5, incremental_threshold=0) == textprep.learn_bpe(one, 5)


def test_bigram_lm_degenerate_model_null_scores(spark):
    """An empty/whitespace corpus (V=0) must yield NULL scores, not
    silently-propagating +Inf."""
    import math

    empty = spark.createDataFrame([(9, "   "), (10, ""), (11, None)], "doc_id long, text string")
    out = textprep.bigram_lm_score(empty).collect()
    assert len(out) == 3
    for r in out:
        assert r["avg_logprob"] is None and r["n_transitions"] == 0, r
    # trim strips spaces only: tab/newline-only texts have ("", "")
    # transitions but V = 0, and score NULL, not a log-probability > 0
    blank = spark.createDataFrame([(12, "\t"), (13, "\n\n")], "doc_id long, text string")
    out = textprep.bigram_lm_score(blank).collect()
    assert [(r["avg_logprob"], r["n_transitions"]) for r in out] == [(None, 1), (None, 1)]
    # a sane corpus scores finitely
    docs = spark.createDataFrame([(1, "a b c"), (2, "x y")], "doc_id long, text string")
    ok = textprep.bigram_lm_score(docs).collect()
    assert all(r["avg_logprob"] is not None and math.isfinite(r["avg_logprob"]) for r in ok)

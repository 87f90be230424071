"""URL/domain filtering (webdq/urlfilter.py).

Gates: suffix-chain semantics (parent-domain blocking), list-path ==
DataFrame-path parity, pattern alternation, drop mode, hostile-host
fanout cap.
"""

import pytest
from pyspark.sql import functions as F

from webdq import urlfilter


@pytest.fixture(scope="module")
def urls(spark):
    rows = [
        (0, "https://ads.example.com/landing?x=1"),
        (1, "https://sub.ads.example.com/deep/path"),
        (2, "https://example.com/clean"),
        (3, "http://good.org/a/b"),
        (4, "https://tracker.net"),            # path-less url
        (5, "https://notads.example.org/x"),   # 'ads' only as substring
        (6, "https://good.org/download.EXE"),
    ]
    return spark.createDataFrame(rows, "doc_id long, url string")


def test_suffix_chain(spark):
    got = (
        spark.createDataFrame([("https://a.b.example.com/x",)], "url string")
        .select(urlfilter.domain_suffix_chain().alias("s"))
        .collect()[0]["s"]
    )
    assert got == ["com", "example.com", "b.example.com", "a.b.example.com"]


def test_blocklist_parent_domain_semantics(urls):
    out = {
        r["doc_id"]: r["blocked_domain"]
        for r in urlfilter.domain_blocklist_flag(
            urls, ["ads.example.com", "tracker.net"], id_col="doc_id"
        ).collect()
    }
    # 0 exact, 1 subdomain of listed domain, 4 path-less exact
    assert out == {0: True, 1: True, 2: False, 3: False, 4: True, 5: False, 6: False}


def test_blocklist_dataframe_path_parity(spark, urls):
    bl = ["ads.example.com", "tracker.net", "GOOD.org"]
    lst = {
        r["doc_id"]: r["blocked_domain"]
        for r in urlfilter.domain_blocklist_flag(urls, bl, id_col="doc_id").collect()
    }
    bdf = spark.createDataFrame([(d,) for d in bl], "domain string")
    dfp = {
        r["doc_id"]: r["blocked_domain"]
        for r in urlfilter.domain_blocklist_flag(urls, bdf, id_col="doc_id").collect()
    }
    assert lst == dfp
    assert lst[3] and lst[6]  # case-insensitive host/list match


def test_hostile_host_fanout_capped(spark):
    deep = "https://" + ".".join(["x"] * 1000) + ".example.com/p"
    df = spark.createDataFrame([(0, deep)], "doc_id long, url string")
    n = df.select(F.size(urlfilter.domain_suffix_chain()).alias("n")).collect()[0]["n"]
    assert n == urlfilter.MAX_LABELS == 10
    # the full host (1002 labels) is beyond the cap → an exact-host
    # entry cannot match, but a short parent suffix still does
    out = urlfilter.domain_blocklist_flag(df, ["example.com"], id_col="doc_id").collect()[0]
    assert out["blocked_domain"]


def test_pattern_flag_and_drop_mode(urls):
    pats = [r"\.exe$", r"[?&]x=\d"]
    flagged = {
        r["doc_id"]: r["blocked_pattern"]
        for r in urlfilter.url_pattern_flag(
            urls.withColumn("url", F.lower("url")), pats
        ).collect()
    }
    assert flagged == {0: True, 1: False, 2: False, 3: False, 4: False, 5: False, 6: True}
    kept = {
        r["doc_id"]
        for r in urlfilter.apply_url_filters(
            urls.withColumn("url", F.lower("url")),
            blocklist=["ads.example.com"],
            patterns=pats,
            id_col="doc_id",
        )
        .filter(~F.col("blocked_domain") & ~F.col("blocked_pattern"))
        .collect()
    }
    assert kept == {2, 3, 4, 5}


def test_empty_patterns(urls):
    out = urlfilter.url_pattern_flag(urls, [])
    assert all(not r["blocked_pattern"] for r in out.collect())


def test_null_url_parity_between_paths(spark):
    # ADVICE r4: list path returned NULL blocked_domain for NULL urls
    # (a filter on the flags then silently dropped the row); both paths
    # must coalesce to false
    rows = [(0, None), (1, "https://ads.example.com/x"), (2, "https://ok.example.org/setup.exe")]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    lst = urlfilter.domain_blocklist_flag(df, ["ads.example.com"], id_col="doc_id")
    bl = spark.createDataFrame([("ads.example.com",)], "domain string")
    dfp = urlfilter.domain_blocklist_flag(df, bl, id_col="doc_id")
    for out in (lst, dfp):
        got = {r["doc_id"]: r["blocked_domain"] for r in out.collect()}
        assert got == {0: False, 1: True, 2: False}
    dropped = urlfilter.apply_url_filters(df, ["ads.example.com"], id_col="doc_id").filter(
        ~F.col("blocked_domain") & ~F.col("blocked_pattern")
    )
    assert {r["doc_id"] for r in dropped.collect()} == {0, 2}
    # with patterns given, the pattern flag is false (not NULL) on a
    # NULL url too, so the same filter keeps the row
    flagged = urlfilter.apply_url_filters(df, ["ads.example.com"], [r"\.exe$"], id_col="doc_id")
    got = {r["doc_id"]: r["blocked_pattern"] for r in flagged.collect()}
    assert got == {0: False, 1: False, 2: True}
    kept = flagged.filter(~F.col("blocked_domain") & ~F.col("blocked_pattern"))
    assert {r["doc_id"] for r in kept.collect()} == {0}


# ---- canonicalize_urls ----

def test_canonicalize_urls(spark):
    cases = [
        # (input, expected canonical)
        ("HTTP://Example.COM:80/Path/X?utm_source=a&id=1#frag",
         "http://example.com/Path/X?id=1"),
        ("https://a.B.example:443/x", "https://a.b.example/x"),
        ("https://example.com:8443/x", "https://example.com:8443/x"),  # non-default port kept
        ("http://example.com/?utm_source=a&utm_medium=b", "http://example.com/"),
        ("http://example.com/p?ref=nav&keep=1&fbclid=zz", "http://example.com/p?keep=1"),
        ("ftp://Files.Example/Pub", "ftp://files.example/Pub"),  # scheme-generic
        ("http://example.com/p#only-frag", "http://example.com/p"),
        ("not a url at all", "not a url at all"),               # opaque pass-through
        ("doc:123", "doc:123"),
        ("https://example.com", "https://example.com"),          # no path
        ("HTTPS://EXAMPLE.COM:443?gclid=1", "https://example.com"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, url string"
    )
    out = {r["i"]: r["canonical_url"] for r in urlfilter.canonicalize_urls(df).collect()}
    for i, (u, exp) in enumerate(cases):
        assert out[i] == exp, (u, out[i], exp)
    # canonicalization is idempotent
    once = urlfilter.canonicalize_urls(df).select(
        "i", F.col("canonical_url").alias("url")
    )
    twice = {r["i"]: r["canonical_url"] for r in urlfilter.canonicalize_urls(once).collect()}
    assert twice == out

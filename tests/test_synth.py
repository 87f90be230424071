"""Determinism of the synthetic pages generator (FIXTURES.md §B)."""

from webdq.synth import generate_pages


def test_partition_invariance(spark):
    """Same bytes at any parallelism — required for the byte-identical
    invariant and the N vs 4N scaling run."""
    a = {r["url"]: (r["text"], r["lang"], r["warc_ts"], bytes(r["html"])) for r in generate_pages(spark, 400, partitions=2).collect()}
    b = {r["url"]: (r["text"], r["lang"], r["warc_ts"], bytes(r["html"])) for r in generate_pages(spark, 400, partitions=7).collect()}
    assert a == b


def test_tiers_and_schema(spark):
    df = generate_pages(spark, 500)
    rows = df.collect()
    assert len(rows) == 500
    assert len({r["url"] for r in rows}) == 500
    tiers = {r["_tier"] for r in rows}
    assert tiers == {0, 1, 2, 3, 4}
    de = [r for r in rows if r["_tier"] == 4]
    assert all(r["lang"] == "de" for r in de)
    r0 = rows[0]
    assert bytes(r0["html"]).decode("utf-8") == f"<html><body>{r0['text']}</body></html>"


def test_host_skew_present(spark):
    """Heavy-tailed hosts: top-10 hosts should own a majority of pages."""
    from pyspark.sql import functions as F

    df = generate_pages(spark, 2000).withColumn("host", F.regexp_extract("url", r"https://([^/]+)/", 1))
    counts = sorted((r["count"] for r in df.groupBy("host").count().collect()), reverse=True)
    assert sum(counts[:10]) > 0.5 * 2000

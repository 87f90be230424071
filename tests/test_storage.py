"""Storage layout contracts: partition pruning + exchange-free
bucketed joins (the paid-once-shuffle property)."""

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from webdq import storage


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_partitioned_write_prunes(spark, tmp_path):
    path = str(tmp_path / "part")
    df = spark.range(0, 2000, 1, 4).select(
        F.col("id").alias("doc_id"),
        F.element_at(F.array(F.lit("web"), F.lit("news"), F.lit("wiki")), (F.col("id") % 3 + 1).cast("int")).alias("source"),
        (F.col("id") * 7 % 100).alias("score"),
    )
    storage.write_partitioned(df, path, ["source"])
    back = storage.read_partitioned(spark, path).filter(F.col("source") == "news")
    # planning-time pruning: the partition filter reaches the scan node
    plan = _plan(back.groupBy().agg(F.count(F.lit(1)).alias("n")))
    assert "PartitionFilters" in plan and "news" in plan
    assert back.count() == df.filter("source = 'news'").count()
    # values survive the layout roundtrip
    a = back.orderBy("doc_id").select("doc_id", "score").collect()
    b = df.filter("source = 'news'").orderBy("doc_id").select("doc_id", "score").collect()
    assert a == b


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed by the join key into the same bucket count
    must join with NO Exchange on either side — the write-time shuffle
    amortizes across every downstream keyed operation."""
    spark.sql("DROP TABLE IF EXISTS wdq_bucket_a")
    spark.sql("DROP TABLE IF EXISTS wdq_bucket_b")
    a = spark.range(0, 5000, 1, 4).select(F.col("id").alias("doc_id"), (F.col("id") % 97).alias("fa"))
    b = spark.range(0, 5000, 1, 4).select(F.col("id").alias("doc_id"), (F.col("id") % 31).alias("fb"))
    storage.write_bucketed(a, "wdq_bucket_a", "doc_id", n_buckets=8, sort_col="doc_id")
    storage.write_bucketed(b, "wdq_bucket_b", "doc_id", n_buckets=8, sort_col="doc_id")
    ta = spark.table("wdq_bucket_a")
    tb = spark.table("wdq_bucket_b")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force a shuffle-class join
    try:
        joined = ta.join(tb, "doc_id").select("doc_id", "fa", "fb")
        plan = _plan(joined)
        assert "Exchange" not in plan, "bucketed join must not reshuffle"
        assert joined.count() == 5000
        got = dict((r["doc_id"], (r["fa"], r["fb"])) for r in joined.collect())
        assert got[123] == (123 % 97, 123 % 31)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS wdq_bucket_a")
        spark.sql("DROP TABLE IF EXISTS wdq_bucket_b")


def test_spread_scan_sizes_percent_encoded_path(spark, tmp_path):
    """The bytes cap sizes the input through the Hadoop FileSystem:
    ``inputFiles`` returns percent-encoded URIs (a space becomes %20),
    so a directory name with a space must still be sized and a small
    single-file input must keep its one scan partition."""
    path = str(tmp_path / "dir with space" / "t.parquet")
    spark.range(0, 20_000, 1, 1).select(F.sha2(F.col("id").cast("string"), 256).alias("s")).write.parquet(path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 1
    assert storage.spread_scan(df, min_split_bytes=10 * 1024 * 1024).rdd.getNumPartitions() == 1
    # the size read is real: a 1-byte cap spreads to full width
    full = spark.sparkContext.defaultParallelism
    assert storage.spread_scan(df, min_split_bytes=1).rdd.getNumPartitions() == full

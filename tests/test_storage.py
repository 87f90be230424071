"""Storage contracts: partition pruning, scan sizing and the declared
schemas of the contract tables."""

import io
import re
from contextlib import redirect_stdout
from pathlib import Path

from pyspark.sql import functions as F

from perfbench import inputs
from webdq import storage


def _fixture_dirs() -> list[str]:
    """The contract-table directories TESTDATA.md documents, one per
    scale factor."""
    text = (Path(__file__).resolve().parent.parent / "TESTDATA.md").read_text()
    return re.findall(r"`([^`]+/sf[0-9.]+)/`", text)


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
    back = spark.read.parquet(path).filter(F.col("source") == "news")
    # planning-time pruning: the partition filter reaches the scan node
    plan = _plan(back.groupBy().agg(F.count(F.lit(1)).alias("n")))
    assert "PartitionFilters" in plan and "news" in plan
    assert back.count() == df.filter("source = 'news'").count()
    # values survive the layout roundtrip
    a = back.orderBy("doc_id").select("doc_id", "score").collect()
    b = df.filter("source = 'news'").orderBy("doc_id").select("doc_id", "score").collect()
    assert a == b


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


def test_declared_schemas_equal_spark_inference(spark, tmp_path):
    """Every declared schema is the one Spark infers from the files, at
    each fixture scale factor and for the benchmark generator's tables
    (perfbench.inputs, written as the benchmark writes them)."""
    gen = str(tmp_path / "gen")
    inputs.write_tables(inputs.sf_tables(1, 0.001), gen)
    dirs = _fixture_dirs()
    assert len(dirs) == 3
    for d in [*dirs, gen]:
        for name, ddl in storage.TABLE_SCHEMAS.items():
            assert spark.read.parquet(f"{d}/{name}.parquet").schema.toDDL() == ddl, (d, name)


def test_read_table_runs_no_spark_job(spark):
    """A contract-table read under its declared schema plans without a
    schema-inference job; a bare spark.read.parquet runs one per read."""
    sc = spark.sparkContext
    sc.setJobGroup("read-table", "read-table")
    try:
        for d in _fixture_dirs():
            for name, ddl in storage.TABLE_SCHEMAS.items():
                df = storage.read_table(spark, d, name)
                assert df.schema.toDDL() == ddl
                df._jdf.queryExecution().executedPlan()  # plan the scan too
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("read-table")) == []

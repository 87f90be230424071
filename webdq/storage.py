"""Contract-table reads, storage layout and scan-width operators.

The reference's stages are flat CSV/HDF5 files (analysis_tasks.py
to_csv/to_hdf at every boundary). At 100 TB the LAYOUT of a stage
table is a first-class operator:

- ``write_partitioned`` — hive-style directory partitioning. A filter
  on the partition column prunes entire directories at planning time
  (`PartitionFilters` in the scan node): a per-crawl / per-language
  layout means a single-language query reads that language only.
  Tests and q49 read the layout back with ``spark.read.parquet`` and
  assert the pruning, so a layout regression fails loudly.
- ``spread_scan`` — restores scan-side parallelism for under-split
  inputs (one round-robin repartition when the physical scan has
  fewer partitions than the session has cores).
- ``read_table`` — reads one of the fixed contract tables (TESTDATA.md)
  under its declared schema (``TABLE_SCHEMAS``), the way table formats
  that keep the schema in table metadata do. A bare
  ``spark.read.parquet`` infers the schema from the file footers in a
  one-task Spark job that the read waits for, once per read; a
  declared schema skips that job. Each DDL string equals Spark's own
  inference over the fixtures and the benchmark generator's tables
  (tests/test_storage.py checks both). Trade-off: a file that lacks a
  declared column reads it as NULL instead of raising.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# one DDL per contract table, equal to spark.read.parquet(...).schema.toDDL()
TABLE_SCHEMAS = {
    "region": "r_regionkey INT,r_name STRING",
    "nation": "n_nationkey INT,n_name STRING,n_regionkey INT",
    "customer": "c_custkey BIGINT,c_name STRING,c_nationkey INT,c_acctbal DOUBLE,c_mktsegment STRING",
    "supplier": "s_suppkey BIGINT,s_name STRING,s_nationkey INT,s_acctbal DOUBLE",
    "part": "p_partkey BIGINT,p_name STRING,p_brand STRING,p_type STRING,p_size INT,p_retailprice DOUBLE",
    "orders": (
        "o_orderkey BIGINT,o_custkey BIGINT,o_orderstatus STRING,o_totalprice DOUBLE,"
        "o_orderdate TIMESTAMP_NTZ,o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT,l_partkey BIGINT,l_suppkey BIGINT,l_linenumber INT,l_quantity DOUBLE,"
        "l_extendedprice DOUBLE,l_discount DOUBLE,l_tax DOUBLE,l_returnflag STRING,l_linestatus STRING,"
        "l_shipdate TIMESTAMP_NTZ"
    ),
    "events": "event_id BIGINT,ts TIMESTAMP_NTZ,user_id BIGINT,event_type STRING,value DOUBLE,props STRING",
    "documents": "doc_id BIGINT,text STRING,lang STRING,source STRING,n_chars BIGINT",
    "embeddings": "vec_id BIGINT,embedding ARRAY<FLOAT>,label INT",
}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Contract table ``name`` under ``sf_dir``, read under its declared
    schema: no schema-inference job."""
    return spark.read.schema(TABLE_SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Hive-style partitioned parquet, overwriting ``path``: one
    directory per distinct partition-column tuple. Keep partition
    columns LOW-cardinality (crawl id, language, source) — a
    high-cardinality partition column creates millions of tiny files,
    the classic small-files failure."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def spread_scan(df: DataFrame, min_split_bytes: int | None = None) -> DataFrame:
    """Restore scan-side parallelism for under-split inputs.

    An unsplittable or under-split input — a single-row-group parquet
    file, a gzip text shard, one giant file — yields fewer scan
    partitions than the session has cores, so every per-row operator
    downstream (shingle explode + hashing, Arrow UDF scoring, cosine
    arithmetic) runs on a handful of tasks regardless of cluster
    width (the optimization guide's "input skew" case, §2.5). A
    round-robin repartition to the session's default parallelism costs
    one shuffle of the base rows (small: the rows have not been
    exploded/derived yet) and makes the map side use every core.

    Scale-adaptive by construction: the condition reads the ACTUAL
    physical scan partitioning, so a real corpus scan (thousands of
    splits) is untouched and pays nothing — this is a mitigation for
    degenerate inputs, not a constant tuned to any fixture or core
    count.

    ``min_split_bytes`` optionally caps the spread width by the
    scanned file bytes (target ≤ bytes / min_split_bytes): operators
    that run MANY short jobs over the spread frame (the pipeline's
    probe/fit/Lloyd sequence) pay per-job scheduling for every
    partition, so shredding a small input to full core width makes
    the latency-bound regime strictly worse (measured: the sf0.1
    pipeline reads ~6.8 s at a bytes-scaled width vs ~8.6 s at full
    32-wide, identical at the 10× input). Compute-dense single-pass
    operators (shingle hashing, cosine math) omit it and take the
    full width. The bytes are read through the Hadoop FileSystem of
    each input URI (``inputFiles`` returns percent-encoded URIs), so
    the cap holds for any scheme the session can read.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if min_split_bytes:
        jvm = sc._jvm
        conf = sc._jsc.hadoopConfiguration()
        total = 0
        for f in df.inputFiles():
            path = jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI.create(f))
            total += path.getFileSystem(conf).getFileStatus(path).getLen()
        target = max(1, min(target, int(total // int(min_split_bytes))))
    if 1 < target > df.rdd.getNumPartitions():
        return df.repartition(target)
    return df

"""Quality-filter cascade with per-rule accounting — the pipeline
observability layer every published web corpus reports (C4 table 1,
Gopher figure A1, FineWeb's per-step removal rates): an ORDERED list
of drop rules is evaluated in one pass, every document is attributed
to the FIRST rule it trips (cascade semantics — downstream rules never
see it, so their counts mean "dropped AT this stage"), and the stats
table reports per-stage dropped / surviving counts.

Shape: all rule predicates are native Column expressions evaluated in
ONE projection; attribution is a single CASE chain; the stats are one
map-side-combined groupBy over the attribution label (≤ n_rules + 1
rows) plus a driver-free running subtraction over that tiny table. At
10^12 docs this adds nothing beyond the scan itself.

Reference analog: the reference logs per-step record counts in its
Luigi tasks (SURVEY.md §2 S6 JSON reports); the cascade makes those
counts a first-class, oracle-checkable output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _attribution(rules) -> F.Column:
    """First-tripped-rule label, null when no rule fires."""
    expr = None
    for name, pred in rules:
        expr = F.when(pred, F.lit(name)) if expr is None else expr.when(pred, F.lit(name))
    return expr.otherwise(F.lit(None)) if expr is not None else F.lit(None).cast("string")


def cascade_stats(df: DataFrame, rules: list) -> DataFrame:
    """Per-stage accounting table: (stage_idx, stage, n_dropped,
    n_remaining) in rule order, with a final 'kept' row
    (stage_idx = n_rules, n_dropped = 0, n_remaining = survivors).
    n_remaining after stage i = total − Σ dropped through stage i —
    computed with a window over the ≤ n_rules+1-row stats table, not
    over the data."""
    if not rules:
        raise ValueError("rules must be non-empty")
    names = [n for n, _ in rules]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate rule names in {names}")
    if "kept" in names:
        raise ValueError("'kept' is a reserved stage name")
    idx = {n: i for i, n in enumerate(names)}
    attr = _attribution(rules)
    counts = (
        df.select(F.coalesce(attr, F.lit("kept")).alias("stage"))
        .groupBy("stage")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spark = df.sparkSession
    order = spark.createDataFrame(
        [(i, n) for n, i in idx.items()] + [(len(names), "kept")],
        "stage_idx int, stage string",
    )
    w = Window.orderBy("stage_idx").rowsBetween(Window.unboundedPreceding, 0)
    total = Window.partitionBy()
    return (
        order.join(counts, "stage", "left")
        .withColumn("_n", F.coalesce(F.col("n"), F.lit(0)))
        .withColumn(
            "n_dropped",
            F.when(F.col("stage") == "kept", F.lit(0)).otherwise(F.col("_n")),
        )
        .withColumn(
            "n_remaining",
            F.sum("_n").over(total) - F.sum("n_dropped").over(w),
        )
        .select(
            "stage_idx",
            "stage",
            F.col("n_dropped").cast("bigint").alias("n_dropped"),
            F.col("n_remaining").cast("bigint").alias("n_remaining"),
        )
    )

"""Normalization: ECDF, min-max (SURVEY.md §2.4/2.5/2.7).

Reference semantics being preserved:
- ECDF u_* columns (W5): /root/reference/osmdq/utils.py:521-541 —
  ECDF(x) = P(X <= x), i.e. SQL ``cume_dist`` over a global order.
- min-max (M1): webdq.ml.minmax_scale.

Scale note (the part that matters at 10^12 rows): a naive
``cume_dist() OVER (ORDER BY x)`` is a single-partition global sort.
``ecdf`` below is EXACT and parallel. Low-cardinality columns become a
broadcast (value → ECDF) map built from one value-count aggregation.
For each high-cardinality column a one-pass ``percentile_approx``
sketch picks range-bucket boundaries, rows get a bucket id with a pure
expression, per-bucket cumulative offsets (≤ 4096 rows per column)
come from the same fused count aggregation and are broadcast back, and
the within-bucket "count of rows ≤ x" is a RANGE-frame window
partitioned BY BUCKET — every partition sorts independently.
ECDF = (offset + within) / N, an exact integer ratio.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .ml import observe_row, sql_col, sql_lit

# ecdf's percentile-sketch accuracy is 1/_REL_ERR; high-cardinality
# columns get n_rows/_ROWS_PER_BUCKET range buckets, clamped to
# [_MIN_BUCKETS, _MAX_BUCKETS]
_REL_ERR = 0.01
_MIN_BUCKETS = 64
_MAX_BUCKETS = 4096
_ROWS_PER_BUCKET = 1_000_000


def bucket_expr(col: str, bs: list[float], lo: int, hi: int) -> str:
    """SQL text of the bucket id of ``col`` (SQL text): lo + the number
    of boundaries in ``bs[lo:hi]`` (sorted) strictly below it, as a
    balanced CASE-WHEN binary-search tree — codegen'd, ≤ log2(B)
    compares, where an array-filter HOF is interpreted and re-evaluated
    per reference. Equal values always land in the same bucket; null
    comparisons fall through every WHEN → bucket ``lo`` (nulls lowest).
    One string: the tree costs one ``F.expr`` at any bucket count."""
    if lo >= hi:
        return str(lo)
    mid = (lo + hi) // 2
    return (
        f"CASE WHEN {col} > {sql_lit(bs[mid])} THEN {bucket_expr(col, bs, mid + 1, hi)}"
        f" ELSE {bucket_expr(col, bs, lo, mid)} END"
    )


def ecdf_naive(df: DataFrame, cols: list[str], prefix: str = "u_") -> DataFrame:
    """cume_dist over a global window — correct, but single-partition
    sort per column. Kept as the small-data reference implementation
    that ``ecdf`` is tested against."""
    out = df
    for c in cols:
        out = out.withColumn(prefix + c.removeprefix("n_"), F.cume_dist().over(Window.orderBy(F.col(c))))
    return out


def ecdf(
    df: DataFrame,
    cols: list[str],
    prefix: str = "u_",
    low_card_threshold: int = 65536,
    probe_buckets: int = 256,
    stats_out: dict | None = None,
) -> DataFrame:
    """Exact, parallel ECDF for every column in ``cols``. Output column
    name: ``prefix + col`` (n_ stripped, matching the reference's
    n_* → u_* renaming, /root/reference/osmdq/utils.py:540-541).

    Two strategies, chosen per column:
    - LOW-cardinality columns (≤ ``low_card_threshold`` distinct — int
      counts, bounded ratios): one value-count aggregation, cumulative
      sum on the driver, broadcast-joined (value → ecdf) map. Zero
      shuffles of the big table, scales linearly. At 10^12 docs a
      bounded feature like n_words stays low-cardinality forever.
    - HIGH-cardinality columns (continuous scores): the per-column
      bucketed window below. The bucket count scales with input size —
      max(64, n/1M), capped at 4096 — so a per-bucket window partition
      stays ≤ ~1M rows at any input scale instead of n/64.
    Both are exact: ECDF(x) = count(X ≤ x)/N. Nulls rank lowest and
    tie (cume_dist semantics) on every path.

    Two driver round-trips, regardless of feature count (they are the
    non-scaling cost at high parallelism): the probe fuses row count +
    per-column cardinality + bucket boundaries into ONE observed
    single-stage job (ml.observe_row); the counts fuse the low-card
    value counts AND the high-card per-bucket counts into one melted
    aggregation (a shuffle-map job plus a result job under AQE). The
    driver-built lookup tables are ``pyarrow.Table``s: createDataFrame
    takes them through Arrow with no Python worker, so broadcasting
    one is a plain JVM job. All low-card columns share ONE lookup
    table ``(_f, _v, _u)`` (column index, value, ecdf), joined per
    column on ``struct(i, value)``, so the per-column broadcasts are
    one reused exchange: one broadcast job, not one per column.

    Sketch precision (``_REL_ERR``, ``probe_buckets``) affects only
    bucket BALANCE, never exactness — ECDF values are exact integer
    ratios on every path. The defaults keep the probe cheap (a
    256-point accuracy-100 percentile sketch; measured −25% on the
    headline ECDF query vs the old 1024/1000 probe); when the
    auto-scaled bucket count outgrows the probe grid (≳256M rows) the
    full-resolution re-probe below restores the grid. ``probe_buckets``
    is an internal knob: tests shrink it to exercise the re-probe path
    at small scale.

    Every expression it builds is SQL text (ml.sql_col, ml.sql_lit):
    the probe's aggregate list, with each column's fractions as ONE
    array literal, the bucket trees, and the lookup joins with their
    null fill. A warm build of the pipeline's 4-column ECDF sends ~250
    py4j commands, where a Column costs ~11-13 per call and a Python
    list of fractions one ``lit`` each."""
    def pct(c: str, n: int) -> str:
        # the n-quantile grid of c: ONE array literal of the fractions
        # i/n, 0 < i < n (a Python list would cost a py4j `lit` each)
        qs = ", ".join(sql_lit(i / n) for i in range(1, n))
        return f"percentile_approx({sql_col(c)}, array({qs}), {int(1 / _REL_ERR)}) AS {sql_col('pct_' + c)}"

    # cardinality rsd 0.05 (not 0.02): the estimate only picks the
    # low/high PATH per column — both paths produce exact ECDF values,
    # so precision here buys nothing, while the HLL register width it
    # implies dominated the probe job (measured 1.23 s → 0.30 s on the
    # 4-feature pipeline probe; the 0.9 threshold margin below absorbs
    # the ±5% estimate error for the path decision)
    probe = observe_row(
        df.select(*cols),
        "count(1) AS _n",
        *[f"approx_count_distinct({sql_col(c)}, 0.05D) AS {sql_col('card_' + c)}" for c in cols],
        *[pct(c, probe_buckets) for c in cols],
    )
    n_rows = int(probe["_n"])
    if stats_out is not None:
        # exact input count, free metadata from the probe — lets the
        # downstream PCA/KMeans fit fuse its init sample into its own
        # scan (``stats_out`` because the return type stays DataFrame)
        stats_out["n_rows"] = n_rows
    if n_rows == 0:
        out = df
        for c in cols:
            out = out.withColumn(prefix + c.removeprefix("n_"), F.lit(None).cast("double"))
        return out
    n_buckets = max(_MIN_BUCKETS, min(_MAX_BUCKETS, n_rows // _ROWS_PER_BUCKET))
    low = [c for c in cols if int(probe[f"card_{c}"]) <= low_card_threshold * 0.9]
    high = [c for c in cols if c not in low]

    probe_vals = {c: probe[f"pct_{c}"] for c in high}
    if high and n_buckets > probe_buckets:
        # The initial probe grid is too coarse for the auto-scaled
        # bucket count (only reachable past ~1e9 rows): re-probe the
        # percentile sketch at full resolution for the continuous
        # columns — one extra scan, amortized by the input size that
        # triggers it. Without this the documented 4096 cap was
        # unreachable (fixed 1024-grid) and per-bucket window
        # partitions silently grew ~4× past the ~1M-row design bound
        # (ADVICE r2).
        probe2 = observe_row(df.select(*high), *[pct(c, n_buckets) for c in high])
        probe_vals = {c: probe2[f"pct_{c}"] for c in high}
        probe_buckets = n_buckets

    # subsample the probed percentile grid down to the working bucket
    # count (the probe always fetches a superset grid)
    step = max(1, probe_buckets // n_buckets)
    bounds = {}
    for c in high:
        grid = [float(x) for x in (probe_vals[c] or [])]
        bounds[c] = sorted(set(grid[step - 1 :: step]))

    # fused counts job: melt EVERY ecdf column once; low-card columns
    # group by raw value, high-card by bucket id. One aggregation
    # replaces the former value-count job + bucket-count job.
    stack_all = ", ".join(f"'{c}', CAST({sql_col(c)} AS DOUBLE)" for c in cols)
    melted = df.select(F.expr(f"stack({len(cols)}, {stack_all}) as (_f, _v)"))
    g = "_v"
    for c in high:
        g = f"CASE WHEN _f = '{c}' THEN CAST({bucket_expr('_v', bounds[c], 0, len(bounds[c]))} AS DOUBLE) ELSE {g} END"
    # Driver-size bound of this collect: low-card columns contribute
    # ≤ low_card_threshold rows each, high-card ≤ n_buckets (4096 cap)
    # — worst case low_card_threshold × n_cols ≈ 65k × #features. With
    # the default threshold and a ~dozen-feature pipeline that is a
    # few-hundred-k-row / few-MB collect; callers raising
    # ``low_card_threshold`` (a public parameter) scale this collect
    # linearly and should keep threshold × n_cols ≲ 10M.
    fused = (
        melted.groupBy("_f", F.expr(f"{g} AS _g"))
        .agg(F.expr("count(1) AS cnt"))
        .collect()
    )
    by_col: dict[str, list] = {c: [] for c in cols}
    for r in fused:
        by_col[r["_f"]].append((r["_g"], int(r["cnt"])))

    spark = df.sparkSession
    out = df
    # every low-card column's (value → ecdf) map in ONE lookup table
    # (_f = column index); see the join below
    fs, vals, ranks, n_null = [], [], [], {}
    for i, c in enumerate(low):
        # nulls sort FIRST (cume_dist semantics: nulls are the
        # lowest peer group) so non-null ranks count them below
        counts = sorted(by_col[c], key=lambda t: (t[0] is not None, t[0] if t[0] is not None else 0.0))
        n_null[c] = sum(cnt for v, cnt in counts if v is None)
        acc = 0
        for v, cnt in counts:
            acc += cnt
            if v is not None:
                fs.append(i)
                vals.append(float(v))
                ranks.append(acc / n_rows)
    if low:
        dim = F.broadcast(
            spark.createDataFrame(
                pa.table({
                    "_f": pa.array(fs, pa.int32()),
                    "_v": pa.array(vals, pa.float64()),
                    "_u": pa.array(ranks, pa.float64()),
                })
            )
        )
    for i, c in enumerate(low):
        u = prefix + c.removeprefix("n_")
        # One struct key per column: every join's build side is the
        # same (_f, _v) table, so the broadcast exchanges canonicalize
        # as equal and AQE reuses one broadcast. A separate `_f = i`
        # predicate would be pushed into the build side as a filter
        # and make each exchange distinct.
        key = f"struct({i} AS _f, CAST({sql_col(c)} AS DOUBLE) AS _v) = struct(_f, _v)"
        rest = [sql_col(x) for x in out.columns if x != c]
        out = out.join(dim, F.expr(key), "left").selectExpr(sql_col(c), *rest, f"_u AS {sql_col(u)}")
        if n_null[c]:
            # null inputs don't equi-join: fill their cume_dist value
            fill = sql_lit(n_null[c] / n_rows)
            out = out.withColumn(u, F.expr(f"CASE WHEN {sql_col(c)} IS NULL THEN {fill} ELSE {sql_col(u)} END"))

    # Per column: bucket-assign on the wide frame itself,
    # broadcast-join the (bucket → cumulative offset) dim, and run ONE
    # RANGE-frame window partitioned by bucket, so every bucket sorts
    # independently. The chained windows pipeline as
    # shuffle→sort→shuffle→sort inside a single job.
    for c in high:
        bucket_counts = {int(gv): cnt for gv, cnt in by_col[c]}
        n_total = sum(bucket_counts.values())
        bkts = sorted(bucket_counts)
        offs, acc = [], 0
        for bkt in bkts:
            offs.append(acc)
            acc += bucket_counts[bkt]
        u = prefix + c.removeprefix("n_")
        bcol, ocol, ncol = f"_b_{u}", f"_below_{u}", f"_nf_{u}"
        out = out.withColumn(bcol, F.expr(bucket_expr(sql_col(c), bounds[c], 0, len(bounds[c]))))
        off_df = spark.createDataFrame(
            pa.table({
                bcol: pa.array(bkts, pa.int32()),
                ocol: pa.array(offs, pa.int64()),
                ncol: pa.array([n_total] * len(bkts), pa.int64()),
            })
        )
        out = out.join(F.broadcast(off_df), bcol)
        w = (
            Window.partitionBy(bcol)
            .orderBy(F.col(c))
            .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = out.withColumn(
            u,
            (F.col(ocol) + F.count(F.lit(1)).over(w)).cast("double") / F.col(ncol).cast("double"),
        ).drop(bcol, ocol, ncol)
    return out


def winsorize(
    df: DataFrame,
    cols: list[str],
    lower: float = 0.05,
    upper: float = 0.95,
    suffix: str = "_w",
) -> DataFrame:
    """Winsorization: clip each column to its EXACT [lower, upper]
    corpus percentiles — the standard outlier guard applied to
    heuristic quality features (length, symbol density, perplexity)
    before they feed normalization/ML, where a single 2 GB page would
    otherwise own the scale.

    Shape: ALL bounds come from ONE single-row aggregate (Spark's
    exact ``percentile`` with linear interpolation — the same
    arithmetic as DuckDB ``quantile_cont`` and numpy
    ``percentile(method='linear')``), broadcast back via a 1-row
    crossJoin; the clip itself is a pure projection. Nulls are ignored
    by the percentile and propagate through the clip (CASE, not
    least/greatest — Spark's least/greatest SKIP nulls, which would
    silently clamp a null to a bound). Two jobs total regardless of
    len(cols); at 10^12 rows swap ``percentile`` for
    ``percentile_approx`` if a sketch bound is acceptable.

    Reference analog: the reference's v10/v90 per-group quantile
    features (SURVEY.md §2 A6, utils.py extreme-value handling),
    applied corpus-wide as a clip instead of a feature."""
    if not 0.0 <= lower <= upper <= 1.0:
        raise ValueError(f"need 0 <= lower <= upper <= 1, got {lower}/{upper}")
    aggs = []
    for c in cols:
        aggs.append(F.percentile(F.col(c), F.lit(float(lower))).alias(f"_{c}_lo"))
        aggs.append(F.percentile(F.col(c), F.lit(float(upper))).alias(f"_{c}_hi"))
    bounds = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(bounds))
    for c in cols:
        lo, hi = F.col(f"_{c}_lo"), F.col(f"_{c}_hi")
        out = out.withColumn(
            c + suffix,
            F.when(F.col(c) < lo, lo).when(F.col(c) > hi, hi).otherwise(F.col(c)),
        )
    return out.drop(*[f"_{c}_{s}" for c in cols for s in ("lo", "hi")])

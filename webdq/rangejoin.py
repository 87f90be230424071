"""Non-equi containment joins: bucketed interval join (1-D temporal),
grid-bucketed bbox join (2-D spatial) + sessionization.

The reference's one theta join is spatial containment
(/root/reference/osmdq/geom_tasks.py:201-215, osm_carroying.sql:5-17 —
ST_Intersects point-in-polygon). Its general shape — "row r matches
interval i when a continuous key of r falls inside i's range" — is
re-expressed here Spark-first for the temporal axis (the web-corpus
analog: events inside incident/session windows):

- ``interval_join``: a genuine range join ``start <= ts <= end``
  executed as a bounded-fanout EQUI-join: both sides are bucketed on
  ``floor(time / bucket_width)``; an interval explodes to the buckets
  it covers (fanout = span/width + 1, bounded), the probe row has
  exactly ONE bucket, and the true inequality predicate refines the
  bucket candidates. Each (row, interval) pair is emitted at most once
  WITHOUT dedup: the interval's covered buckets are distinct and the
  row joins on its single bucket. No CartesianProduct, no
  BroadcastNestedLoopJoin — plan-audited (!Cartesian).
- ``bbox_join``: the same bucket-equi-join + refine pattern on TWO
  axes — the same-dimensionality analog of the reference's 2-D
  ST_Intersects theta join (a box explodes to its covered grid
  cells, a point has one cell, the 4-edge predicate refines).
- ``sessionize``: gap-based sessions per key — the classic streaming/
  clickstream operator as one window pass: lag(ts) per key, flag gaps
  beyond the threshold, running sum of flags = session index.

Scale notes (10^12 events): the bucket join shuffles on a uniform
time-bucket key (time is naturally balanced; a thundering-herd second
can be salted by appending a hash-mod column to both sides).
Sessionize is one shuffle on
the session key — the same partitioning any per-user downstream agg
reuses.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _us(col: Column) -> Column:
    """Integer-µs epoch from a (NTZ) timestamp — exact arithmetic, no
    float rounding at the bucket boundary."""
    return F.unix_micros(col.cast("timestamp"))


def interval_join(
    rows: DataFrame,
    intervals: DataFrame,
    ts_col: str,
    start_col: str,
    end_col: str,
    bucket_width_s: float = 600.0,
    on: list[str] | None = None,
) -> DataFrame:
    """All (row, interval) pairs with ``start <= ts <= end`` (closed on
    both ends), plus optional extra equi-keys ``on``.

    Output: every column of ``rows`` then every column of
    ``intervals`` (callers alias collisions away first). Intervals
    with ``end < start`` match nothing (consistent with the SQL
    predicate). Pick ``bucket_width_s`` near the typical span so
    fanout stays ~2."""
    w_us = int(bucket_width_s * 1_000_000)
    if w_us <= 0:
        raise ValueError(
            f"bucket_width_s must be >= 1 microsecond, got {bucket_width_s!r}"
        )
    on = on or []

    r = rows.withColumn("_bkt", F.floor(_us(F.col(ts_col)) / F.lit(w_us)))
    sb = F.floor(_us(F.col(start_col)) / F.lit(w_us))
    eb = F.floor(_us(F.col(end_col)) / F.lit(w_us))
    iv = intervals.filter(F.col(end_col) >= F.col(start_col))
    iv = iv.withColumn("_bkt", F.explode(F.sequence(sb, eb)))

    joined = r.join(iv, ["_bkt", *on]).filter(
        (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) <= F.col(end_col))
    )
    return joined.drop("_bkt")


def bbox_join(
    points: DataFrame,
    boxes: DataFrame,
    x_col: str,
    y_col: str,
    xmin_col: str = "xmin",
    xmax_col: str = "xmax",
    ymin_col: str = "ymin",
    ymax_col: str = "ymax",
    cell_w: float = 1.0,
    cell_h: float = 1.0,
    on: list[str] | None = None,
    max_span_cells: int | None = None,
) -> DataFrame:
    """2-D containment join: all (point, box) pairs with
    ``xmin <= x <= xmax AND ymin <= y <= ymax`` (closed on all four
    edges) — the same-dimensionality re-expression of the reference's
    ST_Intersects point-in-polygon theta join
    (/root/reference/osmdq/geom_tasks.py:201-215,
    osm_carroying.sql:5-17), generalizing ``interval_join`` from one
    bucket axis to two.

    Execution is a bounded-fanout EQUI-join on the (cell_x, cell_y)
    grid key: a box explodes to the grid cells its rectangle covers
    (fanout = (xspan/cell_w + 1) · (yspan/cell_h + 1)), the point
    lands in exactly ONE cell, and the true 4-edge predicate refines
    the cell candidates. Each pair is emitted at most once WITHOUT
    dedup: a box's covered cells are distinct and the point joins on
    its single cell. No CartesianProduct, no BroadcastNestedLoopJoin.

    ``max_span_cells`` DROPS boxes whose covered-cell count reaches
    the cap — the disclosed skew guard for degenerate rectangles;
    pick cell sizes
    near the typical box span so fanout stays ~4. Boxes with
    ``xmax < xmin`` or ``ymax < ymin`` match nothing (consistent with
    the SQL predicate). Coordinates are compared as doubles; floor
    division on IEEE doubles is deterministic, so any engine replays
    the same cells.

    Scale notes (10^12 points): shuffle keys are grid cells — spatial
    skew concentrates in hot cells, which the cell sizing (and, for
    adversarial data, salting the point side within a hot cell) keeps
    bounded; the box side after explode stays ≤ fanout × #boxes rows."""
    for w, name in ((cell_w, "cell_w"), (cell_h, "cell_h")):
        if not w > 0:
            raise ValueError(f"{name} must be > 0, got {w!r}")
    on = on or []

    def cell(c: Column, width: float) -> Column:
        return F.floor(c.cast("double") / F.lit(float(width)))

    p = points.withColumn("_cx", cell(F.col(x_col), cell_w)).withColumn(
        "_cy", cell(F.col(y_col), cell_h)
    )
    bx0, bx1 = cell(F.col(xmin_col), cell_w), cell(F.col(xmax_col), cell_w)
    by0, by1 = cell(F.col(ymin_col), cell_h), cell(F.col(ymax_col), cell_h)
    bv = boxes.filter(
        (F.col(xmax_col) >= F.col(xmin_col)) & (F.col(ymax_col) >= F.col(ymin_col))
    )
    if max_span_cells is not None:
        bv = bv.filter((bx1 - bx0 + 1) * (by1 - by0 + 1) < F.lit(int(max_span_cells)))
    bv = bv.withColumn("_cx", F.explode(F.sequence(bx0, bx1))).withColumn(
        "_cy", F.explode(F.sequence(by0, by1))
    )

    joined = p.join(bv, ["_cx", "_cy", *on]).filter(
        (F.col(x_col) >= F.col(xmin_col))
        & (F.col(x_col) <= F.col(xmax_col))
        & (F.col(y_col) >= F.col(ymin_col))
        & (F.col(y_col) <= F.col(ymax_col))
    )
    return joined.drop("_cx", "_cy")


def sessionize(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_s: float = 1800.0,
    order_cols: list[str] | None = None,
    out: str = "session_id",
) -> DataFrame:
    """Append a per-key session index (1-based): a new session starts
    at the first event and whenever the gap to the previous event
    exceeds ``gap_s``. ``order_cols`` break timestamp ties
    deterministically. One shuffle (the per-key window)."""
    gap_us = int(gap_s * 1_000_000)
    order = [F.col(ts_col), *[F.col(c) for c in (order_cols or [])]]
    w = Window.partitionBy(key_col).orderBy(*order)
    prev = F.lag(F.col(ts_col)).over(w)
    new_sess = F.when(
        prev.isNull() | (_us(F.col(ts_col)) - _us(prev) > F.lit(gap_us)), F.lit(1)
    ).otherwise(F.lit(0))
    run = Window.partitionBy(key_col).orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(out, F.sum(new_sess).over(run))

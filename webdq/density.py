"""Density clustering: distributed DBSCAN (SURVEY.md §2.8 M10).

Reference analog: /root/reference/demo/DBScan.ipynb (sklearn DBSCAN
over user features — notebooks only). Re-expressed Spark-first for
low-dimensional (d ≤ 3) feature spaces:

- eps-grid bucketing turns the range query into an EQUI-join on
  neighboring cells (the same J8 grid technique as q41): cell side =
  eps ⇒ every true neighbor pair shares or adjoins a cell, so the
  candidate join probes the 3^d neighbor cells and never goes
  all-pairs.
- core flags are one aggregation over the neighbor pairs.
- connected components over the core graph run as iterative MIN-LABEL
  propagation with PATH HALVING (each round: one edge join + one
  aggregation + one pointer-jump join), converging in ~log(diameter)
  rounds instead of diameter rounds.
- border points take the MINIMUM component label among their core
  neighbors — a deterministic variant of classic DBSCAN's
  arrival-order border assignment (tests and the q46 oracle mirror
  the same rule). Noise → cluster NULL.

Scale notes (10^12 points): candidate pairs are bounded by grid-cell
occupancy (a dense cell of m points contributes m² pairs; no cell is
capped); propagation state is one long per CORE point; every step is an
equi-join or hash aggregation. For adversarial component diameters
swap min-propagation for large-star/small-star — identical join
shapes. DBSCAN itself: Ester/Kriegel/Sander/Xu, KDD '96 (public).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webdq.graph import connected_components
from webdq.ml import sql_sum


def dbscan(
    df: DataFrame,
    cols: list[str],
    eps: float,
    min_pts: int,
    key_col: str,
    eager: bool = True,
) -> DataFrame:
    """DBSCAN over the numeric columns ``cols`` (1 ≤ d ≤ 3).

    Returns one row per input point: (key_col, cluster, is_core) where
    ``cluster`` is the minimum core-point key of the component (NULL
    for noise). ``key_col`` must be integral — the key doubles as the
    propagation label. ``min_pts`` counts the point itself (sklearn
    convention).

    ``eager`` (default) materializes the result (localCheckpoint) so
    every intermediate cache can be released before returning — the
    algorithm is already eager (one driver scalar per propagation
    round). ``eager=False`` keeps the output PLAN lazy (no persists to
    leak, slower border recompute) — used by the plan audit, which
    must see the grid equi-join shape rather than a checkpoint scan."""
    d = len(cols)
    if not 1 <= d <= 3:
        raise ValueError(f"dbscan supports 1-3 dims (grid fanout 3^d); got {d}")
    eps2 = eps * eps
    spark = df.sparkSession

    pts = df.select(
        F.col(key_col).cast("long").alias("_id"),
        *[F.col(c).cast("double").alias(f"_x{i}") for i, c in enumerate(cols)],
    )
    pts = pts.select(
        "*", *[F.floor(F.col(f"_x{i}") / F.lit(eps)).cast("long").alias(f"_c{i}") for i in range(d)]
    )

    # probe side: each point visits its 3^d neighbor cells (tiny
    # broadcast offset table — a literal array column would be rebuilt
    # per row in interpreted contexts, CLAUDE.md)
    off_rows = list(itertools.product((-1, 0, 1), repeat=d))
    off_schema = ", ".join(f"_o{i} long" for i in range(d))
    off_df = spark.createDataFrame(off_rows, off_schema)
    probe = pts.crossJoin(F.broadcast(off_df)).select(
        "_id",
        *[f"_x{i}" for i in range(d)],
        *[(F.col(f"_c{i}") + F.col(f"_o{i}")).alias(f"_pc{i}") for i in range(d)],
    )
    build = pts.select(
        F.col("_id").alias("_jd"),
        *[F.col(f"_x{i}").alias(f"_y{i}") for i in range(d)],
        *[F.col(f"_c{i}").alias(f"_pc{i}") for i in range(d)],
    )
    dist2 = F.expr(sql_sum(["0.0D", *(f"(`_x{i}` - `_y{i}`) * (`_x{i}` - `_y{i}`)" for i in range(d))]))
    # ordered pairs INCLUDING self (self-distance 0 ⇒ min_pts counts
    # the point itself); each pair appears exactly once because the
    # build side's cell is unique and the probe visits it once
    # the grid join is the most expensive stage and is consumed three
    # times (core flags, core edges, border assignment) — persist it,
    # and `core` too (ADVICE r3)
    neigh = (
        probe.join(build, on=[f"_pc{i}" for i in range(d)])
        .filter(dist2 <= F.lit(eps2))
        .select(F.col("_id").alias("src"), F.col("_jd").alias("dst"))
    )
    if eager:
        neigh = neigh.persist()

    core = (
        neigh.groupBy("src")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_pts)
        .select(F.col("src").alias("_id"))
    )
    if eager:
        core = core.persist()
    core_edges = (
        neigh.join(core.select(F.col("_id").alias("src")), "src")
        .join(core.select(F.col("_id").alias("dst")), "dst")
        .select("src", "dst")
    )
    if eager:
        core_edges = core_edges.persist()

    # min-label propagation + path halving over the core graph — the
    # shared kernel in webdq.graph (eager localCheckpoint per round,
    # monotone-sum convergence probe, loud warning when its
    # graph.MAX_ROUNDS run out — silent partial merges would look like
    # extra clusters, ADVICE r3). core_edges already carries both
    # directions, so symmetrize=False.
    lab = connected_components(
        core_edges,
        nodes=core.select("_id"),
        node_col="_id",
        symmetrize=False,
    ).select("_id", F.col("component").alias("lab"))

    border = (
        neigh.join(core.select(F.col("_id").alias("dst")), "dst")
        .join(core.select(F.col("_id").alias("src")), "src", "left_anti")
        .join(lab.select(F.col("_id").alias("dst"), F.col("lab").alias("_bl")), "dst")
        .groupBy("src")
        .agg(F.min("_bl").alias("cluster"))
    )

    assigned = lab.select("_id", F.col("lab").alias("cluster"), F.lit(True).alias("is_core")).unionByName(
        border.select(F.col("src").alias("_id"), "cluster", F.lit(False).alias("is_core"))
    )
    out = (
        pts.select("_id")
        .join(assigned, "_id", "left")
        .select(
            F.col("_id").alias(key_col),
            F.col("cluster"),
            F.coalesce("is_core", F.lit(False)).alias("is_core"),
        )
    )
    if eager:
        # materialize before releasing the caches: `border` (inside
        # `out`) still reads `neigh` — one more bounded job, then every
        # intermediate cache can go
        out = out.localCheckpoint(eager=True)
        core_edges.unpersist()
        neigh.unpersist()
        core.unpersist()
    return out

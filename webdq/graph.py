"""Distributed connected components (min-label propagation + path
halving) — the shared graph kernel behind DBSCAN's core-graph labeling
(webdq.density) and duplicate-cluster resolution (webdq.dedup
.resolve_duplicates).

Semantics: every node's final ``component`` is the MINIMUM node id
reachable from it — a canonical, deterministic cluster label. Each
round is one edge join + one aggregation + one pointer-jump join,
converging in ~log2(component diameter) rounds (path halving), with an
EAGER localCheckpoint per round truncating the lineage (the pointer
jump references the round's frame twice; without truncation the
logical plan doubles per round — measured 148→10 s on 60 points in
the DBSCAN caller).

Scale notes (10^12 edges): state is one long per node; every step is
an equi-join or hash aggregation on the node id — shuffle-partitioned,
no driver materialization beyond a one-scalar convergence probe per
round. For adversarial diameters swap in large-star/small-star
(Kiveris et al., SoCC '14) — identical join shapes.

Reference analog: the reference's clustering produces per-entity group
labels eagerly on one node (/root/reference/osmdq/analysis_tasks.py
KMeans paths); the component kernel is the distributed re-expression
used wherever group structure comes from PAIRS rather than geometry.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# connected_components gives up (with a RuntimeWarning) after this many
# label-propagation rounds
MAX_ROUNDS = 50


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    node_col: str = "_id",
    symmetrize: bool = True,
) -> DataFrame:
    """Label each node with the minimum node id in its connected
    component. ``edges`` is (src, dst) over a NUMERIC id domain (the
    monotone-sum convergence probe and the min-label canonicalization
    both need a total numeric order).

    ``nodes``: optional one-column frame of node ids; defaults to the
    distinct endpoints of ``edges`` (pass it to also label isolated
    nodes, which come back as their own singleton component).
    ``symmetrize=False`` skips the reverse-edge union when the caller
    already supplies both directions (e.g. DBSCAN's neighbor join)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if symmetrize:
        e = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    if nodes is None:
        nodes = (
            e.select(F.col("src").alias(node_col))
            .unionByName(e.select(F.col("dst").alias(node_col)))
            .dropDuplicates()
        )
    else:
        nodes = nodes.select(F.col(nodes.columns[0]).alias(node_col))

    # the monotone-sum convergence probe and min-label canonical both
    # need a numeric id domain; a string id would cast to NULL decimal
    # and fake convergence after one round — fail loudly instead.
    # Floats are rejected too (ADVICE r4): the probe sums labels cast
    # to decimal(38,0), so a fractional label decrease below the
    # integer rounding granularity would vanish from the sum and a
    # still-changing round could read as converged.
    kind = dict(nodes.dtypes)[node_col]
    integral = kind in ("tinyint", "smallint", "int", "bigint") or (
        kind.startswith("decimal") and kind.rstrip(")").rsplit(",", 1)[-1] == "0"
    )
    if not integral:
        raise ValueError(
            f"connected_components needs integral node ids "
            f"(int types or decimal scale 0), got {kind!r}"
        )

    lab = nodes.select(node_col, F.col(node_col).alias("lab")).localCheckpoint(eager=True)
    prev_sum = None
    converged = False
    for _ in range(MAX_ROUNDS):
        cand = (
            e.join(lab.select(F.col(node_col).alias("src"), F.col("lab").alias("_sl")), "src")
            .groupBy("dst")
            .agg(F.min("_sl").alias("_cand"))
        )
        relaxed = (
            lab.join(cand.select(F.col("dst").alias(node_col), "_cand"), node_col, "left")
            .select(node_col, F.least("lab", F.coalesce("_cand", F.col("lab"))).alias("lab"))
        )
        halved = (
            relaxed.alias("a")
            .join(
                relaxed.select(
                    F.col(node_col).alias("_pid"), F.col("lab").alias("_plab")
                ).alias("b"),
                F.col("a.lab") == F.col("b._pid"),
                "left",
            )
            .select(
                F.col(f"a.{node_col}").alias(node_col),
                F.least(F.col("a.lab"), F.coalesce(F.col("_plab"), F.col("a.lab"))).alias("lab"),
            )
            .localCheckpoint(eager=True)
        )
        # labels are monotone non-increasing ⇒ the sum stabilizes
        # exactly at the fixed point (one scalar per round). s is None
        # ⇔ zero nodes: converged trivially.
        s = halved.agg(F.sum(F.col("lab").cast("decimal(38,0)")).alias("s")).collect()[0]["s"]
        lab = halved
        if s is None or s == prev_sum:
            converged = True
            break
        prev_sum = s
    if not converged:
        warnings.warn(
            f"connected_components did not converge in {MAX_ROUNDS} rounds; "
            "labels may be partially merged",
            RuntimeWarning,
            stacklevel=2,
        )
    return lab.select(node_col, F.col("lab").alias("component"))

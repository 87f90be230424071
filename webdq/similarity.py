"""Approximate-nearest-neighbor search over an embedding column.

- ``cosine_topk``: brute-force exact top-k — broadcast the (small)
  query set against the full corpus, score with whole-stage
  zip_with/aggregate expressions, rank with a per-query window. The
  correctness baseline; O(|corpus| × |queries|) but embarrassingly
  parallel and shuffle-free until the final per-query top-k.
- ``lsh_buckets`` / ``lsh_topk``: sign-random-projection LSH (SimHash
  for vectors, Charikar '02): ``n_bits`` fixed hyperplanes (a
  deterministic seeded matrix, broadcast once), bucket = sign
  pattern; candidates = bucket equi-join, then exact cosine re-rank.
  The scale path: candidate generation is an equi-join with bounded
  buckets instead of a cross product. Multi-probe (hamming-1 probes)
  recovers recall near bucket boundaries.

The hyperplane projection is a vectorized Arrow UDF (one numpy matmul
per batch) — the idiomatic fast path for per-row linear algebra.

- ``pq_encode`` / ``pq_adc_topk``: product quantization (Jégou et
  al. 2011) — the compressed-domain ANN path: m sub-codes per vector
  against caller-supplied (m, k, dim/m) codebooks, asymmetric distance
  computation against a broadcast query set. Encode and ADC are
  NATIVE fixed-fold-order expressions (ml.sql_sum text, no UDF), so
  they are engine-replayable and stay in codegen.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .dedup import cosine_col
from .ml import first_argmin, sql_col, sql_elem, sql_lit, sql_sum


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine: (query_id, rank, neighbor_id, cosine).
    Self-matches (same id) are excluded. Ties break on neighbor id.
    Scores use cosine_col's HOF path: at q33's ~1e5-pair refine the
    64-dim fold measured slower (ROADMAP #4)."""
    q = queries.select(F.col(query_id_col).alias("_qid"), F.col(vec_col).alias("_qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("_qid"))
        .withColumn("cosine", cosine_col("_cv", "_qv"))
    )
    w = Window.partitionBy("_qid").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("_qid").alias("query_id"), "rank", "neighbor_id", F.round("cosine", 6).alias("cosine"))
    )


# seed of the LSH hyperplanes (table t draws from _SEED + 1000·t) and
# of the IVF quantizer's k-means++ init
_SEED = 7


def _hyperplanes(dim: int, n_bits: int, table: int) -> np.ndarray:
    """Deterministic seeded Gaussian hyperplanes of LSH table ``table``
    — a model constant, identical on every executor (shipped inside the
    UDF closure; at very high dim it would be a broadcast variable
    instead)."""
    return np.random.RandomState(_SEED + 1000 * table).randn(n_bits, dim)


def lsh_buckets(
    df: DataFrame,
    dim: int,
    n_bits: int = 12,
    vec_col: str = "embedding",
    out: str = "bucket",
    n_tables: int = 1,
) -> DataFrame:
    """Sign-LSH bucket id per row. With ``n_tables`` > 1, emits one row
    per (table, bucket) — L independent hyperplane sets (the standard
    multi-table LSH recall knob: candidate recall ≈ 1-(1-p^b)^L). The
    L projections are ONE batched matmul per Arrow batch."""
    H = np.stack([_hyperplanes(dim, n_bits, t) for t in range(n_tables)])  # (L, b, dim)

    @pandas_udf(T.ArrayType(T.LongType()))
    def buckets_udf(vs: pd.Series) -> pd.Series:
        M = np.stack(vs.to_numpy())  # (batch, dim)
        signs = np.einsum("nd,lbd->nlb", M, H) > 0  # (batch, L, b)
        codes = (signs.astype(np.int64) << np.arange(n_bits, dtype=np.int64)).sum(axis=2)
        return pd.Series(list(codes))

    out_df = df.withColumn("_bkts", buckets_udf(F.col(vec_col)))
    if n_tables == 1:
        return out_df.withColumn(out, F.element_at("_bkts", 1)).drop("_bkts")
    return out_df.select("*", F.posexplode("_bkts").alias("_table", out)).drop("_bkts")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_bits: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket, or
    a hamming-1 neighbor of it (multi-probe), in any of ``n_tables``
    independent tables, re-ranked exactly. Recall scales with
    L = n_tables at O(L) candidate cost — the standard production
    knob; multi-probe stretches each table further."""
    c = lsh_buckets(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")),
        dim, n_bits, "_cv", n_tables=n_tables,
    )
    q = lsh_buckets(
        queries.select(F.col(query_id_col).alias("_qid"), F.col(vec_col).alias("_qv")),
        dim, n_bits, "_qv", n_tables=n_tables,
    )
    probes = F.array(F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_bits)])
    q = q.withColumn("bucket", F.explode(probes))
    join_keys = ["_table", "bucket"] if n_tables > 1 else ["bucket"]
    cand = (
        c.join(q, join_keys)
        .filter(F.col("neighbor_id") != F.col("_qid"))
        .withColumn("cosine", cosine_col("_cv", "_qv", dim=dim))
        .dropDuplicates(["_qid", "neighbor_id"])
    )
    w = Window.partitionBy("_qid").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("_qid").alias("query_id"), "rank", "neighbor_id", F.round("cosine", 6).alias("cosine"))
    )


def ivf_fit(
    corpus: DataFrame,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Coarse quantizer for IVF ANN: k-means centroids (nlist, dim)
    trained on a deterministic hash-ordered corpus sample of up to
    4096 vectors — the
    standard IVF practice (e.g. FAISS trains the quantizer on a
    sample; only ASSIGNMENT is corpus-wide and that stays
    distributed). Same init as ml.kmeans_fit: k-means++ on the sample
    + up to 25 Lloyd rounds, fully deterministic."""
    from . import ml

    samp = (
        corpus.select(F.xxhash64(F.col(id_col)).alias("_h"), F.col(vec_col).alias("_v"))
        .orderBy("_h")
        .limit(4096)
        .collect()
    )
    X = np.stack([np.asarray(r["_v"], dtype=np.float64) for r in samp])
    # SPHERICAL quantizer: the search metric is cosine, and cosine is
    # L2 on unit vectors — train and assign on normalized vectors so
    # the inverted lists align with cosine neighborhoods (the FAISS
    # inner-product-IVF practice).
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    return ml._lloyd_numpy(X, ml._kmeanspp_init(X, nlist, _SEED), max_iter=25)


def _ivf_lists_udf(centroids: np.ndarray, nprobe: int):
    """argmin-L2 list assignment, top-``nprobe`` lists per vector —
    one batched matmul per Arrow batch (ties broken by list id via
    stable argsort; same IEEE arithmetic on every executor)."""
    C = np.asarray(centroids, dtype=np.float64)
    c2 = (C**2).sum(axis=1)

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def assign(vs: pd.Series) -> pd.Series:
        M = np.stack(vs.to_numpy()).astype(np.float64)
        M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        d2 = -2.0 * (M @ C.T) + c2[None, :]  # |x|² == 1 per row — drop it
        idx = np.argsort(d2, axis=1, kind="stable")[:, :nprobe].astype(np.int32)
        return pd.Series(list(idx))

    return assign


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF ANN top-k: corpus rows live in their nearest-centroid list
    (the inverted file); each query probes its ``nprobe`` nearest
    lists; candidates = list equi-join, re-ranked by exact cosine.
    nprobe = nlist ⇒ exhaustive (== cosine_topk). The scale shape:
    candidate volume is |corpus|·(nprobe/nlist) on average, candidate
    generation is a bounded-fanout equi-join, and the per-list corpus
    partitioning is exactly how a 100-TB index would be laid out on
    disk (one partition per list → probing reads only nprobe/nlist of
    the data: partition pruning for vectors)."""
    assign1 = _ivf_lists_udf(centroids, 1)
    assignp = _ivf_lists_udf(centroids, nprobe)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    ).withColumn("_list", F.element_at(assign1(F.col("_cv")), 1))
    q = queries.select(
        F.col(query_id_col).alias("_qid"), F.col(vec_col).alias("_qv")
    ).withColumn("_list", F.explode(assignp(F.col("_qv"))))
    cand = (
        c.join(F.broadcast(q), "_list")
        .filter(F.col("neighbor_id") != F.col("_qid"))
        # centroids carry the fixed corpus dimension — fold path free
        .withColumn(
            "cosine",
            cosine_col("_cv", "_qv", dim=int(np.asarray(centroids).shape[1])),
        )
        .dropDuplicates(["_qid", "neighbor_id"])
    )
    w = Window.partitionBy("_qid").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("_qid").alias("query_id"), "rank", "neighbor_id", F.round("cosine", 6).alias("cosine"))
    )


def embedding_neardup_pairs_lsh(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_bits: int = 8,
    n_tables: int = 4,
) -> DataFrame:
    """Self-contained embedding near-dup: candidates share a sign-LSH
    bucket in ANY of ``n_tables`` tables (the production blocking key
    that dedup.embedding_neardup_pairs's caller-supplied block stands
    in for), verified by exact cosine ≥ threshold. EXACT duplicates
    always collide (identical vectors ⇒ identical sign patterns in
    every table), so recall on true duplicates is 1 by construction;
    near-duplicate recall follows 1−(1−(1−θ/π)^b)^L. Buckets of more
    than 10,000 rows are dropped as degenerate hubs (the LSH skew guard
    — a bucket of m rows contributes m² candidate pairs)."""
    keyed = lsh_buckets(
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")),
        dim, n_bits, "_v", n_tables=n_tables,
    )
    join_keys = ["_table", "bucket"] if n_tables > 1 else ["bucket"]
    cnt = Window.partitionBy(*join_keys)
    keyed = keyed.withColumn("_n", F.count(F.lit(1)).over(cnt)).filter(F.col("_n") <= 10_000).drop("_n")
    a = keyed.select(*join_keys, F.col("_id").alias("id1"), F.col("_v").alias("_v1"))
    b = keyed.select(*join_keys, F.col("_id").alias("id2"), F.col("_v").alias("_v2"))
    return (
        a.join(b, join_keys)
        .filter(F.col("id1") < F.col("id2"))
        .withColumn("cosine", cosine_col("_v1", "_v2", dim=dim))
        .filter(F.col("cosine") >= threshold)
        .dropDuplicates(["id1", "id2"])
        .select("id1", "id2", F.round("cosine", 6).alias("cosine"))
    )


def ann_recall(exact: DataFrame, approx: DataFrame) -> float:
    """Diagnostic: |approx ∩ exact| / |exact| over (query, neighbor)."""
    e = exact.select("query_id", "neighbor_id")
    a = approx.select("query_id", "neighbor_id")
    inter = e.join(a, ["query_id", "neighbor_id"]).count()
    total = e.count()
    return inter / total if total else 1.0

# ---------------------------------------------------------------------------
# Product quantization (PQ) — the third ANN scale path (after sign-LSH
# and IVF): compress vectors to m sub-codes, score with asymmetric
# distance computation (ADC). Jégou et al., "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011 (the FAISS PQ baseline).


def _pq_sqdist(vec_col: str, s: int, centroid) -> str:
    """Squared L2 distance from subvector ``s`` of ``vec_col`` to one
    centroid: the fixed left-to-right fold (((t0+t1)+t2)+...) of
    ml.sql_sum, the order an oracle engine replays bit for bit.
    element_at is O(1) per term, and the expression stays inside
    whole-stage codegen (no UDF, no Arrow hop)."""
    dsub = len(centroid)
    diffs = [f"({sql_elem(sql_col(vec_col), s * dsub + t + 1)} - {sql_lit(c)})" for t, c in enumerate(centroid)]
    return sql_sum(f"{x} * {x}" for x in diffs)


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_col: str = "codes",
) -> DataFrame:
    """Distributed PQ encoding: codes[s] = argmin_j ||x_s − c_{s,j}||²
    (first minimum on ties — least() then ml.first_argmin ≡
    numpy argmin). Pure projection — encoding 10^12 vectors is a
    single map stage with zero shuffle and zero Python. Built as
    STAGED selects that materialize each of the m·k distances as its
    own column attribute before the argmin: one monolithic
    array/argmin expression would (a) inline the full distance
    arithmetic once per reference and (b) exceed janino's 64 KB
    per-method limit, silently dropping the stage out of whole-stage
    codegen (measured — 17k-line generated file, interpreted
    fallback). Per-column expressions are independently small, so
    codegen splits them into separate methods and the stage compiles."""
    mm, kk, dsub = codebooks.shape
    d = df.select(
        id_col,
        *[F.expr(f"{_pq_sqdist(vec_col, s, codebooks[s, j])} AS _d_{s}_{j}") for s in range(mm) for j in range(kk)],
    )
    mins = d.select(
        "*",
        *[F.least(*[f"_d_{s}_{j}" for j in range(kk)]).alias(f"_m_{s}") for s in range(mm)],
    )
    codes = [first_argmin([f"_d_{s}_{j}" for j in range(kk)], f"_m_{s}") for s in range(mm)]
    return mins.select(id_col, F.expr(f"array({', '.join(codes)}) AS {sql_col(codes_col)}"))


def pq_lut(
    queries: DataFrame,
    codebooks: np.ndarray,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC lookup table: one row per (query, subspace, code) holding
    the squared distance from the query's subvector to that centroid —
    the table PQ precomputes ONCE per query so corpus scoring is pure
    lookup (the Jégou ADC construction). m·k rows per query, built
    with fixed-fold-order native expressions (engine-replayable);
    the whole table is tiny and broadcasts."""
    mm, kk, dsub = codebooks.shape
    q = queries.select(F.col(query_id_col).alias("_qid"), F.col(vec_col).alias("_qv"))
    # stage the m·k distances as column attributes BEFORE building the
    # explode array: an array-of-structs carrying the full distance
    # arithmetic is one unsplittable Generate expression (the janino
    # 64 KB trap — see pq_encode); from attributes it is tiny
    d = q.select(
        "_qid",
        *[F.expr(f"{_pq_sqdist('_qv', s, codebooks[s, j])} AS _d_{s}_{j}") for s in range(mm) for j in range(kk)],
    )
    entries = [
        F.struct(
            F.lit(s).alias("_s"), F.lit(j).alias("_j"), F.col(f"_d_{s}_{j}").alias("_d")
        )
        for s in range(mm)
        for j in range(kk)
    ]
    return d.select("_qid", F.explode(F.array(*entries)).alias("_e")).select(
        "_qid", F.col("_e._s").alias("_s"), F.col("_e._j").alias("_j"), F.col("_e._d").alias("_d")
    )


def pq_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "codes",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """PQ ANN top-k over an ENCODED corpus via true LUT scoring:
    posexplode the m codes per vector, broadcast-equi-join the
    (query, subspace, code) distance table (``pq_lut``), pivot the m
    matched distances back to columns with per-subspace conditional
    aggregates (each (query, vector, subspace) matches EXACTLY one
    lut row, so max() is selection, not reduction), and sum the m
    columns in a FIXED left-to-right fold (ml.sql_sum) — deterministic,
    partition-invariant, engine-replayable, and every expression
    small enough to stay in whole-stage codegen (a single monolithic
    CASE-tree ADC expression blows janino's 64 KB method limit and
    silently drops the stage to interpreted mode — measured).
    Distance arithmetic is O(|queries|·m·k·dsub) ONCE in the lut;
    corpus scoring is O(|corpus|·m·|queries|) lookups — the ADC
    economics that make compressed-domain scanning cheap. Returns
    (query_id, rank, neighbor_id, adc_dist) — LOWER is closer
    (squared L2; normalize inputs upstream for cosine semantics, as
    with ``ivf_fit``).

    Materialize ``codes`` before calling (localCheckpoint or a stored
    stage table — the index-build/index-scan split a deployment has
    anyway): scoring a lazy encode plan fuses encode + join + agg into
    one whole-stage function that overflows janino's 64 KB method
    limit and drops the stage to interpreted execution.

    Scale contract: the scoring groupBy shuffles O(|corpus|·m·|queries|)
    rows pre-combine, so this assumes a BOUNDED query batch (the online
    ANN-serving shape). For a huge offline query set, batch the queries
    and loop — each batch's lut stays broadcastable and the shuffle
    stays linear in the corpus."""
    mm = codebooks.shape[0]
    lut = pq_lut(queries, codebooks, query_id_col, vec_col)
    ex = codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode(F.col(codes_col)).alias("_s", "_j"),
    )
    scored = ex.join(F.broadcast(lut), ["_s", "_j"]).filter(
        F.col("neighbor_id") != F.col("_qid")
    )
    g = scored.groupBy("_qid", "neighbor_id").agg(
        *[F.max(F.when(F.col("_s") == s, F.col("_d"))).alias(f"_d{s}") for s in range(mm)]
    )
    g = g.withColumn("adc_dist", F.expr(sql_sum(f"_d{s}" for s in range(mm))))
    w = Window.partitionBy("_qid").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        g.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias("query_id"),
            "rank",
            "neighbor_id",
            F.round("adc_dist", 6).alias("adc_dist"),
        )
    )

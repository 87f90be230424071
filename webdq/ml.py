"""ML core: variance analysis, auto-PCA, KMeans, elbow (SURVEY.md §2.8).

Design: the per-row math stays JVM-side as Catalyst expressions; only
k×d / d×d matrices ever reach the driver.

- Covariance is ONE distributed aggregation (sums + cross-products,
  d(d+1)/2 expressions with map-side partial aggregation) → numpy
  ``eigh`` on the driver (d ≈ 13, trivial). Reference analog:
  /root/reference/osmdq/unsupervised_learning.py:25-53 (np.cov + eig).
- PCA projection = centered dot-product expressions (no VectorUDT, no
  Python): survives whole-stage codegen.
- The fold-order rule lives in one builder (``sql_lit``, ``sql_col``,
  ``sql_elem``, ``sql_sum``, ``first_argmin``): every unrolled float
  dot product, squared distance and projection in webdq is a
  left-associated sum written as SQL text and parsed by one
  ``F.expr``, so an oracle engine replays it bit for bit and the
  driver builds it in a few py4j commands, not one per node.
- Small global statistics (each Lloyd round, the cluster ranking in
  label.keep_clusters, the ECDF probe) reach the driver through
  ``observe_row``: one Spark job with one stage, no exchange and no
  collect. Per-cluster sums there are exact DECIMAL sums
  (``_exact_sum``), so the merged totals do not depend on the order in
  which tasks finish.
- Aggregate lists are SQL text too: ``observe_row`` takes
  ``<aggregate> AS <name>`` strings, and ``cluster_means``,
  ``fit_scaled_pca_with_init``, ``minmax_scale`` and the ECDF probe
  write theirs with the builder above. Each plan is the one the
  equivalent Column form builds, but a list of k(d+1) or d(d+1)/2
  aggregates costs a few py4j commands per aggregate, where a Column
  costs ~11-13 per call. ``covariance`` and ``column_minmax`` stay Columns: they are
  the independent reference the fused fit is tested against.
- KMeans = k-means++ on a deterministic hash-ordered sample (driver,
  MiniBatch-style pre-fit) + distributed Lloyd refinement where each
  iteration is one observed pass producing k counts and k×d sums.
  Reference analog: sklearn KMeans n_init=100
  (/root/reference/osmdq/analysis_tasks.py:744-745); determinism here
  comes from the hash-ordered init sample instead of RNG restarts.
- auto-PCA components / elbow rules re-express
  /root/reference/osmdq/unsupervised_learning.py:55-82,146-159,405-428.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


# ------------------------------------------------- fixed-order SQL text
# Spark's parser groups ``a + b + c`` as ``(a + b) + c``: a sum written
# with sql_sum is evaluated left to right, term by term, in IEEE
# doubles.

def sql_lit(x: float) -> str:
    """``x`` as a DOUBLE literal; ``repr`` round-trips every finite
    double (-0.0 and subnormals included). NaN and ±inf have no
    literal and raise, as _exact_sum refuses them."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(f"sql_lit: {x} is not a finite double")
    return repr(x) + "D"


def sql_col(name: str) -> str:
    """The column ``name`` quoted for SQL text."""
    return "`" + name.replace("`", "``") + "`"


def sql_elem(arr: str, i: int) -> str:
    """Element ``i`` (1-based) of the array SQL text ``arr``, as DOUBLE."""
    return f"CAST(element_at({arr}, {i}) AS DOUBLE)"


def sql_sum(terms) -> str:
    """The left-associated sum of the SQL terms, in their order."""
    return " + ".join(terms)


def first_argmin(cols: list[str], min_col: str) -> str:
    """Index of the first of ``cols`` (two or more, like ``least``)
    equal to ``min_col``, their least: numpy argmin's first-minimum
    rule, as an INT."""
    whens = " ".join(f"WHEN {sql_col(c)} = {sql_col(min_col)} THEN {j}" for j, c in enumerate(cols[:-1]))
    return f"CAST(CASE {whens} ELSE {len(cols) - 1} END AS INT)"


# --------------------------------------------------------- driver stats

def observe_row(df: DataFrame, *aggs: str) -> dict:
    """Global aggregates ``aggs`` over ``df`` as {name: value}, in ONE
    Spark job with one stage: the aggregates ride a ``noop`` write as an
    Observation, merged on the driver from per-task partials. Under AQE
    ``df.agg(...).collect()`` costs a shuffle-map job plus a result job,
    and at small inputs the driver-synchronous job count is the cost
    that does not scale down (VERDICT r3). The Observation updates its
    aggregates row by row outside whole-stage codegen, so for many
    aggregates over a large input a collected aggregate is cheaper.

    Each aggregate is SQL text, ``<aggregate> AS <name>``, parsed here by
    one ``F.expr``: the caller's list costs a few py4j commands per
    aggregate, not one per expression node."""
    obs = Observation()
    df.observe(obs, *map(F.expr, aggs)).write.format("noop").mode("overwrite").save()
    return obs.get


# |x| bound of _exact_sum's summands: DECIMAL(38,18) holds |x| < 1e20
_EXACT_MAX = 1e19


def _exact_sum(x: str) -> str:
    """sum(x) of the SQL text ``x`` as an exact DECIMAL(38,18) sum
    (returned as ``Decimal``). The driver merges an Observation's task
    partials in completion order, and a DOUBLE sum depends on that order
    in its last bits (measured on a 4-core host: 3 distinct totals in 15
    runs over 8 partitions). Decimal addition is exact, so the total is
    the same for any task order and any partitioning; each summand is
    rounded once, at 1e-18. NaN, ±inf and |x| ≥ 1e19 raise instead of
    being dropped by a null cast (Spark orders NaN above every double)."""
    return (
        f"sum(CAST(CASE WHEN abs({x}) >= {sql_lit(_EXACT_MAX)}"
        f" THEN raise_error('_exact_sum: |value| >= {_EXACT_MAX:g} or NaN') ELSE {x} END AS DECIMAL(38,18)))"
    )


def cluster_means(df: DataFrame, cluster_col: str, cols: list[str], k: int) -> tuple[np.ndarray, np.ndarray]:
    """(member count per cluster id 0..k-1, (k, d) mean of ``cols`` per
    cluster, NaN rows for clusters with no members) from one observed
    pass: count(CASE WHEN c = j THEN 1 END) and _exact_sum(CASE WHEN
    c = j THEN x END), k(d+1) aggregates written as SQL text."""
    cid = sql_col(cluster_col)
    aggs = [f"count(CASE WHEN {cid} = {j} THEN 1 END) AS n_{j}" for j in range(k)]
    aggs += [
        f"{_exact_sum(f'CASE WHEN {cid} = {j} THEN {sql_col(c)} END')} AS s_{j}_{i}"
        for j in range(k)
        for i, c in enumerate(cols)
    ]
    row = observe_row(df.select(cluster_col, *cols), *aggs)
    sizes = np.array([int(row[f"n_{j}"]) for j in range(k)])
    means = np.full((k, len(cols)), np.nan)
    for j in np.flatnonzero(sizes):
        means[j] = [float(row[f"s_{j}_{i}"]) / sizes[j] for i in range(len(cols))]
    return sizes, means


# ---------------------------------------------------------------- minmax

def column_minmax(df: DataFrame, cols: list[str]) -> dict[str, tuple[float, float]]:
    """One aggregation: (min, max) per column, for ``minmax_scale``
    outside the pipelines (tools/fit_q00b.py) and as the reference
    ``fit_scaled_pca_with_init``'s fused min/max is tested against."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"mn_{c}"), F.max(c).alias(f"mx_{c}")]
    row = df.agg(*aggs).collect()[0]
    return {c: (float(row[f"mn_{c}"] or 0.0), float(row[f"mx_{c}"] or 0.0)) for c in cols}


def minmax_scale(df: DataFrame, cols: list[str], stats: dict[str, tuple[float, float]]) -> DataFrame:
    """Scale ``cols`` to [0, 1] by the (min, max) ``stats`` (constant
    columns become exactly 0.0). Reference M1 'RobustScaler (0,100) ==
    MinMax' (osmdq/analysis_tasks.py:470-471 of the reference)."""
    out = {}
    for c in cols:
        mn, mx = stats[c]
        out[c] = F.expr("0.0D" if mx - mn == 0.0 else f"({sql_col(c)} - {sql_lit(mn)}) / {sql_lit(mx - mn)}")
    return df.withColumns(out)


# ------------------------------------------------------------ covariance

def covariance(df: DataFrame, cols: list[str]) -> tuple[np.ndarray, np.ndarray, int]:
    """(mean vector, sample covariance ddof=1, n) in one pass."""
    d = len(cols)
    aggs = [F.count(F.lit(1)).alias("_n")]
    aggs += [F.sum(F.col(c)).alias(f"s_{i}") for i, c in enumerate(cols)]
    for i in range(d):
        for j in range(i, d):
            aggs.append(F.sum(F.col(cols[i]) * F.col(cols[j])).alias(f"xp_{i}_{j}"))
    row = df.agg(*aggs).collect()[0]
    n = int(row["_n"])
    s = np.array([float(row[f"s_{i}"] or 0.0) for i in range(d)])
    mean = s / max(n, 1)
    cov = np.zeros((d, d))
    for i in range(d):
        for j in range(i, d):
            xp = float(row[f"xp_{i}_{j}"] or 0.0)
            cij = (xp - n * mean[i] * mean[j]) / max(n - 1, 1)
            cov[i, j] = cov[j, i] = cij
    return mean, cov, n


@dataclass
class PCAModel:
    cols: list[str]
    mean: np.ndarray  # (d,)
    loadings: np.ndarray  # (d, k), sign-normalized
    eigvals: np.ndarray  # (d,) all of them, descending


def pca_variance(eigvals: np.ndarray) -> dict[str, np.ndarray]:
    """eig / varexp(%) / cumvar(%) — reference compute_pca_variance."""
    eig = np.sort(np.asarray(eigvals))[::-1]
    tot = eig.sum()
    varexp = (eig / tot) * 100.0 if tot > 0 else np.zeros_like(eig)
    return {"eig": eig, "varexp": varexp, "cumvar": np.cumsum(varexp)}


def optimal_pca_components(variance: dict[str, np.ndarray], nb_min_dim: int, nb_max_dim: int) -> int:
    """Smallest i+1 with cumvar>70%, clamped to [nb_min_dim, nb_max_dim]
    — reference optimal_PCA_components semantics on min-max scaled
    features (its eig<1 rule applies only to standard-normalized ones)."""
    candidate = 0
    for i in range(len(variance["cumvar"])):
        if variance["cumvar"][i] > 70:
            candidate = i + 1
            break
    return min(max(candidate, nb_min_dim), nb_max_dim)


def fit_scaled_pca_with_init(
    df: DataFrame,
    cols: list[str],
    n_components: int = 0,
    kmin: int = 2,
    kmax: int = 12,
    key_col: str | None = None,
    init_sample: int = 0,
    approx_rows: int | None = None,
) -> tuple[dict[str, tuple[float, float]], PCAModel, np.ndarray | None, int]:
    """Min-max scaling + PCA fit, optionally with the downstream KMeans
    init sample, all in ONE aggregation (the driver-synchronous job
    count is the non-scaling term — VERDICT r3). Returns (min-max
    stats, PCA model, init sample or None, row count).

    The aggregation computes min/max AND raw covariance; the scaled
    covariance follows analytically (cov_z[i,j] = cov_x[i,j]/(r_i r_j),
    mean_z = (mean−min)/r). That saves a full scan vs
    minmax-then-covariance and keeps the min-max → PCA semantics
    identical (tested against ``column_minmax`` + ``covariance``). It
    stays a collected aggregate, not ``observe_row``: its d(d+1)/2
    double sums must merge in a fixed order (a shuffle read does; an
    Observation merges in task-completion order), and exact DECIMAL sums
    over every row cost more than the job they would save.

    When ``key_col``/``init_sample`` are given with ``approx_rows`` (an
    upstream row-count hint, e.g. the ECDF probe's exact count), the
    scan also runs ``collect_list(struct(hash, features))``: under a
    cutoff ``xxhash64(key) < cut`` sized for ~4× init_sample expected
    survivors when ``approx_rows`` exceeds 4× init_sample, over every
    row otherwise (the cutoff would overflow a long) — a driver payload
    of about 4× init_sample rows either way, with map-side partial
    merge. The driver then sorts by hash, keeps the ``init_sample``
    smallest, and projects them to PC space replaying
    minmax_scale/pca_project arithmetic operation-for-operation (same
    IEEE doubles, same left-associated accumulation) — the returned
    matrix is bitwise-identical to init_sample_matrix over the
    projected frame (tested). The sample is None on
    shortfall (hint too high ⇒ too few rows under the cutoff) or when
    fusion wasn't requested; callers fall back to the separate TopK
    job.

    The whole aggregate list (1 + 3d + d(d+1)/2 aggregates and the
    sample) is SQL text, ~130 py4j commands to build at d = 12; as
    Columns each of its ~500 calls would cost ~11-13."""
    d = len(cols)
    q = [sql_col(c) for c in cols]
    aggs = ["count(1) AS _n"]
    for i, c in enumerate(q):
        aggs += [f"min({c}) AS mn_{i}", f"max({c}) AS mx_{i}", f"sum({c}) AS s_{i}"]
    aggs += [f"sum({q[i]} * {q[j]}) AS xp_{i}_{j}" for i in range(d) for j in range(i, d)]
    fuse_sample = bool(key_col) and init_sample > 0 and bool(approx_rows)
    collect_all = fuse_sample and 4 * init_sample >= approx_rows
    if fuse_sample:
        h = f"xxhash64({sql_col(key_col)})"
        samp = f"struct({h} AS _h, {', '.join(f'CAST({c} AS DOUBLE) AS f{i}' for i, c in enumerate(q))})"
        if not collect_all:
            cut = int(-(2**63) + 4.0 * init_sample / approx_rows * 2.0**64)
            samp = f"CASE WHEN {h} < {cut}L THEN {samp} END"
        aggs.append(f"collect_list({samp}) AS _samp")
    # a select list of aggregates is the same global Aggregate as
    # df.agg; selectExpr sends each string as one py4j command, where
    # an F.expr Column costs about four
    row = df.selectExpr(*aggs).collect()[0]
    n = int(row["_n"])
    mn = np.array([float(row[f"mn_{i}"] or 0.0) for i in range(d)])
    mx = np.array([float(row[f"mx_{i}"] or 0.0) for i in range(d)])
    r = np.where(mx - mn == 0.0, 1.0, mx - mn)
    mean = np.array([float(row[f"s_{i}"] or 0.0) for i in range(d)]) / max(n, 1)
    cov = np.zeros((d, d))
    for i in range(d):
        for j in range(i, d):
            xp = float(row[f"xp_{i}_{j}"] or 0.0)
            cov[i, j] = cov[j, i] = (xp - n * mean[i] * mean[j]) / max(n - 1, 1)
    cov_z = cov / np.outer(r, r)
    mean_z = (mean - mn) / r
    # constant columns scale to exactly 0 (minmax_scale emits lit(0.0))
    const = mx - mn == 0.0
    mean_z[const] = 0.0
    cov_z[const, :] = 0.0
    cov_z[:, const] = 0.0

    w, v = np.linalg.eigh(cov_z)
    order = np.argsort(w)[::-1]
    w, v = w[order], v[:, order]
    if n_components <= 0:
        n_components = optimal_pca_components(pca_variance(w), kmin, min(kmax, len(cols)))
    L = v[:, :n_components].copy()
    for j in range(L.shape[1]):
        i = int(np.argmax(np.abs(L[:, j])))
        if L[i, j] < 0:
            L[:, j] = -L[:, j]
    stats = {c: (float(mn[i]), float(mx[i])) for i, c in enumerate(cols)}
    model = PCAModel(cols=list(cols), mean=mean_z, loadings=L, eigvals=w)

    X_pc: np.ndarray | None = None
    if fuse_sample:
        samp = sorted(row["_samp"], key=lambda s: s["_h"])[:init_sample]
        if collect_all or len(samp) >= init_sample:
            X_pc = _project_sample_rows(
                [[float(s[f"f{i}"]) for i in range(d)] for s in samp], stats, model
            )
    return stats, model, X_pc, n


def _project_sample_rows(
    rows: list[list[float]], stats: dict[str, tuple[float, float]], model: PCAModel
) -> np.ndarray:
    """Driver-side replay of minmax_scale → pca_project on raw feature
    rows, operation-for-operation: per column (x−mn)/(mx−mn) (constant
    columns → exactly 0.0, matching the lit(0.0) expression), then the
    LEFT-ASSOCIATED accumulation 0.0 + Σ (scaled_i − mean_i)·L[i,j] in
    python floats (IEEE doubles, same order ⇒ bitwise-identical to the
    Catalyst expression values)."""
    d = len(model.cols)
    k = model.loadings.shape[1]
    mn = [stats[c][0] for c in model.cols]
    mx = [stats[c][1] for c in model.cols]
    mean = [float(model.mean[i]) for i in range(d)]
    L = [[float(model.loadings[i, j]) for j in range(k)] for i in range(d)]
    out = np.empty((len(rows), k), dtype=np.float64)
    for r, raw in enumerate(rows):
        scaled = [
            0.0 if mx[i] - mn[i] == 0.0 else (raw[i] - mn[i]) / (mx[i] - mn[i]) for i in range(d)
        ]
        for j in range(k):
            acc = 0.0
            for i in range(d):
                acc = acc + (scaled[i] - mean[i]) * L[i][j]
            out[r, j] = acc
    return out


def fit_pca(df: DataFrame, cols: list[str], n_components: int = 0, kmin: int = 2, kmax: int = 12) -> PCAModel:
    """Eigendecomposition of the feature covariance. n_components=0 →
    automatic selection (the reference's AutoPCA,
    /root/reference/osmdq/analysis_tasks.py:564-635)."""
    mean, cov, _ = covariance(df, cols)
    w, v = np.linalg.eigh(cov)  # ascending
    order = np.argsort(w)[::-1]
    w, v = w[order], v[:, order]
    if n_components <= 0:
        n_components = optimal_pca_components(pca_variance(w), kmin, min(kmax, len(cols)))
    L = v[:, :n_components].copy()
    # Eigenvector sign is arbitrary (SURVEY.md §7.3 item 2): force the
    # max-|loading| entry of each component positive.
    for j in range(L.shape[1]):
        i = int(np.argmax(np.abs(L[:, j])))
        if L[i, j] < 0:
            L[:, j] = -L[:, j]
    return PCAModel(cols=list(cols), mean=mean, loadings=L, eigvals=w)


def pca_project(df: DataFrame, model: PCAModel, prefix: str = "pc_") -> DataFrame:
    """Append pc_0..pc_{k-1} — centered dot products, pure expressions."""
    out = {}
    for j in range(model.loadings.shape[1]):
        terms = [f"({sql_col(c)} - {sql_lit(model.mean[i])}) * {sql_lit(model.loadings[i, j])}"
                 for i, c in enumerate(model.cols)]
        out[f"{prefix}{j}"] = F.expr(sql_sum(["0.0D", *terms]))
    return df.withColumns(out)


# ---------------------------------------------------------------- kmeans

def _dist_array(cols: list[str], centers: np.ndarray) -> Column:
    dists = []
    for ctr in centers:
        diffs = [f"({sql_col(c)} - {sql_lit(v)})" for c, v in zip(cols, ctr)]
        dists.append(sql_sum(["0.0D", *(f"{x} * {x}" for x in diffs)]))
    return F.expr(f"array({', '.join(dists)})")


def kmeans_assign(df: DataFrame, cols: list[str], centers: np.ndarray, out: str = "cluster") -> DataFrame:
    """Nearest-centroid assignment as an expression (argmin over the
    squared-distance array; ties → lowest cluster id, deterministic)."""
    darr = _dist_array(cols, centers)
    return df.withColumn(out, (F.array_position(darr, F.array_min(darr)) - 1).cast("int"))


def _kmeanspp_init(X: np.ndarray, k: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    n = X.shape[0]
    centers = [X[rng.randint(n)]]
    for _ in range(1, k):
        d2 = np.min(((X[:, None, :] - np.array(centers)[None, :, :]) ** 2).sum(-1), axis=1)
        tot = d2.sum()
        if tot <= 0:
            centers.append(X[rng.randint(n)])
            continue
        centers.append(X[np.searchsorted(np.cumsum(d2 / tot), rng.rand())])
    return np.array(centers)


def _lloyd_numpy(X: np.ndarray, centers: np.ndarray, max_iter: int = 100, tol: float = 1e-7) -> np.ndarray:
    for _ in range(max_iter):
        d2 = ((X[:, None, :] - centers[None, :, :]) ** 2).sum(-1)
        lab = d2.argmin(1)
        new = np.array([X[lab == j].mean(0) if (lab == j).any() else centers[j] for j in range(len(centers))])
        shift = float(((new - centers) ** 2).sum())
        centers = new
        if shift < tol:
            break
    return centers


@dataclass
class KMeansModel:
    cols: list[str]
    centers: np.ndarray  # (k, d)
    inertia: float
    iterations: int


def init_sample_matrix(df: DataFrame, cols: list[str], key_col: str, init_sample: int) -> np.ndarray:
    """The ``init_sample`` rows with smallest xxhash64(key) — a
    deterministic, order/partition-independent pseudo-random sample
    (distributed TopK, no global sort)."""
    samp = (
        df.select(F.xxhash64(F.col(key_col)).alias("_h"), *cols)
        .orderBy("_h")
        .limit(init_sample)
        .drop("_h")
        .collect()
    )
    return np.array([[float(r[c]) for c in cols] for r in samp])


# kmeans_fit: k-means++ restarts on the init sample (seeds _SEED.._SEED
# + _N_INIT - 1) and the Lloyd stop rule (squared center shift < _TOL)
_N_INIT = 10
_SEED = 42
_TOL = 1e-8


def kmeans_fit(
    df: DataFrame,
    cols: list[str],
    k: int,
    key_col: str,
    max_iter: int = 25,
    init_sample: int = 4096,
    compute_inertia: bool = False,
    sample_X: np.ndarray | None = None,
) -> KMeansModel:
    """Deterministic distributed KMeans.

    1. Take the ``init_sample`` rows with smallest xxhash64(key) — a
       deterministic, order/partition-independent pseudo-random sample
       (distributed TopK, no global sort).
    2. On the driver: ``_N_INIT`` seeded k-means++ restarts + Lloyd on
       the sample; keep the lowest-inertia centers (the reference's
       sklearn n_init=100 semantics at sample scale).
    3. Distributed Lloyd refinement: each iteration = one observed
       pass (``cluster_means``: one job, one stage, no exchange)
       producing k counts and k×d exact sums, until the squared center
       shift drops below ``_TOL`` or ``max_iter`` rounds. The session's
       configuration is never touched.

    ``sample_X`` short-circuits step 1 so a k-sweep (auto_kmeans)
    pays the distributed TopK once, not once per k.
    """
    X = sample_X if sample_X is not None else init_sample_matrix(df, cols, key_col, init_sample)
    best, best_cost = None, math.inf
    for t in range(_N_INIT):
        c0 = _kmeanspp_init(X, k, _SEED + t)
        c = _lloyd_numpy(X, c0)
        cost = float(((X[:, None, :] - c[None, :, :]) ** 2).sum(-1).min(1).sum())
        if cost < best_cost:
            best, best_cost = c, cost
    centers = best

    it = 0
    src = df.select(*cols)
    for it in range(1, max_iter + 1):
        sizes, means = cluster_means(kmeans_assign(src, cols, centers, out="_c"), "_c", cols, len(centers))
        # a cluster that lost every member keeps its center
        new = np.where(sizes[:, None] > 0, means, centers)
        shift = float(((new - centers) ** 2).sum())
        centers = new
        if shift < _TOL:
            break

    # inertia is diagnostics (elbow sweep) — skip the extra scan unless
    # asked (the label path never needs it)
    inert = inertia(df, cols, centers) if compute_inertia else float("nan")
    return KMeansModel(cols=list(cols), centers=centers, inertia=inert, iterations=it)


def inertia(df: DataFrame, cols: list[str], centers: np.ndarray) -> float:
    """Within-cluster sum of squares — reference compute_nb_clusters'
    inertia (/root/reference/osmdq/unsupervised_learning.py:425)."""
    darr = _dist_array(cols, centers)
    row = df.agg(F.sum(F.array_min(darr)).alias("i")).collect()[0]
    return float(row["i"] or 0.0)


def elbow_derivation(elbow: list[float]) -> list[float]:
    """Discrete 2nd derivative, reference elbow_derivation semantics."""
    out = [0.0]
    for i in range(1, len(elbow) - 1):
        out.append(elbow[i + 1] + elbow[i - 1] - 2 * elbow[i])
    return out


def compute_nb_clusters(inertias: list[float], nbmin_clusters: int) -> int:
    """argmax of the elbow 2nd derivative + kmin — reference
    compute_nb_clusters (/root/reference/osmdq/unsupervised_learning.py:405-428)."""
    d = elbow_derivation(inertias)
    return nbmin_clusters + d.index(max(d))


def auto_kmeans(
    df: DataFrame,
    cols: list[str],
    key_col: str,
    nbmin_clusters: int = 3,
    nbmax_clusters: int = 8,
    init_sample: int = 4096,
) -> tuple[int, dict[int, "KMeansModel"]]:
    """The reference's AutoKMeans flagship
    (/root/reference/osmdq/analysis_tasks.py:809-873): fit KMeans for
    k ∈ [kmin−1, kmax+1], apply the elbow 2nd-derivative rule over the
    inertias of k ∈ [kmin, kmax], return (chosen k, all fitted models).
    Each fit reuses the same persisted input AND the same init sample
    (one distributed TopK for the whole sweep); inertia is one
    aggregation per k."""
    X = init_sample_matrix(df, cols, key_col, init_sample)
    models: dict[int, KMeansModel] = {}
    for k in range(nbmin_clusters - 1, nbmax_clusters + 2):
        models[k] = kmeans_fit(df, cols, k=k, key_col=key_col, compute_inertia=True, sample_X=X)
    inertias = [models[k].inertia for k in range(nbmin_clusters, nbmax_clusters + 1)]
    best = compute_nb_clusters(inertias, nbmin_clusters)
    return best, models


def silhouette_sampled(
    df: DataFrame,
    cols: list[str],
    cluster_col: str,
    key_col: str,
    sample_n: int = 2000,
) -> float:
    """Diagnostic sampled silhouette (reference caps at 2000 rows,
    /root/reference/osmdq/unsupervised_learning.py:22). Deterministic
    sample: the ``sample_n`` rows with the smallest md5 hex digest of
    the key — engine-portable, so an external oracle can replay the
    exact sample (the q72 cross-check); numpy on the driver."""
    samp = (
        df.select(F.md5(F.col(key_col).cast("string")).alias("_h"), F.col(cluster_col).alias("_c"), *cols)
        .orderBy("_h")
        .limit(sample_n)
        .collect()
    )
    X = np.array([[float(r[c]) for c in cols] for r in samp])
    lab = np.array([int(r["_c"]) for r in samp])
    if len(np.unique(lab)) < 2:
        return float("nan")
    d = np.sqrt(((X[:, None, :] - X[None, :, :]) ** 2).sum(-1))
    s_vals = []
    for i in range(len(X)):
        same = lab == lab[i]
        same[i] = False
        a = d[i][same].mean() if same.any() else 0.0
        b = min(d[i][lab == other].mean() for other in np.unique(lab) if other != lab[i])
        s_vals.append((b - a) / max(a, b) if max(a, b) > 0 else 0.0)
    return float(np.mean(s_vals))

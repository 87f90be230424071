"""End-to-end quality-filter pipeline with checkpointed, resumable stages.

The reference's Luigi DAG gives file-level incrementality: a task whose
output file exists is skipped (/root/reference/osmdq/analysis_tasks.py:36-43
idiom, every task). Re-expressed here: every stage optionally writes a
parquet stage table under ``workdir``; on re-run a stage whose output
exists is READ instead of recomputed — same resume semantics, no Luigi.
Each checkpointed stage also writes its per-partition lineage rows and a
metrics row (north rule: "resumable from checkpoint with per-partition
lineage + metrics").

Stage graph (reference pipeline traced in SURVEY.md §3.1):
    pages
      → features     (heuristics: pure exprs; langid/perplexity: Arrow UDFs;
                      scrubbed_text)
      → normalized   (ECDF u_* + ratio features; bucketed-parallel exact ECDF)
      → clustered    (min-max scale → covariance/eig PCA → KMeans → cluster)
      → labels       (cluster ranking → keep = cluster IN kept; url, scrubbed_text)
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import label as label_mod
from . import ml, normalize, scorers, textstats
from .scrub import scrub

# Features fed to scaling → PCA → KMeans. pii_hits is deliberately
# excluded (PII occurs uniformly across tiers; it informs scrubbing,
# not quality).
CLUSTER_FEATURES = [
    "u_chars",
    "u_words",
    "u_mean_word_len",
    "u_perplexity",
    "stopword_ratio",
    "symbol_ratio",
    "digit_ratio",
    "upper_ratio",
    "dup_word_ratio",
    "dup_5gram_ratio",
    "langid_conf",
    "lang_match",
]

ECDF_FEATURES = ["n_chars", "n_words", "mean_word_len", "perplexity"]

# auto-PCA (pca_components=0) clamps its component count to this range
# (the reference clamps auto-k to [3, 12], BASELINE.md)
PCA_KMIN, PCA_KMAX = 3, 8


@dataclass
class PipelineConfig:
    workdir: str | None = None  # None → fully lazy, no checkpoints
    k: int = 5
    pca_components: int = 0  # 0 → auto (cumvar > 70%, within PCA_KMIN..PCA_KMAX)
    keep_top: int = 1
    kmeans_max_iter: int = 25
    kmeans_init_sample: int = 4096


class StageRunner:
    """Luigi-style stage memoization + lineage/metrics bookkeeping, and
    the cache lifecycle of one run: every frame the run caches is
    registered in ``persisted`` and ``finish`` releases all but the
    returned one."""

    def __init__(self, spark: SparkSession, workdir: str | None):
        self.spark = spark
        self.workdir = workdir
        self.metrics: list[dict] = []
        self.persisted: list[DataFrame] = []

    def _path(self, name: str) -> str:
        assert self.workdir
        return os.path.join(self.workdir, name)

    def _lineage_path(self, name: str) -> str:
        return self._path(os.path.join("_lineage", f"stage={name}"))

    def exists(self, name: str) -> bool:
        """A stage is done only once BOTH its table and its lineage are
        on disk: a crash between the two writes re-runs the stage."""
        return bool(self.workdir) and all(
            os.path.exists(os.path.join(p, "_SUCCESS")) for p in (self._path(name), self._lineage_path(name))
        )

    def resume(self, *stages: str) -> DataFrame | None:
        """Luigi-style resume over ``stages`` (run order, terminal
        last): if the terminal stage is on disk nothing runs — every
        stage found on disk is recorded as skipped and the terminal
        table is returned. None when the run must execute."""
        if not self.exists(stages[-1]):
            return None
        self.metrics += [{"stage": s, "skipped": True} for s in stages if self.exists(s)]
        self.flush_metrics()
        return self.spark.read.parquet(self._path(stages[-1]))

    def run(self, name: str, build) -> DataFrame:
        """Return the stage DataFrame; if checkpointing is on, write it
        once and read it back (true barrier = resume point). The
        read-back takes the written frame's schema, so it runs no
        schema-inference job; only a stage resumed from an earlier
        run's files (``resume``, the skip branch below) infers one."""
        if not self.workdir:
            # No disk checkpoint → persist in memory/disk: downstream ML
            # stages (min-max, covariance, Lloyd iterations) each rescan
            # this frame; without a materialization every iteration would
            # re-run the whole upstream DAG including the Arrow UDFs.
            df = build().persist()
            self.persisted.append(df)
            return df
        if self.exists(name):
            self.metrics.append({"stage": name, "skipped": True})
            return self.spark.read.parquet(self._path(name))
        t0 = time.time()
        df = build()
        df.write.mode("overwrite").parquet(self._path(name))
        out = self.spark.read.schema(df.schema).parquet(self._path(name))
        # per-partition lineage: rows per output partition, one
        # overwritten directory per stage (a re-run replaces, never
        # duplicates; ``_lineage`` reads back with a ``stage`` column)
        lin = out.groupBy(F.spark_partition_id().alias("partition_id")).agg(F.count(F.lit(1)).alias("rows"))
        lin.write.mode("overwrite").parquet(self._lineage_path(name))
        parts = lin.agg(
            F.count(F.lit(1)).alias("np"),
            F.sum("rows").alias("rows"),
            (F.max("rows") / F.avg("rows")).alias("skew"),
        ).collect()[0]
        self.metrics.append(
            {
                "stage": name,
                "wall_ms": int((time.time() - t0) * 1000),
                "rows_out": int(parts["rows"] or 0),
                "partitions": int(parts["np"]),
                "skew_max_over_mean": float(parts["skew"] or 0.0),
            }
        )
        return out

    def finish(self, out: DataFrame) -> DataFrame:
        """Materialize the run's result, release every other frame the
        run cached, flush the metrics: a long-lived session driving many
        pipelines must not accrue executor memory (VERDICT r1 item 3).
        Only a memory-mode ``out`` (persisted by ``run``) stays cached."""
        if not self.workdir:
            # a noop write fills the cache in one job; count() would
            # add an exchange (one more job under AQE)
            out.write.format("noop").mode("overwrite").save()
        for df in self.persisted:
            if df is not out:
                df.unpersist()
        self.persisted = [df for df in self.persisted if df is out]
        self.flush_metrics()
        return out

    def flush_metrics(self) -> None:
        if not self.workdir or not self.metrics:
            return
        with open(os.path.join(self.workdir, "metrics.json"), "w") as f:
            json.dump(self.metrics, f, indent=2)


def extract_features(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """pages → per-document features + scrubbed text."""
    df = textstats.char_features(df)
    df = scorers.all_scorer_features(df)  # one fused ArrowEvalPython
    df = scrub(df)
    # html AND raw text are dead weight past this point: every
    # downstream consumer reads either the numeric features or
    # scrubbed_text (the per-url byte-identity deliverable). Dropping
    # them here shrinks the persisted/checkpointed stage ~60% — at
    # cache-pressure scale that is the difference between memory-
    # resident and spilling stages.
    return df.drop("html", "text")


def normalize_features(df: DataFrame, cfg: PipelineConfig, stats_out: dict | None = None) -> DataFrame:
    # Numeric-only projection BEFORE the ECDF: the text and
    # scrubbed_text payloads must not travel through its broadcast
    # joins and per-bucket window shuffles (they are ~50× the numeric
    # width); scrubbed_text is joined back once at label emission.
    numeric = [c for c in df.columns if c not in ("text", "scrubbed_text", "lang", "warc_ts", "html")]
    df = normalize.ecdf(df.select(*numeric), ECDF_FEATURES, prefix="u_", stats_out=stats_out)
    # reference naming: u_chars not u_n_chars (utils.py:540-541 strips n_)
    return df


def cluster_documents(
    df: DataFrame, cfg: PipelineConfig, feats: list[str] = CLUSTER_FEATURES, key_col: str = "url",
    persisted: list | None = None, approx_rows: int | None = None,
):
    """min-max → PCA (auto-k) → KMeans with ``cfg.k`` clusters over the
    ``feats`` columns of an entity table keyed by ``key_col`` — pages
    here, hosts in hostagg.run_host_pipeline. Returns (df keyed by
    ``key_col`` with ``feats`` min-max scaled, pc_* and ``cluster``;
    KMeans model), or None when the PCA scan counts no rows: an empty
    table fits no KMeans.
    Registers its internal persist in ``persisted`` so the caller can
    release it once the output is materialized (StageRunner.finish).
    ``approx_rows`` (the exact upstream count when known — the ECDF
    probe surfaces it) fuses the KMeans init sample INTO the PCA fit
    scan: one driver round-trip serves minmax + covariance + init
    sample, with a bitwise-identical sample matrix
    (ml.fit_scaled_pca_with_init); without it KMeans takes the sample
    with its own TopK job."""
    missing = [c for c in feats if c not in df.columns]
    if missing:
        raise ValueError(f"cluster feature columns missing from input: {missing}")
    # one pass: min/max + covariance (scaled covariance derived on the
    # driver) instead of separate minmax and covariance scans — plus
    # the fused init sample when the row-count hint is available
    stats, pca, sample_X, n = ml.fit_scaled_pca_with_init(
        df,
        feats,
        n_components=cfg.pca_components,
        kmin=PCA_KMIN,
        kmax=PCA_KMAX,
        key_col=key_col,
        init_sample=cfg.kmeans_init_sample,
        approx_rows=approx_rows,
    )
    if n == 0:
        return None
    scaled = ml.minmax_scale(df, feats, stats)
    pc_cols = [f"pc_{j}" for j in range(pca.loadings.shape[1])]
    # Lloyd iterations + centroid ranking rescan this frame k×; keep
    # only (key, features, pc_*) hot — equivalent to the reference
    # persisting /individuals between tasks (analysis_tasks.py:632-635).
    proj = ml.pca_project(scaled, pca).select(key_col, *feats, *pc_cols).persist()
    if persisted is not None:
        persisted.append(proj)
    km = ml.kmeans_fit(
        proj, pc_cols, k=cfg.k, key_col=key_col, max_iter=cfg.kmeans_max_iter,
        init_sample=cfg.kmeans_init_sample, sample_X=sample_X,
    )
    out = ml.kmeans_assign(proj, pc_cols, km.centers, out="cluster")
    return out, km


def run_pipeline(spark: SparkSession, pages: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """Full pipeline: pages → labels (url, cluster, keep, scrubbed_text).

    An empty ``pages`` returns an empty frame with that schema —
    ``cluster`` int, ``keep`` boolean — and runs no KMeans: there is
    nothing to fit. A fresh run learns it from the ECDF probe and skips
    the PCA scan too; a run resuming its normalized stage from disk
    learns it from the PCA scan's row count."""
    cfg = cfg or PipelineConfig()
    runner = StageRunner(spark, cfg.workdir)
    done = runner.resume("features", "normalized", "labels")
    if done is not None:
        return done

    feats_df = runner.run("features", lambda: extract_features(pages, cfg))
    # nstats carries the ECDF probe's exact row count out of the stage
    # closure (empty on a checkpoint-resume read — the fused init
    # sample then falls back to the separate TopK, same results)
    nstats: dict = {}
    norm_df = runner.run("normalized", lambda: normalize_features(feats_df, cfg, nstats))
    fit = None if nstats.get("n_rows") == 0 else cluster_documents(
        norm_df, cfg, persisted=runner.persisted, approx_rows=nstats.get("n_rows")
    )
    if fit is None:
        empty = feats_df.select(
            "url", F.lit(None).cast("int").alias("cluster"), F.lit(False).alias("keep"), "scrubbed_text"
        )
        return runner.finish(runner.run("labels", lambda: empty))
    clustered, km = fit

    def labels() -> DataFrame:
        # Rank clusters by the mean scaled features of their members
        # (`clustered` feature columns are already min-max scaled): one
        # observed pass inside the stage, then keep is a k-literal
        # predicate on the cluster id — no join, no window.
        kept = label_mod.keep_clusters(clustered, CLUSTER_FEATURES, len(km.centers), cfg.keep_top)
        return (
            clustered.select("url", "cluster", F.col("cluster").isin(kept).alias("keep"))
            # one url-equi-join to re-attach the scrubbed payload — the
            # only time text crosses a shuffle after feature extraction
            .join(feats_df.select("url", "scrubbed_text"), on="url", how="inner")
            .select("url", "cluster", "keep", "scrubbed_text")
        )

    return runner.finish(runner.run("labels", labels))

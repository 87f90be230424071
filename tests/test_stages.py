"""Stage lifecycle shared by the page and host pipelines
(pipeline.StageRunner): crash-window resume and cache release."""

import json
import os
import shutil

from webdq import hostagg
from webdq.pipeline import PipelineConfig, run_pipeline
from webdq.synth import generate_pages


def test_lineage_crash_window_recomputes_stage(tmp_path, spark):
    """A stage whose table is on disk but whose lineage is not (a crash
    between the two writes) is not done: the resume run recomputes it
    from the checkpointed upstream stages, with lineage this time."""
    pages = generate_pages(spark, 400).drop("_tier")
    wd = str(tmp_path / "run")
    cfg = PipelineConfig(k=5, kmeans_init_sample=256, workdir=wd)
    first = run_pipeline(spark, pages, cfg).toPandas().set_index("url").sort_index()

    shutil.rmtree(os.path.join(wd, "_lineage", "stage=labels"))
    second = run_pipeline(spark, pages.limit(0), cfg).toPandas().set_index("url").sort_index()
    with open(os.path.join(wd, "metrics.json")) as f:
        m = {r["stage"]: r for r in json.load(f)}
    assert m["features"].get("skipped") and m["normalized"].get("skipped")
    assert not m["labels"].get("skipped") and m["labels"]["rows_out"] == 400
    assert first.equals(second)

    lineage = spark.read.parquet(os.path.join(wd, "_lineage")).toPandas()
    rows = lineage.groupby("stage")["rows"].sum().to_dict()
    assert rows == {"features": 400, "normalized": 400, "labels": 400}


def test_resume_of_empty_run_after_crash_returns_empty_labels(tmp_path, spark):
    """A checkpoint run over empty pages that crashed after writing
    ``normalized`` resumes with no ECDF probe to say the input is
    empty: it must return the same empty labelled frame as the fresh
    run, not fit KMeans on no rows."""
    pages = generate_pages(spark, 200).drop("_tier").limit(0)
    wd = str(tmp_path / "empty")
    cfg = PipelineConfig(k=5, kmeans_init_sample=256, workdir=wd)
    first = run_pipeline(spark, pages, cfg)
    assert first.count() == 0

    for d in ("labels", os.path.join("_lineage", "stage=labels")):
        shutil.rmtree(os.path.join(wd, d))
    second = run_pipeline(spark, pages, cfg)
    with open(os.path.join(wd, "metrics.json")) as f:
        m = {r["stage"]: r for r in json.load(f)}
    assert m["normalized"].get("skipped") and not m["labels"].get("skipped")
    assert second.count() == 0
    assert second.schema == first.schema
    assert dict(second.dtypes) == {"url": "string", "cluster": "int", "keep": "boolean", "scrubbed_text": "string"}


def _inference_jobs(spark, group: str) -> list[int]:
    """Jobs of ``group`` that ran outside every SQL execution. In a
    pipeline run those are parquet schema-inference jobs: every scan,
    write, collect and observed noop write runs inside one."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    in_sql = set()
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    while it.hasNext():
        in_sql |= {int(j) for j in it.next().jobs().keys().mkString(",").split(",") if j}
    return sorted(set(sc.statusTracker().getJobIdsForGroup(group)) - in_sql)


def test_fresh_checkpoint_run_infers_no_schema(tmp_path, spark):
    """A fresh checkpoint run reads every stage it writes back under
    the written frame's schema: no schema-inference job, where a bare
    spark.read.parquet would run one per stage (features, normalized,
    labels)."""
    pages = generate_pages(spark, 400).drop("_tier")
    cfg = PipelineConfig(k=5, kmeans_init_sample=256, workdir=str(tmp_path / "run"))
    sc = spark.sparkContext
    sc.setJobGroup("ckpt-inference", "ckpt-inference")
    try:
        out = run_pipeline(spark, pages, cfg)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert _inference_jobs(spark, "ckpt-inference") == []
    assert out.count() == 400


def _cached_rdd_ids(jsc) -> set[int]:
    """Ids of the persisted RDDs, less the ``localCheckpoint`` ones.
    Earlier tests (dbscan, connected components, BPE) leave checkpoint
    RDDs behind, and Spark's ContextCleaner reclaims them whenever the
    JVM collects them — counting them made this test depend on GC
    timing. Neither pipeline checkpoints."""
    rdds = jsc.getPersistentRDDs()
    return {int(k) for k in rdds.keySet().toArray() if "localCheckpoint" not in rdds.get(k).toString()}


def test_runs_release_every_cache_but_the_result(tmp_path, spark):
    """Checkpoint mode leaves no frame cached; memory mode leaves only
    the returned one — for both pipelines — and neither drops a cache
    it did not make."""
    jsc = spark.sparkContext._jsc
    pages = generate_pages(spark, 400, tier_by_host=True).drop("_tier")

    def page(workdir):
        cfg = PipelineConfig(k=4, kmeans_init_sample=256, workdir=workdir)
        return run_pipeline(spark, pages, cfg)

    def host(workdir):
        return hostagg.run_host_pipeline(spark, pages, k=3, keep_top=1, workdir=workdir)

    for name, run in (("page", page), ("host", host)):
        before = _cached_rdd_ids(jsc)
        out = run(str(tmp_path / name))
        assert _cached_rdd_ids(jsc) == before, name
        assert not out.is_cached, name

        before = _cached_rdd_ids(jsc)
        out = run(None)
        after = _cached_rdd_ids(jsc)
        assert before <= after and len(after - before) == 1, name
        assert out.is_cached, name
        out.unpersist()

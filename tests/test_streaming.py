"""Streaming path: availableNow file-source micro-batches → memory sink."""

import numpy as np
from pyspark.sql import functions as F

from webdq import streaming
from webdq.pipeline import CLUSTER_FEATURES
from webdq.synth import generate_pages


def test_windowed_lang_stats(spark, tmp_path):
    src = str(tmp_path / "pages")
    generate_pages(spark, 400).drop("_tier").write.parquet(src)
    stream = streaming.read_pages_stream(spark, src, max_files=4)
    agg = streaming.windowed_lang_stats(stream, window="30 days", watermark="1 day")
    q = (
        agg.writeStream.format("memory")
        .queryName("lang_stats")
        .outputMode("complete")  # append would withhold windows still inside the watermark at stream end
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("select * from lang_stats").collect()
    assert sum(r["n_pages"] for r in out) == 400
    assert {r["lang"] for r in out} == {"en", "de"}


def test_score_stream_matches_batch(spark, tmp_path):
    """Streaming scoring with batch-fitted constants == batch scoring."""
    from webdq import ml
    from webdq.scrub import scrub
    from webdq.textstats import char_features
    from webdq.scorers import model_features, token_features

    src = str(tmp_path / "pages2")
    pages = generate_pages(spark, 300).drop("_tier")
    pages.write.parquet(src)

    # fit constants in batch on scaled heuristic features
    feats = [c for c in CLUSTER_FEATURES if not c.startswith("u_")]
    batch = scrub(model_features(token_features(char_features(pages))))
    stats, _, _ = ml.fit_scaled_pca_with_init(batch, feats, n_components=3)
    km = ml.kmeans_fit(ml.minmax_scale(batch, feats, stats), feats, k=3, key_col="url", init_sample=256)
    batch_out = {
        r["url"]: (r["cluster"], r["keep"])
        for r in ml.kmeans_assign(ml.minmax_scale(batch, feats, stats), feats, km.centers, "cluster")
        .withColumn("keep", (F.col("cluster") == 0))
        .select("url", "cluster", "keep")
        .collect()
    }

    stream = streaming.read_pages_stream(spark, src, max_files=8)
    scored = streaming.score_stream(stream, feats, km.centers, {0}, stats)
    q = (
        scored.writeStream.format("memory")
        .queryName("scored_pages")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {r["url"]: (r["cluster"], r["keep"]) for r in spark.sql("select * from scored_pages").collect()}
    assert got == batch_out


def test_dedup_stream_stateful(spark, tmp_path):
    """applyInPandasWithState cross-batch dedup: exactly one emitted
    row per distinct fingerprint even when duplicates span micro-
    batches; totals match the batch exact_dedup."""
    from webdq import dedup

    src = str(tmp_path / "pages3")
    base = generate_pages(spark, 120).drop("_tier")
    # duplicate every text under new urls, written as a SECOND file so
    # the copies arrive in a later micro-batch than the originals
    dup = base.withColumn("url", F.concat(F.lit("https://mirror.example/"), F.col("url")))
    base.coalesce(1).write.parquet(src)
    dup.coalesce(1).write.mode("append").parquet(src)

    stream = streaming.read_pages_stream(spark, src, max_files=1)
    out = streaming.dedup_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("select * from dedup_stream_out").collect()

    batch = dedup.exact_dedup(
        base.unionByName(dup).selectExpr("url as doc_id", "text"), id_col="doc_id"
    ).collect()
    assert len(got) == len(batch)  # one row per distinct fingerprint
    assert {r["fingerprint"] for r in got} == {r["fingerprint"] for r in batch}


def test_dedup_stream_ttl_evicts_and_reemits(spark, tmp_path):
    """With a processing-time TTL, a fingerprint idle past the TTL is
    evicted by a later micro-batch's timeout sweep and its next
    arrival re-emits as first-seen (dedup-within-horizon, bounded
    state). One CONTINUOUS query: while any timer is armed the
    micro-batch engine keeps scheduling batches, so the sweep runs
    even with no new input (and processAllAvailable/availableNow never
    reach a quiescent point — hence sink polling, not draining)."""
    import time

    src = str(tmp_path / "ttlsrc")
    cp = str(tmp_path / "ttlcp")
    sink = str(tmp_path / "ttlsink")

    a = generate_pages(spark, 30).drop("_tier").cache()
    na = a.count()
    a.coalesce(1).write.mode("append").parquet(src)  # source dir must pre-exist

    stream = streaming.read_pages_stream(spark, src, max_files=10)
    out = streaming.dedup_stream(stream, state_ttl_ms=1500)
    q = (
        out.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .start()
    )

    def sink_rows() -> int:
        try:
            return spark.read.parquet(sink).count()
        except Exception:  # noqa: BLE001 - sink dir not created yet
            return 0

    def wait_rows(n: int, deadline_s: float = 90.0) -> int:
        t0 = time.time()
        while time.time() - t0 < deadline_s:
            got = sink_rows()
            if got >= n:
                return got
            time.sleep(0.5)
        return sink_rows()

    try:
        assert wait_rows(na) == na  # every fingerprint emitted once
        time.sleep(3.0)  # TTL lapses; timer batches evict the idle states
        # same texts under new urls: must re-emit as first-seen
        a.withColumn("url", F.concat(F.lit("https://mirror.example/"), F.col("url"))).coalesce(
            1
        ).write.mode("append").parquet(src)
        assert wait_rows(2 * na) == 2 * na, "fingerprints were not re-emitted after TTL eviction"
    finally:
        q.stop()
        q.awaitTermination(60)

    by_fp = {
        r["fingerprint"]: r["count"]
        for r in spark.read.parquet(sink).groupBy("fingerprint").count().collect()
    }
    assert len(by_fp) == na and all(c == 2 for c in by_fp.values())

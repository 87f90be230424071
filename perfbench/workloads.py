"""The benchmark's workloads: seeded set-up, one timed pass, and the
check of that pass's output."""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import inputs


class PipelineSmall:
    """q00's shape: ``run_pipeline`` with q00's config over the
    documents table adapted by ``synth.pages_from_documents``. The seed
    draws the corpus and keeps a seeded ~80% row subset of it."""

    name = "pipeline_small"
    sf = 0.1
    # Spark's Lloyd and the oracle's own k-means may split this corpus (no
    # tier structure) a little differently: 0.988-1.0 over 43 seeds
    keep_f1_min = 0.98
    min_passes = 1  # timed passes per run at the least (run.Passes.timed)

    def __init__(self, work: str):
        self.work = work
        self.in_dir = os.path.join(work, "input")
        self.expected = None  # expect()'s result, set by setup()
        self._expected_df = None

    def materialize(self, seed: int) -> dict:
        rng = np.random.default_rng([seed, 0x00])
        docs = inputs.documents(rng, int(inputs.ROWS_PER_SF["documents"] * self.sf))
        docs = docs.filter(rng.random(docs.num_rows) < 0.8)
        nbytes = inputs.write_tables({"documents": docs}, self.in_dir)
        self.docs, self.n_docs = docs, docs.num_rows
        return {"rows": docs.num_rows, "bytes": nbytes}

    def expect(self) -> pd.DataFrame:
        """Reference keep labels (numpy oracle) and scrubbed text per url."""
        from webdq import oracle
        from webdq.scrub import scrub_py

        d = self.docs.to_pandas()
        pages = pd.DataFrame(
            {
                "url": "https://" + d["source"] + ".example/d/" + d["doc_id"].astype(str),
                "text": d["text"],
                "lang": d["lang"],
            }
        )
        ref = oracle.reference_labels(pages, k=4, keep_top=1)
        return pd.DataFrame({"url": pages["url"], "keep_ref": ref["keep"].astype(bool), "scrub_ref": pages["text"].map(scrub_py)})

    def _expected(self, spark):
        if self._expected_df is None:
            exp = self.expected
            path = os.path.join(self.work, "expected")
            spark.createDataFrame(exp).coalesce(1).write.mode("overwrite").parquet(path)
            self._expected_df = spark.read.parquet(path).cache()
        return self._expected_df

    def run_pass(self, spark, on_query=None, collect: bool = False):
        from webdq.pipeline import PipelineConfig, run_pipeline
        from webdq.synth import pages_from_documents

        # q00's config, but Lloyd capped at 5 rounds: run to convergence it
        # took 4-16 rounds depending on the seed's corpus, which moved the
        # wall by up to 40% and the job count by 7 between seeds
        cfg = PipelineConfig(k=4, pca_components=3, kmeans_init_sample=512, keep_top=1, kmeans_max_iter=5)
        return run_pipeline(spark, pages_from_documents(spark, self.in_dir), cfg)

    def check(self, spark, labels) -> dict:
        """Every url present once, scrubbed text byte-identical to
        ``scrub_py``, keep/drop F1 against the oracle at or above
        ``keep_f1_min``."""
        j = labels.join(self._expected(spark), "url", "full_outer")
        r = j.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("keep").isNull() | F.col("keep_ref").isNull()).cast("int")).alias("missing"),
            F.sum((~F.col("scrubbed_text").eqNullSafe(F.col("scrub_ref"))).cast("int")).alias("bad_scrub"),
            F.sum((F.col("keep") & F.col("keep_ref")).cast("int")).alias("tp"),
            F.sum((F.col("keep") & ~F.col("keep_ref")).cast("int")).alias("fp"),
            F.sum((~F.col("keep") & F.col("keep_ref")).cast("int")).alias("fn"),
        ).collect()[0]
        tp, fp, fn = (int(r[k] or 0) for k in ("tp", "fp", "fn"))
        f1 = 2 * tp / (2 * tp + fp + fn) if (2 * tp + fp + fn) else 1.0
        ok = int(r["n"]) == self.n_docs and not r["missing"] and not r["bad_scrub"] and f1 >= self.keep_f1_min
        return {"ok": ok, "keep_f1": f1, "bad_scrub": int(r["bad_scrub"] or 0), "missing": int(r["missing"] or 0)}

    def release(self, spark, labels) -> None:
        labels.unpersist()


# The 13 non-q00 bench.py HEADLINE queries plus q92 (quantile buckets).
QUERIES = [
    "q01_latest_version",
    "q04_gap_rank",
    "q05_ecdf",
    "q08_agg_core",
    "q09_quantiles",
    "q12_monthly_snapshot",
    "q13_star_join",
    "q16_canonicalize",
    "q25_exact_dedup",
    "q29_minhash_lsh_pairs",
    "q33_ann_topk",
    "q42_host_agg",
    "q44_minhash_banded",
    "q92_perplexity_buckets",
]


class OperatorsSf001:
    """One pass over the contract queries at sf0.01, each forced with
    ``count()``; the seed draws the tables and the query order."""

    name = "operators_sf001"
    sf = 0.01
    min_passes = 1

    def __init__(self, work: str):
        self.work = work
        self.in_dir = os.path.join(work, "spark")
        self.duck_dir = os.path.join(work, "duck")
        self.expected = None  # expect()'s result, set by setup()

    def materialize(self, seed: int) -> dict:
        tables = inputs.sf_tables(seed, self.sf)
        nbytes = inputs.write_tables(tables, self.in_dir, self.duck_dir)
        self.order = [QUERIES[i] for i in np.random.default_rng([seed, 0x0F]).permutation(len(QUERIES))]
        self.n_docs = tables["documents"].num_rows
        return {"rows": sum(t.num_rows for t in tables.values()), "bytes": nbytes}

    def expect(self) -> dict[str, pd.DataFrame]:
        """DuckDB runs each query's oracle SQL over the same rows once."""
        import __spark_entry__ as entry
        from tools.check_oracle import duck_run

        sql = entry.oracle_sql()
        return {q: duck_run(sql[q], self.duck_dir) for q in self.order}

    def run_pass(self, spark, on_query=None, collect: bool = False) -> dict:
        """Each query forced with ``count()``, or collected to pandas
        (``collect``) so ``check`` can compare every value."""
        import contextlib

        import __spark_entry__ as entry

        qs = entry.queries()
        out = {}
        for q in self.order:
            with on_query(q) if on_query else contextlib.nullcontext():
                df = qs[q](spark, self.in_dir)
                out[q] = df.toPandas() if collect else df.count()
        return out

    def check(self, spark, out) -> dict:
        """Row counts against DuckDB; collected results also value by
        value (order-independent, tools/check_oracle.compare)."""
        from tools.check_oracle import compare

        bad = []
        expected = self.expected
        for q in self.order:
            r, exp = out[q], expected[q]
            if isinstance(r, pd.DataFrame):
                ok, msg = compare(q, r, exp)
                if not ok:
                    bad.append(f"{q}: {msg}")
            elif r != len(exp):
                bad.append(f"{q}: {r} rows, oracle {len(exp)}")
        return {"ok": not bad, "bad": bad}

    def release(self, spark, counts) -> None:
        spark.catalog.clearCache()


WORKLOADS = {w.name: w for w in (PipelineSmall, OperatorsSf001)}


def setup(wl, seed: int) -> dict:
    """Write the seeded input once, then compute the expected outputs
    (no Spark; not part of the timed set-up). Returns the write time, the
    oracle time and the input size."""
    t = time.perf_counter()
    info = wl.materialize(seed)
    t1 = time.perf_counter()
    wl.expected = wl.expect()
    return {**info, "materialize_s": t1 - t, "oracle_s": time.perf_counter() - t1}

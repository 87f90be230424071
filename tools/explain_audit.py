"""Physical-plan audit: print .explain("formatted") for key queries and
check the properties that matter at 100 TB — predicate pushdown to the
parquet scan, column pruning (ReadSchema ⊂ table schema), broadcast
joins for small dims, whole-stage codegen coverage.

Usage: python tools/explain_audit.py [query ...]
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

CHECKS = {
    # frozen flagship chain: documents scan must prune to exactly the
    # three columns the features need (no source/n_chars); the three
    # scorer UDFs must fuse into ONE ArrowEvalPython node; the frozen
    # scale→project→assign arithmetic is pure projection (no extra
    # shuffle); ECDF must never collapse to a single-partition sort
    "q00b_quality_pipeline_frozen": [
        "ReadSchema: struct<doc_id:bigint,text:string,lang:string>",
        "ArrowEvalPython",
        "!Exchange SinglePartition",
    ],
    "q21_compound_filter": ["PushedFilters: [", "ReadSchema"],
    "q01_latest_version": ["ReadSchema: struct<event_id:bigint,ts:timestamp_ntz,user_id:bigint,event_type:string"],
    "q13_star_join": ["BroadcastHashJoin"],
    "q14_label_join": ["BroadcastHashJoin"],
    "q06_topk": ["TakeOrderedAndProject"],
    # AQE formatted plans don't print codegen ids before execution;
    # "Batched: true" asserts the columnar parquet scan, "partial_"
    # asserts map-side combine before the exchange.
    "q08_agg_core": ["partial_", "Batched: true"],
    # grid-cell agg must stay a single hash aggregation with map-side
    # combine — no window, no join
    "q41_grid_cell": ["partial_", "Batched: true"],
    # host-aggregate stage: one hash aggregation; the documents scan
    # must prune to the columns the feature UDFs need (no n_chars col)
    "q42_host_agg": ["partial_"],
    # banded LSH pairs: the candidate join must be an equi-join on
    # (band, minhash) — never a nested-loop / cartesian product
    # ("!x" = must NOT appear in the plan)
    "q44_minhash_banded": ["!NestedLoop", "!Cartesian"],
    # multi-table LSH ANN re-rank: equi-join on (table, bucket); the
    # small query side must broadcast
    "q36_lsh_ann": ["BroadcastHashJoin", "!Cartesian"],
    # DBSCAN neighbor candidates: grid-cell hash EQUI-join, never an
    # all-pairs CartesianProduct. (A BroadcastNestedLoopJoin DOES
    # appear: the intentional point × 3^d-offset fan-out against the
    # 9-row broadcast offsets table — constant build side, not
    # data×data.) Building the plan runs the label-propagation loop —
    # expected, it is an iterative operator.
    "q46_dbscan": ["!Cartesian", "BroadcastHashJoin"],
    # IVF ANN: inverted-list probe join must broadcast the small query
    # side; no all-pairs product
    "q47_ivf_ann": ["BroadcastHashJoin", "!Cartesian"],
    # partitioned layout: the partition predicate must prune at the
    # scan (directory pruning), not as a post-scan Filter only
    "q49_partitioned_layout": ["PartitionFilters: [isnotnull(lang", "!Exchange SinglePartition"],
    # chunking/repetition removal are per-row array algebra: a single
    # stage, no shuffle at all
    "q50_chunking": ["!Exchange"],
    "q51_repetition_removal": ["!Exchange"],
    "q52_token_counts": ["!Exchange"],
    # parallel-exact ECDF must NEVER collapse to a single-partition
    # global sort (the naive cume_dist shape). At sf0.01 the feature is
    # low-cardinality → broadcast value-map path (no shuffle at all);
    # at high cardinality the plan becomes hash-partitioned bucket
    # windows — both are shuffle-safe, so the check is the negative.
    "q05_ecdf": ["BroadcastExchange", "!Exchange SinglePartition"],
    # interval join: the range predicate must run as a bucketed
    # EQUI-join + refine filter, never a nested-loop theta join
    "q55_interval_join": ["!Cartesian", "!NestedLoop", "partial_"],
    # sessionize: one per-key window — hash-partitioned by user, never
    # a global single-partition sort
    "q58_sessionize": ["!Exchange SinglePartition"],
    # Gopher repetition metrics: sorted-run array algebra per row — a
    # single stage with no shuffle at all
    "q56_gopher_repetition": ["!Exchange"],
    # self-contained LSH near-dup: candidate generation must be the
    # (table, bucket) equi-self-join, never an all-pairs product
    "q57_embedding_neardup_lsh": ["!Cartesian", "!NestedLoop"],
    # stratified sampling: rate lookup must broadcast (tiny rate
    # table); selection is one per-stratum window — never a global
    # single-partition sort
    "q60_stratified_sample": ["BroadcastHashJoin", "!Exchange SinglePartition"],
    # sequence packing: one per-stratum running-sum window, hash-
    # partitioned on the stratum key
    "q61_sequence_pack": ["!Exchange SinglePartition"],
    # decontamination: the benchmark fingerprint set must broadcast;
    # the per-doc probe is an equi-join, never an all-pairs product
    "q63_decontaminate": ["BroadcastHashJoin", "!Cartesian", "!NestedLoop"],
    # URL filtering (list path): pure per-row expressions — a single
    # stage, no join, no shuffle at all
    "q64_url_filter": ["!Exchange", "!Join"],
    # vocab: token counts must combine map-side; the only global sort
    # is the TopK (TakeOrdered), never a full single-partition sort
    # of the token table
    "q65_build_vocab": ["partial_", "TakeOrderedAndProject"],
    # OOV stats: vocab joins broadcast; per-doc agg combines map-side
    "q66_oov_stats": ["BroadcastHashJoin", "partial_", "!Cartesian"],
    # salted agg: two hash-aggregation stages, both map-side combined;
    # never a single-partition exchange
    "q68_salted_agg": ["partial_", "!Exchange SinglePartition"],
    # delta dedup: fingerprint equi-join, never an all-pairs product
    "q69_delta_dedup": ["!Cartesian", "!NestedLoop"],
    # JSONL roundtrip: column pruning must reach the json scan — the
    # unused `source` column is DROPPED from the declared schema
    # (stronger than schema-as-declared), aggregation map-side combined
    "q70_jsonl_source": ["ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>", "partial_"],
    # 2-D bbox containment join: grid-cell EQUI-join + 4-edge refine,
    # never a nested-loop/cartesian theta join
    "q71_bbox_join": ["!Cartesian", "!NestedLoop"],
    # tf-idf: the max_vocab-bounded term table must BROADCAST into the
    # tf join (TopK before the join, not a shuffle of the tf table);
    # tf/df aggregations map-side combined
    "q73_tfidf": ["BroadcastHashJoin", "TakeOrderedAndProject", "partial_", "!Cartesian"],
    # per-host quota: documents scan prunes to the 3 used columns;
    # no single-partition exchange (windows partition by host)
    "q74_host_quota": ["ReadSchema: struct<doc_id:bigint,source:string,n_chars:bigint>", "!Exchange SinglePartition"],
    # winsorize: ONE single-row percentile aggregate broadcast back —
    # the clip join must be a broadcast nested loop over a 1-row build
    # side (constant, not data×data), never a shuffled join
    "q75_winsorize": ["BroadcastNestedLoopJoin", "!SortMergeJoin"],
    # composed corpus-construction chain: the mixing-rate table must
    # broadcast; five chained stages must introduce no cartesian or
    # per-row nested-loop join anywhere in the plan
    "q76_corpus_build": ["BroadcastHashJoin", "!Cartesian", "!NestedLoop"],
    # PQ ADC: the lut (query × subspace × code distance table) must
    # BROADCAST into an equi-join against the posexploded codes; the
    # pivot aggregation combines map-side; no cartesian/nested-loop,
    # no shuffled join, no Arrow/Python evaluator anywhere — encode
    # and ADC are native expressions small enough to stay in codegen
    "q77_pq_adc": ["BroadcastHashJoin", "partial_", "!CartesianProduct", "!NestedLoop", "!SortMergeJoin", "!ArrowEvalPython", "!BatchEvalPython"],
    # corpus line dedup: fingerprint stats must be a map-side-combined
    # hash aggregation (one row per distinct line — the skew guard),
    # never a per-fingerprint window sort; no cartesian anywhere
    "q78_line_dedup": ["partial_", "!Cartesian", "!NestedLoop"],
    # budget selection: per-bucket sums map-side combined; the bucket
    # stats and boundary info broadcast back; the ONLY window runs
    # inside the boundary bucket — never a global single-partition
    # running sum over the data (the bucket table's own ≤n_buckets-row
    # cum is fine and unavoidable)
    "q79_select_by_budget": ["partial_", "BroadcastHashJoin"],
    # resize chain: two Arrow mapInPandas stages; the documents scan
    # must prune to the two columns the payload derives from (the
    # meta map and lang/source/n_chars never reach the scan)
    "q80_image_resize": ["MapInPandas", "ReadSchema: struct<doc_id:bigint,text:string>"],
    # audio resample chain: same shape — Arrow stages over a scan
    # pruned to the two payload-deriving columns
    "q81_audio_resample": ["MapInPandas", "ReadSchema: struct<doc_id:bigint,text:string>"],
    # span dedup: gram-fingerprint stats must be a map-side-combined
    # hash aggregation (one row per distinct k-gram — the skew guard);
    # candidate/token joins are equi-joins, never cartesian; the scan
    # prunes to the two columns the operator reads
    "q84_span_dedup": ["partial_", "!Cartesian", "!NestedLoop", "ReadSchema: struct<doc_id:bigint,text:string>"],
    # temperature mixing: stratum counts map-side combined and
    # BROADCAST back (the count table is tiny); no cartesian
    "q85_temperature_mix": ["partial_", "BroadcastHashJoin", "!Cartesian"],
    # SemDeDup: the within-cluster pair screen must be a cluster
    # EQUI-join, never an all-pairs product; assignment distances and
    # pair dots are native expressions — no Python evaluator anywhere
    "q86_semantic_dedup": ["!Cartesian", "!NestedLoop", "!ArrowEvalPython", "!BatchEvalPython"],
    # delta near-dup: signature aggregations map-side combined; the
    # bucket probe is an equi-join (doc×bucket, never doc×doc pairs)
    "q89_neardup_delta": ["partial_", "!Cartesian", "!NestedLoop"],
    # cascade accounting: ONE map-side-combined groupBy over the
    # attribution label; the scan prunes all the way to text alone
    # (doc_id is projected away — the stats need only the rule inputs)
    "q90_cascade_stats": ["partial_", "ReadSchema: struct<text:string>"],
    # contamination: benchmark gram set must BROADCAST; no pair join
    "q91_contamination_score": ["BroadcastHashJoin", "partial_", "!Cartesian"],
    # bigram-LM scoring: transition/context stats are map-side-combined
    # hash aggregations; the transition→stats probes are equi-joins
    # (a BroadcastNestedLoopJoin DOES appear: the 1-row vocab-size
    # scalar crossJoined back — constant build side, the q75 pattern —
    # so the negative is !SortMergeJoin, not !NestedLoop); the whole
    # chain is native expressions — no Python evaluator
    "q87_bigram_lm": ["partial_", "!Cartesian", "!SortMergeJoin",
                      "!ArrowEvalPython", "!BatchEvalPython"],
    # URL canonicalization is pure projection: no shuffle at all, scan
    # pruned to the two columns the query returns (id + raw url)
    "q88_canonical_url": ["!Exchange", "ReadSchema: struct<doc_id:bigint,source:string>"],
    # DSIR: gram counts and per-doc scoring both map-side combined;
    # the dim-bounded weight table must BROADCAST into the scoring
    # join; everything native (1-row totals ride a BroadcastNestedLoop
    # crossJoin — the q75 constant-build pattern, so no !NestedLoop)
    "q93_dsir_selection": ["partial_", "BroadcastHashJoin", "!Cartesian",
                           "!ArrowEvalPython", "!BatchEvalPython"],
    # Bloom membership: bitmap build is ONE map-side-combined bit_or
    # agg; the bitmap and the exact-check side must both BROADCAST
    # into the probe; no data×data join anywhere
    "q94_bloom_dedup": ["partial_", "BroadcastHashJoin", "!Cartesian",
                        "!NestedLoop", "!ArrowEvalPython"],
    # ORC roundtrip: the read-back must be a columnar (batched) ORC
    # scan with map-side-combined aggregation — same gate as parquet
    "q95_orc_source": ["partial_", "Batched: true"],
    # PR curve: distinct-score stats map-side combined; the min/max
    # bounds and bucket offsets ride 1-row/16-row BROADCASTS; every
    # window partitions by bucket — the cross-bucket cumulative is
    # driver arithmetic over the ≤ n_buckets collected bucket totals
    # (r7: no single-partition exchange anywhere in the plan)
    "q96_pr_curve": ["partial_", "BroadcastHashJoin", "!Cartesian",
                     "!ArrowEvalPython", "!Exchange SinglePartition"],
    # average precision: q96's detail plus a bucket-partitioned lag
    # (bucket-boundary Δrec from the broadcast offsets) and one scalar
    # aggregation — the former data-sized global-order lag window
    # (VERDICT r6 #1) is gone. The Δrec window's exchange must hash-
    # partition by bucket; the only SinglePartition exchange left is
    # the final 1-row scalar aggregate (carries one partial row per
    # partition), so the blanket negative asserts the WINDOW is never
    # fed by one: "SinglePartition\n" directly above a Window node
    # cannot be matched textually, hence the positive bucket check.
    "q97_average_precision": ["partial_", "BroadcastHashJoin", "!Cartesian",
                              "!ArrowEvalPython", "hashpartitioning(_bkt"],
    # snapshot diff: unique-key full outer join (SortMergeJoin is the
    # right shape for two same-sized sides) + map-side-combined counts;
    # never a cartesian, no Python
    "q98_snapshot_diff": ["partial_", "!Cartesian", "!NestedLoop",
                          "!ArrowEvalPython"],
    # filter agreement: the whole 2x2 contingency is ONE map-side-
    # combined aggregate over a single scan — no join, no shuffle
    # beyond the final 1-row exchange, scan pruned to text alone
    "q99_filter_agreement": ["partial_", "!Join", "ReadSchema: struct<text:string>"],
    # BPE pair stats: two map-side-combined aggregations (word types,
    # then pairs) ending in a TopK — never a full global sort; the
    # scan prunes to text alone
    "q101_bpe_pair_stats": ["partial_", "TakeOrderedAndProject",
                            "ReadSchema: struct<text:string>"],
    # WARC roundtrip: assembly is native expressions + one grouped
    # ordered collect per shard; the parse side is a single Arrow
    # MapInPandas walk; the scan prunes to the three used columns
    "q102_warc_roundtrip": ["MapInPandas", "partial_",
                            "ReadSchema: struct<doc_id:bigint,text:string,source:string>"],
    # CCNet head/middle/tail: the per-language ntile is ONE window over
    # an Exchange hashpartitioning(lang) — never a single-partition
    # global sort; upstream LM stats stay map-side combined and native
    "q92_perplexity_buckets": ["partial_", "!Exchange SinglePartition",
                               "!ArrowEvalPython", "!Cartesian"],
}


def _q46_lazy(spark, sf):
    """q46's exact frame with dbscan(eager=False): the contract query
    eagerly localCheckpoints its result (so internal caches can be
    released), which collapses the explain output to a checkpoint scan
    — the audit must see the grid equi-join shape instead."""
    from pyspark.sql import functions as F

    from webdq.density import dbscan
    from webdq.storage import read_table

    e = read_table(spark, sf, "embeddings")
    pts = e.select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("e0"),
        F.element_at("embedding", 2).cast("double").alias("e1"),
    )
    return dbscan(pts, ["e0", "e1"], eps=0.025, min_pts=4, key_col="vec_id", eager=False)


# queries whose contract form hides the plan (eager materialization):
# the audit builds the equivalent lazy frame instead
OVERRIDES = {"q46_dbscan": _q46_lazy}


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    import __spark_entry__ as e
    from webdq.session import build_session

    spark = build_session("local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()
    names = sys.argv[1:] or list(CHECKS)
    sf = "/root/testdata/sf0.01"
    bad = 0
    for name in names:
        build = OVERRIDES.get(name) or qs[name]
        plan = plan_of(build(spark, sf))
        print(f"\n========== {name} ==========")
        print(plan)
        for needle in CHECKS.get(name, []):
            ok = needle[1:] not in plan if needle.startswith("!") else needle in plan
            bad += not ok
            print(f"  CHECK {'PASS' if ok else 'FAIL'}: {needle!r}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()

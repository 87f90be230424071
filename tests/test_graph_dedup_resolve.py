"""Connected components (webdq/graph.py) and the operators built on it
(dedup.resolve_duplicates, dedup.decontaminate).

Gates: component labels vs a driver union-find reference on random
graphs, isolated-node handling, partition invariance, keep-rule
semantics (priority + tie-break), winnowing-guarantee contamination.
"""

import random

import pytest
from pyspark.sql import functions as F

from webdq import dedup
from webdq.graph import connected_components


def _union_find(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical min-id label per component
    return {i: min(j for j in range(n_nodes) if find(j) == find(i)) for i in range(n_nodes)}


def test_components_match_union_find(spark):
    rng = random.Random(7)
    n = 120
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(90)]
    e = spark.createDataFrame(edges, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    got = {
        r["_id"]: r["component"]
        for r in connected_components(e, nodes=nodes).collect()
    }
    assert got == _union_find(n, edges)


def test_components_isolated_nodes_are_singletons(spark):
    e = spark.createDataFrame([(0, 1)], "src long, dst long")
    nodes = spark.createDataFrame([(0,), (1,), (5,)], "id long")
    got = {r["_id"]: r["component"] for r in connected_components(e, nodes=nodes).collect()}
    assert got == {0: 0, 1: 0, 5: 5}


def test_components_default_nodes_from_edges(spark):
    e = spark.createDataFrame([(3, 9), (9, 4), (7, 8)], "src long, dst long")
    got = {r["_id"]: r["component"] for r in connected_components(e).collect()}
    assert got == {3: 3, 9: 3, 4: 3, 7: 7, 8: 7}


def test_components_partition_invariant(spark):
    rng = random.Random(11)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(50)]
    e = spark.createDataFrame(edges, "src long, dst long")
    a = {r["_id"]: r["component"] for r in connected_components(e.repartition(7)).collect()}
    b = {r["_id"]: r["component"] for r in connected_components(e.repartition(2)).collect()}
    assert a == b


@pytest.fixture(scope="module")
def dup_docs(spark):
    rows = [
        (0, "alpha beta gamma delta", 40),
        (1, "alpha beta gamma delta", 90),   # dup of 0, higher priority
        (2, "alpha beta gamma delta", 90),   # dup of 0/1, same priority
        (3, "unrelated text entirely here", 10),
        (4, "another lonely document", 99),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, n_chars int")


def test_resolve_duplicates_min_id_keep(spark, dup_docs):
    pairs = spark.createDataFrame([(0, 1), (1, 2)], "id1 long, id2 long")
    out = {r["doc_id"]: (r["cluster"], r["keep"]) for r in
           dedup.resolve_duplicates(dup_docs, pairs).collect()}
    assert out == {0: (0, True), 1: (0, False), 2: (0, False),
                   3: (3, True), 4: (4, True)}


def test_resolve_duplicates_priority_keep(spark, dup_docs):
    pairs = spark.createDataFrame([(0, 1), (1, 2)], "id1 long, id2 long")
    out = {r["doc_id"]: (r["cluster"], r["keep"]) for r in
           dedup.resolve_duplicates(dup_docs, pairs, priority_col="n_chars").collect()}
    # highest n_chars wins (1 and 2 tie at 90 → lowest id 1)
    assert out == {0: (0, False), 1: (0, True), 2: (0, False),
                   3: (3, True), 4: (4, True)}


def test_resolve_keeps_exactly_one_per_cluster(spark, dup_docs):
    pairs = spark.createDataFrame([(0, 1), (1, 2), (3, 4)], "id1 long, id2 long")
    out = dedup.resolve_duplicates(dup_docs, pairs, priority_col="n_chars")
    per = out.groupBy("cluster").agg(F.sum(F.col("keep").cast("int")).alias("k")).collect()
    assert all(r["k"] == 1 for r in per)


@pytest.fixture(scope="module")
def contam_docs(spark):
    shared = "one two three four five six"  # 6 tokens = k + window - 1
    rows = [
        (0, f"{shared} and some extra prose after"),          # benchmark (0%17==0)
        (1, f"prefix words here {shared} suffix words"),      # contaminated via shared run
        (2, "completely different content with no overlap at all"),
        (3, "short doc"),                                     # < 6 tokens: no fingerprints
        (17, "benchmark item number two distinct content"),   # benchmark
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_decontaminate_flag_and_guarantee(spark, contam_docs):
    bench = contam_docs.filter(F.col("doc_id") % 17 == 0)
    out = {r["doc_id"]: r["contaminated"] for r in
           dedup.decontaminate(contam_docs, bench, k=3, window=4).collect()}
    # benchmark members self-flag; doc 1 shares a 6-token run (winnowing
    # guarantee: ≥ k+window−1 common tokens ⇒ a common fingerprint)
    assert out[0] and out[1] and out[17]
    assert not out[2] and not out[3]


def test_decontaminate_drop_mode(spark, contam_docs):
    bench = contam_docs.filter(F.col("doc_id") % 17 == 0)
    kept = {r["doc_id"] for r in
            dedup.decontaminate(contam_docs, bench, k=3, window=4).filter(~F.col("contaminated")).collect()}
    assert kept == {2, 3}


def test_components_reject_string_ids(spark):
    e = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError):
        connected_components(e)


def test_components_reject_float_ids(spark):
    # ADVICE r4: float labels can change by less than the decimal(38,0)
    # probe granularity and fake convergence — reject them loudly
    e = spark.createDataFrame([(1.5, 2.5)], "src double, dst double")
    with pytest.raises(ValueError, match="integral"):
        connected_components(e)


def test_components_accept_decimal_scale0(spark):
    e = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "src long, dst long").select(
        F.col("src").cast("decimal(20,0)").alias("src"),
        F.col("dst").cast("decimal(20,0)").alias("dst"),
    )
    got = {int(r["_id"]): int(r["component"]) for r in connected_components(e).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

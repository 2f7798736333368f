"""dedup_clusters (connected components by min-label propagation) vs a
driver-side union-find oracle, on synthetic graphs and on the real
trigram-Jaccard pairs of the documents table.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_etl_pipeline_spark.extensions.dedup import (
    dedup_clusters, ngram_jaccard_pairs)
from data_engineering_etl_pipeline_spark.io import load_table
from .conftest import SF_DIR


def union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    return {n: find(n) for n in parent}


def _check(spark, edge_list):
    df = spark.createDataFrame(edge_list, "id_a long, id_b long")
    got = {r.member_id: r.cluster_id
           for r in dedup_clusters(df).collect()}
    assert got == union_find(edge_list)


def test_clusters_chain_and_star(spark):
    # chain 1-2-3-4-5 (diameter > 1 round), star 10-(11,12,13), isolated pair
    _check(spark, [(1, 2), (2, 3), (3, 4), (4, 5),
                   (10, 11), (10, 12), (10, 13),
                   (20, 21)])


def test_clusters_two_components_merge_order(spark):
    # two chains that meet through a late edge — exercises propagation
    # across the junction, labels must flow to the global min
    _check(spark, [(5, 6), (6, 7), (1, 2), (2, 3), (3, 7)])


def test_clusters_on_real_pairs(spark):
    docs = load_table(spark, SF_DIR, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    edges = [(r.id_a, r.id_b) for r in pairs.collect()]
    assert edges, "expected near-dup pairs in the test corpus"
    got = {r.member_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert got == union_find(edges)
    # representative is the min id of its cluster
    assert all(c <= m for m, c in got.items())


def test_reliable_checkpoint_backend_equals_local(spark):
    """The fault-tolerant RELIABLE checkpoint backend (durable per-round
    snapshots — what a cluster run uses, where a lost executor must not
    kill the loop) produces output identical to the single-JVM
    localCheckpoint fast path, on a graph deep enough to iterate several
    rounds."""
    edge_list = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7), (7, 8),
                 (20, 21), (21, 22), (30, 31)]
    df = spark.createDataFrame(edge_list, "id_a long, id_b long")
    assert spark.sparkContext.getCheckpointDir() is not None  # session contract
    rel_stats, loc_stats = {}, {}
    rel = {(r.member_id, r.cluster_id)
           for r in dedup_clusters(df, checkpoint="reliable",
                                   stats=rel_stats).collect()}
    loc = {(r.member_id, r.cluster_id)
           for r in dedup_clusters(df, checkpoint="local",
                                   stats=loc_stats).collect()}
    assert rel == loc == set(union_find(edge_list).items())
    # same convergence trajectory, not just the same fixed point
    assert rel_stats["rounds"] == loc_stats["rounds"] > 1
    # auto on a local master picks the local fast path (no files written)
    auto = {(r.member_id, r.cluster_id) for r in dedup_clusters(df).collect()}
    assert auto == loc


def test_reliable_checkpoint_requires_dir(spark):
    import pytest
    from data_engineering_etl_pipeline_spark.extensions.dedup import (
        _resolve_checkpoint_backend)

    with pytest.raises(ValueError, match="'auto', 'local', or 'reliable'"):
        _resolve_checkpoint_backend(spark, "bogus")
    assert _resolve_checkpoint_backend(spark, "reliable") is True
    assert _resolve_checkpoint_backend(spark, "local") is False
    # local master + dir set -> auto stays on the fast path
    assert _resolve_checkpoint_backend(spark, "auto") is False


def test_driver_union_find_equals_distributed(spark):
    """dedup_clusters(driver_budget=N) must be bit-identical to the
    distributed pointer-jumping fixed point when pairs fit the budget —
    and fall through to the distributed path when they don't."""
    from data_engineering_etl_pipeline_spark.extensions.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(5, 9), (9, 2), (10, 11), (7, 7), (3, 2)], "id_a long, id_b long")
    dist = {(r["member_id"], r["cluster_id"])
            for r in dedup_clusters(pairs).collect()}
    drv = {(r["member_id"], r["cluster_id"])
           for r in dedup_clusters(pairs, driver_budget=100).collect()}
    assert drv == dist
    # over-budget: falls through to distributed, same answer
    over = {(r["member_id"], r["cluster_id"])
            for r in dedup_clusters(pairs, driver_budget=2).collect()}
    assert over == dist

"""Cache-lifetime hygiene: the hot paths that used to pin plan-embedded
CacheManager entries (r10 verdict finding #1) now leave the session's
persistent-RDD registry exactly as they found it — in a long-lived
server, repeated funnel/probe calls must cost their work, never
accumulate executor storage until LRU pressure."""

from __future__ import annotations

import pytest

from scalligraph_spark.operators import (
    build_minhash_index,
    funnel_count,
    incremental_near_dups,
)
from scalligraph_spark.store import LabelStore


def _persistent_rdd_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def test_funnel_count_split_leaves_no_cache(spark):
    rows = []
    for u in ("bot", None):  # a hot named key AND a hot NULL key
        for i in range(40):
            rows.append((u, ["view", "click", "purchase"][i % 3], i * 10))
    rows += [("alice", "view", 0), ("alice", "click", 5), ("alice", "purchase", 9)]
    df = spark.createDataFrame(rows, "user_id string, event_type string, ts long")

    before = _persistent_rdd_ids(spark)
    got = {
        tuple(r)
        for r in funnel_count(
            df, ["view", "click", "purchase"], within=60, split_over=10
        ).collect()
    }
    assert got, "hot-split funnel must still produce counts"
    # the "all" fallback (every key sessionized) is the other _split caller
    got_all = {
        tuple(r)
        for r in funnel_count(
            df, ["view", "click", "purchase"], within=60, split_over=0
        ).collect()
    }
    assert got_all == got
    leaked = _persistent_rdd_ids(spark) - before
    assert not leaked, f"funnel_count pinned cache entries: {leaked}"


def test_incremental_near_dups_probe_leaves_no_cache(spark, tmp_path):
    store = LabelStore(str(tmp_path / "hyg"))
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again"),
         (2, "completely different words entirely here")],
        "doc_id long, text string",
    )
    build_minhash_index(spark, store, "mix", docs)
    probe = spark.createDataFrame(
        [(300, "the quick brown fox jumps over the lazy dog once more")],
        "doc_id long, text string",
    )
    before = _persistent_rdd_ids(spark)
    hits = incremental_near_dups(spark, store, "mix", probe, threshold=0.3).collect()
    assert [r["corpus_id"] for r in hits] == [1]
    leaked = _persistent_rdd_ids(spark) - before
    assert not leaked, f"probe pinned cache entries: {leaked}"


def _graph_operator_calls(spark):
    from pyspark.sql import functions as F

    from scalligraph_spark.operators import (
        bfs_distances,
        bfs_distances_per_source,
        connected_components,
        k_core,
        label_propagation,
        pagerank,
        personalized_pagerank,
        sssp_weighted,
        strongly_connected_components,
        topological_levels,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4), (6, 7), (8, 9)], "src long, dst long"
    )
    dag = spark.createDataFrame([(1, 2), (1, 3), (2, 4), (3, 4), (4, 5)], "src long, dst long")
    seeds = spark.createDataFrame([(1,), (8,)], "vertex long")
    return {
        "cc_two_phase": lambda: connected_components(edges),
        "cc_min_label": lambda: connected_components(edges, algorithm="min_label"),
        "pagerank": lambda: pagerank(edges, iterations=4),
        "personalized_pagerank": lambda: personalized_pagerank(edges, seeds, iterations=4),
        "label_propagation": lambda: label_propagation(edges, max_iter=4),
        "k_core": lambda: k_core(edges, 2),
        "bfs_distances": lambda: bfs_distances(edges, seeds, max_depth=4),
        "bfs_distances_per_source": lambda: bfs_distances_per_source(edges, seeds, max_depth=4),
        "sssp_weighted": lambda: sssp_weighted(edges.withColumn("weight", F.lit(2).cast("long")), seeds),
        "strongly_connected_components": lambda: strongly_connected_components(edges),
        "topological_levels": lambda: topological_levels(dag),
    }


@pytest.mark.parametrize(
    "name",
    ["cc_two_phase", "cc_min_label", "pagerank", "personalized_pagerank", "label_propagation", "k_core",
     "bfs_distances", "bfs_distances_per_source", "sssp_weighted", "strongly_connected_components",
     "topological_levels"],
)
def test_graph_operator_leaves_only_its_result_persisted(spark, name):
    """Every iterative graph operator releases the graph it cached and every
    superstep cut but the one its result reads — repeated calls in one
    session must not pile up executor storage."""
    call = _graph_operator_calls(spark)[name]
    spark.catalog.clearCache()
    before = _persistent_rdd_ids(spark)
    result = call()
    kept = _persistent_rdd_ids(spark) - before
    assert result.collect(), f"{name} returned nothing"
    assert len(kept) <= 1, f"{name} left {len(kept)} persistent RDDs; only its result may stay"

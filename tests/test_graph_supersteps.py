"""The superstep engine under the graph operators: observed convergence
under both lineage cuts, the unconverged warnings, and the number of
Spark jobs a call launches (a count that does not depend on the host)."""

from __future__ import annotations

import os
import uuid
import warnings

import pytest
from pyspark.sql import functions as F

from scalligraph_spark.operators import bfs_distances, connected_components, pagerank
from scalligraph_spark.operators.graph_analytics import _Supersteps


def _persistent_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


@pytest.mark.parametrize("every", [1, 2])
@pytest.mark.parametrize("reliable", [False, True])
def test_observed_statistic_stops_the_loop(spark, tmp_path, reliable, every):
    """The loop stops at the first cut whose observed ``quiet`` is 0, with
    localCheckpoint cuts and with reliable checkpoints alike; with
    ``every=2`` convergence is only seen at every second superstep."""
    ckpt = str(tmp_path / "ckpt") if reliable else None
    steps = []

    def step(s, i):
        steps.append(i)
        return s.select((F.col("x") + 1).alias("x"))

    before = _persistent_rdd_ids(spark)
    with _Supersteps(ckpt) as ss:
        out, seen = ss.loop(spark.range(1).select(F.lit(0).cast("long").alias("x")), step,
                            max_iter=50, every=every, quiet=F.count_if(F.col("x") < 3))
    want = 3 if every == 1 else 4
    assert steps == list(range(want))
    assert seen["quiet"] == 0
    assert out.collect()[0]["x"] == want
    assert len(_persistent_rdd_ids(spark) - before) <= (0 if reliable else 1)
    if reliable:
        assert os.path.isdir(ckpt) and os.listdir(ckpt)


@pytest.mark.parametrize("reliable", [False, True])
def test_min_label_converges_early_under_both_cuts(spark, tmp_path, reliable):
    edges = spark.createDataFrame([(i, i + 1) for i in range(8)] + [(20, 21)], "src long, dst long")
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        comp = connected_components(edges, algorithm="min_label", max_iter=40, checkpoint_every=1,
                                    checkpoint_dir=str(tmp_path / "ckpt") if reliable else None)
        got = {r["vertex"]: r["component"] for r in comp.collect()}
    assert got == {**{i: 0 for i in range(9)}, 20: 20, 21: 20}


def test_two_phase_warns_when_max_iter_is_exhausted(spark):
    """(min-label's warning has its own test in test_graph_analytics.)  An
    unconverged two-phase run still gives every vertex one label."""
    edges = spark.createDataFrame([(i, i + 1) for i in range(100)], "src long, dst long")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        rows = connected_components(edges, algorithm="two_phase", max_iter=1).collect()
    assert any(issubclass(x.category, RuntimeWarning) and "max_iter" in str(x.message) for x in w)
    assert sorted(r["vertex"] for r in rows) == list(range(101))


def _jobs(spark, call) -> int:
    """Spark jobs launched while ``call`` runs, under a job group of its own."""
    sc = spark.sparkContext
    gid = f"graph-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(gid))


# A fixed 60-vertex graph: a path, chords and a detached triangle.
_EDGES = [(i, i + 1) for i in range(40)] + [(i, (i * 7 + 3) % 41) for i in range(0, 41, 5)] + [(50, 51), (51, 52), (52, 50)]

# Jobs one call launches on _EDGES at 4 shuffle partitions (the test
# session's).  Before the superstep engine the same calls took 76
# (connected_components), 28 (pagerank) and 47 (bfs_distances) jobs.
_JOB_BOUNDS = {"connected_components": 18, "pagerank": 10, "bfs_distances": 16}


@pytest.mark.parametrize("name", sorted(_JOB_BOUNDS))
def test_graph_operator_job_count(spark, name):
    edges = spark.createDataFrame(_EDGES, "src long, dst long")
    seeds = spark.createDataFrame([(0,), (50,)], "vertex long")
    call = {
        "connected_components": lambda: connected_components(edges),
        "pagerank": lambda: pagerank(edges, iterations=5),
        "bfs_distances": lambda: bfs_distances(edges, seeds, max_depth=6),
    }[name]
    assert _jobs(spark, call) <= _JOB_BOUNDS[name]

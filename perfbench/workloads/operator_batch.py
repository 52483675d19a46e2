"""operator_batch — repeated passes over the graph and similarity jobs.

Single client.  One pass builds and executes:

* graph jobs on a seeded power-law edge list, to the ``noop`` sink:
  ``connected_components`` (two_phase), ``pagerank`` (5 iterations) and
  ``bfs_distances``;
* similarity jobs, the suite's own entries over seeded tables, collected:
  ``dedup_minhash_lsh``, ``similarity_ivf_topk`` and ``qagg_percentiles``.

Each job is timed on its own; a pass time is the sum of the jobs'
medians over the passes of the run.  The first pass's outputs are
checked: graph jobs against plain-Python union-find, BFS and power
iteration, similarity jobs against their suite DuckDB oracles with the
compare ``tools/check.py`` uses.
"""

from __future__ import annotations

import os
import time

N_VERTICES, N_EDGES = 4_000, 12_000
PR_ITERATIONS = 5
BFS_MAX_DEPTH = 3
GRAPH = ("cc", "pagerank", "bfs")
SIMILARITY = ("dedup_minhash_lsh", "similarity_ivf_topk", "qagg_percentiles")
LAYER_NAME = {
    "cc": "graph_analytics.cc",
    "pagerank": "graph_analytics.pagerank",
    "bfs": "graph_analytics.bfs",
    "dedup_minhash_lsh": "dedup.minhash_lsh",
    "similarity_ivf_topk": "similarity.ivf_topk",
    "qagg_percentiles": "qlang.aggs.percentiles",
}


def prepare(ctx) -> None:
    import datagen

    datagen.write_tables(datagen.tpch_tables(ctx.seed, "batch"), ctx.data_dir)
    ctx.edges = datagen.power_law_edges(ctx.seed, N_VERTICES, N_EDGES)
    ctx.bfs_seeds = datagen.bfs_seeds(ctx.seed, ctx.edges)


def setup(spark, ctx, rep: int) -> dict:
    """The catalog the similarity entries read, and the edge list and BFS
    seeds as local relations (no cache for a pass to clear)."""
    from scalligraph_spark.suite import cat_for

    sf = ctx.rep_data_dir(rep)
    cat_for(spark, sf)
    return {"sf": sf,
            "edges": spark.createDataFrame(ctx.edges.tolist(), "src long, dst long"),
            "seeds": spark.createDataFrame([(v,) for v in ctx.bfs_seeds], "vertex long")}


def teardown(state: dict) -> None:
    pass


def _graph_builders(spark, state):
    from scalligraph_spark.operators import bfs_distances, connected_components, pagerank

    e, s = state["edges"], state["seeds"]
    return {
        "cc": lambda: connected_components(e, algorithm="two_phase"),
        "pagerank": lambda: pagerank(e, iterations=PR_ITERATIONS),
        "bfs": lambda: bfs_distances(e, s, max_depth=BFS_MAX_DEPTH),
    }


def _similarity_builders(spark, state):
    from scalligraph_spark.suite import SUITE

    return {name: (lambda name=name: SUITE[name].spark(spark, state["sf"])) for name in SIMILARITY}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _collect(df):
    """The similarity jobs' sink: their results are small, and the
    collected frame is what the oracle check compares."""
    return df.toPandas()


# ---------------------------------------------------------------------------
# correctness
# ---------------------------------------------------------------------------


def _check_graph(name: str, df, ctx) -> list[str]:
    import oracles

    pdf = df.toPandas()
    if name == "cc":
        got = dict(zip(pdf["vertex"].tolist(), pdf["component"].tolist()))
        want = oracles.components(ctx.edges)
        return [] if got == want else [f"cc: {len(got)} labels, {sum(got.get(v) != c for v, c in want.items())} wrong"]
    if name == "bfs":
        got = dict(zip(pdf["vertex"].tolist(), pdf["dist"].tolist()))
        want = oracles.bfs(ctx.edges, ctx.bfs_seeds, BFS_MAX_DEPTH)
        return [] if got == want else [f"bfs: {len(got)} vs {len(want)} vertices"]
    got = dict(zip(pdf["vertex"].tolist(), pdf["rank"].tolist()))
    want = oracles.pagerank(ctx.edges, PR_ITERATIONS)
    bad = [v for v in want if v not in got or not oracles.close(got[v], want[v])]
    return [] if not bad and len(got) == len(want) else [f"pagerank: {len(bad)} ranks differ"]


def _replay_sql(spark, name: str, state, replay: str) -> str:
    """The suite oracle SQL, with its replay artifacts exported under this
    run's root instead of the suite's fixed directory."""
    from scalligraph_spark.suite import SUITE, cat_for

    sql = SUITE[name].sql
    if name == "dedup_minhash_lsh":
        from scalligraph_spark.operators import minhash_signature

        docs = cat_for(spark, state["sf"]).vertex_df("documents")
        minhash_signature(docs, "text", "doc_id", 64).coalesce(1).write.parquet(f"{replay}/minhash_sigs")
    elif name == "similarity_ivf_topk":
        import math

        import pyarrow as pa
        import pyarrow.parquet as pq

        from scalligraph_spark.operators.similarity import _train_centroids

        c = cat_for(spark, state["sf"])
        n = c.vertices["embeddings"].n_rows_hint
        C = _train_centroids(c.vertex_df("embeddings"), max(4, min(4096, int(math.sqrt(max(n, 4))))),
                             10_000, "vec_id", "embedding")
        os.makedirs(f"{replay}/ivf_topk_centroids")
        pq.write_table(pa.table({
            "cell": pa.array(range(len(C)), pa.int32()),
            "centroid": pa.array([[float(x) for x in row] for row in C]),
        }), f"{replay}/ivf_topk_centroids/centroids.parquet")
    return sql.replace("/tmp/sgspark_annreplay_sf0.01", replay)


def _check_similarity(spark, name: str, pdf, state, ctx) -> list[str]:
    import importlib.util

    from oracles import duckdb_over

    spec = importlib.util.spec_from_file_location(
        "_check_tool", os.path.join(ctx.repo, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    replay = os.path.join(ctx.root, "replay", name)
    sql = _replay_sql(spark, name, state, replay)
    con = duckdb_over(state["sf"])
    odf = con.execute(sql).df()
    con.close()
    problems = check.compare(name, pdf, odf)
    return [f"{name}: {p}" for p in problems[:3]]


# ---------------------------------------------------------------------------
# passes
# ---------------------------------------------------------------------------


EXEC_KEYS = ("spark.exec_ms", "spark.exec_jobs", "spark.exec_stages", "spark.exec_tasks",
             "spark.executor_run_ms", "spark.shuffle_write_bytes", "spark.spill_bytes")


def _pass(spark, state, ctx, times: dict, check: bool, counters=None, layers=None) -> int:
    """One pass over the six jobs; appends each job's wall ms to
    ``times``.  Graph jobs execute to the ``noop`` sink, similarity jobs
    are collected.  With ``counters`` the build and execute phases are
    spans and their counts go to ``layers``.  With ``check`` the outputs
    are compared with the oracles; returns the number of wrong jobs."""
    wrong = 0
    pass_exec = dict.fromkeys(EXEC_KEYS, 0.0)
    jobs = list(_graph_builders(spark, state).items()) + list(_similarity_builders(spark, state).items())
    for name, build in jobs:
        sink = _noop if name in GRAPH else _collect
        t0 = time.perf_counter()
        if counters is None:
            df = build()
            out = sink(df)
        else:
            with counters.span() as b:
                df = build()
            with counters.span() as x:
                out = sink(df)
            _record(layers, name, b, x)
            for k, v in zip(EXEC_KEYS, (x.wall_ms, x.jobs, x.stages, x.tasks, x.executor_run_ms,
                                        x.shuffle_write_bytes, x.spill_bytes)):
                pass_exec[k] += v
            if name == "dedup_minhash_lsh":
                layers.setdefault("dedup.minhash_lsh.pair_yield", []).append(_pair_yield(df))
        times.setdefault(name, []).append((time.perf_counter() - t0) * 1000.0)
        if check:
            errs = (_check_graph(name, df, ctx) if name in GRAPH
                    else _check_similarity(spark, name, out, state, ctx))
            if errs:
                wrong += 1
                ctx.notes.extend(errs)
        # the minhash entry leaves its signature cache to the caller: drop
        # it so every pass does the same work
        spark.catalog.clearCache()
    if counters is not None:
        for k, v in pass_exec.items():
            layers.setdefault(k, []).append(v)
    return wrong


def _record(layers: dict, name: str, b, x) -> None:
    base = LAYER_NAME[name]
    if base.startswith("graph_analytics"):
        vals = {"build_ms": b.wall_ms, "build_jobs": b.jobs, "exec_ms": x.wall_ms,
                "shuffle_write_bytes": b.shuffle_write_bytes + x.shuffle_write_bytes}
    else:
        vals = {"exec_ms": b.wall_ms + x.wall_ms, "exec_jobs": b.jobs + x.jobs,
                "shuffle_write_bytes": b.shuffle_write_bytes + x.shuffle_write_bytes,
                "spill_bytes": b.spill_bytes + x.spill_bytes}
    for k, v in vals.items():
        layers.setdefault(f"{base}.{k}", []).append(v)


def _pair_yield(df) -> float:
    """Verified ÷ candidate pairs from the executed plan's row counts: the
    plan's output (the Jaccard threshold is folded into the last
    join-back) against the first node under it that reports rows (the
    candidate-pair stream the estimate joins consume)."""
    from scalligraph_spark.profiling import executed_metrics

    df._jdf.queryExecution().executedPlan().execute().count()
    rows = [n.metrics["numOutputRows"] for n in executed_metrics(df) if "numOutputRows" in n.metrics]
    return rows[0] / rows[1] if len(rows) > 1 and rows[1] else 0.0


def _run_passes(spark, state, ctx, counters=None):
    """Timed passes until ``--seconds`` have passed (at least one).  The
    first pass starts on a fresh JVM's code paths, as a batch job
    submitted on its own does; its outputs are checked after each job's
    timing.  A pass that raises is counted and the loop goes on."""
    from harness import closed_loop, median

    ctx.notes = []
    times: dict[str, list[float]] = {}
    layers: dict[str, list[float]] = {}
    wrong = 0

    def one_pass(i):
        nonlocal wrong
        wrong += _pass(spark, state, ctx, times, check=i == 0, counters=counters, layers=layers)

    res = closed_loop(one_pass, ctx.seconds, clients=1)
    n_jobs = len(LAYER_NAME)
    return dict(attempted=res.attempted * n_jobs, failed=wrong + res.failed * n_jobs, wrong=wrong,
                passes=len(res.latencies_ms), med={k: median(v) for k, v in times.items()},
                layers={k: median(v) for k, v in layers.items()}, notes=ctx.notes + res.errors)


def _pass_s(med: dict) -> tuple[float, float]:
    """(graph, similarity) seconds: each job's median, summed."""
    return (sum(med.get(k, 0.0) for k in GRAPH) / 1000.0,
            sum(med.get(k, 0.0) for k in SIMILARITY) / 1000.0)


def measure(spark, state, ctx):
    r = _run_passes(spark, state, ctx)
    graph_s, sim_s = _pass_s(r["med"])
    extra = {"graph_pass_s": (graph_s, "s"), "similarity_pass_s": (sim_s, "s"),
             "passes": (r["passes"], "count")}
    extra.update({f"job.{k}_ms": (v, "ms") for k, v in r["med"].items()})
    return dict(attempted=r["attempted"], failed=r["failed"], wrong=r["wrong"],
                e2e={"op_p50_ms": (graph_s + sim_s) * 1000.0, "ops_per_s": 1.0 / (graph_s + sim_s)},
                extra=extra, notes=r["notes"])


def trace(spark, state, ctx):
    from harness import SparkCounters

    r = _run_passes(spark, state, ctx, counters=SparkCounters(spark))
    layers = dict(r["layers"], **{"trace.op_ms": sum(_pass_s(r["med"])) * 1000.0})
    return dict(attempted=r["attempted"], failed=r["failed"], wrong=r["wrong"],
                layers=layers, extra={"passes": (r["passes"], "count")}, notes=r["notes"])

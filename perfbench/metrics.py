"""Metric and workload declarations — the single source of BENCHMARK.json.

End-to-end metrics are reported by every workload from an untraced run;
per-layer metrics by every workload from a traced run (``--trace 1``),
with 0 for a layer the workload does not exercise.  Regenerate the
manifest with ``python3 perfbench/run.py --write-manifest``.
"""

from __future__ import annotations

import json
import os
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

RUN_SECONDS = 5

# The benchmarked workloads.  api_read is runnable by hand (--workload
# api_read) but not listed: a full benchmark (4 + 22 runs per workload)
# must fit 3420 s, and three workloads at this engine's per-run cost do not
# (see README.md); its request-path layers are traced on store_churn's
# HTTP reads.
WORKLOADS = [
    ("store_churn",
     "1-client loop of seeded create/update/delete transactions caught up into a value index, "
     "read back and queried over HTTP: commit, change feed, catch-up and request path dominate"),
    ("operator_batch",
     "passes of graph (cc, pagerank, bfs) and similarity (minhash, ivf, percentiles) jobs on "
     "seeded inputs: eager supersteps and shuffles dominate; the request path stays idle"),
]
MANUAL_WORKLOADS = [
    ("api_read",
     "2-client closed loop of seeded read chains over HTTP: per-request fold, planning, "
     "job launch and rendering dominate; the operators stay idle"),
]

# (name, unit, better, bound).  op_* is the workload's unit operation:
# one read request (api_read), one transaction from start until its rows
# are visible through the caught-up index (store_churn), one pass over
# the six batch jobs (operator_batch).
# Peak RSS is printed but not listed: JVM heap growth made it swing by
# 17% (IQR / median) between identical runs.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("op_p50_ms", "ms", "lower", 0.25),
    ("ops_per_s", "1/s", "higher", 0.25),
]

GRAPH_JOBS = ("cc", "pagerank", "bfs")
SIMILARITY_JOBS = (("dedup", "minhash_lsh"), ("similarity", "ivf_topk"), ("qlang.aggs", "percentiles"))

PER_LAYER: list[tuple[str, str, str]] = [
    ("session.start_s", "s", "lower"),
    ("setup.fixtures_s", "s", "lower"),
    ("fields.validate_ms", "ms", "lower"),
    ("qlang.executor.fold_ms", "ms", "lower"),
    ("qlang.executor.fold_jobs", "count", "lower"),
    ("spark.plan_ms", "ms", "lower"),
    ("spark.exec_ms", "ms", "lower"),
    ("spark.exec_jobs", "count", "lower"),
    ("spark.exec_stages", "count", "lower"),
    ("spark.exec_tasks", "count", "lower"),
    ("spark.executor_run_ms", "ms", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("qlang.renderers.self_ms", "ms", "lower"),
    ("qlang.renderers.rows", "count", "lower"),
    ("http_api.self_ms", "ms", "lower"),
    ("writes.commit_ms", "ms", "lower"),
    ("writes.commit_jobs", "count", "lower"),
    ("store.bytes_written", "bytes", "lower"),
    ("store.write_amp", "ratio", "lower"),
    ("store.space_amp", "ratio", "lower"),
    ("index_catchup.catchup_ms", "ms", "lower"),
    ("index_catchup.catchup_jobs", "count", "lower"),
    ("index_catchup.shuffle_write_bytes", "bytes", "lower"),
    ("index_catchup.reindex_frac", "ratio", "lower"),
    ("value_index.lookup_ms", "ms", "lower"),
    ("value_index.segments", "count", "lower"),
    ("value_index.tombstone_frac", "ratio", "lower"),
]
for _job in GRAPH_JOBS:
    PER_LAYER += [
        (f"graph_analytics.{_job}.build_ms", "ms", "lower"),
        (f"graph_analytics.{_job}.build_jobs", "count", "lower"),
        (f"graph_analytics.{_job}.exec_ms", "ms", "lower"),
        (f"graph_analytics.{_job}.shuffle_write_bytes", "bytes", "lower"),
    ]
for _mod, _job in SIMILARITY_JOBS:
    PER_LAYER += [
        (f"{_mod}.{_job}.exec_ms", "ms", "lower"),
        (f"{_mod}.{_job}.exec_jobs", "count", "lower"),
        (f"{_mod}.{_job}.shuffle_write_bytes", "bytes", "lower"),
        (f"{_mod}.{_job}.spill_bytes", "bytes", "lower"),
    ]
PER_LAYER += [
    ("dedup.minhash_lsh.pair_yield", "ratio", "higher"),
    # the workload's op_p50_ms as measured in the traced run: minus the
    # untraced run's op_p50_ms (same seed) it is the tracing overhead
    ("trace.op_ms", "ms", "lower"),
    # traced minus untraced latency of the same read request, each
    # request sent both ways in the traced run
    ("trace.overhead_ms", "ms", "lower"),
    # sum of the per-layer medians / median traced request latency
    ("trace.layer_sum_ratio", "ratio", "lower"),
]


def manifest() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }


def write_manifest(repo_root: str) -> str:
    path = os.path.join(repo_root, "BENCHMARK.json")
    with open(path, "w") as f:
        json.dump(manifest(), f, indent=2)
        f.write("\n")
    return path

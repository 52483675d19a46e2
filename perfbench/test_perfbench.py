"""The benchmark's own rules, checked without Spark.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import harness  # noqa: E402
import metrics  # noqa: E402
import oracles  # noqa: E402
from workloads import api_read, store_churn  # noqa: E402


def test_metric_names_and_units_are_well_formed():
    names = [n for n, *_ in metrics.END_TO_END] + [n for n, *_ in metrics.PER_LAYER]
    assert len(names) == len(set(names))
    for n, u, *_ in metrics.END_TO_END + metrics.PER_LAYER:
        harness.check_metric(n, u)
    with pytest.raises(ValueError):
        harness.check_metric("bad name", "ms")
    with pytest.raises(ValueError):
        harness.check_metric("ok", "m s")


def test_manifest_matches_committed_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        assert json.load(f) == metrics.manifest()


def test_manifest_obeys_its_limits():
    m = metrics.manifest()
    assert 2 <= len(m["workloads"]) <= 8
    assert any(e["name"] == "setup_s" and e["unit"] == "s" for e in m["end_to_end"])
    for e in m["end_to_end"]:
        assert 0 < e["bound"] <= 0.25 and e["better"] in ("lower", "higher")
    assert max(e["bound"] for e in m["end_to_end"]) == next(
        e["bound"] for e in m["end_to_end"] if e["name"] == "setup_s")
    assert 1 <= m["run_seconds"] <= 60


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert harness.tail(list(range(99)), 0.90) is None  # 9 beyond p90
    assert harness.tail(list(range(100)), 0.90) == 89.0  # 10 beyond
    assert harness.tail(list(range(999)), 0.99) is None
    assert harness.tail(list(range(1000)), 0.99) == 989.0


def test_result_line_has_exactly_the_result_keys():
    line = json.loads(harness.result_line(True, 3, 0, {"op_p50_ms": (1.5, "ms")}))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"] == {"op_p50_ms": {"value": 1.5, "unit": "ms"}}
    with pytest.raises(ValueError):
        harness.result_line(True, 1, 0, {"a b": (1.0, "ms")})


def test_raising_operation_is_counted_and_the_loop_continues():
    def op(i):
        time.sleep(0.002)
        if i % 3 == 0:
            raise RuntimeError("boom")

    res = harness.closed_loop(op, 0.2, clients=2)
    assert res.failed > 0
    assert len(res.latencies_ms) > res.failed  # ops after each failure ran
    assert res.attempted == res.failed + len(res.latencies_ms)
    assert res.errors and "boom" in res.errors[0]


def test_same_seed_same_request_sequence():
    assert api_read.request_mix(7, 300) == api_read.request_mix(7, 300)
    assert api_read.request_mix(7, 300) != api_read.request_mix(8, 300)
    kinds = {k for k, _, _ in api_read.request_mix(7, 300)}
    assert kinds == set(api_read.KINDS)


def test_same_seed_same_transactions():
    initial = store_churn.initial_rows(datagen.tpch_tables(3, "churn"))
    a = store_churn.transactions(3, 50, initial)
    assert a == store_churn.transactions(3, 50, initial)
    assert a != store_churn.transactions(4, 50, initial)
    model = dict(initial)
    for txn in a:  # updates and deletes only ever touch live rows
        assert set(txn["updates"] + txn["deletes"]) <= set(model)
        store_churn.apply(model, txn)


def test_same_seed_same_edge_list_and_tables():
    e = datagen.power_law_edges(5, 2_000, 6_000)
    assert np.array_equal(e, datagen.power_law_edges(5, 2_000, 6_000))
    assert not np.array_equal(e, datagen.power_law_edges(6, 2_000, 6_000))
    assert len(np.unique(e, axis=0)) == len(e) and (e[:, 0] != e[:, 1]).all()
    a, b = datagen.tpch_tables(5, "batch"), datagen.tpch_tables(5, "batch")
    assert all(a[t].equals(b[t]) for t in a)


def test_graph_oracles_on_a_hand_checked_graph():
    e = np.array([[3, 1], [1, 2], [5, 6], [2, 4]], dtype="int64")
    assert oracles.components(e) == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5}
    assert oracles.bfs(e, [3], 2) == {3: 0, 1: 1, 2: 2}
    pr = oracles.pagerank(e, 1)
    assert pr[3] == pytest.approx(0.15) and pr[1] == pytest.approx(1.0)

"""store_churn — seeded write transactions made visible through an index.

Closed loop, 1 client.  Each iteration runs one ``WriteSession``
transaction on a stored, audited ``customer`` label (create k, update j,
delete d rows), catches the label's ``c_name`` value index up with the
tombstone policy (``catchup_value_index``), reads the touched rows back
through the index (``lookup_ids``), then sends read chains over the
store (``fromStore``: the touched rows, a count, a field aggregation) to
an in-process ``QueryServer`` over HTTP.  A Python model of the label
is the oracle for every read.
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter

import numpy as np

from datagen import SEGMENTS
from layers import paired

CREATES, UPDATES, DELETES = 20, 15, 5
MIN_TRANSACTIONS = 1
LABEL, INDEX = "customer", "customer_name_ix"
AT = "2026-01-01 00:00:00"
COLS = ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")


def initial_rows(tables) -> dict[int, tuple]:
    c = tables["customer"].to_pydict()
    return {k: tuple(c[col][i] for col in COLS) for i, k in enumerate(c["c_custkey"])}


def transactions(seed: int, n: int, live: dict[int, tuple]) -> list[dict]:
    """``n`` transactions over the live key set; the same seed (and
    initial rows) gives the same transactions.  Updates and deletes only
    touch rows live when the transaction starts, and never the same row
    twice in one transaction."""
    rng = np.random.default_rng([seed, 20])
    keys = sorted(live)
    alive = set(keys)
    next_key = max(keys) + 1
    out = []
    for t in range(n):
        pool = np.array(sorted(alive))
        touched = rng.choice(pool, UPDATES + DELETES, replace=False)
        creates = []
        for _ in range(CREATES):
            creates.append((next_key, f"Churn#{t:05d}-{next_key:09d}", int(rng.integers(0, 25)),
                            round(float(rng.integers(-99999, 999999)) / 100.0, 2),
                            SEGMENTS[int(rng.integers(0, 5))]))
            next_key += 1
        upd = sorted(int(k) for k in touched[:UPDATES])
        dele = sorted(int(k) for k in touched[UPDATES:])
        alive.difference_update(dele)
        alive.update(r[0] for r in creates)
        out.append({"t": t, "creates": creates, "updates": upd, "deletes": dele})
    return out


def apply(model: dict[int, tuple], txn: dict) -> None:
    """The transaction's effect on the model, as the engine should apply it."""
    for k in txn["updates"]:
        r = model[k]
        model[k] = (k, f"Upd#{txn['t']:05d}-{k}", r[2], r[3] + 1.0, r[4])
    for k in txn["deletes"]:
        del model[k]
    for r in txn["creates"]:
        model[r[0]] = r


def prepare(ctx) -> None:
    import datagen

    tables = datagen.tpch_tables(ctx.seed, "churn")
    datagen.write_tables(tables, ctx.data_dir)
    ctx.initial = initial_rows(tables)


def setup(spark, ctx, rep: int) -> dict:
    """Store the audited label, build its value index, register the
    ``fromStore`` executor over it."""
    from pyspark.sql import functions as F

    from scalligraph_spark.http_api import QueryServer
    from scalligraph_spark.operators import build_value_index
    from scalligraph_spark.store import LabelStore
    from scalligraph_spark.suite import executor_for
    from scalligraph_spark.writes import with_audit

    sf = ctx.rep_data_dir(rep)
    store = LabelStore(os.path.join(ctx.root, "stores", f"store_churn-{rep}"))
    ex = executor_for(spark, sf, store_root=store.root)
    # the full six-column audit envelope of the entity model: a label
    # stored without the nullable _updated_* columns gains them on its
    # first update, and the change feed cannot diff across that schema
    # change (see README.md, engine facts)
    base = (
        with_audit(ex.catalog.vertex_df("customer"), label=LABEL, id_col="c_custkey",
                   created_by="bench", at=AT)
        .withColumn("_updated_by", F.lit(None).cast("string"))
        .withColumn("_updated_at", F.lit(None).cast("timestamp_ntz"))
    )
    store.write(LABEL, base)
    build_value_index(spark, store, INDEX, store.read(spark, LABEL), "c_name", "_id",
                      corpus_store=store, corpus_label=LABEL)
    return {"store": store, "executor": ex, "server": QueryServer(ex).serve()}


def teardown(state: dict) -> None:
    state["server"].close()


def _txn(spark, store, txn) -> int:
    from pyspark.sql import functions as F

    from scalligraph_spark.writes import WriteSession

    ws = WriteSession(spark, store, LABEL, id_col="c_custkey", created_by="bench", at=AT)
    ws.create(spark.createDataFrame(
        txn["creates"],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    ))
    ids = [str(k) for k in txn["updates"]]
    ws.update(F.col("_id").isin(ids), {
        "c_name": F.concat(F.lit(f"Upd#{txn['t']:05d}-"), F.col("_id")),
        "c_acctbal": F.col("c_acctbal") + F.lit(1.0),
    })
    ws.remove(F.col("_id").isin([str(k) for k in txn["deletes"]]))
    return ws.commit()


def _check_index(spark, store, txn, before: dict, after: dict) -> list[str]:
    """Every created/updated row is found under its new name, no deleted
    or renamed row under its old one."""
    from scalligraph_spark.operators import load_value_index, lookup_ids

    want = {after[r[0]][1]: str(r[0]) for r in txn["creates"]}
    want.update({after[k][1]: str(k) for k in txn["updates"]})
    gone = [before[k][1] for k in txn["updates"] + txn["deletes"]]
    ix = load_value_index(spark, store, INDEX)
    got = {(r["value"], r["id"]) for r in lookup_ids(ix, list(want) + gone).collect()}
    errs = [f"index misses {v}->{i}" for v, i in want.items() if (v, i) not in got]
    errs += [f"index still has {v}" for v, _ in got if v in gone]
    return errs


def _read_chains(txn, model) -> list[tuple[list, object]]:
    """(chain, expected answer) pairs over the store."""
    touched = [str(r[0]) for r in txn["creates"]] + [str(k) for k in txn["updates"] + txn["deletes"]]
    seg = SEGMENTS[txn["t"] % len(SEGMENTS)]
    live = {str(k): r for k, r in model.items()}
    per_segment = Counter(r[4] for r in model.values())
    return [
        ([{"_name": "fromStore", "label": LABEL, "where": [["_id", "in", touched]]}],
         sorted(live[i] for i in touched if i in live)),
        ([{"_name": "fromStore", "label": LABEL, "where": [["c_mktsegment", "=", seg]]},
          {"_name": "count"}],
         [(per_segment[seg],)]),
        ([{"_name": "fromStore", "label": LABEL},
          {"_name": "aggregation", "_agg": "field", "_field": "c_mktsegment", "_select": [{"_agg": "count"}]}],
         sorted(per_segment.items())),
    ]


def _answer(rows: list[dict], chain) -> list[tuple]:
    if chain[-1]["_name"] == "count":
        return [(rows[0]["count"],)]
    if chain[-1]["_name"] == "aggregation":
        return sorted((r["c_mktsegment"], r["count"]) for r in rows)
    # the stored label carries the key as the audit envelope's string _id
    return sorted((int(r["_id"]),) + tuple(r[c] for c in COLS[1:]) for r in rows)


class _Run:
    """The loop's state: the model, the transactions, the HTTP client
    and the per-iteration observations.  ``spans`` (a SparkCounters) and
    ``tracer`` (a RequestTracer) switch on the traced run's layer
    samples."""

    def __init__(self, spark, state, ctx, spans=None, tracer=None):
        from harness import HttpClient

        self.spark, self.store = spark, state["store"]
        self.client = HttpClient(state["server"].port)
        self.model = dict(ctx.initial)
        self.txns = transactions(ctx.seed, 400, ctx.initial)
        self.spans, self.tracer = spans, tracer
        self.commit_ms: list[float] = []
        self.visible_ms: list[float] = []
        self.read_ms: list[float] = []
        self.layers: dict[str, list[float]] = {}
        self.read_samples: list[dict] = []
        self.traced_ms: list[float] = []
        self.plain_ms: list[float] = []
        self.wrong = 0
        self.notes: list[str] = []

    def _span(self, layer: str, step, suffix: str):
        """Run ``step``; in the traced run as a counted span whose wall
        time, jobs and shuffle bytes land in ``layers`` as
        ``<layer>.<suffix>_ms``, ``_jobs`` and ``<layer>.shuffle_write_bytes``."""
        if self.spans is None:
            return step()
        with self.spans.span() as c:
            out = step()
        for k, v in ((f"{layer}.{suffix}_ms", c.wall_ms), (f"{layer}.{suffix}_jobs", c.jobs),
                     (f"{layer}.shuffle_write_bytes", c.shuffle_write_bytes)):
            self.layers.setdefault(k, []).append(v)
        return out

    def _read(self, chain, i: int):
        def send():
            status, _, body = self.client.post("/api/v1/query", {"query": chain})
            if status != 200:
                raise RuntimeError(f"HTTP {status}: {body[:300]!r}")
            return _answer(json.loads(body), chain)

        if self.tracer is None:
            t0 = time.perf_counter()
            got = send()
            self.read_ms.append((time.perf_counter() - t0) * 1000.0)
            return got
        got, layer, t_ms, p_ms = paired(self.tracer, send, traced_first=i % 2 == 0)
        self.read_samples.append(layer)
        self.traced_ms.append(t_ms)
        self.plain_ms.append(p_ms)
        return got

    def iteration(self, i: int) -> None:
        from scalligraph_spark.operators.index_catchup import catchup_value_index

        txn = self.txns[i]
        before = dict(self.model)
        bytes_before = _du(os.path.join(self.store.root, LABEL))
        t0 = time.perf_counter()
        self._span("writes", lambda: _txn(self.spark, self.store, txn), "commit")
        t1 = time.perf_counter()
        report = self._span("index_catchup", lambda: catchup_value_index(
            self.spark, self.store, INDEX, self.store, on_mutation="tombstone"), "catchup")
        apply(self.model, txn)
        errs = self._span("value_index",
                          lambda: _check_index(self.spark, self.store, txn, before, self.model), "lookup")
        t2 = time.perf_counter()
        self.commit_ms.append((t1 - t0) * 1000.0)
        self.visible_ms.append((t2 - t0) * 1000.0)
        if self.spans is not None:
            self._store_sample(txn, bytes_before, report)
        for j, (chain, want) in enumerate(_read_chains(txn, self.model)):
            got = self._read(chain, i + j)
            if got != want:
                errs.append(f"chain {str(chain)[:120]}: got {str(got)[:160]} want {str(want)[:160]}")
        if errs:
            self.wrong += 1
            self.notes.extend(errs[:3])
            raise RuntimeError(f"iteration {i}: {len(errs)} wrong answers")

    def _store_sample(self, txn, bytes_before: int, report: dict) -> None:
        """Bytes the commit wrote, and their ratio to the bytes of the rows
        it changed (rows × the new version's bytes per live row)."""
        written = _du(os.path.join(self.store.root, LABEL)) - bytes_before
        per_row = _du(self.store.path(LABEL)) / max(len(self.model), 1)
        changed = len(txn["creates"]) + len(txn["updates"]) + len(txn["deletes"])
        for k, v in (("store.bytes_written", written),
                     ("store.write_amp", written / (changed * per_row)),
                     ("index_catchup.reindex_frac", float(report.get("action") == "reindexed"))):
            self.layers.setdefault(k, []).append(v)

    def close(self) -> None:
        self.client.close()


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _index_state(spark, store) -> dict[str, float]:
    """Live segments and the tombstoned share of stored index entries."""
    from scalligraph_spark.operators.tombstones import read_tombstones
    from scalligraph_spark.operators.value_index import _index_meta

    meta = _index_meta(store, INDEX)
    folded = set(store.commit_meta(INDEX).get("folded_segments", []))
    live = [s for s in meta.get("segments", []) if s not in folded]
    stored = sum(store.read(spark, p).count() for p in [INDEX] + live)
    tombs = read_tombstones(spark, store, INDEX)
    n_tomb = tombs.count() if tombs is not None else 0
    return {"value_index.segments": float(len(live)),
            "value_index.tombstone_frac": n_tomb / stored if stored else 0.0}


def _loop(run: _Run, ctx):
    """Transaction 0 untimed: a fresh JVM's first write and catch-up pay
    their code paths' warm-up.  Then transactions from 1 until
    ``--seconds`` have passed and at least ``MIN_TRANSACTIONS`` ran."""
    from harness import closed_loop

    try:
        run.iteration(0)
        for xs in (run.commit_ms, run.visible_ms, run.read_ms, run.traced_ms, run.plain_ms,
                   run.read_samples, *run.layers.values()):
            xs.clear()
        return closed_loop(lambda i: run.iteration(i + 1), ctx.seconds, clients=1,
                           min_ops=MIN_TRANSACTIONS)
    finally:
        run.close()


def measure(spark, state, ctx):
    from harness import median

    run = _Run(spark, state, ctx)
    res = _loop(run, ctx)
    extra = {
        "commit_p50_ms": (median(run.commit_ms), "ms"),
        "visible_p50_ms": (median(run.visible_ms), "ms"),
        "read_p50_ms": (median(run.read_ms), "ms"),
        "transactions": (len(run.visible_ms), "count"),
    }
    return dict(attempted=res.attempted, failed=res.failed, wrong=run.wrong,
                e2e={"op_p50_ms": median(run.visible_ms),
                     "ops_per_s": 1000.0 / median(res.latencies_ms) if res.latencies_ms else 0.0},
                extra=extra, notes=res.errors + run.notes)


def trace(spark, state, ctx):
    from harness import SparkCounters, median
    from layers import RequestTracer, summarize

    counters = SparkCounters(spark)
    tracer = RequestTracer(counters, state["executor"]).install()
    run = _Run(spark, state, ctx, spans=counters, tracer=tracer)
    try:
        res = _loop(run, ctx)
    finally:
        tracer.uninstall()
    layers = {k: median(v) for k, v in run.layers.items()}
    layers.update(summarize(run.read_samples, run.traced_ms, run.plain_ms))
    layers["trace.op_ms"] = median(run.visible_ms)
    label_dir = os.path.join(state["store"].root, LABEL)
    layers["store.space_amp"] = _du(label_dir) / _du(state["store"].path(LABEL))
    layers.update(_index_state(spark, state["store"]))
    return dict(attempted=res.attempted, failed=res.failed, wrong=run.wrong, layers=layers,
                extra={"transactions": (len(run.visible_ms), "count")}, notes=res.errors + run.notes)

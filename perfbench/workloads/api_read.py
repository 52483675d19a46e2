"""api_read — seeded read chains against an in-process QueryServer.

Closed loop, 2 client threads on one process, each posting its next
request as soon as the previous answer arrived.  The mix covers
filter+sort+``page withTotal``, ``count``, field and time aggregations,
1- and 3-hop registered hops, ``byIndexedValue`` and one GraphQL hop;
its parameters come from the seed.  Every answer is compared with DuckDB
over the same parquet after the loop.
"""

from __future__ import annotations

import json
import os
import threading

import numpy as np

from datagen import PROFILES, SEGMENTS, EVENT_TYPES, PRIORITIES

CLIENTS = 2
KINDS = ("page", "count", "field_agg", "time_agg", "hop1", "hop3", "by_indexed_value", "graphql_hop")
INDEX_NAME = "customer_name"


def request_mix(seed: int, n: int) -> list[tuple[str, str, dict]]:
    """``n`` requests ``(kind, path, body)``; the same seed gives the same
    sequence.  Parameters stay inside the generated tables' domains."""
    rng = np.random.default_rng([seed, 10])
    n_cust = PROFILES["read"]["customer"]
    n_orders = PROFILES["read"]["orders"]
    out = []
    for _ in range(n):
        kind = KINDS[int(rng.integers(0, len(KINDS)))]
        seg = SEGMENTS[int(rng.integers(0, len(SEGMENTS)))]
        if kind == "page":
            chain = [
                {"_name": "all_customer"},
                {"_name": "filter", "_and": [
                    {"_is": {"_field": "c_mktsegment", "_value": seg}},
                    {"_gte": {"_field": "c_acctbal", "_value": int(rng.integers(60, 96)) * 100}},
                ]},
                {"_name": "sort", "_fields": [{"c_acctbal": "decr"}, {"c_custkey": "incr"}]},
                {"_name": "page", "from": 0, "to": 10, "withTotal": True},
            ]
        elif kind == "count":
            chain = [
                {"_name": "all_orders"},
                {"_name": "filter", "_and": [
                    {"_is": {"_field": "o_orderstatus", "_value": "FOP"[int(rng.integers(0, 3))]}},
                    {"_is": {"_field": "o_orderpriority", "_value": PRIORITIES[int(rng.integers(0, 5))]}},
                ]},
                {"_name": "count"},
            ]
        elif kind == "field_agg":
            chain = [
                {"_name": "all_orders"},
                {"_name": "filter", "_is": {"_field": "o_orderstatus", "_value": "FOP"[int(rng.integers(0, 3))]}},
                {"_name": "aggregation", "_agg": "field", "_field": "o_orderpriority",
                 "_select": [{"_agg": "count"}, {"_agg": "sum", "_field": "o_totalprice", "_name": "total_price"}]},
            ]
        elif kind == "time_agg":
            chain = [
                {"_name": "all_events"},
                {"_name": "filter", "_is": {"_field": "event_type", "_value": EVENT_TYPES[int(rng.integers(0, 5))]}},
                {"_name": "aggregation", "_agg": "time", "_field": "ts", "_interval": ["1d", "1w"][int(rng.integers(0, 2))]},
            ]
        elif kind == "hop1":
            chain = [
                {"_name": "all_customer"},
                {"_name": "filter", "_is": {"_field": "c_custkey", "_value": int(rng.integers(0, n_cust))}},
                {"_name": "orders"},
                {"_name": "count"},
            ]
        elif kind == "hop3":
            chain = [
                {"_name": "all_orders"},
                {"_name": "filter", "_is": {"_field": "o_orderkey", "_value": int(rng.integers(0, n_orders))}},
                {"_name": "customer"},
                {"_name": "orders"},
                {"_name": "lines"},
                {"_name": "count"},
            ]
        elif kind == "by_indexed_value":
            keys = sorted(int(k) for k in rng.choice(n_cust, 3, replace=False))
            chain = [
                {"_name": "byIndexedValue", "values": [f"Customer#{k:09d}" for k in keys]},
                {"_name": "sort", "_fields": [{"c_custkey": "incr"}]},
            ]
        else:
            nation = int(rng.integers(0, 25))
            doc = (
                "{ all_customer { filter(filter: {c_nationkey: %d, c_mktsegment: \"%s\"}) "
                "{ orders { count } } } }" % (nation, seg)
            )
            out.append((kind, "/api/v1/graphql", {"query": doc}))
            continue
        out.append((kind, "/api/v1/query", {"query": chain}))
    return out


# ---------------------------------------------------------------------------
# answers: the HTTP response and the DuckDB oracle, in one normal form
# ---------------------------------------------------------------------------


def normalize(kind: str, status: int, headers: dict, body: bytes):
    if status != 200:
        raise RuntimeError(f"HTTP {status}: {body[:300]!r}")
    doc = json.loads(body)
    if kind == "graphql_hop":
        if "errors" in doc:
            raise RuntimeError(f"graphql errors: {doc['errors']}")
        return int(doc["data"]["all_customer"]["filter"]["orders"]["count"])
    if kind == "page":
        rows = [(r["c_custkey"], r["c_name"], r["c_nationkey"], r["c_acctbal"], r["c_mktsegment"]) for r in doc]
        return int(headers["X-Total"]), rows
    if kind in ("count", "hop1", "hop3"):
        return int(doc[0]["count"])
    if kind == "field_agg":
        return sorted((r["o_orderpriority"], r["count"], r["total_price"]) for r in doc)
    if kind == "time_agg":
        return sorted((r["ts"], r["count"]) for r in doc)
    if kind == "by_indexed_value":
        return [(r["c_custkey"], r["c_name"], r["c_nationkey"], r["c_acctbal"], r["c_mktsegment"]) for r in doc]
    raise ValueError(kind)


def _filters(spec) -> str:
    """SQL for the small filter grammar subset the mix uses."""
    if "_and" in spec:
        return " AND ".join(f"({_filters(s)})" for s in spec["_and"])
    (op, arg), = spec.items()
    v = arg["_value"]
    lit = f"'{v}'" if isinstance(v, str) else str(v)
    return f"{arg['_field']} {'=' if op == '_is' else '>='} {lit}"


def expected(con, kind: str, body: dict, threshold: int = 1000):
    if kind == "graphql_hop":
        import re

        nation, seg = re.search(r"c_nationkey: (\d+), c_mktsegment: \"(\w+)\"", body["query"]).groups()
        return con.execute(
            "SELECT count(*) FROM orders JOIN customer ON o_custkey = c_custkey "
            "WHERE c_nationkey = ? AND c_mktsegment = ?", [int(nation), seg]
        ).fetchone()[0]
    chain = body["query"]
    if kind == "page":
        where = _filters({k: v for k, v in chain[1].items() if k != "_name"})
        n = con.execute(f"SELECT count(*) FROM customer WHERE {where}").fetchone()[0]
        rows = con.execute(
            "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer "
            f"WHERE {where} ORDER BY c_acctbal DESC, c_custkey LIMIT 10"
        ).fetchall()
        return (-threshold if n >= threshold else n), [tuple(r) for r in rows]
    if kind == "count":
        where = _filters({k: v for k, v in chain[1].items() if k != "_name"})
        return con.execute(f"SELECT count(*) FROM orders WHERE {where}").fetchone()[0]
    if kind == "field_agg":
        where = _filters({k: v for k, v in chain[1].items() if k != "_name"})
        rows = con.execute(
            "SELECT o_orderpriority, count(*), CAST(sum(CAST(o_totalprice AS DECIMAL(38, 2))) AS DOUBLE) "
            f"FROM orders WHERE {where} GROUP BY 1"
        ).fetchall()
        return sorted(tuple(r) for r in rows)
    if kind == "time_agg":
        from scalligraph_spark.functions import parse_interval, time_bucket_sql

        where = _filters({k: v for k, v in chain[1].items() if k != "_name"})
        bucket = time_bucket_sql("ts", *parse_interval(chain[2]["_interval"]))
        rows = con.execute(
            f"SELECT epoch_ms({bucket}) AS b, count(*) FROM events WHERE {where} GROUP BY b"
        ).fetchall()
        return sorted(tuple(r) for r in rows)
    if kind == "hop1":
        return con.execute(
            "SELECT count(*) FROM orders WHERE o_custkey = ?", [chain[1]["_is"]["_value"]]
        ).fetchone()[0]
    if kind == "hop3":
        return con.execute(
            "SELECT count(*) FROM lineitem JOIN orders o2 ON l_orderkey = o2.o_orderkey "
            "JOIN orders o1 ON o1.o_custkey = o2.o_custkey WHERE o1.o_orderkey = ?",
            [chain[1]["_is"]["_value"]],
        ).fetchone()[0]
    if kind == "by_indexed_value":
        names = chain[0]["values"]
        rows = con.execute(
            "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer "
            f"WHERE c_name IN ({', '.join('?' * len(names))}) ORDER BY c_custkey", names
        ).fetchall()
        return [tuple(r) for r in rows]
    raise ValueError(kind)


# ---------------------------------------------------------------------------
# workload protocol
# ---------------------------------------------------------------------------


def prepare(ctx) -> None:
    import datagen

    datagen.write_tables(datagen.tpch_tables(ctx.seed, "read"), ctx.data_dir)


def setup(spark, ctx, rep: int) -> dict:
    """Catalog + registered executor + the value index ``byIndexedValue``
    answers through + the HTTP server."""
    from scalligraph_spark.http_api import QueryServer
    from scalligraph_spark.operators import build_value_index
    from scalligraph_spark.store import LabelStore
    from scalligraph_spark.suite import executor_for

    sf = ctx.rep_data_dir(rep)
    store = LabelStore(os.path.join(ctx.root, "stores", f"api_read-{rep}"))
    ex = executor_for(spark, sf, value_index=(store, INDEX_NAME, "customer", "c_name"))
    build_value_index(spark, store, INDEX_NAME, ex.catalog.vertex_df("customer"), "c_name", "c_custkey")
    server = QueryServer(ex).serve()
    return {"executor": ex, "server": server}


def teardown(state: dict) -> None:
    state["server"].close()


def _check(ctx, answers) -> tuple[int, list[str]]:
    """Compare every recorded answer with DuckDB; → (wrong, messages)."""
    from oracles import close, duckdb_over

    con = duckdb_over(ctx.data_dir)
    memo: dict[str, object] = {}
    wrong, msgs = 0, []
    for kind, body, got in answers:
        key = json.dumps(body, sort_keys=True)
        if key not in memo:
            memo[key] = expected(con, kind, body)
        if not close(got, memo[key]):
            wrong += 1
            if len(msgs) < 3:
                msgs.append(f"{kind} {key[:200]}: got {str(got)[:200]} want {str(memo[key])[:200]}")
    con.close()
    return wrong, msgs


def _warm(state, seed: int) -> None:
    """One request of every kind, untimed (class loading, code caches)."""
    from harness import HttpClient

    c = HttpClient(state["server"].port)
    seen = set()
    for kind, path, body in request_mix(seed + 1_000_003, 200):
        if kind not in seen:
            seen.add(kind)
            normalize(kind, *c.post(path, body))
    c.close()


def measure(spark, state, ctx):
    from harness import HttpClient, closed_loop, median, tail

    mix = request_mix(ctx.seed, 20_000)
    _warm(state, ctx.seed)
    answers = []
    clients: list = []
    local = threading.local()

    def op(i):
        if not hasattr(local, "client"):
            local.client = HttpClient(state["server"].port)
            clients.append(local.client)
        kind, path, body = mix[i]
        answers.append((kind, body, normalize(kind, *local.client.post(path, body))))

    res = closed_loop(op, ctx.seconds, clients=CLIENTS)
    for c in clients:
        c.close()
    wrong, msgs = _check(ctx, answers)
    lat = res.latencies_ms
    extra = {
        "read_p50_ms": (median(lat), "ms"),
        "read_rps": (res.rate, "1/s"),
        "read_samples": (len(lat), "count"),
    }
    p90 = tail(lat, 0.90)
    if p90 is not None:
        extra["read_p90_ms"] = (p90, "ms")
    return dict(attempted=res.attempted, failed=res.failed + wrong, wrong=wrong,
                e2e={"op_p50_ms": median(lat), "ops_per_s": res.rate},
                extra=extra, notes=res.errors + msgs)


def trace(spark, state, ctx):
    """Single client.  Each chain request is sent twice, traced and
    untraced in alternating order, so the tracing overhead is measured
    on the same requests; the GraphQL hop is sent untraced."""
    from harness import HttpClient, SparkCounters, closed_loop, median
    from layers import RequestTracer, paired, summarize

    mix = request_mix(ctx.seed, 20_000)
    _warm(state, ctx.seed)
    tracer = RequestTracer(SparkCounters(spark), state["executor"]).install()
    client = HttpClient(state["server"].port)
    samples, traced_ms, plain_ms, answers = [], [], [], []

    def op(i):
        kind, path, body = mix[i]

        def send():
            return normalize(kind, *client.post(path, body))

        if kind == "graphql_hop":
            answers.append((kind, body, send()))
            return
        got, layer, t_ms, p_ms = paired(tracer, send, traced_first=i % 2 == 0)
        answers.append((kind, body, got))
        samples.append(layer)
        traced_ms.append(t_ms)
        plain_ms.append(p_ms)

    try:
        res = closed_loop(op, ctx.seconds, clients=1)
    finally:
        client.close()
        tracer.uninstall()
    wrong, msgs = _check(ctx, answers)
    layers = summarize(samples, traced_ms, plain_ms)
    layers["trace.op_ms"] = median(traced_ms)
    return dict(attempted=res.attempted, failed=res.failed + wrong, wrong=wrong,
                layers=layers,
                extra={"traced_requests": (len(samples), "count")}, notes=res.errors + msgs)

"""Seeded input generation for the benchmark workloads.

Everything a workload feeds the engine is derived here from one integer
seed: the TPC-H-shaped tables (written as parquet for the catalog), the
read-request mix, the store transactions and the power-law edge list.
The same seed always yields byte-identical inputs; nothing here touches
Spark, so the benchmark's own tests can check determinism cheaply.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "error", "login"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# Row counts per size profile.  ``read`` is sf0.1-shaped for the tables the
# read mix touches; ``batch`` sizes the similarity inputs so one operator
# pass stays a few seconds at 4 cores.
PROFILES = {
    "read": dict(customer=15_000, orders=150_000, lines_per_order=4, events=20_000,
                 documents=200, embeddings=200, part=2_000, supplier=100),
    "churn": dict(customer=5_000, orders=1_000, lines_per_order=1, events=200,
                  documents=200, embeddings=200, part=200, supplier=10),
    "batch": dict(customer=200, orders=10_000, lines_per_order=4, events=200,
                  documents=600, embeddings=400, part=200, supplier=10),
}

_EPOCH_1992 = 694_224_000  # 1992-01-01T00:00:00Z


def _ts(seconds: np.ndarray) -> pa.Array:
    return pa.array(seconds.astype("int64") * 1_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    # whole cents, so sums and comparisons are exact in both engines
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def tpch_tables(seed: int, profile: str) -> dict[str, pa.Table]:
    """The ten catalog tables (``catalog.TPCH_TABLES``) for one seed."""
    p = PROFILES[profile]
    rng = np.random.default_rng([seed, 1])
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = p["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = p["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99),
    })
    npart = p["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"part {i}" for i in range(npart)],
        "p_brand": [f"Brand#{1 + i % 5}{1 + i % 7}" for i in range(npart)],
        "p_type": np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"])[rng.integers(0, 5, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": _money(rng, npart, 900, 2100),
    })
    no = p["orders"]
    odate = _EPOCH_1992 + rng.integers(0, 6 * 365, no) * 86400
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, no, 800, 500_000),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })
    k = p["lines_per_order"]
    nl = no * k
    qty = rng.integers(1, 51, nl).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(no), k), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(np.tile(np.arange(1, k + 1), no), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, nl, 900, 2100), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(np.repeat(odate, k) + rng.integers(1, 122, nl) * 86400),
    })
    ne = p["events"]
    ev_ts = 1_704_067_200 + np.sort(rng.integers(0, 60 * 86400, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, 500, ne), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": _money(rng, ne, 0, 100),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, ne)],
    })
    t["documents"] = _documents(rng, p["documents"])
    t["embeddings"] = _embeddings(rng, p["embeddings"])
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Zipf-worded documents with planted near-duplicate clusters: a
    quarter of the rows are copies of an earlier row with one or two
    words replaced, so MinHash+LSH has true pairs to find without the
    all-pairs blow-up a tiny vocabulary would cause."""
    vocab = [f"w{i}" for i in range(4000)]
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.25:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
        else:
            ln = int(rng.integers(40, 90))
            ids = np.minimum(rng.zipf(1.3, ln) - 1, len(vocab) - 1)
            words = [vocab[j] for j in ids]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "de", "fr"])[rng.integers(0, 3, n)],
        "source": [f"src{i % 7}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Gaussian-mixture vectors (24 centres), so IVF cells are meaningful."""
    centres = rng.normal(0, 1, (24, dim))
    lab = rng.integers(0, 24, n)
    vecs = (centres[lab] + rng.normal(0, 0.35, (n, dim))).astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(lab, pa.int32()),
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def power_law_edges(seed: int, n_vertices: int = 50_000, n_edges: int = 150_000) -> np.ndarray:
    """Directed (src, dst) int64 pairs, both endpoints drawn with a
    Zipf-like preference so a few hubs carry many edges; ids are permuted
    so hub ids are not simply the smallest.  Duplicate pairs and self
    loops are dropped (deterministically, keeping first occurrences)."""
    rng = np.random.default_rng([seed, 2])
    w = 1.0 / np.arange(1, n_vertices + 1) ** 0.8
    w /= w.sum()
    perm = rng.permutation(n_vertices)
    src = perm[rng.choice(n_vertices, n_edges, p=w)]
    dst = perm[rng.integers(0, n_vertices, n_edges)]
    e = np.stack([src, dst], axis=1).astype("int64")
    e = e[e[:, 0] != e[:, 1]]
    _, first = np.unique(e, axis=0, return_index=True)
    return e[np.sort(first)]


def bfs_seeds(seed: int, edges: np.ndarray, n: int = 3) -> list[int]:
    rng = np.random.default_rng([seed, 3])
    return sorted(int(v) for v in rng.choice(np.unique(edges[:, 0]), n, replace=False))

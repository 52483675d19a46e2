"""CDC-driven index catch-up: append-only corpus churn folds into each
persisted-index family as delta segments (cost ∝ churn), mutating churn
hits the policy knob (error / full reindex), rollbacks always demand a
rebuild, and a caught-up index is indistinguishable from a rebuilt one."""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from scalligraph_spark.cdf import write_with_cdf
from scalligraph_spark.operators import (
    IndexCatchupError,
    StaleValueIndexWarning,
    build_minhash_index,
    build_text_index,
    build_value_index,
    catchup_minhash_index,
    catchup_text_index,
    catchup_value_index,
    incremental_near_dups,
    indexed_bm25_topk,
    load_text_index,
    load_value_index,
)
from scalligraph_spark.store import LabelStore


@pytest.fixture()
def store(tmp_path):
    return LabelStore(str(tmp_path / "catchup"))


def _people(spark, rows):
    return spark.createDataFrame(rows, "uid long, uname string, score int")


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# --- value index -------------------------------------------------------------


def test_value_catchup_appends_equal_rebuild_and_clear_staleness(spark, store):
    base = _people(spark, [(0, "alice", 10), (1, "bob", 20), (2, "carol", 30)])
    write_with_cdf(store, "people", base, ["uid"])
    build_value_index(spark, store, "by_name", store.read(spark, "people"),
                      "uname", "uid", corpus_store=store, corpus_label="people")

    # v2: captured append; v3: UNCAPTURED append (hash-diff fallback path)
    b1 = _people(spark, [(3, "dave", 40)])
    write_with_cdf(store, "people", store.read(spark, "people").unionByName(b1), ["uid"])
    b2 = _people(spark, [(4, "erin", 50), (5, "fred", 60)])
    store.write("people", store.read(spark, "people").unionByName(b2))

    # stale before catch-up
    with pytest.warns(StaleValueIndexWarning):
        load_value_index(spark, store, "by_name", corpus_store=store)

    rep = catchup_value_index(spark, store, "by_name", store)
    assert rep["action"] == "extended"
    assert rep["churn"] == {"insert": 3}
    assert (rep["from_version"], rep["to_version"]) == (1, 3)

    # caught-up ≡ rebuilt on the current corpus
    build_value_index(spark, store, "expected", store.read(spark, "people"), "uname", "uid")
    got = sorted(tuple(r) for r in load_value_index(spark, store, "by_name").entries.collect())
    want = sorted(tuple(r) for r in load_value_index(spark, store, "expected").entries.collect())
    assert got == want and len(got) == 6

    # staleness cleared; a second catch-up is a noop
    with warnings.catch_warnings():
        warnings.simplefilter("error", StaleValueIndexWarning)
        load_value_index(spark, store, "by_name", corpus_store=store)
    assert catchup_value_index(spark, store, "by_name", store)["action"] == "noop"


def test_value_catchup_mutation_policy(spark, store):
    base = _people(spark, [(0, "alice", 10), (1, "bob", 20)])
    write_with_cdf(store, "people", base, ["uid"])
    build_value_index(spark, store, "by_name", store.read(spark, "people"),
                      "uname", "uid", corpus_store=store, corpus_label="people")
    # an UPDATE (bob renamed) — not expressible as an append-only segment
    mutated = store.read(spark, "people").withColumn(
        "uname", F.when(F.col("uid") == 1, F.lit("robert")).otherwise(F.col("uname"))
    )
    write_with_cdf(store, "people", mutated, ["uid"])

    with pytest.raises(IndexCatchupError) as ei:
        catchup_value_index(spark, store, "by_name", store)
    assert ei.value.churn.get("update_postimage") == 1

    rep = catchup_value_index(spark, store, "by_name", store, on_mutation="reindex")
    assert rep["action"] == "reindexed"
    ix = load_value_index(spark, store, "by_name")
    got = sorted(tuple(r) for r in ix.entries.collect())
    assert got == [("alice", 0), ("robert", 1)]
    assert int(ix.meta["corpus_version"]) == store.version("people")


def test_value_catchup_rollback_requires_reindex(spark, store):
    write_with_cdf(store, "people", _people(spark, [(0, "alice", 10)]), ["uid"])
    write_with_cdf(store, "people",
                   store.read(spark, "people").unionByName(_people(spark, [(1, "bob", 20)])),
                   ["uid"])
    build_value_index(spark, store, "by_name", store.read(spark, "people"),
                      "uname", "uid", corpus_store=store, corpus_label="people")
    store.rollback("people", 1)
    with pytest.raises(IndexCatchupError):
        catchup_value_index(spark, store, "by_name", store)
    rep = catchup_value_index(spark, store, "by_name", store, on_mutation="reindex")
    assert rep["action"] == "reindexed"
    got = sorted(tuple(r) for r in load_value_index(spark, store, "by_name").entries.collect())
    assert got == [("alice", 0)]


def test_catchup_requires_corpus_provenance(spark, store):
    df = _people(spark, [(0, "alice", 10)])
    store.write("people", df)
    build_value_index(spark, store, "by_name", df, "uname", "uid")  # no provenance
    with pytest.raises(ValueError, match="no source corpus"):
        catchup_value_index(spark, store, "by_name", store)


# --- text index --------------------------------------------------------------


def test_text_catchup_equals_rebuild(spark, store):
    docs0 = _docs(spark, [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "spark window functions over parquet tables"),
        (2, "completely different words about engines"),
    ])
    write_with_cdf(store, "docs", docs0, ["doc_id"])
    build_text_index(store, "tix", store.read(spark, "docs"),
                     corpus_store=store, corpus_label="docs")
    batch = _docs(spark, [(10, "spark window inside a window"), (11, "brand new table merge")])
    write_with_cdf(store, "docs", store.read(spark, "docs").unionByName(batch), ["doc_id"])

    rep = catchup_text_index(spark, store, "tix", store)
    assert rep["action"] == "extended" and rep["churn"] == {"insert": 2}

    full_store = LabelStore(store.root + "_full")
    build_text_index(full_store, "tix", store.read(spark, "docs"))
    ix_inc = load_text_index(spark, store, "tix")
    ix_full = load_text_index(spark, full_store, "tix")
    assert ix_inc.n_docs == ix_full.n_docs == 5
    assert sorted(tuple(r) for r in ix_inc.postings.collect()) == sorted(
        tuple(r) for r in ix_full.postings.collect()
    )
    a = sorted(tuple(r) for r in indexed_bm25_topk(ix_inc, ["spark", "window"]).collect())
    b = sorted(tuple(r) for r in indexed_bm25_topk(ix_full, ["spark", "window"]).collect())
    assert a == b
    assert catchup_text_index(spark, store, "tix", store)["action"] == "noop"


# --- minhash index -----------------------------------------------------------


def test_minhash_catchup_probe_equals_rebuild(spark, store):
    base_txt = "the quick brown fox jumps over the lazy dog again and again today"
    docs0 = _docs(spark, [(1, base_txt), (2, base_txt.replace("lazy", "sleepy")),
                          (3, "completely different words about spark engines")])
    write_with_cdf(store, "docs", docs0, ["doc_id"])
    build_minhash_index(spark, store, "mix", store.read(spark, "docs"),
                        corpus_store=store, corpus_label="docs")
    appended = _docs(spark, [(4, "totally fresh sentence about delta segments in indexes")])
    write_with_cdf(store, "docs", store.read(spark, "docs").unionByName(appended), ["doc_id"])

    rep = catchup_minhash_index(spark, store, "mix", store)
    assert rep["action"] == "extended" and rep["churn"] == {"insert": 1}

    probe = _docs(spark, [(300, "totally fresh sentence about delta segments in an index")])
    got = sorted(tuple(r) for r in incremental_near_dups(spark, store, "mix", probe, threshold=0.5).collect())
    full_store = LabelStore(store.root + "_full")
    build_minhash_index(spark, full_store, "mix", store.read(spark, "docs"))
    want = sorted(tuple(r) for r in incremental_near_dups(spark, full_store, "mix", probe, threshold=0.5).collect())
    assert got == want
    assert {(r[0], r[1]) for r in got} == {(300, 4)}


# --- ann cells ---------------------------------------------------------------


def test_ann_catchup_appends_into_cells(spark, store):
    import numpy as np

    from scalligraph_spark.operators import (
        build_ivf_index,
        catchup_ann_cells,
        ivf_search,
        load_ann_index,
    )
    from scalligraph_spark.operators import segments

    rng = np.random.RandomState(3)
    dim = 8
    base = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(dim)]) for i in range(64)],
        "vec_id long, embedding array<double>")
    write_with_cdf(store, "emb", base, ["vec_id"])
    build_ivf_index(store, "aix", store.read(spark, "emb"), n_centroids=4,
                    store_cells=True, cells_n_list=2,
                    corpus_store=store, corpus_label="emb")

    q = np.asarray(base.where("vec_id = 5").first()["embedding"], dtype=np.float64)
    near = spark.createDataFrame(
        [(1000 + i, [float(x) for x in (q + rng.randn(dim) * 0.01)]) for i in range(3)],
        "vec_id long, embedding array<double>")
    write_with_cdf(store, "emb", store.read(spark, "emb").unionByName(near), ["vec_id"])

    rep = catchup_ann_cells(spark, store, "aix", store)
    assert rep["action"] == "extended" and rep["churn"] == {"insert": 3}
    meta = load_ann_index(spark, store, "aix").meta
    assert meta["cells_corpus_version"] == store.version("emb")
    assert meta["segments"] == ["aix__cells_seg1"]
    # appended near-dups are searchable with no retraining
    ids = [r["vec_id"] for r in ivf_search(spark, store, "aix", q, k=4, n_probe=4).collect()]
    assert ids[0] == 5 and set(ids[1:]) == {1000, 1001, 1002}
    # segment rows = 3 vectors × n_list cells
    cells = segments.read_part(spark, store, segments.family("ann"), "aix", meta, "cells")
    assert cells.count() == 64 * 2 + 3 * 2
    assert catchup_ann_cells(spark, store, "aix", store)["action"] == "noop"


# --- segment retention vacuum --------------------------------------------------


def test_vacuum_reclaims_folded_segments_across_cycles(spark, store):
    """Two extend→compact cycles WITHOUT an intermediate vacuum: the
    sweep must reclaim every folded segment from BOTH cycles (monotonic
    names make the watermark rule cover full history), keep live
    segments, and leave answers untouched."""
    from scalligraph_spark.operators import (
        compact_value_index,
        extend_value_index,
        vacuum_index_segments,
    )

    base = _people(spark, [(0, "alice", 10), (1, "bob", 20)])
    store.write("people", base)
    build_value_index(spark, store, "by_name", base, "uname", "uid")
    extend_value_index(spark, store, "by_name", _people(spark, [(2, "carol", 30)]))
    compact_value_index(spark, store, "by_name")
    extend_value_index(spark, store, "by_name", _people(spark, [(3, "dave", 40)]))
    compact_value_index(spark, store, "by_name")
    # one LIVE segment on top of the second compaction
    extend_value_index(spark, store, "by_name", _people(spark, [(4, "erin", 50)]))

    assert store.version("by_name__seg1") > 0 and store.version("by_name__seg2") > 0
    victims = vacuum_index_segments(spark, store, "by_name", kind="value")
    assert victims == ["by_name__seg1", "by_name__seg2"]
    assert store.version("by_name__seg3") > 0, "live segment must survive"
    got = sorted(tuple(r) for r in load_value_index(spark, store, "by_name").entries.collect())
    assert got == [("alice", 0), ("bob", 1), ("carol", 2), ("dave", 3), ("erin", 4)]
    assert vacuum_index_segments(spark, store, "by_name", kind="value") == []


def test_vacuum_torn_compaction_reclaims_nothing_early(spark, store, monkeypatch):
    """A torn compaction's segments are still carrier-listed (the carrier
    commits last) — the sweep must keep them; after the retried
    compaction they become victims."""
    from scalligraph_spark.operators import (
        compact_value_index,
        extend_value_index,
        vacuum_index_segments,
    )

    base = _people(spark, [(0, "alice", 10)])
    store.write("people", base)
    build_value_index(spark, store, "by_name", base, "uname", "uid")
    extend_value_index(spark, store, "by_name", _people(spark, [(1, "bob", 20)]))

    # crash between the merged-base commit and the carrier commit
    real = store.write

    def crashing(label, df, **kw):
        if label == "by_name__meta":
            raise RuntimeError("boom")
        return real(label, df, **kw)

    monkeypatch.setattr(store, "write", crashing)
    with pytest.raises(RuntimeError):
        compact_value_index(spark, store, "by_name")
    monkeypatch.setattr(store, "write", real)

    assert vacuum_index_segments(spark, store, "by_name", kind="value") == []
    assert store.version("by_name__seg1") > 0
    compact_value_index(spark, store, "by_name")
    assert vacuum_index_segments(spark, store, "by_name", kind="value") == ["by_name__seg1"]


def test_vacuum_minhash_and_text_and_ann(spark, store):
    """Family coverage: minhash reclaims the sig/bands/bucket_stats trios
    below the watermark, text and ann reclaim their folded labels, and
    probes/searches still answer identically afterwards."""
    from scalligraph_spark.operators import (
        compact_minhash_index,
        compact_text_index,
        extend_minhash_index,
        extend_text_index,
        vacuum_index_segments,
    )

    txt = "the quick brown fox jumps over the lazy dog again and again"
    docs = _docs(spark, [(1, txt), (2, "different words entirely here")])
    store.write("docs", docs)
    build_minhash_index(spark, store, "mix", docs)
    extend_minhash_index(spark, store, "mix", _docs(spark, [(3, "totally fresh sentence about segments")]))
    compact_minhash_index(spark, store, "mix")
    probe = _docs(spark, [(300, "totally fresh sentence about a segment")])
    before = sorted(tuple(r) for r in incremental_near_dups(spark, store, "mix", probe, threshold=0.4).collect())
    victims = vacuum_index_segments(spark, store, "mix", kind="minhash")
    assert set(victims) == {"mix__seg1", "mix__bands_seg1", "mix__bucket_stats_seg1"}
    after = sorted(tuple(r) for r in incremental_near_dups(spark, store, "mix", probe, threshold=0.4).collect())
    assert after == before

    build_text_index(store, "tix", docs)
    extend_text_index(spark, store, "tix", _docs(spark, [(5, "spark spark spark")]))
    compact_text_index(spark, store, "tix")
    want = sorted(tuple(r) for r in indexed_bm25_topk(load_text_index(spark, store, "tix"), ["spark"]).collect())
    assert vacuum_index_segments(spark, store, "tix", kind="text") == ["tix__seg1"]
    got = sorted(tuple(r) for r in indexed_bm25_topk(load_text_index(spark, store, "tix"), ["spark"]).collect())
    assert got == want


def test_catchup_restamps_without_empty_segment_on_identical_rewrite(spark, store):
    """A corpus version advance with IDENTICAL rows (re-layout commit)
    must refresh the recorded version WITHOUT committing an empty delta
    segment — repeated identical rewrites must not grow the segment
    list."""
    base = _people(spark, [(0, "alice", 10), (1, "bob", 20)])
    write_with_cdf(store, "people", base, ["uid"])
    build_value_index(spark, store, "by_name", store.read(spark, "people"),
                      "uname", "uid", corpus_store=store, corpus_label="people")
    store.write("people", store.read(spark, "people"))  # same rows, new version

    rep = catchup_value_index(spark, store, "by_name", store)
    assert rep["action"] == "restamped" and rep["churn"] == {}
    ix = load_value_index(spark, store, "by_name")
    assert ix.meta["segments"] == []  # NO empty segment committed
    assert int(ix.meta["corpus_version"]) == store.version("people")
    assert catchup_value_index(spark, store, "by_name", store)["action"] == "noop"


def test_extend_as_of_version_pins_not_head(spark, store):
    """extend(as_of_version=v) must stamp v, not a fresh head read — the
    catch-up concurrency contract: a corpus commit racing the segment
    write stays visibly un-indexed for the next catch-up."""
    from scalligraph_spark.operators import extend_value_index

    base = _people(spark, [(0, "alice", 10)])
    write_with_cdf(store, "people", base, ["uid"])
    build_value_index(spark, store, "by_name", store.read(spark, "people"),
                      "uname", "uid", corpus_store=store, corpus_label="people")
    b1 = _people(spark, [(1, "bob", 20)])
    write_with_cdf(store, "people", store.read(spark, "people").unionByName(b1), ["uid"])  # v2
    b2 = _people(spark, [(2, "carol", 30)])
    write_with_cdf(store, "people", store.read(spark, "people").unionByName(b2), ["uid"])  # v3

    # fold only the v1→v2 delta, pinned as-of v2, while head is already v3
    extend_value_index(spark, store, "by_name", b1, corpus_store=store, as_of_version=2)
    ix = load_value_index(spark, store, "by_name")
    assert int(ix.meta["corpus_version"]) == 2, "must stamp the folded version, not head"
    # the next catch-up then picks up exactly the v2→v3 rows
    rep = catchup_value_index(spark, store, "by_name", store)
    assert rep["action"] == "extended" and rep["churn"] == {"insert": 1}
    got = sorted(tuple(r) for r in load_value_index(spark, store, "by_name").entries.collect())
    assert got == [("alice", 0), ("bob", 1), ("carol", 2)]


def test_maintain_indexes_fleet_sweep(spark, store):
    """One call keeps a fleet of indexes healthy: catch up from the
    feed, compact past the segment threshold, vacuum the folded labels —
    and a failing index reports instead of blocking the sweep."""
    from scalligraph_spark.operators import maintain_indexes

    docs = _docs(spark, [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "spark window functions over parquet tables"),
    ])
    write_with_cdf(store, "docs", docs, ["doc_id"])
    build_value_index(spark, store, "by_text", store.read(spark, "docs"),
                      "text", "doc_id", corpus_store=store, corpus_label="docs")
    build_text_index(store, "tix", store.read(spark, "docs"),
                     corpus_store=store, corpus_label="docs")
    # two appended batches → both indexes two versions behind
    for i in (10, 11):
        write_with_cdf(store, "docs",
                       store.read(spark, "docs").unionByName(_docs(spark, [(i, f"fresh doc number {i}")])),
                       ["doc_id"])

    reps = maintain_indexes(
        spark, store, [("by_text", "value"), ("tix", "text")], compact_over=0, vacuum=True,
    )
    by_name = {r["index"]: r for r in reps}
    assert by_name["by_text"]["action"] == "extended" and by_name["by_text"]["churn"] == {"insert": 2}
    assert by_name["tix"]["action"] == "extended"
    # compact_over=0: the fresh segment compacts and then vacuums away
    assert by_name["by_text"]["compacted"] and by_name["by_text"]["vacuumed"] == ["by_text__seg1"]
    assert by_name["tix"]["compacted"] and by_name["tix"]["vacuumed"] == ["tix__seg1"]
    ix = load_value_index(spark, store, "by_text")
    assert ix.meta["segments"] == [] and ix.entries.count() == 4
    assert load_text_index(spark, store, "tix").n_docs == 4

    # steady state: noop, nothing compacts, nothing to vacuum
    reps2 = maintain_indexes(spark, store, [("by_text", "value"), ("tix", "text")])
    assert all(r["action"] == "noop" and not r["compacted"] and r["vacuumed"] == [] for r in reps2)

    # a failing index (mutating churn under on_mutation='error') reports
    # and the sweep continues to the healthy one
    mutated = store.read(spark, "docs").withColumn(
        "text", F.when(F.col("doc_id") == 0, F.lit("rewritten")).otherwise(F.col("text")))
    write_with_cdf(store, "docs", mutated, ["doc_id"])
    reps3 = maintain_indexes(spark, store, [("by_text", "value"), ("tix", "text")],
                             on_mutation="error")
    assert {r["index"]: r["action"] for r in reps3} == {"by_text": "failed", "tix": "failed"}
    assert all("non-append-only" in r["error"] for r in reps3)
    # and the reindex policy repairs both in one sweep
    reps4 = maintain_indexes(spark, store, [("by_text", "value"), ("tix", "text")],
                             on_mutation="reindex")
    assert all(r["action"] == "reindexed" for r in reps4)
    got = dict(load_value_index(spark, store, "by_text").entries.collect())
    assert got["rewritten"] == 0


def test_maintenance_over_http_admin_gated(spark, store):
    """POST /maintenance runs the declared fleet sweep for admins only:
    403 without the admin permission, 401 without auth, 200 with reports
    for the operator — labels come from the server construction, clients
    choose only the policy knobs."""
    import http.client
    import json as _json

    from scalligraph_spark.auth import KeyAuthSrv
    from scalligraph_spark.http_api import QueryServer
    from scalligraph_spark.suite import executor_for

    base = _people(spark, [(0, "alice", 10), (1, "bob", 20)])
    write_with_cdf(store, "people", base, ["uid"])
    build_value_index(spark, store, "by_name", store.read(spark, "people"),
                      "uname", "uid", corpus_store=store, corpus_label="people")
    write_with_cdf(store, "people",
                   store.read(spark, "people").unionByName(_people(spark, [(2, "carol", 30)])),
                   ["uid"])

    users = spark.createDataFrame(
        [("u1", "op", ["acme"], ["read", "admin"], None, "k-op"),
         ("u2", "ro", ["acme"], ["read"], None, "k-ro")],
        "user_id string, user_name string, organisations array<string>, "
        "permissions array<string>, policy_data string, api_key string",
    )
    ex = executor_for(spark, "/root/testdata/sf0.001")
    srv_obj = QueryServer(ex, auth_srv=KeyAuthSrv(users),
                          maintenance=(store, [("by_name", "value")]))
    with srv_obj.serve() as srv:
        def post(token=None, body=b"{}"):
            conn = http.client.HTTPConnection("127.0.0.1", srv.port, timeout=60)
            h = {"Content-Type": "application/json"}
            if token:
                h["Authorization"] = f"Bearer {token}"
            conn.request("POST", "/api/v1/maintenance", body=body, headers=h)
            r = conn.getresponse()
            data = r.read()
            conn.close()
            return r.status, data

        assert post()[0] == 401
        status, data = post("k-ro")
        assert status == 403 and _json.loads(data)["type"] == "AuthorizationError"
        status, data = post("k-op", _json.dumps({"compactOver": 0}).encode())
        assert status == 200
        reports = _json.loads(data)["reports"]
        assert reports[0]["action"] == "extended" and reports[0]["compacted"]
    got = sorted(tuple(r) for r in load_value_index(spark, store, "by_name").entries.collect())
    assert got == [("alice", 0), ("bob", 1), ("carol", 2)]

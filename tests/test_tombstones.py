"""Seq-scoped tombstones (tombstones.py): UPDATE/DELETE churn folds into
every persisted-index family at churn cost — catch-up with
on_mutation='tombstone' must answer identically to a full rebuild, before
AND after compaction physically applies the tombstones, and the folded
tombstone segments vacuum away under the segment retention sweep."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from index_families import CATCHUP, COMPACT, KEY, KINDS, build, content, query, rows

from scalligraph_spark.cdf import write_with_cdf
from scalligraph_spark.operators import (
    build_minhash_index,
    build_value_index,
    catchup_minhash_index,
    catchup_value_index,
    compact_value_index,
    incremental_near_dups,
    load_value_index,
    vacuum_index_segments,
)
from scalligraph_spark.operators import segments
from scalligraph_spark.operators.tombstones import (
    TOMB_SEQ,
    read_tombstones,
    tombstone_label,
    write_tombstones,
)
from scalligraph_spark.store import LabelStore


@pytest.fixture()
def store(tmp_path):
    return LabelStore(str(tmp_path / "tomb"))


def _people(spark, rows):
    return spark.createDataFrame(rows, "uid long, uname string, score int")


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _mixed_churn(spark, store):
    """v1: 5 people; v2: update uid=1, delete uid=2, insert uid=5."""
    base = _people(spark, [(0, "alice", 10), (1, "bob", 20), (2, "carol", 30),
                           (3, "dave", 40), (4, "erin", 50)])
    write_with_cdf(store, "people", base, ["uid"])
    build_value_index(spark, store, "by_name", store.read(spark, "people"),
                      "uname", "uid", corpus_store=store, corpus_label="people")
    mutated = (
        store.read(spark, "people")
        .where(F.col("uid") != 2)
        .withColumn("uname", F.when(F.col("uid") == 1, F.lit("robert")).otherwise(F.col("uname")))
        .unionByName(_people(spark, [(5, "fred", 60)]))
    )
    write_with_cdf(store, "people", mutated, ["uid"])


def _entries(spark, store, name):
    return sorted(tuple(r) for r in load_value_index(spark, store, name).entries.collect())


WANT_AFTER_CHURN = [("alice", 0), ("dave", 3), ("erin", 4), ("fred", 5), ("robert", 1)]


@pytest.mark.parametrize("kind", KINDS)
def test_tombstone_catchup_matches_rebuild(spark, store, kind):
    """Update id 1, delete id 2, insert id 6, then catch up with
    on_mutation='tombstone': every family answers like a rebuild on the
    new corpus, before compaction (indexed rows) and after it (stats and
    query answers too), and the retention sweep reclaims the folded
    segment and the tombstones."""
    key = KEY[kind]
    write_with_cdf(store, "corpus", rows(spark, kind, range(6)), [key])
    build(spark, store, kind, "ix", "corpus")
    v2 = (store.read(spark, "corpus").where(f"{key} not in (1, 2)")
          .unionByName(rows(spark, kind, [1], variant=1)).unionByName(rows(spark, kind, [6])))
    write_with_cdf(store, "corpus", v2, [key])
    rep = CATCHUP[kind](spark, store, "ix", store, on_mutation="tombstone")
    assert rep["action"] == "tombstoned"
    assert rep["churn"] == {"insert": 1, "delete": 1, "update_preimage": 1, "update_postimage": 1}
    # a MUTATION-sized tombstone segment, one row per key: the pure
    # insert (id 6) had no entries to hide.  The tombstone batch consumed
    # seq 1, so the re-insert segment is seq 2 — strictly above it.
    tombs = store.read(spark, tombstone_label("ix", 1))
    assert sorted((r[0], r[TOMB_SEQ]) for r in tombs.collect()) == [(1, 1), (2, 1)]
    fam = segments.family(kind)
    meta = segments.read_meta(store, "ix")
    assert meta["segments"] == [segments.label("ix", next(iter(fam.parts)), 2)]
    assert meta["tombstones"] == [tombstone_label("ix", 1)]
    assert CATCHUP[kind](spark, store, "ix", store)["action"] == "noop"

    full = LabelStore(store.root + "_full")
    full.write("corpus", v2)
    build(spark, full, kind, "ix", "corpus")
    assert content(spark, store, kind, "ix") == content(spark, full, kind, "ix")
    COMPACT[kind](spark, store, "ix")
    assert content(spark, store, kind, "ix") == content(spark, full, kind, "ix")
    want = query(spark, full, kind, "ix")
    assert query(spark, store, kind, "ix") == want
    victims = vacuum_index_segments(spark, store, "ix", kind)
    assert {segments.label("ix", p, 2) for p in fam.parts} | {tombstone_label("ix", 1)} <= set(victims)
    assert query(spark, store, kind, "ix") == want


def test_value_tombstone_delete_only_restamps(spark, store):
    base = _people(spark, [(0, "alice", 10), (1, "bob", 20)])
    write_with_cdf(store, "people", base, ["uid"])
    build_value_index(spark, store, "by_name", store.read(spark, "people"),
                      "uname", "uid", corpus_store=store, corpus_label="people")
    write_with_cdf(store, "people", store.read(spark, "people").where("uid != 1"), ["uid"])
    rep = catchup_value_index(spark, store, "by_name", store, on_mutation="tombstone")
    assert rep["action"] == "tombstoned" and rep["churn"] == {"delete": 1}
    ix = load_value_index(spark, store, "by_name")
    assert ix.meta["segments"] == [], "no segment for delete-only churn"
    assert int(ix.meta["corpus_version"]) == store.version("people")
    assert _entries(spark, store, "by_name") == [("alice", 0)]


def test_value_tombstone_reinsert_after_delete_survives(spark, store):
    """delete uid=1 (tombstone), then a LATER append re-inserts uid=1:
    the re-insert lands in a segment above the tombstone's watermark and
    must be visible."""
    base = _people(spark, [(0, "alice", 10), (1, "bob", 20)])
    write_with_cdf(store, "people", base, ["uid"])
    build_value_index(spark, store, "by_name", store.read(spark, "people"),
                      "uname", "uid", corpus_store=store, corpus_label="people")
    write_with_cdf(store, "people", store.read(spark, "people").where("uid != 1"), ["uid"])
    catchup_value_index(spark, store, "by_name", store, on_mutation="tombstone")
    write_with_cdf(store, "people",
                   store.read(spark, "people").unionByName(_people(spark, [(1, "bob2", 21)])),
                   ["uid"])
    rep = catchup_value_index(spark, store, "by_name", store, on_mutation="tombstone")
    assert rep["action"] == "extended"  # pure append — no new tombstones
    assert _entries(spark, store, "by_name") == [("alice", 0), ("bob2", 1)]


def test_value_tombstone_multi_step_net_effect(spark, store):
    """Across TWO un-caught-up corpus steps: update then delete nets to
    delete; insert then update nets to one upsert — the net collapse must
    not extend dead rows or resurrect anything."""
    base = _people(spark, [(0, "alice", 10), (1, "bob", 20)])
    write_with_cdf(store, "people", base, ["uid"])
    build_value_index(spark, store, "by_name", store.read(spark, "people"),
                      "uname", "uid", corpus_store=store, corpus_label="people")
    # step A: rename bob → robert; insert carol
    write_with_cdf(
        store, "people",
        store.read(spark, "people")
        .withColumn("uname", F.when(F.col("uid") == 1, F.lit("robert")).otherwise(F.col("uname")))
        .unionByName(_people(spark, [(2, "carol", 30)])),
        ["uid"])
    # step B: delete robert; rename carol → carole
    write_with_cdf(
        store, "people",
        store.read(spark, "people").where("uid != 1")
        .withColumn("uname", F.when(F.col("uid") == 2, F.lit("carole")).otherwise(F.col("uname"))),
        ["uid"])
    rep = catchup_value_index(spark, store, "by_name", store, on_mutation="tombstone")
    assert rep["action"] == "tombstoned"
    assert _entries(spark, store, "by_name") == [("alice", 0), ("carole", 2)]


def test_value_tombstone_then_compact_folds_and_vacuums(spark, store):
    _mixed_churn(spark, store)
    catchup_value_index(spark, store, "by_name", store, on_mutation="tombstone")
    compact_value_index(spark, store, "by_name")
    # physically folded: answers identical, tombstones inert to readers
    assert _entries(spark, store, "by_name") == WANT_AFTER_CHURN
    ix = load_value_index(spark, store, "by_name")
    assert int(ix.meta["n_rows"]) == 5, "compaction must refresh the row count"
    # the tombstone segment persists until vacuum (pinned pre-compaction
    # readers still need it) but the strict seq rule makes it a no-op
    # against the new base — already proven by the entries equality above
    # the retention sweep reclaims both the folded segment and the tombstones
    victims = vacuum_index_segments(spark, store, "by_name", kind="value")
    assert {"by_name__seg2", tombstone_label("by_name", 1)} <= set(victims)
    assert store.version(tombstone_label("by_name", 1)) == 0
    assert _entries(spark, store, "by_name") == WANT_AFTER_CHURN


def test_value_tombstone_unique_update_same_and_new_value(spark, store):
    """A unique index survives an update that keeps the value (the hidden
    old entry must not clash with the re-insert) and one that changes it."""
    base = _people(spark, [(0, "alice", 10), (1, "bob", 20)])
    write_with_cdf(store, "people", base, ["uid"])
    build_value_index(spark, store, "by_name", store.read(spark, "people"),
                      "uname", "uid", unique=True, corpus_store=store, corpus_label="people")
    # same value, different score → update_postimage with unchanged uname
    write_with_cdf(
        store, "people",
        store.read(spark, "people")
        .withColumn("score", F.when(F.col("uid") == 1, F.lit(99)).otherwise(F.col("score"))),
        ["uid"])
    rep = catchup_value_index(spark, store, "by_name", store, on_mutation="tombstone")
    assert rep["action"] == "tombstoned"
    assert _entries(spark, store, "by_name") == [("alice", 0), ("bob", 1)]
    # changed value
    write_with_cdf(
        store, "people",
        store.read(spark, "people")
        .withColumn("uname", F.when(F.col("uid") == 1, F.lit("robert")).otherwise(F.col("uname"))),
        ["uid"])
    catchup_value_index(spark, store, "by_name", store, on_mutation="tombstone")
    assert _entries(spark, store, "by_name") == [("alice", 0), ("robert", 1)]


def test_tombstone_batches_are_immutable_labels(spark, store):
    """Each batch claims its own label: a second claim of a seq fails
    rather than rewrite it, and readers union the labels a record lists
    above a base's fold watermark."""
    from scalligraph_spark.store import VersionConflictError

    ids = spark.createDataFrame([(1,), (2,)], "id long")
    assert write_tombstones(store, "ix", ids, "id", 3) == tombstone_label("ix", 3)
    with pytest.raises(VersionConflictError):
        write_tombstones(store, "ix", ids, "id", 3)  # a racing or re-run claim
    write_tombstones(store, "ix", spark.createDataFrame([(2,), (9,)], "id long"), "id", 5)
    meta = {"tombstones": [tombstone_label("ix", 3), tombstone_label("ix", 5)]}

    def live(after):
        t = read_tombstones(spark, store, "ix", meta, after)
        return None if t is None else sorted((r["id"], r[TOMB_SEQ]) for r in t.collect())

    assert live(0) == [(1, 3), (2, 3), (2, 5), (9, 5)]
    assert live(3) == [(2, 5), (9, 5)]
    assert live(5) is None
    assert read_tombstones(spark, store, "ix") is None, "no committed record lists any"


def test_reindex_carries_watermark_forward(spark, store):
    """ADVICE r9: reindex_* must NOT reset the segment-naming watermark —
    the first post-reindex extend gets a FRESH label, never a folded one."""
    from scalligraph_spark.operators import extend_value_index, reindex_values

    base = _people(spark, [(0, "alice", 10)])
    write_with_cdf(store, "people", base, ["uid"])
    build_value_index(spark, store, "by_name", store.read(spark, "people"),
                      "uname", "uid", corpus_store=store, corpus_label="people")
    extend_value_index(spark, store, "by_name", _people(spark, [(1, "bob", 20)]))
    compact_value_index(spark, store, "by_name")  # seg1 folded, watermark 1
    write_with_cdf(store, "people",
                   store.read(spark, "people").unionByName(_people(spark, [(1, "bob", 20)])),
                   ["uid"])
    reindex_values(spark, store, "by_name", store)
    ix = load_value_index(spark, store, "by_name")
    assert int(ix.meta["seq"]) == 1, "rebuild must carry the watermark"
    extend_value_index(spark, store, "by_name", _people(spark, [(2, "carol", 30)]))
    ix = load_value_index(spark, store, "by_name")
    assert ix.meta["segments"] == ["by_name__seg2"], "must not reuse folded by_name__seg1"
    assert _entries(spark, store, "by_name") == [("alice", 0), ("bob", 1), ("carol", 2)]
    # and the stranded pre-reindex label is still vacuumable
    assert vacuum_index_segments(spark, store, "by_name", kind="value") == ["by_name__seg1"]


# --- fleet sweep / HTTP knobs ------------------------------------------------------


def test_maintain_indexes_tombstone_policy_and_validation(spark, store):
    from scalligraph_spark.operators import maintain_indexes

    _mixed_churn(spark, store)
    with pytest.raises(ValueError, match="on_mutation"):
        maintain_indexes(spark, store, [("by_name", "value")], on_mutation="reindx")
    reps = maintain_indexes(spark, store, [("by_name", "value")], on_mutation="tombstone")
    assert reps[0]["action"] == "tombstoned"
    assert reps[0]["vacuumed"] == [], "vacuum must be opt-in (ADVICE r9)"
    assert _entries(spark, store, "by_name") == WANT_AFTER_CHURN


def test_maintenance_http_validates_knobs(spark, store):
    import http.client
    import json as _json

    from scalligraph_spark.auth import KeyAuthSrv
    from scalligraph_spark.http_api import QueryServer
    from scalligraph_spark.suite import executor_for

    _mixed_churn(spark, store)
    users = spark.createDataFrame(
        [("u1", "op", ["acme"], ["read", "admin"], None, "k-op")],
        "user_id string, user_name string, organisations array<string>, "
        "permissions array<string>, policy_data string, api_key string",
    )
    ex = executor_for(spark, "/root/testdata/sf0.001")
    srv_obj = QueryServer(ex, auth_srv=KeyAuthSrv(users),
                          maintenance=(store, [("by_name", "value")]))
    with srv_obj.serve() as srv:
        def post(body):
            conn = http.client.HTTPConnection("127.0.0.1", srv.port, timeout=60)
            conn.request("POST", "/api/v1/maintenance", body=_json.dumps(body).encode(),
                         headers={"Content-Type": "application/json",
                                  "Authorization": "Bearer k-op"})
            r = conn.getresponse()
            data = r.read()
            conn.close()
            return r.status, _json.loads(data)

        # a typo'd knob is a 400, never a 200-with-everything-failed
        status, body = post({"onMutation": "reindx"})
        assert status == 400 and body["type"] == "BadRequest"
        status, body = post({"compactOver": "many"})
        assert status == 400
        status, body = post({"vacuum": "yes"})
        assert status == 400
        status, body = post({"vacuumRetentionSeconds": -5})
        assert status == 400
        status, body = post({"vacuumRetentionSeconds": "soon"})
        assert status == 400
        status, body = post({"vacuumRetentionSeconds": True})
        assert status == 400
        # the tombstone policy folds the mutation churn over HTTP;
        # a retention window is accepted alongside
        status, body = post({"onMutation": "tombstone", "vacuum": True,
                             "vacuumRetentionSeconds": 3600})
        assert status == 200 and body["reports"][0]["action"] == "tombstoned"
        assert body["reports"][0]["vacuumed"] == []
    assert _entries(spark, store, "by_name") == WANT_AFTER_CHURN


def test_takedown_beside_crawl_day_stays_mutation_sized(spark, store):
    """Review follow-up: one takedown landing in the same un-caught-up
    range as a large append must tombstone ONE key — the broadcast
    sidecar is mutation-sized, never insert-volume-sized."""
    base = _people(spark, [(i, f"user{i}", i) for i in range(10)])
    write_with_cdf(store, "people", base, ["uid"])
    build_value_index(spark, store, "by_name", store.read(spark, "people"),
                      "uname", "uid", corpus_store=store, corpus_label="people")
    # one commit: delete uid=3 AND append 500 crawl rows
    crawl = _people(spark, [(1000 + i, f"crawl{i}", i) for i in range(500)])
    write_with_cdf(store, "people",
                   store.read(spark, "people").where("uid != 3").unionByName(crawl),
                   ["uid"])
    rep = catchup_value_index(spark, store, "by_name", store, on_mutation="tombstone")
    assert rep["action"] == "tombstoned"
    tombs = store.read(spark, tombstone_label("by_name", 1))
    assert [(r["id"], r[TOMB_SEQ]) for r in tombs.collect()] == [(3, 1)]
    got = load_value_index(spark, store, "by_name").entries
    assert got.count() == 10 - 1 + 500
    assert got.where("id = 3").count() == 0


def test_vacuum_drops_emptied_sidecar_restoring_fast_path(spark, store):
    """Review follow-up: once every tombstone is folded and vacuumed the
    LABEL itself must go, so read_tombstones returns None again (the
    zero-overhead no-anti-join path) instead of an empty frame forever."""
    _mixed_churn(spark, store)
    catchup_value_index(spark, store, "by_name", store, on_mutation="tombstone")
    compact_value_index(spark, store, "by_name")
    victims = vacuum_index_segments(spark, store, "by_name", kind="value")
    assert tombstone_label("by_name", 1) in victims
    assert store.version(tombstone_label("by_name", 1)) == 0, "label dropped"
    assert read_tombstones(spark, store, "by_name") is None
    assert _entries(spark, store, "by_name") == WANT_AFTER_CHURN


def test_minhash_vacuum_respects_lagging_bands_base(spark, store, monkeypatch):
    """Review follow-up: a torn minhash compaction (sigs base folded the
    tombstones, bands base crashed before its rewrite) must NOT let the
    vacuum reclaim tombstones the bands view still needs — otherwise
    dead band rows resurrect as probe candidates."""
    from scalligraph_spark.operators import compact_minhash_index
    from scalligraph_spark.operators.tombstones import TOMB_SEQ as _TS

    txt = "the quick brown fox jumps over the lazy dog again and again"
    docs0 = _docs(spark, [(1, txt), (2, txt.replace("lazy", "sleepy")),
                          (3, "entirely different words about engines")])
    write_with_cdf(store, "docs", docs0, ["doc_id"])
    build_minhash_index(spark, store, "mix", store.read(spark, "docs"),
                        corpus_store=store, corpus_label="docs")
    write_with_cdf(store, "docs", store.read(spark, "docs").where("doc_id != 2"), ["doc_id"])
    catchup_minhash_index(spark, store, "mix", store, on_mutation="tombstone")

    # torn compaction: sigs base rewrites (folding tombstones), then crash
    # BEFORE the bands base rewrite
    import scalligraph_spark.operators.dedup_index as di
    real_write = store.write
    def boom(label, *a, **k):
        if label == "mix__bands":
            raise RuntimeError("crash before bands rewrite")
        return real_write(label, *a, **k)
    monkeypatch.setattr(store, "write", boom)
    with pytest.raises(RuntimeError):
        compact_minhash_index(spark, store, "mix")
    monkeypatch.setattr(store, "write", real_write)

    # the sweep must HOLD the tombstones (bands base still needs them)...
    vacuum_index_segments(spark, store, "mix", kind="minhash")
    assert store.version(tombstone_label("mix", 1)) > 0
    assert store.read(spark, tombstone_label("mix", 1)).count() == 1
    # ...and the deleted doc must stay dark to probes through the torn state
    probe = _docs(spark, [(300, txt)])
    ids = {r[1] for r in incremental_near_dups(spark, store, "mix", probe, threshold=0.5).collect()}
    assert 2 not in ids
    # retried compaction completes; now the sweep may reclaim
    compact_minhash_index(spark, store, "mix")
    vacuum_index_segments(spark, store, "mix", kind="minhash")
    assert store.version(tombstone_label("mix", 1)) == 0
    ids2 = {r[1] for r in incremental_near_dups(spark, store, "mix", probe, threshold=0.5).collect()}
    assert 2 not in ids2 and ids2 == ids


def test_delete_after_compaction_not_resurrected(spark, store):
    """THE seq-ambiguity regression: a tombstone written AFTER a
    compaction at watermark W must hide base entries (it consumes seq
    W+1 — strictly above the base), and the vacuum must HOLD it until a
    later compaction folds it.  Under the shared-seq scheme this
    silently resurrected the delete."""
    from scalligraph_spark.operators import extend_value_index

    base = _people(spark, [(0, "alice", 10), (1, "bob", 20)])
    write_with_cdf(store, "people", base, ["uid"])
    build_value_index(spark, store, "by_name", store.read(spark, "people"),
                      "uname", "uid", corpus_store=store, corpus_label="people")
    write_with_cdf(store, "people",
                   store.read(spark, "people").unionByName(_people(spark, [(2, "carol", 30)])),
                   ["uid"])
    catchup_value_index(spark, store, "by_name", store)  # seg1
    compact_value_index(spark, store, "by_name")  # base covers seq 1
    write_with_cdf(store, "people", store.read(spark, "people").where("uid != 1"), ["uid"])
    catchup_value_index(spark, store, "by_name", store, on_mutation="tombstone")
    assert _entries(spark, store, "by_name") == [("alice", 0), ("carol", 2)]
    # vacuum holds the live tombstone (tomb_seq 2 > base_seq 1)
    vacuum_index_segments(spark, store, "by_name", kind="value")
    assert store.version(tombstone_label("by_name", 2)) > 0
    assert _entries(spark, store, "by_name") == [("alice", 0), ("carol", 2)]
    # the next compaction folds it; then the sweep reaps the label
    compact_value_index(spark, store, "by_name")
    vacuum_index_segments(spark, store, "by_name", kind="value")
    assert store.version(tombstone_label("by_name", 2)) == 0
    assert _entries(spark, store, "by_name") == [("alice", 0), ("carol", 2)]


def test_partial_vacuum_does_not_report_live_sidecar_dropped(spark, store):
    """Review follow-up: a sweep that reclaims SOME rows but leaves live
    tombstones must not list the sidecar among the dropped labels."""
    from scalligraph_spark.operators import extend_value_index

    _mixed_churn(spark, store)
    catchup_value_index(spark, store, "by_name", store, on_mutation="tombstone")
    compact_value_index(spark, store, "by_name")  # folds the first batch
    # new churn AFTER the compaction: a live tombstone above the base
    write_with_cdf(store, "people", store.read(spark, "people").where("uid != 3"), ["uid"])
    catchup_value_index(spark, store, "by_name", store, on_mutation="tombstone")
    victims = vacuum_index_segments(spark, store, "by_name", kind="value")
    assert tombstone_label("by_name", 1) in victims, "the folded batch reclaims"
    assert tombstone_label("by_name", 3) not in victims, "live tombstones must not be listed"
    assert store.version(tombstone_label("by_name", 3)) > 0
    assert _entries(spark, store, "by_name") == [
        ("alice", 0), ("erin", 4), ("fred", 5), ("robert", 1)]

"""Retention-windowed vacuum: reclaim is gated on WALL-CLOCK age of the
superseding commit (Delta VACUUM's contract), so a reader pinned to a
pre-compaction snapshot within the window survives every sweep by
construction — not by operator discipline.  Covers the version store,
merge-on-read deltas, and all four persisted index families.

Reference: the transactional index maintenance this replaces mutates in
place and never needs the window (JanusDatabase.scala:304-434); the
batch analog's immutable-segment lifecycle does."""

from __future__ import annotations

import json
import os
import time

import pytest

from index_families import COMPACT, EXTEND, KEY, KINDS, build, query, rows

from scalligraph_spark.cdf import write_with_cdf
from scalligraph_spark.operators import (
    build_value_index,
    compact_value_index,
    extend_value_index,
    load_value_index,
    maintain_indexes,
    segments,
    vacuum_index_segments,
)
from scalligraph_spark.store import LabelStore


@pytest.fixture()
def store(tmp_path):
    return LabelStore(str(tmp_path / "ret"))


def _people(spark, rows):
    return spark.createDataFrame(rows, "uid long, uname string, score int")


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _age(store, label, seconds, version=None):
    """Rewrite a commit's wall-clock stamp ``seconds`` into the past —
    the test-side clock for retention sweeps (never monkeypatch
    time.time itself: Spark's own internals use it)."""
    p = os.path.join(store.path(label, version), "_commit.json")
    with open(p) as f:
        m = json.load(f)
    m["_committed_at"] = time.time() - seconds
    with open(p, "w") as f:
        json.dump(m, f)


# --- commit_time plumbing ------------------------------------------------------


def test_commit_time_stamped_stripped_and_legacy_fallback(spark, store):
    t0 = time.time()
    store.write("t", spark.range(3), meta={"batch_id": 7})
    assert store.commit_meta("t") == {"batch_id": 7}, "stamp must stay out of user meta"
    assert t0 - 1 <= store.commit_time("t") <= time.time() + 1
    # meta=None commits are stamped too
    store.write("t", spark.range(4))
    assert store.commit_meta("t") == {}
    assert store.commit_time("t", 2) >= t0 - 1
    # legacy (pre-stamp) commit: no _commit.json → _SUCCESS mtime fallback
    os.remove(os.path.join(store.path("t", 1), "_commit.json"))
    assert store.commit_time("t", 1) > 0
    assert store.commit_time("never_written") == 0.0


def test_store_vacuum_retention_window(spark, store):
    for n in (1, 2, 3):
        store.write("t", spark.range(n))
    pinned = store.read(spark, "t", 1)

    # all supersessions are seconds old: nothing inside the window reclaims
    assert store.vacuum("t", keep=1, retention_seconds=3600) == []
    assert pinned.count() == 1, "pinned reader inside the window must survive"

    # age the superseding commits past the window → v1+v2 reclaim (keep=1)
    _age(store, "t", 7200, version=2)
    _age(store, "t", 7200, version=3)
    assert store.vacuum("t", keep=1, retention_seconds=3600) == [1, 2]
    assert store.version("t") == 3 and store.read(spark, "t").count() == 3


def test_store_vacuum_retention_exempts_aborted_claims(spark, store):
    store.write("t", spark.range(1))
    # simulated crashed CAS claim above the pointer: no _SUCCESS, no reader
    # can ever pin it — reclaim regardless of retention
    os.makedirs(store.path("t", 2))
    assert store.vacuum("t", keep=2, retention_seconds=10**9) == [2]


def test_vacuum_mor_retention(spark, store):
    store.write("t", _people(spark, [(0, "alice", 10), (1, "bob", 20)]))
    ch = spark.createDataFrame(
        [(2, "carol", 30, "upsert")], "uid long, uname string, score int, _op string"
    )
    store.write_delta(spark, "t", ch, ["uid"])
    store.compact_mor(spark, "t")
    assert store.vacuum_mor("t", retention_seconds=3600) == []
    assert store.version("t__delta1") > 0
    _age(store, "t__mor", 7200)
    assert store.vacuum_mor("t", retention_seconds=3600) == [1]


# --- index families: pinned pre-compaction reader survives the window ----------


def _age_family(store, name, kind, seconds):
    for part in segments.family(kind).parts:
        _age(store, segments.label(name, part), seconds)


@pytest.mark.parametrize("kind", KINDS)
def test_index_retention(spark, store, kind):
    """A plan pinned before compaction keeps answering through an
    in-window sweep; once the folding base commit ages past the window
    the segment of every part reclaims, answers unchanged."""
    fam = segments.family(kind)
    write_with_cdf(store, "corpus", rows(spark, kind, range(6)), [KEY[kind]])
    build(spark, store, kind, "ix", "corpus")
    EXTEND[kind](spark, store, "ix", rows(spark, kind, [10]))
    meta = segments.read_meta(store, "ix")
    primary = next(iter(fam.parts))
    pinned = segments.read_part(spark, store, fam, "ix", meta, primary)  # unions base + seg1
    want_rows = sorted(repr(tuple(r)) for r in pinned.collect())
    want = query(spark, store, kind, "ix")
    COMPACT[kind](spark, store, "ix")

    assert vacuum_index_segments(spark, store, "ix", kind, retention_seconds=3600) == []
    assert store.version(segments.label("ix", primary, 1)) > 0
    assert sorted(repr(tuple(r)) for r in pinned.collect()) == want_rows, "pinned plan must still answer"

    _age_family(store, "ix", kind, 7200)
    victims = vacuum_index_segments(spark, store, "ix", kind, retention_seconds=3600)
    assert victims == sorted(segments.label("ix", p, 1) for p in fam.parts)
    assert query(spark, store, kind, "ix") == want


# --- fleet + transport threading ------------------------------------------------


def test_maintain_indexes_threads_retention(spark, store):
    base = _people(spark, [(0, "alice", 10), (1, "bob", 20)])
    write_with_cdf(store, "people", base, ["uid"])
    build_value_index(spark, store, "by_name", store.read(spark, "people"),
                      "uname", "uid", corpus_store=store, corpus_label="people")
    extend_value_index(spark, store, "by_name", _people(spark, [(2, "carol", 30)]))
    compact_value_index(spark, store, "by_name")

    # within the window: the sweep compacts/catches-up but reclaims nothing
    reps = maintain_indexes(spark, store, [("by_name", "value")], store,
                            vacuum=True, vacuum_retention_seconds=3600)
    assert reps[0]["vacuumed"] == [] and store.version("by_name__seg1") > 0
    # past the window: the next sweep reclaims
    _age_family(store, "by_name", "value", 7200)
    reps = maintain_indexes(spark, store, [("by_name", "value")], store,
                            vacuum=True, vacuum_retention_seconds=3600)
    assert reps[0]["vacuumed"] == ["by_name__seg1"]

    with pytest.raises(ValueError, match="vacuum_retention_seconds"):
        maintain_indexes(spark, store, [("by_name", "value")], store,
                         vacuum=True, vacuum_retention_seconds=-1)


def test_vacuum_mor_reclaims_old_folds_under_frequent_compaction(spark, store):
    """The gate is PER VICTIM: a compaction cadence shorter than the
    window must still reclaim slots folded by long-past compactions —
    gating on the newest carrier commit leaked delta labels forever."""
    store.write("t", _people(spark, [(0, "alice", 10)]))
    ch1 = spark.createDataFrame(
        [(1, "bob", 20, "upsert")], "uid long, uname string, score int, _op string"
    )
    store.write_delta(spark, "t", ch1, ["uid"])
    store.compact_mor(spark, "t")
    # everything so far happened "long ago"
    for v in store.history("t__mor"):
        _age(store, "t__mor", 7200, version=v)
    # a fresh churn cycle lands NOW (carrier rewritten within the window)
    ch2 = spark.createDataFrame(
        [(2, "carol", 30, "upsert")], "uid long, uname string, score int, _op string"
    )
    store.write_delta(spark, "t", ch2, ["uid"])
    store.compact_mor(spark, "t")
    assert store.vacuum_mor("t", retention_seconds=3600) == [1], (
        "the old fold must reclaim even though a newer compaction is in-window"
    )
    assert store.version("t__delta2") > 0, "the fresh fold must stay"
    assert {r["uid"] for r in store.read_merged(spark, "t").collect()} == {0, 1, 2}


def test_segment_vacuum_reclaims_old_cycles_under_frequent_compaction(spark, store):
    """Same per-victim rule for index segments: seg1 (folded by an aged
    compaction) reclaims while seg2 (folded within the window) stays."""
    base = _people(spark, [(0, "alice", 10), (1, "bob", 20)])
    build_value_index(spark, store, "by_name", base, "uname", "uid")
    extend_value_index(spark, store, "by_name", _people(spark, [(2, "carol", 30)]))
    compact_value_index(spark, store, "by_name")
    for v in store.history("by_name"):
        _age(store, "by_name", 7200, version=v)
    extend_value_index(spark, store, "by_name", _people(spark, [(3, "dave", 40)]))
    compact_value_index(spark, store, "by_name")  # fresh rewrite, in-window
    got = vacuum_index_segments(spark, store, "by_name", "value", retention_seconds=3600)
    assert got == ["by_name__seg1"], f"old cycle must reclaim, fresh must stay: {got}"
    assert store.version("by_name__seg2") > 0
    names = sorted(
        r["value"] for r in load_value_index(spark, store, "by_name").entries.collect()
    )
    assert names == ["alice", "bob", "carol", "dave"]
    # once the fresh rewrite ages too, the second cycle reclaims
    for v in store.history("by_name"):
        _age(store, "by_name", 7200, version=v)
    assert vacuum_index_segments(
        spark, store, "by_name", "value", retention_seconds=3600
    ) == ["by_name__seg2"]


def test_retention_rejects_nan_and_negative(spark, store):
    """NaN is the silent killer: every comparison against it is False, so
    an unvalidated NaN retention disables the window and reclaims
    immediately — the exact unsafe mode the knob exists to prevent.  All
    library entry points must reject it loudly (the HTTP layer already
    does)."""
    store.write("t", spark.range(1))
    for bad in (float("nan"), -1, -0.5):
        with pytest.raises(ValueError):
            store.vacuum("t", retention_seconds=bad)
        with pytest.raises(ValueError):
            store.vacuum_mor("t", retention_seconds=bad)
        with pytest.raises(ValueError):
            vacuum_index_segments(spark, store, "t", "value", retention_seconds=bad)
        with pytest.raises(ValueError, match="vacuum_retention_seconds"):
            maintain_indexes(spark, store, [], store, vacuum=True,
                             vacuum_retention_seconds=bad)
    # +inf is a legal "never reclaim" window
    assert store.vacuum("t", retention_seconds=float("inf")) == []

def test_segment_vacuum_watermark_fallback_after_base_history_vacuum(spark, store):
    """ADVICE r11: once store.vacuum trims base history past the version
    that first folded a victim, the victim must NOT leak forever — any
    retained base whose base_seq watermark covers the segment id proves
    it was folded at or before that base's commit, so the oldest such
    stamp gates it (upper bound: delays reclaim, never endangers a
    reader)."""
    base = _people(spark, [(0, "alice", 10), (1, "bob", 20)])
    build_value_index(spark, store, "by_name", base, "uname", "uid")
    extend_value_index(spark, store, "by_name", _people(spark, [(2, "carol", 30)]))
    compact_value_index(spark, store, "by_name")  # by_name v2: folded seg1
    extend_value_index(spark, store, "by_name", _people(spark, [(3, "dave", 40)]))
    compact_value_index(spark, store, "by_name")  # by_name v3: folded seg2
    # base-history vacuum drops v1+v2 — the commit that folded seg1 is gone
    store.vacuum("by_name", keep=1)
    assert store.history("by_name") == [3]
    for v in store.history("by_name"):
        _age(store, "by_name", 7200, version=v)
    got = vacuum_index_segments(spark, store, "by_name", "value", retention_seconds=3600)
    assert sorted(got) == ["by_name__seg1", "by_name__seg2"], (
        f"seg1 must reclaim via the retained base's base_seq watermark, got {got}"
    )
    names = sorted(
        r["value"] for r in load_value_index(spark, store, "by_name").entries.collect()
    )
    assert names == ["alice", "bob", "carol", "dave"]


def test_segment_vacuum_reindex_subsumption_reclaims(spark, store):
    """A reindex rebuild subsumes every live segment (build commits
    segments=[]); its base_seq watermark must reclaim them once the
    rebuild ages."""
    corpus = LabelStore(store.root + "_corpus")
    base = _people(spark, [(0, "alice", 10), (1, "bob", 20)])
    corpus.write("people", base)
    build_value_index(
        spark, store, "by_name", base, "uname", "uid",
        corpus_store=corpus, corpus_label="people",
    )
    extend_value_index(spark, store, "by_name", _people(spark, [(2, "carol", 30)]))
    corpus.write(
        "people",
        _people(spark, [(0, "alice", 10), (1, "bob", 20), (2, "carol", 30)]),
    )
    from scalligraph_spark.operators import reindex_values

    reindex_values(spark, store, "by_name", corpus)  # subsumes seg1, no fold record
    for v in store.history("by_name"):
        _age(store, "by_name", 7200, version=v)
    got = vacuum_index_segments(spark, store, "by_name", "value", retention_seconds=3600)
    assert got == ["by_name__seg1"], f"reindex-subsumed segment must reclaim, got {got}"

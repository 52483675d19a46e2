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

from index_families import COMPACT, EXTEND, KEY, LIFECYCLE, build, family, query, rows, vacuum

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


# --- index families: pinned pre-compaction reader survives the window ----------


def _age_family(store, name, kind, seconds):
    for part in family(kind).parts:
        _age(store, segments.label(name, part), seconds)


def _listed(store, kind):
    """The labels the record of ``ix`` lists: every part's live segments
    and the tombstones (a merge-on-read batch adds both)."""
    meta = segments.read_meta(store, "ix")
    seqs = segments.live_seqs(meta)
    return sorted([segments.label("ix", p, k) for p in family(kind).parts for k in seqs]
                  + meta["tombstones"])


@pytest.mark.parametrize("kind", LIFECYCLE)
def test_index_retention(spark, store, kind):
    """A plan pinned before compaction keeps answering through an
    in-window sweep; once the folding base commit ages past the window
    every label the compaction folded reclaims, answers unchanged."""
    fam = family(kind)
    write_with_cdf(store, "corpus", rows(spark, kind, range(6)), [KEY[kind]])
    build(spark, store, kind, "ix", "corpus")
    EXTEND[kind](spark, store, "ix", rows(spark, kind, [10]))
    meta = segments.read_meta(store, "ix")
    primary = next(iter(fam.parts))
    pinned = segments.read_part(spark, store, fam, "ix", meta, primary)  # unions base + seg1
    want_rows = sorted(repr(tuple(r)) for r in pinned.collect())
    want = query(spark, store, kind, "ix")
    folded = _listed(store, kind)
    COMPACT[kind](spark, store, "ix")

    assert vacuum(spark, store, kind, "ix", retention_seconds=3600) == []
    assert all(store.version(lbl) > 0 for lbl in folded)
    assert sorted(repr(tuple(r)) for r in pinned.collect()) == want_rows, "pinned plan must still answer"

    _age_family(store, "ix", kind, 7200)
    assert vacuum(spark, store, kind, "ix", retention_seconds=3600) == folded
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


@pytest.mark.parametrize("kind", ["value", "mor"])
def test_segment_vacuum_reclaims_old_cycles_under_frequent_compaction(spark, store, kind):
    """The gate is PER VICTIM: the labels an aged compaction folded
    reclaim while those a compaction within the window folded stay —
    gating every label on the newest compaction leaked them forever
    under a compaction cadence shorter than the window."""
    store.write("corpus", rows(spark, kind, [0, 1]))
    build(spark, store, kind, "ix", "corpus")
    base = segments.label("ix", next(iter(family(kind).parts)))

    def cycle(i):
        EXTEND[kind](spark, store, "ix", rows(spark, kind, [i]))
        listed = _listed(store, kind)
        COMPACT[kind](spark, store, "ix")
        return listed

    def age_base():
        for v in store.history(base):
            _age(store, base, 7200, version=v)

    old = cycle(2)
    age_base()
    fresh = cycle(3)  # a fresh fold, in-window
    got = vacuum(spark, store, kind, "ix", retention_seconds=3600)
    assert got == old, f"old cycle must reclaim, fresh must stay: {got}"
    assert all(store.version(lbl) > 0 for lbl in fresh)
    full = LabelStore(store.root + "_full")
    full.write("corpus", rows(spark, kind, range(4)))
    build(spark, full, kind, "ix", "corpus")
    assert query(spark, store, kind, "ix") == query(spark, full, kind, "ix")
    # once the fresh rewrite ages too, the second cycle reclaims
    age_base()
    assert vacuum(spark, store, kind, "ix", retention_seconds=3600) == fresh


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

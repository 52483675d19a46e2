"""Crash windows of the segmented-index lifecycle, for every family and
for merge-on-read labels (whose extend and catch-up are ``write_delta``
batches and whose compaction is ``compact_mor``).

For each ``store.write`` that an extend, a tombstone catch-up or a
compaction issues, the i-th write raises.  Then:

* readers see exactly the state before the operation or after it —
  nothing duplicated, nothing lost, no half-applied delete;
* re-running the operation converges to the no-crash state;
* the next extend mints a sequence number above every one a published
  record or a base has used, onto a label nothing has written — both
  right after the crash and after the re-run.
"""

from __future__ import annotations

import shutil
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

import pytest
from index_families import CATCHUP, COMPACT, EXTEND, KEY, LIFECYCLE, build, family, rows, state

from scalligraph_spark.cdf import write_with_cdf
from scalligraph_spark.operators import segments
from scalligraph_spark.operators.tombstones import tombstone_label
from scalligraph_spark.store import LabelStore


class Crash(RuntimeError):
    pass


def _ops(spark, kind):
    return {
        "extend": lambda st: EXTEND[kind](spark, st, "ix", rows(spark, kind, [20, 21])),
        "catchup": lambda st: CATCHUP[kind](spark, st, "ix", st, on_mutation="tombstone"),
        "compact": lambda st: COMPACT[kind](spark, st, "ix"),
    }


def _stages(spark, root, kind) -> list:
    """Setup steps, each returning (operation, store copy taken right
    before it): v1 = ids 0-5; v2 updates id 1, deletes id 2 and inserts
    id 6; the compaction folds the catch-up's segment with its tombstones
    live."""
    key = KEY[kind]
    st = LabelStore(f"{root}/base")

    def snap(op):
        return op, shutil.copytree(st.root, f"{root}/{op}")

    def v1():
        st.write("corpus", rows(spark, kind, range(6)))
        build(spark, st, kind, "ix", "corpus")
        return snap("extend")

    def v2():
        v2 = (st.read(spark, "corpus").where(f"{key} not in (1, 2)")
              .unionByName(rows(spark, kind, [1], variant=1)).unionByName(rows(spark, kind, [6])))
        write_with_cdf(st, "corpus", v2, [key])
        return snap("catchup")

    def caught_up():
        _ops(spark, kind)["catchup"](st)
        return snap("compact")

    return [v1, v2, caught_up]


def _used_seqs(store, kind):
    """Highest sequence number any published record or base has used."""
    fam = family(kind)
    seqs = [store.commit_meta("ix__meta", v).get("seq", 0) for v in store.history("ix__meta")]
    for part in fam.parts:
        lbl = segments.label("ix", part)
        seqs += [store.commit_meta(lbl, v).get("base_seq", 0) for v in store.history(lbl)]
    return max(seqs)


def _assert_next_seq_unused(store, kind, settled=True):
    """The seq the next extend mints (published counter + 1) is above
    every seq a published record or a base used; once the operation has
    completed, no label for it was ever written either (a crashed extend
    leaves its unpublished segment behind, and the re-run skips its
    seq)."""
    seq = int(segments.read_meta(store, "ix").get("seq", 0)) + 1
    assert seq > _used_seqs(store, kind), f"next extend would reuse seq {seq}"
    lbls = [*(segments.label("ix", p, seq) for p in family(kind).parts), tombstone_label("ix", seq)]
    assert not settled or not any(store.history(lbl) for lbl in lbls), (
        f"next extend would overwrite an earlier write at seq {seq}")


def _clean(spark, kind, op_name, snapshot) -> dict:
    """The no-crash run: the labels it writes and the states to compare.
    Whatever it mints (an extend's segment, a catch-up's tombstone and
    re-insert) must lie above every seq used before it."""
    st = LabelStore(shutil.copytree(snapshot, f"{snapshot}_clean"))
    pre, used = state(spark, st, kind, "ix"), _used_seqs(st, kind)
    calls = []
    real = st.write
    st.write = lambda *a, **k: (calls.append(a[0]), real(*a, **k))[1]
    _ops(spark, kind)[op_name](st)
    st.write = real
    assert calls, "the operation wrote nothing"
    meta = segments.read_meta(st, "ix")
    assert all(k > used for k in segments.live_seqs(meta)) and (
        meta["seq"] > used or op_name == "compact"), "the operation reused a sequence number"
    _assert_next_seq_unused(st, kind)
    return {"calls": calls, "pre": pre, "post": state(spark, st, kind, "ix")}


def _crash_at(spark, kind, op_name, snapshot, clean, i) -> None:
    st = LabelStore(shutil.copytree(snapshot, f"{snapshot}_crash{i}"))
    op = _ops(spark, kind)[op_name]
    real = st.write
    n = [0]

    def crashing(*a, **k):
        n[0] += 1
        if n[0] == i + 1:
            raise Crash(f"crash at write {i} ({a[0]})")
        return real(*a, **k)

    st.write = crashing
    with pytest.raises(Crash):
        op(st)
    st.write = real
    assert state(spark, st, kind, "ix") in (clean["pre"], clean["post"]), "torn state visible"
    _assert_next_seq_unused(st, kind, settled=False)
    op(st)
    assert state(spark, st, kind, "ix") == clean["post"], "re-run diverged"
    _assert_next_seq_unused(st, kind)


@pytest.fixture(scope="module")
def failures(spark, tmp_path_factory):
    """Every crash point of every family, run once.  Setup steps, no-crash
    runs and crash points are independent store copies, so each starts as
    soon as what it needs exists and their small Spark jobs overlap."""
    root = tmp_path_factory.mktemp("lifecycle")
    conf = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")  # a handful of rows per table
    stages = {k: _stages(spark, root / k, k) for k in LIFECYCLE}
    out = {k: [] for k in LIFECYCLE}

    def point(k, op, snapshot, clean, i):
        try:
            _crash_at(spark, k, op, snapshot, clean, i)
        except Exception as e:
            out[k].append(f"{op}: crash at write {i} ({clean['calls'][i]}): {e}")

    try:
        with ThreadPoolExecutor(max_workers=12) as pool:
            todo = {pool.submit(stages[k][0]): ("stage", k, 0) for k in LIFECYCLE}
            while todo:
                done, _ = wait(todo, return_when=FIRST_COMPLETED)
                for f in done:
                    tag, result = todo.pop(f), f.result()
                    if tag[0] == "stage":
                        _, k, n = tag
                        op, snapshot = result
                        todo[pool.submit(_clean, spark, k, op, snapshot)] = ("clean", k, op, snapshot)
                        if n + 1 < len(stages[k]):
                            todo[pool.submit(stages[k][n + 1])] = ("stage", k, n + 1)
                    elif tag[0] == "clean":
                        _, k, op, snapshot = tag
                        clean = result
                        for i in range(len(clean["calls"])):
                            todo[pool.submit(point, k, op, snapshot, clean, i)] = ("point",)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", conf)
    return out


@pytest.mark.parametrize("kind", LIFECYCLE)
def test_crash_windows(failures, kind):
    assert failures[kind] == []


def test_concurrent_extends_lose_no_batch(spark, tmp_path):
    """Two threads extend one value index at once, both past reading the
    record before either writes a segment.  Afterwards a batch is
    readable unless its thread raised ``VersionConflictError``, and every
    segment the carrier lists was written once."""
    import threading

    from scalligraph_spark.operators import load_value_index, lookup_ids
    from scalligraph_spark.store import VersionConflictError

    st = LabelStore(str(tmp_path / "race"))
    st.write("corpus", rows(spark, "value", range(10)))
    build(spark, st, "value", "ix", "corpus")
    ids = {t: list(range(10 + 5 * t, 15 + 5 * t)) for t in (0, 1)}
    gate = threading.Barrier(2, timeout=60)
    real = st.write

    def write(lbl, *a, **k):
        if lbl.startswith("ix__") and "seg" in lbl:
            try:
                gate.wait()
            except threading.BrokenBarrierError:
                pass  # the other thread already failed
        return real(lbl, *a, **k)

    st.write = write

    def run(t):
        try:
            EXTEND["value"](spark, st, "ix", rows(spark, "value", ids[t]))
        except VersionConflictError as e:
            gate.abort()
            return e

    with ThreadPoolExecutor(max_workers=2) as pool:
        errors = dict(zip((0, 1), pool.map(run, (0, 1), timeout=300)))
    st.write = real

    assert any(e is None for e in errors.values())
    names = [f"name{i}" for i in range(20)]
    found = {r[1] for r in lookup_ids(load_value_index(spark, st, "ix"), names).collect()}
    for t, err in errors.items():
        if err is None:
            assert set(ids[t]) <= found, f"thread {t} returned but its batch is lost"
        else:
            assert not set(ids[t]) & found, f"thread {t} raised but its batch is visible"
    assert set(range(10)) <= found
    listed = segments.read_meta(st, "ix")["segments"]
    assert len(listed) == len(set(listed))
    assert all(len(st.history(lbl)) == 1 for lbl in listed)


def test_tombstone_catchup_racing_an_extend_loses_no_batch(spark, tmp_path):
    """A tombstone catch-up and an extend of one value index race, both
    past reading the record before either writes a label.  Afterwards
    each batch is readable unless its thread raised
    ``VersionConflictError``; a catch-up that lost folds its step on the
    next run, and the listed labels were each written once."""
    import threading

    from scalligraph_spark.operators import load_value_index
    from scalligraph_spark.store import VersionConflictError

    st = LabelStore(str(tmp_path / "race"))
    st.write("corpus", rows(spark, "value", range(6)))
    build(spark, st, "value", "ix", "corpus")
    v2 = (st.read(spark, "corpus").where("uid not in (1, 2)")  # update 1, delete 2, insert 6
          .unionByName(rows(spark, "value", [1], variant=1)).unionByName(rows(spark, "value", [6])))
    write_with_cdf(st, "corpus", v2, ["uid"])
    gate = threading.Barrier(2, timeout=60)
    waited = set()
    real = st.write

    def write(lbl, *a, **k):
        if lbl.startswith("ix__") and lbl != "ix__meta" and threading.get_ident() not in waited:
            waited.add(threading.get_ident())  # each thread's first label write
            try:
                gate.wait()
            except threading.BrokenBarrierError:
                pass  # the other thread already failed
        return real(lbl, *a, **k)

    st.write = write
    ops = {
        "catchup": lambda: CATCHUP["value"](spark, st, "ix", st, on_mutation="tombstone"),
        "extend": lambda: EXTEND["value"](spark, st, "ix", rows(spark, "value", [20, 21])),
    }

    def run(op):
        try:
            ops[op]()
        except VersionConflictError as e:
            gate.abort()
            return e

    with ThreadPoolExecutor(max_workers=2) as pool:
        errors = dict(zip(ops, pool.map(run, ops, timeout=300)))
    st.write = real

    def entries():
        return {(r["value"], r["id"]) for r in load_value_index(spark, st, "ix").entries.collect()}

    assert any(e is None for e in errors.values())
    old = {(f"name{i}", i) for i in range(6)}
    new = {(f"name{i}", i) for i in (0, 3, 4, 5, 6)} | {("rename1", 1)}
    extended = {("name20", 20), ("name21", 21)}
    got = entries()
    assert got - extended == (old if errors["catchup"] else new), "catch-up half-applied or lost"
    assert (extended <= got) == (errors["extend"] is None), "extend lost or visible after raising"
    meta = segments.read_meta(st, "ix")
    assert all(len(st.history(lbl)) == 1 for lbl in meta["segments"] + meta["tombstones"])
    if errors["catchup"]:
        assert CATCHUP["value"](spark, st, "ix", st, on_mutation="tombstone")["action"] == "tombstoned"
        assert entries() - extended == new


class Killed(BaseException):
    """The process dies: nothing catches it on the way out."""


@pytest.mark.parametrize("at", ["data", "feed"])
def test_session_commit_crash_leaves_no_stray_feed(spark, tmp_path, at):
    """A session commit dies while publishing its data version, or after
    that and before its change feed.  No feed exists for a version the
    label has not published, and the next catch-up diffs the step and
    equals a rebuild; a feed publish that merely fails only warns."""
    from pyspark.sql import functions as F

    from index_families import content

    from scalligraph_spark.operators import build_value_index
    from scalligraph_spark.writes import WriteSession, with_audit

    def audited(ids):
        return with_audit(rows(spark, "value", ids), "corpus", "uid", "system", "1970-01-01 00:00:00")

    def build_ix(name):
        build_value_index(spark, st, name, st.read(spark, "corpus"), "uname", "_id",
                          corpus_store=st, corpus_label="corpus")

    st = LabelStore(str(tmp_path / "s"))
    st.write("corpus", audited(range(6)))
    build_ix("ix")
    real = st.publish

    def publish(lbl, *a, **k):
        if lbl == ("corpus" if at == "data" else "corpus__cdf_v2"):
            raise Killed(lbl)
        return real(lbl, *a, **k)

    def session():
        s = WriteSession(spark, st, "corpus", id_col="uid")
        s.create(rows(spark, "value", [6])).remove(F.col("_id") == "2")
        return s.update(F.col("_id") == "1", {"uname": F.lit("rename1")})

    st.publish = publish
    with pytest.raises(Killed):
        session().commit()
    st.publish = real
    assert st.version("corpus") == (1 if at == "data" else 2)
    published = st.version("corpus")
    assert [v for v in range(1, 5) if st.version(f"corpus__cdf_v{v}") and v > published] == []
    assert st.version("corpus__cdf_v2") == 0
    if at == "data":  # the retried session publishes both
        session().commit()
        assert st.version("corpus__cdf_v2") == 1
    report = CATCHUP["value"](spark, st, "ix", st, on_mutation="tombstone")
    assert report["churn"] == {"insert": 1, "update_preimage": 1, "update_postimage": 1, "delete": 1}
    build_ix("fresh")
    assert content(spark, st, "value", "ix") == content(spark, st, "value", "fresh")

    def failing(*a, **k):
        raise OSError("disk full")

    from scalligraph_spark import cdf

    real_feed, cdf.publish_feed = cdf.publish_feed, failing
    try:
        with pytest.warns(RuntimeWarning, match="change feed not published"):
            assert session().commit() == 3
    finally:
        cdf.publish_feed = real_feed
    assert st.version("corpus__cdf_v3") == 0

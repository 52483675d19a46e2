"""Change-data-feed (cdf.py): pair diffs with row images, write-time
capture, multi-version table_changes, the replay property, and the
streaming CDC replica sink."""

from __future__ import annotations

import glob
import shutil

import pytest

from scalligraph_spark.cdf import (
    CHANGE_TYPE,
    COMMIT_VERSION,
    apply_changes,
    capture_changes,
    pair_changes,
    table_changes,
    write_with_cdf,
)
from scalligraph_spark.store import LabelStore

SCHEMA = "id long, name string, val double"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _v1(spark):
    return _df(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)])


def _v2(spark):
    # update 2, delete 3, insert 4
    return _df(spark, [(1, "a", 1.0), (2, "b", 20.0), (4, "d", 4.0)])


def _v3(spark):
    # update 2 again, delete 4, re-insert 3 changed, insert 5
    return _df(spark, [(1, "a", 1.0), (2, "b", 200.0), (3, "c2", 30.0), (5, "e", 5.0)])


def _sorted(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_pair_changes_statuses(spark):
    ch = pair_changes(_v1(spark), _v2(spark), ["id"], commit_version=2)
    got = {(r["id"], r[CHANGE_TYPE]) for r in ch.collect()}
    assert got == {
        (4, "insert"),
        (3, "delete"),
        (2, "update_preimage"),
        (2, "update_postimage"),
    }
    # row images: preimage carries the OLD value, postimage the new
    vals = {(r[CHANGE_TYPE]): r["val"] for r in ch.where("id = 2").collect()}
    assert vals == {"update_preimage": 2.0, "update_postimage": 20.0}
    assert {r[COMMIT_VERSION] for r in ch.collect()} == {2}
    # first commit: everything is an insert
    first = pair_changes(None, _v1(spark), ["id"], commit_version=1)
    assert {r[CHANGE_TYPE] for r in first.collect()} == {"insert"}
    assert first.count() == 3


def test_capture_and_table_changes_mixed_sources(spark, tmp_path):
    """Captured steps read the persisted feed; uncaptured steps diff on
    the fly — a consumer sees one identical feed either way."""
    captured = LabelStore(str(tmp_path / "cap"))
    plain = LabelStore(str(tmp_path / "plain"))
    for v_df in (_v1, _v2, _v3):
        write_with_cdf(captured, "t", v_df(spark), ["id"])
        plain.write("t", v_df(spark))
    # capture side-labels exist for every step
    assert captured.version("t__cdf_v2") == 1
    # idempotent re-capture
    assert capture_changes(spark, captured, "t", 2, ["id"]) == "t__cdf_v2"
    assert captured.version("t__cdf_v2") == 1

    feed_cap = table_changes(spark, captured, "t", 1, 3)  # no key_cols needed
    feed_diff = table_changes(spark, plain, "t", 1, 3, key_cols=["id"])
    assert _sorted(feed_cap) == _sorted(feed_diff)
    assert {r[COMMIT_VERSION] for r in feed_cap.collect()} == {2, 3}

    with pytest.raises(ValueError):
        table_changes(spark, captured, "t", 2, 2)
    with pytest.raises(ValueError):  # uncaptured step, no keys
        table_changes(spark, plain, "t", 1, 2)


def test_replay_property(spark, tmp_path):
    """apply_changes(read(v_a), table_changes(v_a→v_b)) ≡ read(v_b) —
    across a key updated twice, a delete, and a delete-then-reinsert."""
    store = LabelStore(str(tmp_path / "s"))
    for v_df in (_v1, _v2, _v3):
        write_with_cdf(store, "t", v_df(spark), ["id"])
    for v_a, v_b in ((1, 2), (2, 3), (1, 3)):
        base = store.read(spark, "t", v_a)
        feed = table_changes(spark, store, "t", v_a, v_b)
        assert _sorted(apply_changes(base, feed, ["id"])) == _sorted(
            store.read(spark, "t", v_b)
        ), (v_a, v_b)
    # from-empty replay: full history reconstructs the head
    empty = spark.createDataFrame([], SCHEMA)
    full = pair_changes(None, store.read(spark, "t", 1), ["id"], 1).unionByName(
        table_changes(spark, store, "t", 1, 3)
    )
    assert _sorted(apply_changes(empty, full, ["id"])) == _sorted(store.read(spark, "t", 3))


def test_cdc_replay_sink_converges(spark, tmp_path):
    """Streaming replica: change-feed batches applied (not appended) —
    after draining both deliveries the replica equals the source head;
    a fresh-checkpoint redelivery of batch 0 is skipped."""
    from scalligraph_spark.streaming import start_cdc_replay_sink

    src_store = LabelStore(str(tmp_path / "src"))
    for v_df in (_v1, _v2, _v3):
        write_with_cdf(src_store, "t", v_df(spark), ["id"])

    feed_dir = tmp_path / "feed"
    feed_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    replica = LabelStore(str(tmp_path / "replica"))

    def deliver(df, name):
        staged = tmp_path / ("staged_" + name)
        df.coalesce(1).write.mode("overwrite").parquet(str(staged))
        shutil.copy(glob.glob(str(staged / "part-*.parquet"))[0], feed_dir / f"{name}.parquet")

    # batch 0: bootstrap (v0→v1 inserts) + step 1→2
    deliver(
        pair_changes(None, src_store.read(spark, "t", 1), ["id"], 1).unionByName(
            table_changes(spark, src_store, "t", 1, 2)
        ),
        "b0",
    )
    schema = src_store.read(spark, "t__cdf_v2").schema
    stream = spark.readStream.schema(schema).parquet(str(feed_dir))
    start_cdc_replay_sink(stream, replica, "t", ["id"], ckpt).awaitTermination()
    assert _sorted(replica.read(spark, "t")) == _sorted(src_store.read(spark, "t", 2))

    # batch 1: step 2→3 (same source dir + checkpoint → next batch id)
    deliver(table_changes(spark, src_store, "t", 2, 3), "b1")
    stream2 = spark.readStream.schema(schema).parquet(str(feed_dir))
    start_cdc_replay_sink(stream2, replica, "t", ["id"], ckpt).awaitTermination()
    assert _sorted(replica.read(spark, "t")) == _sorted(src_store.read(spark, "t", 3))

    # crash-replay: fresh checkpoint re-reads everything as batch 0 —
    # batch-id guard skips it, replica unchanged
    v_before = replica.version("t")
    stream3 = spark.readStream.schema(schema).parquet(str(feed_dir))
    start_cdc_replay_sink(stream3, replica, "t", ["id"], str(tmp_path / "ckpt2")).awaitTermination()
    assert replica.version("t") == v_before
    assert _sorted(replica.read(spark, "t")) == _sorted(src_store.read(spark, "t", 3))


def test_qlang_store_changes_step(spark):
    """[{_name: storeChanges}] — the CDC qlang route: default `to` is the
    label head version, builtin steps compose, and a registered row
    policy gates the FEED exactly like the live table."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR
    from scalligraph_spark.suite import _cdf_store, executor_for

    store = _cdf_store(spark, SF_DIR)
    ex = executor_for(spark, SF_DIR, cdf_store=(store, "cust", ["c_custkey"]))

    explicit = ex.execute([{"_name": "storeChanges", "from": 1, "to": 2}]).df
    default_to = ex.execute([{"_name": "storeChanges", "from": 1}]).df
    assert _sorted(default_to) == _sorted(explicit)

    deletes = ex.execute(
        [
            {"_name": "storeChanges", "from": 1},
            {"_name": "filter", "_is": {"_field": "_change_type", "_value": "delete"}},
        ]
    ).df
    expected = table_changes(spark, store, "cust", 1, 2, key_cols=["c_custkey"]).where(
        F.col("_change_type") == "delete"
    )
    assert _sorted(deletes) == _sorted(expected)
    assert deletes.count() > 0

    # a row policy on the label gates the change feed too
    ex.register_row_policy(
        "cust",
        lambda auth: F.col("c_mktsegment") == F.lit("BUILDING")
        if auth is None
        else F.lit(True),
    )
    gated = ex.execute([{"_name": "storeChanges", "from": 1}]).df
    segs = {r[0] for r in gated.select("c_mktsegment").distinct().collect()}
    assert segs == {"BUILDING"}
    ungated = ex.execute([{"_name": "storeChanges", "from": 1}], auth={"permissions": []}).df
    assert ungated.count() == explicit.count()


def test_feed_across_added_audit_columns(spark, tmp_path):
    """A label stored without the audit envelope gains ``_updated_by`` /
    ``_updated_at`` at its first ``WriteSession.update``.  That step is a
    one-row change: a column the older version lacks reads as null there,
    so the feed, the diff, MV refresh, replay and index catch-up all see
    only the updated row."""
    from pyspark.sql import functions as F

    from scalligraph_spark.operators import build_value_index, load_value_index, lookup_ids
    from scalligraph_spark.operators.index_catchup import catchup_value_index
    from scalligraph_spark.store import aggregate_snapshot, refresh_aggregate, version_diff
    from scalligraph_spark.writes import WriteSession

    store = LabelStore(str(tmp_path / "s"))
    rows = [(1, "x", "a"), (2, "x", "b"), (3, "y", "c")]
    store.write("t", spark.createDataFrame(rows, "_id long, g string, name string"))
    build_value_index(
        spark, store, "by_name", store.read(spark, "t"), "name", "_id",
        corpus_store=store, corpus_label="t",
    )
    session = WriteSession(spark, store, "t", id_col="_id")
    session.update(F.col("_id") == 2, {"name": F.lit("b2"), "g": F.lit("y")}).commit()
    assert {"_updated_by", "_updated_at"} <= set(store.read(spark, "t", 2).columns)

    feed = table_changes(spark, store, "t", 1, 2, key_cols=["_id"])
    assert {(r["_id"], r[CHANGE_TYPE], r["name"]) for r in feed.collect()} == {
        (2, "update_preimage", "b"),
        (2, "update_postimage", "b2"),
    }
    diff = version_diff(spark, store, "t", 1, 2, ["_id"])
    assert [(r["_id"], r["status"]) for r in diff.collect()] == [(2, "changed")]

    mv = aggregate_snapshot(store.read(spark, "t", 1), ["g"], ["_id"])
    recompute = aggregate_snapshot(store.read(spark, "t", 2), ["g"], ["_id"])
    for strategy in ("delta", "group_rescan"):
        got = refresh_aggregate(
            spark, store, "t", mv, ["g"], ["_id"], 1, 2, key_cols=["_id"], strategy=strategy
        )
        assert _sorted(got) == _sorted(recompute), strategy

    replayed = apply_changes(store.read(spark, "t", 1), feed, ["_id"])
    assert _sorted(replayed) == _sorted(store.read(spark, "t", 2))

    catchup_value_index(spark, store, "by_name", store, on_mutation="tombstone")
    index = load_value_index(spark, store, "by_name")
    assert {(r[0], r[1]) for r in lookup_ids(index, ["b", "b2"]).collect()} == {("b2", 2)}


def test_merge_on_read_matches_change_feed(spark, tmp_path):
    """The same churn written twice — as merge-on-read delta batches and
    as committed versions — reads back identically: ``read_merged`` (with
    and without a predicate), the change-feed replay and the head
    version agree, before and after ``compact_mor``."""
    from pyspark.sql import functions as F

    store = LabelStore(str(tmp_path / "s"))
    v1 = _df(spark, [(i, "ab"[i % 2], float(i)) for i in range(1, 7)])
    # batch 1: update 2, delete 3, insert 7; batch 2: delete 7 (upserted
    # in batch 1), re-insert 3 (deleted in batch 1), update 4
    b1 = [(2, "a", 20.0, "upsert"), (3, None, None, "delete"), (7, "b", 7.0, "upsert")]
    b2 = [(7, None, None, "delete"), (3, "c", 30.0, "upsert"), (4, "b", 40.0, "upsert")]
    delta_schema = SCHEMA + ", _op string"

    def fold(df, batch):
        touched = [r[0] for r in batch]
        ups = _df(spark, [r[:3] for r in batch if r[3] == "upsert"])
        return df.where(~F.col("id").isin(touched)).unionByName(ups)

    store.write("c", v1)
    store.write("c", fold(v1, b1))
    store.write("c", fold(store.read(spark, "c", 2), b2))
    store.write("m", v1)
    for batch in (b1, b2):
        store.write_delta(spark, "m", spark.createDataFrame(batch, delta_schema), ["id"])

    head = _sorted(store.read(spark, "c", 3))
    pred = [("val", ">", 4.5)]
    selected = _sorted(store.read(spark, "c", 3).where(F.col("val") > 4.5))
    replayed = apply_changes(
        store.read(spark, "c", 1), table_changes(spark, store, "c", 1, 3, key_cols=["id"]), ["id"]
    )
    assert _sorted(replayed) == head
    assert _sorted(store.read_merged(spark, "m")) == head
    assert _sorted(store.read_merged(spark, "m", pred)) == selected
    store.compact_mor(spark, "m")
    assert _sorted(store.read(spark, "m")) == head
    assert _sorted(store.read_merged(spark, "m")) == head
    assert _sorted(store.read_merged(spark, "m", pred)) == selected


# --- feeds a WriteSession captures in its commit job ---------------------------

AT = "2026-01-01 00:00:00"
BASE = [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0), (4, "d", 4.0)]


def _audited(spark, store, stamped=False):
    """Label ``t`` v1: four audited rows, ``_id`` '1'..'4'; ``stamped``
    adds the ``_updated_*`` columns a session run by ``bench`` at ``AT``
    would write."""
    from pyspark.sql import functions as F

    from scalligraph_spark.writes import with_audit

    df = with_audit(_df(spark, BASE), "t", "id", "bench", AT)
    if stamped:
        df = df.withColumn("_updated_by", F.lit("bench")).withColumn(
            "_updated_at", F.lit(AT).cast("timestamp_ntz"))
    store.write("t", df)


def _session_steps():
    from pyspark.sql import functions as F

    ids = F.col("_id")
    return {
        "create_update_remove": (False, [], lambda s, sp: s.create(_df(sp, [(5, "e", 5.0)]))
                                 .update(ids.isin(["1", "2"]), {"val": F.col("val") + 1})
                                 .remove(ids == "3")),
        "update_then_remove": (False, [], lambda s, sp: s.update(ids.isin(["1", "2"]), {"name": F.lit("z")})
                               .remove(ids == "1")),
        "create_then_update": (False, [], lambda s, sp: s.create(_df(sp, [(5, "e", 5.0)]))
                               .update(ids == "5", {"name": F.lit("e2")})),
        "create_then_remove": (False, [], lambda s, sp: s.create(_df(sp, [(5, "e", 5.0), (6, "f", 6.0)]))
                               .remove(ids == "5")),
        # the stamps equal the stored ones: row 1 keeps every value
        "value_identical_update": (True, [], lambda s, sp: s.update(ids == "1", {"name": F.lit("a")})
                                   .update(ids == "2", {"name": F.lit("b2")})),
        "adds_updated_columns": (False, [], lambda s, sp: s.update(ids == "4", {"val": F.lit(40.0)})),
        # "c" is free again once row 3 is gone, "a" is still taken
        "unique_keys": (False, [("name",)], lambda s, sp: s.remove(ids == "3")
                        .create(_df(sp, [(7, "c", 7.0), (8, "a", 8.0)]))),
    }


@pytest.mark.parametrize("step", [
    "adds_updated_columns", "create_then_remove", "create_then_update", "create_update_remove",
    "unique_keys", "update_then_remove", "value_identical_update",
])
def test_session_feed_equals_the_diff(spark, tmp_path, step):
    """A session whose inputs live on the driver publishes its step's
    feed from the commit job; it equals the two-version diff, records
    the diff's per-type counts, and replays v1 into v2."""
    from scalligraph_spark.writes import WriteSession

    stamped, unique, mutate = _session_steps()[step]
    store = LabelStore(str(tmp_path / "s"))
    _audited(spark, store, stamped)
    session = WriteSession(spark, store, "t", id_col="id", created_by="bench", at=AT,
                           unique_keys=unique)
    assert mutate(session, spark).commit() == 2
    assert store.version("t__cdf_v2") == 1
    feed = store.read(spark, "t__cdf_v2")
    diff = pair_changes(store.read(spark, "t", 1), store.read(spark, "t", 2), ["_id"], 2)
    assert _sorted(feed) == _sorted(diff)
    types = [r[CHANGE_TYPE] for r in diff.collect()]
    assert store.commit_meta("t__cdf_v2")["churn"] == {t: types.count(t) for t in set(types)}
    assert _sorted(apply_changes(store.read(spark, "t", 1), table_changes(spark, store, "t", 1, 2),
                                 ["_id"])) == _sorted(store.read(spark, "t", 2))
    if step == "value_identical_update":
        assert {r["_id"] for r in feed.collect()} == {"2"}


@pytest.mark.parametrize("captured", [True, False])
def test_remove_keeps_rows_whose_condition_is_null(spark, tmp_path, captured):
    """A null remove condition matches nothing, as in an update.  On a
    label stored without ``_id``, a create stamps ``_id`` on its rows
    only, so ``remove(_id == "2")`` deletes one row and keeps every
    stored row; a captured session's feed still equals the diff."""
    from pyspark.sql import functions as F

    from scalligraph_spark.writes import WriteSession, remove_where

    store = LabelStore(str(tmp_path / "s"))
    store.write("t", _df(spark, [(10, "x", 1.0), (11, "y", 2.0), (12, "z", 3.0)]))
    session = WriteSession(spark, store, "t", id_col="id", created_by="bench", at=AT)
    if not captured:
        session.transform(lambda df: df)
    session.create(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)])).remove(F.col("_id") == "2")
    assert session.commit() == 2
    v1, v2 = store.read(spark, "t", 1), store.read(spark, "t", 2)
    assert sorted(r["name"] for r in v2.collect()) == ["a", "x", "y", "z"]
    assert store.version("t__cdf_v2") == int(captured)
    if captured:  # a create keeps no ``id`` column: the names key the diff
        assert _sorted(store.read(spark, "t__cdf_v2")) == _sorted(pair_changes(v1, v2, ["name"], 2))
    assert remove_where(v2, F.col("_id") == "1").count() == 3


def _uncaptured_steps():
    from pyspark.sql import functions as F

    return {
        "transform": lambda s, sp, st: s.update(F.col("_id") == "1", {"name": F.lit("z")})
        .transform(lambda df: df.where(F.col("_id") != "2")),
        "scan_create": lambda s, sp, st: s.create(
            st.read(sp, "src").select("id", "name", "val")),
        "non_key_predicate": lambda s, sp, st: s.update(F.col("val") > 2.5, {"name": F.lit("big")})
        .remove(F.col("name") == "a"),
        # two changes of key 2 in one step: only the diff pairs them
        "recreated_key": lambda s, sp, st: s.remove(F.col("_id") == "2")
        .create(_df(sp, [(2, "b2", 2.0)])),
    }


@pytest.mark.parametrize("step", ["non_key_predicate", "recreated_key", "scan_create", "transform"])
def test_uncaptured_session_keeps_the_diff(spark, tmp_path, step):
    """A session the driver cannot bound — a ``transform``, a create from
    a scan, a non-key predicate — or one that changes a key twice writes
    no feed; its step is diffed, and a tombstone catch-up over it equals
    a rebuild."""
    from index_families import content

    from scalligraph_spark.operators import build_value_index
    from scalligraph_spark.operators.index_catchup import catchup_value_index
    from scalligraph_spark.writes import WriteSession

    store = LabelStore(str(tmp_path / "s"))
    _audited(spark, store)
    store.write("src", _df(spark, [(9, "i", 9.0), (10, "j", 10.0)]))
    build_value_index(spark, store, "ix", store.read(spark, "t"), "name", "_id",
                      corpus_store=store, corpus_label="t")
    session = WriteSession(spark, store, "t", id_col="id", created_by="bench", at=AT)
    _uncaptured_steps()[step](session, spark, store).commit()
    assert store.version("t__cdf_v2") == 0
    replayed = apply_changes(store.read(spark, "t", 1),
                             table_changes(spark, store, "t", 1, 2, key_cols=["_id"]), ["_id"])
    assert _sorted(replayed) == _sorted(store.read(spark, "t", 2))
    assert catchup_value_index(spark, store, "ix", store, on_mutation="tombstone")["churn"]
    build_value_index(spark, store, "fresh", store.read(spark, "t"), "name", "_id")
    assert content(spark, store, "value", "ix") == content(spark, store, "value", "fresh")


def _jobs(spark, call):
    """``(result, jobs, stage names)`` of ``call`` under a job group of
    its own (as tests/test_graph_supersteps.py counts them)."""
    import uuid

    sc = spark.sparkContext
    gid = f"cdf-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(gid)
    stages = [sc.statusTracker().getStageInfo(s) for j in jobs
              for s in sc.statusTracker().getJobInfo(j).stageIds]
    return out, len(jobs), [s.name for s in stages if s is not None]


# Jobs of a one-step tombstone catch-up of a 4-row value index over a
# diffed step that creates 1, updates 2 and deletes 1 row (4 shuffle
# partitions), before the session-captured feed: 14, the churn-counting
# collect over the two-version diff among them.  Taking a one-step
# range's effects by filters made it 13.
_DIFF_CATCHUP_JOBS = 14


@pytest.mark.parametrize("captured", [True, False])
def test_session_commit_and_catchup_jobs(spark, tmp_path, captured):
    """A session commit is one Spark job either way.  A captured step's
    catch-up reads the recorded counts (no counting job) in at most 7
    jobs; an uncaptured step's keeps the diff's count."""
    from pyspark.sql import functions as F

    from index_families import content

    from scalligraph_spark.operators import build_value_index
    from scalligraph_spark.operators.index_catchup import catchup_value_index
    from scalligraph_spark.writes import WriteSession

    store = LabelStore(str(tmp_path / "s"))
    _audited(spark, store)
    build_value_index(spark, store, "ix", store.read(spark, "t"), "name", "_id",
                      corpus_store=store, corpus_label="t")
    session = WriteSession(spark, store, "t", id_col="id", created_by="bench", at=AT)
    session.create(_df(spark, [(5, "e", 5.0)]))
    session.update(F.col("_id").isin(["1", "2"]), {"name": F.concat(F.col("name"), F.lit("2"))})
    session.remove(F.col("_id") == "3")
    if not captured:
        session.transform(lambda df: df)
    _, commit_jobs, _ = _jobs(spark, session.commit)
    assert commit_jobs == 1
    assert store.version("t__cdf_v2") == int(captured)
    report, jobs, stages = _jobs(
        spark, lambda: catchup_value_index(spark, store, "ix", store, on_mutation="tombstone"))
    assert report["churn"] == {"insert": 1, "update_preimage": 2, "update_postimage": 2, "delete": 1}
    counting = [s for s in stages if s.startswith("collect at") and "segments.py" in s]
    if captured:
        assert not counting and jobs <= 7, (jobs, stages)
    else:
        assert counting and jobs <= _DIFF_CATCHUP_JOBS, (jobs, stages)
    build_value_index(spark, store, "fresh", store.read(spark, "t"), "name", "_id")
    assert content(spark, store, "value", "ix") == content(spark, store, "value", "fresh")

"""Versioned label-store tests: atomic version swap, snapshot isolation,
rollback, vacuum, and the write→migrate→rewrite loop."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scalligraph_spark.migrations import AddProperty, SchemaUpdater, VersionStore
from scalligraph_spark.store import LabelStore


@pytest.fixture()
def store(tmp_path):
    return LabelStore(str(tmp_path / "tables"))


def test_write_read_versions(spark, store):
    df1 = spark.createDataFrame([(1, "a")], "k long, v string")
    assert store.write("thing", df1) == 1
    df2 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    assert store.write("thing", df2) == 2
    assert store.version("thing") == 2
    assert store.read(spark, "thing").count() == 2
    assert store.read(spark, "thing", version=1).count() == 1
    assert store.history("thing") == [1, 2]


def test_snapshot_isolation(spark, store):
    store.write("t", spark.createDataFrame([(1,)], "k long"))
    snapshot = store.read(spark, "t")  # pinned to v1
    store.write("t", spark.createDataFrame([(1,), (2,), (3,)], "k long"))
    assert snapshot.count() == 1  # the open reader still sees v1
    assert store.read(spark, "t").count() == 3


def test_rollback(spark, store):
    store.write("t", spark.createDataFrame([(1,)], "k long"))
    store.write("t", spark.createDataFrame([(1,), (2,)], "k long"))
    store.rollback("t", 1)
    assert store.read(spark, "t").count() == 1
    with pytest.raises(ValueError):
        store.rollback("t", 99)


def test_vacuum_keeps_current(spark, store):
    for n in range(1, 5):
        store.write("t", spark.createDataFrame([(i,) for i in range(n)], "k long"))
    removed = store.vacuum("t", keep=2)
    assert removed == [1, 2]
    assert store.history("t") == [3, 4]
    assert store.read(spark, "t").count() == 4


def test_read_missing_label(spark, store):
    with pytest.raises(FileNotFoundError):
        store.read(spark, "nope")


def test_migration_rewrite_cycle(spark, store, tmp_path):
    """The reference's migration loop: read current, replay pending
    operations, commit as a new version, record the schema version."""
    store.write("person", spark.createDataFrame([(1, "marko")], "id long, name string"))
    versions = VersionStore(str(tmp_path / "schema.json"))
    up = SchemaUpdater("person", [AddProperty("status", "string", default="active")])
    migrated = up.migrate_stored(store.read(spark, "person"), versions)
    store.write("person", migrated)
    out = store.read(spark, "person")
    assert out.collect()[0]["status"] == "active"
    assert versions.get("person") == 1 and store.version("person") == 2


def test_catalog_backed_by_store(spark, store):
    """Full write→query loop: create entities into the store, traverse via
    the catalog, rewrite (update), and see the new version on the next scan."""
    from scalligraph_spark.catalog import GraphCatalog
    from scalligraph_spark.traversal import P
    from scalligraph_spark.writes import update_where, with_audit

    rows = spark.createDataFrame([(1, "marko", 29), (2, "vadas", 27)], "pid long, name string, age long")
    store.write("person", with_audit(rows, "person", "pid", "admin", "2026-01-01 00:00:00"))

    cat = GraphCatalog(spark).add_store_vertex(store, "person", "_id", name_col="name")
    assert cat.V("person").has("age", P.gt(28)).df.count() == 1

    current = store.read(spark, "person")
    store.write("person", update_where(current, F.col("age") < 28, {"age": F.lit(99)}, "fixer"))
    t = cat.V("person").has("age", P.gt(28))
    assert sorted(r["name"] for r in t.df.select("name").collect()) == ["marko", "vadas"]
    assert store.version("person") == 2


def test_partitioned_write_prunes(spark, store, tmp_path):
    import os

    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "x"), (3, "a", "y")], "k long, part string, v string"
    )
    store.write("pt", df, partition_by=["part"], bucket_hint=(2, ["k"]))
    root = store.path("pt")
    assert sorted(d for d in os.listdir(root) if d.startswith("part=")) == ["part=a", "part=b"]
    back = store.read(spark, "pt")
    assert back.where(F.col("part") == "a").count() == 2


def test_bucketed_join_has_no_exchange(spark):
    """write_bucketed proof: a join on the bucket key between two bucketed
    tables contains NO Exchange node — the shuffle was paid at write time."""
    import contextlib
    import io

    from scalligraph_spark.store import write_bucketed

    a = spark.range(0, 10000).withColumn("v", F.col("id") % 7)
    b = spark.range(0, 10000).withColumn("w", F.col("id") % 5)
    # a KILLED previous run (driver verify timeout, ctrl-C) leaves the
    # managed-table DIRECTORY behind with no catalog entry — the fresh
    # per-process metastore can't DROP it, and saveAsTable then fails with
    # LOCATION_ALREADY_EXISTS; clear leftover locations first
    import os
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("bk_a", "bk_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    write_bucketed(a, "bk_a", 4, ["id"])
    write_bucketed(b, "bk_b", 4, ["id"])
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force the SMJ path
        j = spark.table("bk_a").join(spark.table("bk_b"), "id")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        assert "Exchange" not in buf.getvalue()
        assert j.count() == 10000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_edge_model_write_and_traverse(spark, store):
    """Edge-entity round trip: model schema → audit-stamped edge rows into
    the store → registered as a catalog edge → hop traversal."""
    from scalligraph_spark.catalog import EdgeSpec, GraphCatalog
    from scalligraph_spark.model import EntityModel
    from scalligraph_spark.writes import with_audit

    m = EntityModel.edge("likes", "person", "thing", {"strength": "double"})
    assert m.is_edge and [f.name for f in m.schema().fields[:8]] == [
        "_id", "_label", "_created_by", "_created_at", "_updated_by", "_updated_at", "src_id", "dst_id",
    ]
    people = spark.createDataFrame([(1, "marko"), (2, "vadas")], "pid long, name string")
    things = spark.createDataFrame([(10, "lop")], "tid long, tname string")
    edges = spark.createDataFrame([(100, 1, 10, 0.9), (101, 2, 10, 0.2)], "eid long, src_id long, dst_id long, strength double")
    store.write("person", people)
    store.write("thing", things)
    store.write("likes", with_audit(edges, "likes", "eid", "admin", "2026-01-01 00:00:00"))

    cat = GraphCatalog(spark)
    cat.add_store_vertex(store, "person", "pid", name_col="name")
    cat.add_store_vertex(store, "thing", "tid")
    cat.add_edge(
        EdgeSpec(
            label="likes", src_label="person", dst_label="thing",
            loader=lambda: store.read(spark, "likes"),
            src_key="src_id", dst_key="dst_id", src_join_col="pid", dst_join_col="tid",
            kind="table",
        )
    )
    from scalligraph_spark.traversal import P

    t = cat.V("person").out_e("likes").has("strength", P.gte(0.5)).in_v()
    assert [r["tname"] for r in t.df.select("tname").collect()] == ["lop"]


def test_compact_merges_small_files(spark, store):
    """Compaction rewrites a fragmented version into few files as a NEW
    version — same rows, old version intact for rollback."""
    df = spark.range(0, 10_000).withColumnRenamed("id", "k")
    store.write("frag", df.repartition(16))  # 16 task-sized files
    n_before, bytes_before = store.stats("frag")
    assert n_before == 16

    v = store.compact(spark, "frag")  # default 128 MiB target → 1 file
    assert v == 2 and store.version("frag") == 2
    n_after, bytes_after = store.stats("frag")
    assert n_after == 1
    got = store.read(spark, "frag")
    assert got.count() == 10_000
    assert got.agg({"k": "sum"}).collect()[0][0] == df.agg({"k": "sum"}).collect()[0][0]
    # snapshot guarantees hold: v1 still readable, rollback works
    assert store.read(spark, "frag", version=1).count() == 10_000
    store.rollback("frag", 1)
    assert store.version("frag") == 1


def test_compact_noop_when_already_compact(spark, store):
    store.write("tight", spark.range(100).coalesce(1))
    assert store.stats("tight")[0] == 1
    v = store.compact(spark, "tight")
    assert v == 1 and store.version("tight") == 1  # no new version written


def test_zorder_layout_clusters_both_dims(spark, store):
    """Z-ordered files must be clustered in BOTH dimensions (parquet
    footer min/max ranges cover a fraction of each domain), where a linear
    sort clusters only its leading column — the property multi-dimensional
    data skipping depends on."""
    import glob

    import pyarrow.parquet as pq

    n = 20_000
    df = (
        spark.range(n)
        .withColumn("x", (F.col("id") * 2654435761 % n).cast("long"))  # decorrelated from id
        .withColumn("y", (F.col("id") * 40503 % n).cast("long"))
    )

    def coverage(label, col):
        spans = []
        for f in glob.glob(store.path(label) + "/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = [md.schema.column(i).name for i in range(md.num_columns)].index(col)
            mins = [md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups)]
            maxs = [md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups)]
            spans.append((max(maxs) - min(mins)) / n)
        return sum(spans) / len(spans), len(spans)

    store.write("zz", df, zorder_by=(8, ["x", "y"]))
    zx, nf = coverage("zz", "x")
    zy, _ = coverage("zz", "y")
    assert nf == 8
    # each of the 8 z-ordered files covers a ~quadrant-sized slice of both
    # domains (≈ 2^-ceil(log4 8) = ≤ 1/2 per dim, plus boundary slop)
    assert zx < 0.7 and zy < 0.7

    store.write("lin", df.repartitionByRange(8, "x").sortWithinPartitions("x"))
    lx, _ = coverage("lin", "x")
    ly, _ = coverage("lin", "y")
    assert lx < 0.2  # leading sort column clusters tightly...
    assert ly > 0.9  # ...but the second dimension is unclustered
    # z-order beats linear on the non-leading dimension by a wide margin
    assert zy < ly / 2


def test_zorder_value_validation(spark):
    from scalligraph_spark.store import zorder_value

    df = spark.range(10).withColumn("x", F.col("id"))
    with pytest.raises(ValueError):
        zorder_value(df, [], bits=16)
    with pytest.raises(ValueError):
        zorder_value(df, ["id", "x"], bits=32)  # 64 bits > 63


def test_concurrent_writers_never_share_a_version(spark, store):
    """Two writers racing version+1: the exclusive v-dir mkdir serializes
    the claim, so both commits land in DISTINCT versions (no lost update)
    and the pointer ends at the higher one."""
    df = spark.createDataFrame([(1,)], "k long")
    store.write("t", df)
    # simulate the race: writer B claims v2's directory before writer A
    # commits — A must retry onto v3 instead of overwriting
    import os

    os.mkdir(store.path("t", 2))  # B's claim
    v_a = store.write("t", spark.createDataFrame([(2,)], "k long"))
    assert v_a == 3  # A skipped the claimed v2
    assert store.version("t") == 3
    assert store.history("t") == [1, 2, 3]


def test_commit_meta_roundtrip(spark, store):
    store.write("t", spark.createDataFrame([(1,)], "k long"), meta={"batch_id": 7})
    assert store.commit_meta("t") == {"batch_id": 7}
    assert store.commit_meta("t", 1) == {"batch_id": 7}


def test_event_srv_commit_notifications(spark, tmp_path):
    """EventSrv analog (services/EventSrv.scala:14-31): commits publish on
    store:<label>; unsubscribe stops delivery; publish_ask collects replies."""
    from scalligraph_spark.eventsrv import EventSrv
    from scalligraph_spark.store import LabelStore

    ev = EventSrv()
    seen = []
    handle = ev.subscribe("store:person", seen.append)
    store = LabelStore(str(tmp_path / "evstore"), event_srv=ev)

    df = spark.createDataFrame([(1, "marko")], "id long, name string")
    v1 = store.write("person", df, meta={"who": "test"})
    assert seen == [{"label": "person", "version": v1, "meta": {"who": "test"}}]

    store.write("other", df)  # different topic — not delivered
    assert len(seen) == 1

    ev.unsubscribe("store:person", handle)
    store.write("person", df)
    assert len(seen) == 1

    ev.subscribe("ping", lambda m: m * 2)
    ev.subscribe("ping", lambda m: m + 1)
    assert ev.publish_ask("ping", 10) == [20, 11]


def test_version_diff_added_removed_changed(spark, tmp_path):
    from scalligraph_spark.store import LabelStore, version_diff

    store = LabelStore(str(tmp_path / "vd"))
    v1 = store.write(
        "dim",
        spark.createDataFrame([(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["k", "name", "val"]),
    )
    v2 = store.write(
        "dim",
        spark.createDataFrame([(2, "b", 21), (3, "c", 30), (4, "d", 40)], ["k", "name", "val"]),
    )
    diff = {r["k"]: r["status"] for r in version_diff(spark, store, "dim", v1, v2, ["k"]).collect()}
    # 1 removed, 2 changed (val 20→21), 3 unchanged (absent), 4 added
    assert diff == {1: "removed", 2: "changed", 4: "added"}


def test_version_diff_null_safety(spark, tmp_path):
    """("a", null) vs ("an", "ull") must NOT collide; null→value is a
    change."""
    from scalligraph_spark.store import LabelStore, version_diff

    store = LabelStore(str(tmp_path / "vd2"))
    v1 = store.write("t", spark.createDataFrame([(1, "a", None), (2, "an", "ull")], ["k", "x", "y"]))
    v2 = store.write("t", spark.createDataFrame([(1, "a", "filled"), (2, "an", "ull")], ["k", "x", "y"]))
    diff = {r["k"]: r["status"] for r in version_diff(spark, store, "t", v1, v2, ["k"]).collect()}
    assert diff == {1: "changed"}


def test_optimize_zorder_new_version(spark, tmp_path):
    """OPTIMIZE rewrites the current version z-ordered; rollback still
    reaches the pre-optimize layout (same commit guarantees as any write)."""
    from pyspark.sql import functions as F

    store = LabelStore(str(tmp_path))
    df = spark.range(0, 1000).select(
        F.col("id").alias("a"), (F.col("id") * 7 % 1000).alias("b")
    )
    store.write("t", df)
    v2 = store.optimize(spark, "t", zorder_by=["a", "b"], n_files=4)
    assert v2 == 2 and store.version("t") == 2
    back = store.read(spark, "t")
    assert back.count() == 1000
    assert sorted(r["a"] for r in back.collect()) == list(range(1000))
    store.rollback("t", 1)
    assert store.read(spark, "t").count() == 1000


# -- incremental materialized-view maintenance --------------------------------


def _mv_rows(df):
    return {tuple(r) for r in df.collect()}


@pytest.fixture()
def mv_store(spark, tmp_path):
    """v1 → v2 with every churn shape: delete, in-group update, a changed
    row that MOVES groups, insert into an existing group, insert creating
    a new group, and a delete that empties a whole group."""
    from scalligraph_spark.store import LabelStore

    store = LabelStore(str(tmp_path / "mv_tables"))
    v1 = spark.createDataFrame(
        [
            (1, "a", 10),
            (2, "a", 20),
            (3, "b", 30),
            (4, "b", 40),
            (5, "c", 50),  # group c will be emptied
        ],
        "k long, grp string, m long",
    )
    store.write("t", v1)
    v2 = spark.createDataFrame(
        [
            (1, "a", 11),   # in-group update
            (2, "d", 20),   # moved a → d
            (3, "b", 30),   # untouched
            # 4 deleted
            # 5 deleted (group c gone)
            (6, "b", 60),   # insert into existing group
            (7, "e", 70),   # insert creating new group
        ],
        "k long, grp string, m long",
    )
    store.write("t", v2)
    return store


@pytest.mark.parametrize("strategy", ["delta", "group_rescan"])
def test_refresh_equals_full_recompute(spark, mv_store, strategy):
    from scalligraph_spark.store import aggregate_snapshot, refresh_aggregate

    mv = aggregate_snapshot(mv_store.read(spark, "t", 1), ["grp"], ["m"])
    got = refresh_aggregate(
        spark, mv_store, "t", mv, ["grp"], ["m"], 1, 2, ["k"], strategy=strategy
    )
    want = aggregate_snapshot(mv_store.read(spark, "t", 2), ["grp"], ["m"])
    assert _mv_rows(got) == _mv_rows(want)
    # group c (emptied) must be gone; groups d/e (new) must be present
    grps = {r.grp for r in got.collect()}
    assert "c" not in grps and {"d", "e"} <= grps


def test_group_rescan_maintains_minmax(spark, mv_store):
    from scalligraph_spark.store import aggregate_snapshot, refresh_aggregate

    mv = aggregate_snapshot(mv_store.read(spark, "t", 1), ["grp"], ["m"], minmax=True)
    got = refresh_aggregate(
        spark, mv_store, "t", mv, ["grp"], ["m"], 1, 2, ["k"],
        strategy="group_rescan", minmax=True,
    )
    want = aggregate_snapshot(mv_store.read(spark, "t", 2), ["grp"], ["m"], minmax=True)
    assert _mv_rows(got) == _mv_rows(want)


def test_delta_refresh_rejects_minmax(spark, mv_store):
    from scalligraph_spark.store import aggregate_snapshot, refresh_aggregate

    mv = aggregate_snapshot(mv_store.read(spark, "t", 1), ["grp"], ["m"], minmax=True)
    with pytest.raises(ValueError):
        refresh_aggregate(
            spark, mv_store, "t", mv, ["grp"], ["m"], 1, 2, ["k"], minmax=True
        )


def test_refresh_noop_on_identical_versions(spark, tmp_path):
    from scalligraph_spark.store import LabelStore, aggregate_snapshot, refresh_aggregate

    store = LabelStore(str(tmp_path / "noop_tables"))
    df = spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "k long, grp string, m long")
    store.write("t", df)
    store.write("t", df)
    mv = aggregate_snapshot(store.read(spark, "t", 1), ["grp"], ["m"])
    for strategy in ("delta", "group_rescan"):
        got = refresh_aggregate(
            spark, store, "t", mv, ["grp"], ["m"], 1, 2, ["k"], strategy=strategy
        )
        assert _mv_rows(got) == _mv_rows(mv)


# -- incremental join-view maintenance ----------------------------------------


@pytest.fixture()
def join_store(spark, tmp_path):
    """Two versioned tables with churn on BOTH sides: A row changed (its
    join payload moves), A row deleted, A row inserted; B row changed
    (fans out to several A rows), B row deleted, B row inserted."""
    from scalligraph_spark.store import LabelStore

    store = LabelStore(str(tmp_path / "jv"))
    a1 = spark.createDataFrame(
        [(1, 10, "a1"), (2, 10, "a2"), (3, 20, "a3"), (4, 30, "a4")],
        "ak long, jk long, apay string",
    )
    b1 = spark.createDataFrame(
        [(100, 10, "b1"), (200, 20, "b2"), (300, 40, "b3")],
        "bk long, jk long, bpay string",
    )
    store.write("A", a1)
    store.write("B", b1)
    a2 = spark.createDataFrame(
        [(1, 10, "a1x"),  # changed payload
         (2, 10, "a2"),
         # 3 deleted
         (4, 40, "a4"),   # changed join key 30 -> 40 (now matches b3)
         (5, 20, "a5")],  # inserted
        "ak long, jk long, apay string",
    )
    b2 = spark.createDataFrame(
        [(100, 10, "b1y"),  # changed payload (fans out to ak 1 and 2)
         # 200 deleted
         (300, 40, "b3"),
         (400, 20, "b4")],  # inserted
        "bk long, jk long, bpay string",
    )
    store.write("A", a2)
    store.write("B", b2)
    return store


def test_refresh_join_equals_recompute(spark, join_store):
    from scalligraph_spark.store import refresh_join

    a1 = join_store.read(spark, "A", 1)
    b1 = join_store.read(spark, "B", 1)
    view = a1.join(b1, ["jk"]).select("jk", "ak", "apay", "bk", "bpay")
    got = refresh_join(
        spark, join_store, "A", "B", view, ["jk"],
        ["ak"], ["bk"], (1, 2), (1, 2),
    )
    a2 = join_store.read(spark, "A", 2)
    b2 = join_store.read(spark, "B", 2)
    want = a2.join(b2, ["jk"]).select("jk", "ak", "apay", "bk", "bpay")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() == want.count()  # multiset, not set, equality


def test_refresh_join_noop_versions(spark, join_store):
    from scalligraph_spark.store import refresh_join

    a1 = join_store.read(spark, "A", 1)
    b1 = join_store.read(spark, "B", 1)
    view = a1.join(b1, ["jk"]).select("jk", "ak", "apay", "bk", "bpay")
    got = refresh_join(
        spark, join_store, "A", "B", view, ["jk"],
        ["ak"], ["bk"], (1, 1), (1, 1),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, view.collect()))


def test_refresh_join_duplicate_join_rows(spark, tmp_path):
    """Multiset semantics: duplicate value-identical join rows retract one
    copy per retraction, not all copies."""
    from scalligraph_spark.store import LabelStore, refresh_join

    store = LabelStore(str(tmp_path / "dup"))
    a1 = spark.createDataFrame([(1, 10), (2, 10)], "ak long, jk long")
    b1 = spark.createDataFrame([(100, 10), (200, 10)], "bk long, jk long")
    store.write("A", a1)
    store.write("B", b1)
    a2 = spark.createDataFrame([(1, 10)], "ak long, jk long")  # delete ak=2
    store.write("A", a2)
    store.write("B", b1)
    # view WITHOUT ak/bk payloads: 4 value-identical rows (jk only)
    view = a1.join(b1, ["jk"]).select("jk")
    got = refresh_join(spark, store, "A", "B", view, ["jk"], ["ak"], ["bk"], (1, 2), (1, 2))
    assert got.count() == 2  # ak=1 × two b rows


# -- atomic multi-table snapshots ---------------------------------------------


def test_snapshot_commit_all_or_nothing_view(spark, tmp_path):
    from scalligraph_spark.store import LabelStore, SnapshotStore

    store = LabelStore(str(tmp_path / "snap"))
    snap = SnapshotStore(store)
    v = spark.createDataFrame([(1, "a")], "id long, x string")
    e = spark.createDataFrame([(1, 1)], "src long, dst long")
    s1 = snap.commit({"vertices": v, "edges": e})
    assert s1 == 1 and snap.manifest() == {"vertices": 1, "edges": 1}

    # pin the old snapshot, then publish a new multi-table state
    v2 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, x string")
    e2 = spark.createDataFrame([(1, 1), (2, 1)], "src long, dst long")
    s2 = snap.commit({"vertices": v2, "edges": e2})
    assert s2 == 2
    # snapshot-1 reads remain the CONSISTENT old pair even after s2
    assert snap.read(spark, "vertices", 1).count() == 1
    assert snap.read(spark, "edges", 1).count() == 1
    assert snap.read(spark, "vertices").count() == 2
    assert snap.read(spark, "edges").count() == 2


def test_snapshot_carries_forward_unchanged_labels(spark, tmp_path):
    from scalligraph_spark.store import LabelStore, SnapshotStore

    store = LabelStore(str(tmp_path / "snap2"))
    snap = SnapshotStore(store)
    snap.commit({"a": spark.createDataFrame([(1,)], "k long"),
                 "b": spark.createDataFrame([(2,)], "k long")})
    snap.commit({"a": spark.createDataFrame([(1,), (3,)], "k long")})  # b untouched
    m = snap.manifest()
    assert m["a"] == 2 and m["b"] == 1  # b carried forward
    assert snap.read(spark, "b").count() == 1


def test_snapshot_empty_commit_rejected(spark, tmp_path):
    import pytest as _pytest

    from scalligraph_spark.store import LabelStore, SnapshotStore

    snap = SnapshotStore(LabelStore(str(tmp_path / "snap3")))
    with _pytest.raises(ValueError):
        snap.commit({})
    with _pytest.raises(KeyError):
        snap.read(spark, "nope")


def test_safe_vacuum_preserves_snapshot_referenced_versions(spark, tmp_path):
    from scalligraph_spark.store import LabelStore, SnapshotStore, safe_vacuum

    store = LabelStore(str(tmp_path / "sv"))
    snap = SnapshotStore(store)
    for i in range(4):  # v1..v4, snapshots s1..s4
        snap.commit({"t": spark.createDataFrame([(j,) for j in range(i + 1)], "k long")})
    # plain vacuum would delete v1/v2; safe vacuum must keep them because
    # snapshots s1/s2 still reference them
    removed = safe_vacuum(store, snap, "t", keep=1)
    assert removed == []
    assert snap.read(spark, "t", 1).count() == 1  # pinned snapshot still readable

    # an UNREFERENCED version (direct write outside any snapshot) is fair game
    store.write("t", spark.createDataFrame([(9,)], "k long"))  # v5, no manifest
    snap.commit({"t": spark.createDataFrame([(1,), (2,)], "k long")})  # v6 = s5
    removed2 = safe_vacuum(store, snap, "t", keep=1)
    assert removed2 == [5]
    assert snap.read(spark, "t", 4).count() == 4  # older snapshots intact


def test_refresh_join_rejects_ambiguous_and_unknown_view_columns(spark, tmp_path):
    """Overlapping payload names between the two stored tables (when the
    view selects them) and view columns in neither table both fail loud
    up front, naming the offenders — instead of an ambiguous-column
    analysis error or silently-wrong retraction matching."""
    import pytest as _pytest

    from scalligraph_spark.store import LabelStore, refresh_join

    store = LabelStore(str(tmp_path / "amb"))
    a1 = spark.createDataFrame([(1, 10, "x")], "ak long, jk long, pay string")
    b1 = spark.createDataFrame([(100, 10, "y")], "bk long, jk long, pay string")
    store.write("A", a1)
    store.write("B", b1)
    store.write("A", a1)
    store.write("B", b1)
    bad_view = spark.createDataFrame([(10, 1, "x")], "jk long, ak long, pay string")
    with _pytest.raises(ValueError, match="pay.*BOTH"):
        refresh_join(spark, store, "A", "B", bad_view, ["jk"], ["ak"], ["bk"], (1, 2), (1, 2))
    ghost_view = spark.createDataFrame([(10, "x")], "jk long, nosuch string")
    with _pytest.raises(ValueError, match="nosuch.*neither"):
        refresh_join(spark, store, "A", "B", ghost_view, ["jk"], ["ak"], ["bk"], (1, 2), (1, 2))
    # projecting a SUBSET of payloads stays allowed (multiset view)
    ok_view = spark.createDataFrame([(10, 1)], "jk long, ak long")
    got = refresh_join(spark, store, "A", "B", ok_view, ["jk"], ["ak"], ["bk"], (1, 2), (1, 2))
    assert got.count() == 1


def test_durable_eventsrv_cross_process_poll(spark, tmp_path):
    """DurableEventSrv: store commits publish to an append-only topic log
    a SECOND instance (another process in production) drains with its own
    offset; per-consumer offsets are independent; in-process subscribers
    still fire synchronously."""
    from scalligraph_spark.eventsrv import DurableEventSrv
    from scalligraph_spark.store import LabelStore

    bus_a = DurableEventSrv(str(tmp_path / "bus"))
    local = []
    bus_a.subscribe("store:t", local.append)
    store = LabelStore(str(tmp_path / "s"), event_srv=bus_a)
    store.write("t", spark.createDataFrame([(1,)], "k long"))
    store.write("t", spark.createDataFrame([(1,), (2,)], "k long"), meta={"who": "job2"})
    assert [m["version"] for m in local] == [1, 2]  # in-process tier intact

    bus_b = DurableEventSrv(str(tmp_path / "bus"))  # separate instance, same root
    got = bus_b.poll("store:t", consumer="downstream")
    assert [m["version"] for m in got] == [1, 2]
    assert got[1]["meta"] == {"who": "job2"}
    assert bus_b.poll("store:t", consumer="downstream") == []  # offset advanced
    # an independent consumer starts from the beginning
    assert len(bus_b.poll("store:t", consumer="monitor")) == 2
    # new commits arrive on the next poll
    store.write("t", spark.createDataFrame([(3,)], "k long"))
    assert [m["version"] for m in bus_b.poll("store:t", consumer="downstream")] == [3]
    # max_events bounds a drain
    assert len(bus_b.poll("store:t", consumer="bounded", max_events=2)) == 2
    assert len(bus_b.poll("store:t", consumer="bounded")) == 1


def test_durable_eventsrv_at_least_once_redelivery(tmp_path):
    """At-least-once: the offset commits AFTER processing (next poll or
    explicit ack), so a consumer that crashes between poll and
    processing sees the batch again on restart — polling must not be
    the commit."""
    from scalligraph_spark.eventsrv import DurableEventSrv

    root = str(tmp_path / "bus")
    bus = DurableEventSrv(root)
    bus.publish("jobs", {"n": 1})
    bus.publish("jobs", {"n": 2})

    # crash-after-poll: batch polled but never processed (no ack, no
    # second poll) — a fresh instance (restart) must redeliver it
    assert [m["n"] for m in bus.poll("jobs", consumer="c")] == [1, 2]
    restarted = DurableEventSrv(root)
    assert [m["n"] for m in restarted.poll("jobs", consumer="c")] == [1, 2]

    # explicit ack commits: a later restart does NOT redeliver
    restarted.ack("jobs", consumer="c")
    assert DurableEventSrv(root).poll("jobs", consumer="c") == []

    # implicit ack on next poll from the same instance: sequential
    # drain loop sees each event exactly once
    bus2 = DurableEventSrv(root)
    bus2.publish("jobs", {"n": 3})
    assert [m["n"] for m in bus2.poll("jobs", consumer="c")] == [3]
    bus2.publish("jobs", {"n": 4})
    assert [m["n"] for m in bus2.poll("jobs", consumer="c")] == [4]
    # ...but the LAST batch before a crash (never acked) redelivers
    assert [m["n"] for m in DurableEventSrv(root).poll("jobs", consumer="c")] == [4]


def test_snapshot_commit_conflict_detected(spark, tmp_path):
    """Two committers racing from the same base manifest: the second
    raises instead of clobbering the first's manifest or resurrecting
    stale carried-forward versions."""
    from scalligraph_spark.store import LabelStore, SnapshotConflictError, SnapshotStore

    snap = SnapshotStore(LabelStore(str(tmp_path / "ss")))
    df1 = spark.createDataFrame([(1,)], "k long")
    snap.commit({"a": df1, "b": df1})

    # simulate the race: both writers read base s1; writer X lands s2
    snap2 = SnapshotStore(LabelStore(str(tmp_path / "ss")))
    import scalligraph_spark.store as st

    orig_current = snap.current_id
    base_seen = snap.current_id()  # = 1
    snap2.commit({"a": spark.createDataFrame([(2,)], "k long")})  # X lands s2
    # writer Y still believes base is 1 -> claims s2 -> conflict
    snap.current_id = lambda: base_seen
    try:
        import pytest as _pytest

        with _pytest.raises(SnapshotConflictError, match="s2 already committed"):
            snap.commit({"b": spark.createDataFrame([(9,)], "k long")})
    finally:
        snap.current_id = orig_current
    # X's snapshot intact; retry from the fresh manifest succeeds as s3
    assert snap.read(spark, "a").collect()[0].k == 2
    sid = snap.commit({"b": spark.createDataFrame([(9,)], "k long")})
    assert sid == 3
    assert snap.read(spark, "a", 3).collect()[0].k == 2  # carry-forward is FRESH
    assert snap.read(spark, "b", 3).collect()[0].k == 9


def test_durable_eventsrv_topic_is_streaming_source(spark, tmp_path):
    """The docstring's Spark-native tail: a topic log drains through
    Structured Streaming as a json source — commit notifications become
    a stream without a broker."""
    from scalligraph_spark.eventsrv import DurableEventSrv
    from scalligraph_spark.store import LabelStore
    from scalligraph_spark.streaming import run_available_now

    bus = DurableEventSrv(str(tmp_path / "bus"))
    store = LabelStore(str(tmp_path / "s"), event_srv=bus)
    for i in range(3):
        store.write("t", spark.createDataFrame([(i,)], "k long"))

    topic_dir = bus._topic_dir("store:t")
    stream = (
        spark.readStream.schema(
            "topic string, message struct<label string, version long, meta map<string,string>>"
        )
        .json(topic_dir)
    )
    got = run_available_now(
        stream.selectExpr("message.label AS label", "message.version AS version"),
        query_name="bus_tail",
        output_mode="append",
    )
    assert sorted((r.label, r.version) for r in got.collect()) == [("t", 1), ("t", 2), ("t", 3)]



def test_merge_on_read_deltas_resolve_and_compact(spark, tmp_path):
    """write_delta/read_merged/compact_mor: churn-sized change batches
    against an unrewritten base — later batches supersede earlier ones
    per key, deletes drop keys, untouched rows pass through, and
    compaction folds everything into a plain base version with
    identical content."""
    from scalligraph_spark.operators import segments
    from scalligraph_spark.store import LabelStore

    store = LabelStore(str(tmp_path / "mor"))
    base = spark.createDataFrame(
        [(i, f"v{i}", 10 * i) for i in range(1, 6)], "id long, v string, n long"
    )
    store.write("t", base)

    d1 = spark.createDataFrame(
        [(2, "v2-updated", 200, "upsert"), (3, None, None, "delete"),
         (9, "v9-new", 900, "upsert")],
        "id long, v string, n long, _op string",
    )
    assert store.write_delta(spark, "t", d1, ["id"]) == 1
    d2 = spark.createDataFrame(
        [(2, "v2-final", 222, "upsert"), (9, None, None, "delete")],
        "id long, v string, n long, _op string",
    )
    assert store.write_delta(spark, "t", d2, ["id"]) == 2

    expect = {1: ("v1", 10), 2: ("v2-final", 222), 4: ("v4", 40), 5: ("v5", 50)}
    got = {r["id"]: (r["v"], r["n"]) for r in store.read_merged(spark, "t").collect()}
    assert got == expect  # 3 deleted, 2 superseded twice, 9 added-then-deleted

    # the base was never rewritten; plain read still sees version 1
    assert store.version("t") == 1
    assert store.read(spark, "t").count() == 5

    v = store.compact_mor(spark, "t")
    assert v == 2
    got2 = {r["id"]: (r["v"], r["n"]) for r in store.read(spark, "t").collect()}
    assert got2 == expect
    # deltas folded: the carrier lists none, merged ≡ plain read
    meta = segments.read_meta(store, "t")
    assert meta["segments"] == [] and meta["tombstones"] == []
    got3 = {r["id"]: (r["v"], r["n"]) for r in store.read_merged(spark, "t").collect()}
    assert got3 == expect


def test_merge_on_read_guards(spark, tmp_path):
    from scalligraph_spark.store import LabelStore

    store = LabelStore(str(tmp_path / "morg"))
    store.write("t", spark.createDataFrame([(1, "a")], "id long, v string"))
    with pytest.raises(ValueError, match="must be 'upsert' or 'delete'"):
        store.write_delta(
            spark, "t",
            spark.createDataFrame([(1, "a", "replace")], "id long, v string, _op string"),
            ["id"],
        )
    store.write_delta(
        spark, "t",
        spark.createDataFrame([(1, "b", "upsert")], "id long, v string, _op string"),
        ["id"],
    )
    with pytest.raises(ValueError, match="keyed on"):
        store.write_delta(
            spark, "t",
            spark.createDataFrame([(1, "c", "upsert")], "id long, v string, _op string"),
            ["v"],
        )
    with pytest.raises(ValueError, match="exactly one key column"):
        store.write_delta(
            spark, "t",
            spark.createDataFrame([(1, "c", "upsert")], "id long, v string, _op string"),
            ["id", "v"],
        )


def test_merge_on_read_plan_broadcasts_touched_keys(spark, tmp_path):
    """The merged-read plan must anti-join the base against a BROADCAST
    touched-key set — the base is never shuffled for churn-sized deltas."""
    import contextlib
    import io

    from scalligraph_spark.store import LabelStore

    store = LabelStore(str(tmp_path / "morp"))
    store.write("t", spark.range(0, 1000).selectExpr("id", "cast(id as string) as v"))
    store.write_delta(
        spark, "t",
        spark.createDataFrame([(5, "x", "upsert")], "id long, v string, _op string"),
        ["id"],
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        store.read_merged(spark, "t").explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_merge_on_read_concurrent_delta_writers_all_land(spark, tmp_path):
    """Racing delta writers all land: each claims labels nothing has
    written, and a batch that loses the carrier commit runs again — no
    batch shadows another, none raises."""
    import threading

    from scalligraph_spark.operators import segments
    from scalligraph_spark.store import LabelStore

    store = LabelStore(str(tmp_path / "morc"))
    store.write("t", spark.createDataFrame([(0, "base")], "id long, v string"))
    errors = []

    def writer(i):
        try:
            d = spark.createDataFrame([(100 + i, f"w{i}", "upsert")], "id long, v string, _op string")
            store.write_delta(spark, "t", d, ["id"])
        except Exception as e:  # pragma: no cover - failure path
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    got = {r["id"]: r["v"] for r in store.read_merged(spark, "t").collect()}
    assert got == {0: "base", **{100 + i: f"w{i}" for i in range(6)}}  # all six landed
    # six batches listed, each label written once
    meta = segments.read_meta(store, "t")
    assert len(meta["tombstones"]) == len(meta["segments"]) == 6
    assert all(store.history(lbl) == [1] for lbl in meta["tombstones"] + meta["segments"])


def test_merged_store_vertex_sees_deltas_in_traversals(spark, tmp_path):
    """add_store_vertex(merged=True): outstanding MOR deltas resolve
    into the traversal scan — updates reach queries without a base
    rewrite."""
    from scalligraph_spark.catalog import GraphCatalog
    from scalligraph_spark.store import LabelStore

    store = LabelStore(str(tmp_path / "morv"))
    store.write(
        "person",
        spark.createDataFrame([(1, "marko", 29), (2, "vadas", 27)], "pid long, name string, age long"),
    )
    store.write_delta(
        spark, "person",
        spark.createDataFrame(
            [(1, "marko", 30, "upsert"), (2, None, None, "delete"), (3, "josh", 32, "upsert")],
            "pid long, name string, age long, _op string",
        ),
        ["pid"],
    )
    cat = GraphCatalog(spark)
    cat.add_store_vertex(store, "person", "pid", merged=True)
    got = {r["name"]: r["age"] for r in cat.V("person").df.collect()}
    assert got == {"marko": 30, "josh": 32}  # upsert applied, delete gone
    # plain registration still reads the unrewritten base
    cat2 = GraphCatalog(spark)
    cat2.add_store_vertex(store, "person", "pid")
    assert cat2.V("person").df.count() == 2


def test_vacuum_mor_reclaims_only_folded_slots(spark, tmp_path):
    from scalligraph_spark.operators.tombstones import tombstone_label
    from scalligraph_spark.store import LabelStore

    store = LabelStore(str(tmp_path / "morvac"))
    store.write("t", spark.createDataFrame([(1, "a")], "id long, v string"))
    for i in range(3):
        store.write_delta(
            spark, "t",
            spark.createDataFrame([(10 + i, f"d{i}", "upsert")], "id long, v string, _op string"),
            ["id"],
        )
    store.compact_mor(spark, "t")
    store.write_delta(  # a post-compaction outstanding slot
        spark, "t",
        spark.createDataFrame([(99, "live", "upsert")], "id long, v string, _op string"),
        ["id"],
    )
    # each batch is a tombstone segment (odd seq) plus an upsert segment
    folded = [f"t__seg{k}" for k in (2, 4, 6)] + [tombstone_label("t", k) for k in (1, 3, 5)]
    assert store.vacuum_mor("t") == folded
    assert store.version("t__seg8") == store.version(tombstone_label("t", 7)) == 1  # outstanding
    got = {r["id"] for r in store.read_merged(spark, "t").collect()}
    assert got == {1, 10, 11, 12, 99}


def test_store_report_metadata_only_health(spark, tmp_path):
    import os

    from scalligraph_spark.store import LabelStore, store_report

    store = LabelStore(str(tmp_path / "rep"))
    store.write("person", spark.createDataFrame([(1, "a")], "id long, v string"))
    store.write("person", spark.createDataFrame([(1, "b")], "id long, v string"))
    store.write("orders", spark.createDataFrame([(1,)], "id long"))
    store.write_delta(
        spark, "orders",
        spark.createDataFrame([(2, "upsert")], "id long, _op string"), ["id"],
    )
    os.mkdir(os.path.join(store.root, "person", ".staging-orphan"))

    rep = {r["label"]: r for r in store_report(spark, store).collect()}
    assert set(rep) == {"person", "orders"}  # __-derived labels folded away
    assert rep["person"]["version"] == 2 and rep["person"]["retained_versions"] == 2
    assert rep["person"]["staging_orphans"] == 1
    assert rep["orders"]["delta_backlog"] == 1
    assert rep["person"]["data_files"] >= 1 and rep["person"]["data_bytes"] > 0
    # retention signal: freshly-committed labels report a near-zero age
    assert 0 <= rep["person"]["commit_age_seconds"] < 300


def test_fixture_work_copy_isolates_mutations(spark, store):
    """The bench fixture discipline (VERDICT r13 #1): a hardlink work copy
    lets a MUTATING timed region (catch-up, compaction, vacuum) run
    repeatedly against identical bytes — new versions land only in the
    copy, JSON metadata rewrites only touch the copy's real-copied files,
    and vacuum in the copy unlinks without harming the pristine data."""
    import json
    import os

    from scalligraph_spark.suite import _fixture_work_copy

    store.write("t", spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    pristine_files = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(store.root)
        for f in fs
    )
    pristine_bytes = {p: open(p, "rb").read() for p in pristine_files}

    work = _fixture_work_copy(store)
    assert work.root == store.root.rstrip("/") + ".work"
    # parquet data files are hardlinks (no data copy); metadata is real
    for p in pristine_files:
        rel = os.path.relpath(p, store.root)
        wp = os.path.join(work.root, rel)
        if p.endswith(".parquet"):
            assert os.path.samefile(p, wp), "data files must hardlink"
        else:
            assert not os.path.samefile(p, wp), "metadata must copy for real"
    # mutate the copy: new version, in-place stamp rewrite, vacuum
    work.write("t", spark.createDataFrame([(1, "a")], "k long, v string"))
    cp = os.path.join(work.path("t", 1), "_commit.json")
    with open(cp) as fh:
        m = json.load(fh)
    m["_committed_at"] = 1.0
    with open(cp, "w") as fh:
        json.dump(m, fh)
    work.vacuum("t", retention_seconds=0.0)
    # the pristine fixture is byte-identical to before
    assert sorted(
        os.path.join(dp, f) for dp, _, fs in os.walk(store.root) for f in fs
    ) == pristine_files
    for p, b in pristine_bytes.items():
        assert open(p, "rb").read() == b, f"pristine bytes changed: {p}"
    assert store.version("t") == 1
    # and a SECOND work copy starts from the pristine state again
    work2 = _fixture_work_copy(store)
    assert work2.version("t") == 1
    assert work2.read(spark, "t").count() == 2

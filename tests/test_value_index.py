"""Composite value-index lifecycle: lookup parity with the scan path,
In(value,…)/range pushdown into the sorted entries scan, unique-hint
enforcement at build AND extend, delta-segment maintenance ≡ rebuild,
corpus-drift staleness, compaction stability."""

from __future__ import annotations

import contextlib
import io
import warnings

import pytest
from pyspark.sql import functions as F

from scalligraph_spark.operators import (
    StaleValueIndexWarning,
    UniqueIndexViolation,
    build_value_index,
    compact_value_index,
    extend_value_index,
    index_value_filter,
    load_value_index,
    lookup_ids,
    lookup_range,
    reindex_values,
)
from scalligraph_spark.store import LabelStore


def _corpus(spark):
    rows = [
        (0, "alice", 10),
        (1, "bob", 20),
        (2, "carol", 30),
        (3, "dave", 40),
        (4, None, 50),  # null value: must not be indexed
        (5, "erin", 60),
    ]
    return spark.createDataFrame(rows, "uid long, uname string, score int")


@pytest.fixture()
def store(tmp_path):
    return LabelStore(str(tmp_path / "valix"))


def test_lookup_parity_with_scan_filter(spark, store):
    df = _corpus(spark)
    build_value_index(spark, store, "by_name", df, "uname", "uid")
    ix = load_value_index(spark, store, "by_name")
    got = sorted(r["uid"] for r in index_value_filter(ix, df, values=["bob", "erin", "ghost"]).collect())
    want = sorted(r["uid"] for r in df.where(F.col("uname").isin("bob", "erin", "ghost")).collect())
    assert got == want == [1, 5]
    # full row payload comes back, not just ids
    assert set(index_value_filter(ix, df, values=["bob"]).columns) == {"uid", "uname", "score"}


def test_nulls_not_indexed(spark, store):
    build_value_index(spark, store, "by_name", _corpus(spark), "uname", "uid")
    ix = load_value_index(spark, store, "by_name")
    assert ix.entries.count() == 5  # uid=4 has a null name
    assert ix.entries.where(F.col("id") == 4).count() == 0


def test_in_filter_pushed_to_entries_scan(spark, store):
    build_value_index(spark, store, "by_name", _corpus(spark), "uname", "uid")
    ix = load_value_index(spark, store, "by_name")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        lookup_ids(ix, ["alice", "bob"]).explain("formatted")
    plan = buf.getvalue()
    assert "In(value, [alice,bob])" in plan  # pushed, not post-scan filtered


def test_range_lookup_parity_and_pushdown(spark, store):
    df = _corpus(spark)
    build_value_index(spark, store, "by_score", df, "score", "uid")
    ix = load_value_index(spark, store, "by_score")
    got = sorted(r["uid"] for r in index_value_filter(ix, df, lo=20, hi=40).collect())
    want = sorted(r["uid"] for r in df.where(F.col("score").between(20, 40)).collect())
    assert got == want == [1, 2, 3]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        lookup_range(ix, lo=20, hi=40).explain("formatted")
    plan = buf.getvalue()
    assert "GreaterThanOrEqual(value,20)" in plan and "LessThanOrEqual(value,40)" in plan
    with pytest.raises(ValueError, match="lo/hi"):
        lookup_range(ix)


def test_unique_build_rejects_duplicate_values(spark, store):
    df = _corpus(spark).withColumn("uname", F.when(F.col("uid") == 1, "alice").otherwise(F.col("uname")))
    with pytest.raises(UniqueIndexViolation) as ei:
        build_value_index(spark, store, "by_name", df, "uname", "uid", unique=True)
    assert ei.value.samples == ["alice"]
    # non-unique build of the same data is fine
    build_value_index(spark, store, "by_name_nu", df, "uname", "uid")


def test_unique_extend_rejects_batch_and_cross_clashes(spark, store):
    df = _corpus(spark)
    build_value_index(spark, store, "by_name", df, "uname", "uid", unique=True)
    # batch-internal duplicate
    bad_batch = spark.createDataFrame([(10, "zoe", 1), (11, "zoe", 2)], "uid long, uname string, score int")
    with pytest.raises(UniqueIndexViolation, match="the batch"):
        extend_value_index(spark, store, "by_name", bad_batch)
    # clash against already-indexed values
    clash = spark.createDataFrame([(12, "alice", 3)], "uid long, uname string, score int")
    with pytest.raises(UniqueIndexViolation, match="already-indexed"):
        extend_value_index(spark, store, "by_name", clash)
    # clean batch lands
    ok = spark.createDataFrame([(13, "zoe", 4)], "uid long, uname string, score int")
    assert extend_value_index(spark, store, "by_name", ok) == 1


def test_extend_equals_rebuild_and_segments_pruned(spark, store):
    df = _corpus(spark)
    build_value_index(spark, store, "by_name", df, "uname", "uid")
    b1 = spark.createDataFrame([(10, "zoe", 1)], "uid long, uname string, score int")
    b2 = spark.createDataFrame([(11, "yann", 2)], "uid long, uname string, score int")
    assert extend_value_index(spark, store, "by_name", b1) == 1
    assert extend_value_index(spark, store, "by_name", b2) == 2
    full = df.unionByName(b1).unionByName(b2)
    ix = load_value_index(spark, store, "by_name")
    got = sorted(tuple(r) for r in lookup_ids(ix, ["zoe", "alice", "yann"]).collect())
    want = sorted(
        (r["uname"], r["uid"])
        for r in full.where(F.col("uname").isin("zoe", "alice", "yann")).collect()
    )
    assert got == want
    assert int(ix.meta["n_rows"]) == 7
    # the manifests prune NON-MATCHING PARTS ENTIRELY: "zoe" lives only in
    # segment 1, so the base and segment-2 scans collapse out of the union
    # (their pruned file lists are empty) and the pushed filter reaches
    # the one surviving scan — stronger than the old pin, which asserted
    # the filter reached all three scans that file pruning now removes
    probe = lookup_ids(ix, ["zoe"])
    assert len(probe.inputFiles()) == 1
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probe.explain("formatted")
    assert buf.getvalue().count("EqualTo(value,zoe)") == 1
    # a probe spanning all parts still reaches every scan with the filter
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        lookup_ids(ix, ["zoe", "alice", "yann"]).explain("formatted")
    assert buf.getvalue().count("In(value, [alice,yann,zoe])") == 3


def test_compaction_answer_identical(spark, store):
    df = _corpus(spark)
    build_value_index(spark, store, "by_name", df, "uname", "uid")
    extend_value_index(spark, store, "by_name", spark.createDataFrame([(10, "zoe", 1)], "uid long, uname string, score int"))
    before = sorted(tuple(r) for r in load_value_index(spark, store, "by_name").entries.collect())
    compact_value_index(spark, store, "by_name")
    ix = load_value_index(spark, store, "by_name")
    assert ix.meta["segments"] == []
    after = sorted(tuple(r) for r in ix.entries.collect())
    assert before == after


def test_staleness_warns_then_clears_on_extend_and_reindex(spark, store):
    corpus = LabelStore(store.root + "_corpus")
    df = _corpus(spark)
    corpus.write("users", df)
    build_value_index(spark, store, "by_name", df, "uname", "uid", corpus_store=corpus, corpus_label="users")
    batch = spark.createDataFrame([(10, "zoe", 1)], "uid long, uname string, score int")
    corpus.write("users", df.unionByName(batch))
    with pytest.warns(StaleValueIndexWarning):
        load_value_index(spark, store, "by_name", corpus_store=corpus)
    extend_value_index(spark, store, "by_name", batch, corpus_store=corpus)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        ix = load_value_index(spark, store, "by_name", corpus_store=corpus)
    assert ix.entries.count() == 6
    # drift again, then reindex from the meta-recorded corpus
    corpus.write("users", df)
    with pytest.warns(StaleValueIndexWarning):
        load_value_index(spark, store, "by_name", corpus_store=corpus)
    reindex_values(spark, store, "by_name", corpus)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        ix = load_value_index(spark, store, "by_name", corpus_store=corpus)
    assert ix.entries.count() == 5 and ix.meta["segments"] == []


def test_missing_index_raises_filenotfound(spark, store):
    with pytest.raises(FileNotFoundError, match="nope"):
        load_value_index(spark, store, "nope")


def test_pruned_probe_equals_entries_filter_under_tombstones(spark, store):
    """The manifest-pruned probe is EXACTLY entries.where(pred): value
    pruning and tombstone id-hiding both only drop rows, so the order
    commutes — pinned here with a deleted id, an updated value, a range
    probe, and the provenance-less fallback path."""
    from scalligraph_spark.operators import segments
    from scalligraph_spark.operators.value_index import FAMILY

    df = _corpus(spark)
    build_value_index(spark, store, "by_name", df, "uname", "uid")
    extend_value_index(
        spark,
        store,
        "by_name",
        spark.createDataFrame([(10, "zoe", 1)], "uid long, uname string, score int"),
    )
    # tombstone one base id (delete) — the probe must not resurrect it
    segments.tombstone(spark, store, FAMILY, "by_name", spark.createDataFrame([(1,)], "id long"))

    ix = load_value_index(spark, store, "by_name")
    ent = sorted(tuple(r) for r in ix.entries.collect())
    for probe in (
        lookup_ids(ix, ["zoe", "alice"]),
        lookup_range(ix, lo="y"),
        lookup_range(ix, lo="a", hi="c"),
    ):
        got = sorted(tuple(r) for r in probe.collect())
        assert all(g in ent for g in got)
    assert sorted(tuple(r) for r in lookup_range(ix, lo="a", hi="zz").collect()) == ent
    # deleted id 1 ("bob") gone from a probe that targets its value
    assert lookup_ids(ix, ["bob"]).count() == 0
    assert 1 not in {r["id"] for r in ix.entries.collect()}
    # provenance-less fallback (hand-built ValueIndex) gives identical rows
    from scalligraph_spark.operators.value_index import ValueIndex

    bare = ValueIndex(version=ix.version, meta=dict(ix.meta), entries=ix.entries)
    assert sorted(tuple(r) for r in lookup_ids(bare, ["zoe", "alice"]).collect()) == sorted(
        tuple(r) for r in lookup_ids(ix, ["zoe", "alice"]).collect()
    )
    assert sorted(tuple(r) for r in lookup_range(bare, lo="y").collect()) == sorted(
        tuple(r) for r in lookup_range(ix, lo="y").collect()
    )


def test_range_probe_prunes_files(spark, store):
    """A narrow range over the value-sorted base touches a strict subset
    of the index's files (manifest file pruning on top of row groups)."""
    big = spark.range(0, 4000).selectExpr(
        "id as uid", "concat('u', lpad(cast(id as string), 6, '0')) as uname", "1 as score"
    )
    build_value_index(spark, store, "by_name", big, "uname", "uid", sort_files=8)
    ix = load_value_index(spark, store, "by_name")
    total = len(ix.entries.inputFiles())
    probe = lookup_range(ix, lo="u000100", hi="u000200")
    assert 0 < len(probe.inputFiles()) < total
    assert probe.count() == 101

def test_loaded_index_is_pinned_snapshot(spark, store):
    """A loaded index is a PINNED snapshot: tombstones, extends,
    compactions and delta segments landing AFTER load() never change
    probe results — probes replay the load-time versions (ADVICE r11:
    the per-probe plan rebuild used to re-resolve CURRENT state, so a
    post-load tombstone silently dropped rows and a racing compaction
    could duplicate (value, id) entries)."""
    from scalligraph_spark.operators import segments
    from scalligraph_spark.operators.value_index import FAMILY

    df = _corpus(spark)
    build_value_index(spark, store, "by_name", df, "uname", "uid")
    extend_value_index(
        spark, store, "by_name",
        spark.createDataFrame([(10, "zoe", 1)], "uid long, uname string, score int"),
    )
    ix = load_value_index(spark, store, "by_name")
    before_probe = sorted(tuple(r) for r in lookup_ids(ix, ["bob", "zoe"]).collect())
    before_range = sorted(tuple(r) for r in lookup_range(ix, lo="a", hi="zz").collect())
    assert ("bob", 1) in before_probe and ("zoe", 10) in before_probe

    # post-load mutations: tombstone bob (consuming the next seq, the
    # catchup discipline), then compact everything into a new base
    segments.tombstone(spark, store, FAMILY, "by_name", spark.createDataFrame([(1,)], "id long"))
    compact_value_index(spark, store, "by_name")

    # the pinned probe still sees bob AND never duplicates zoe (whose
    # segment was just folded into the new base's copy)
    assert sorted(tuple(r) for r in lookup_ids(ix, ["bob", "zoe"]).collect()) == before_probe
    assert sorted(tuple(r) for r in lookup_range(ix, lo="a", hi="zz").collect()) == before_range
    # probe ≡ entries.where(pred) — the docstring's contract, structurally
    ent = sorted(tuple(r) for r in ix.entries.collect())
    assert sorted(tuple(r) for r in lookup_range(ix, lo="a", hi="zz").collect()) == ent

    # a FRESH load sees the post-mutation truth: bob gone, zoe once
    fresh = load_value_index(spark, store, "by_name")
    assert lookup_ids(fresh, ["bob"]).count() == 0
    assert [tuple(r) for r in lookup_ids(fresh, ["zoe"]).collect()] == [("zoe", 10)]

"""File-level data skipping + timestamp time travel (store.py).

The reference's JanusGraph backend leans on its mixed/composite indexes
for selective reads (JanusDatabase.scala:304-434); the batch-engine
analog for the SCAN side is Delta-style data skipping: a commit-time
per-file min/max manifest lets the driver hand Spark only candidate
files.  Correctness contract under test: ``read_skipping`` ≡
``read().where(pred)`` in every case (manifest present / missing /
type-mismatched), with the file count actually shrinking when the
layout clusters the predicate columns.
"""

import datetime
import json
import os
import time
import warnings

import pytest
from pyspark.sql import functions as F

from scalligraph_spark.store import (
    LabelStore,
    _file_may_match,
    _footer_manifest,
)


@pytest.fixture()
def store(tmp_path):
    return LabelStore(str(tmp_path / "store"))


def _frame(spark, n=8000):
    return spark.range(0, n).select(
        F.col("id"),
        F.date_add(F.lit("2020-01-01").cast("date"), (F.col("id") / 10).cast("int")).alias("d"),
        F.concat(F.lit("u"), F.lpad(F.col("id").cast("string"), 6, "0")).alias("name"),
        (F.col("id") * 1.5).alias("price"),
        F.when(F.col("id") % 3 == 0, None).otherwise(F.col("id") % 7).alias("mod7"),
    )


def _same(a, b):
    sa = sorted(map(tuple, a.collect()))
    sb = sorted(map(tuple, b.collect()))
    assert sa == sb


def test_write_time_manifest_prunes_files(spark, store):
    df = _frame(spark)
    store.write("t", df, sort_by=(8, ["id"]), stats_cols=["id", "d", "name", "price"])
    man = store.file_manifest("t")
    assert len(man["files"]) == 8 and man["columns"] == ["id", "d", "name", "price"]
    r = store.read_skipping(spark, "t", [("id", ">=", 7000), ("id", "<", 7100)])
    assert len(r.inputFiles()) < len(man["files"])
    _same(r, df.where((F.col("id") >= 7000) & (F.col("id") < 7100)))


def test_skipping_ops_match_plain_filter(spark, store):
    df = _frame(spark)
    store.write("t", df, sort_by=(8, ["id"]), stats_cols=["id", "d", "name", "price"])
    cases = [
        ([("name", "=", "u001234")], F.col("name") == "u001234"),
        ([("name", "in", ["u000001", "u007999", "zzz"])], F.col("name").isin(["u000001", "u007999", "zzz"])),
        ([("price", "<=", 30.0)], F.col("price") <= 30.0),
        ([("d", ">", datetime.date(2022, 2, 28))], F.col("d") > F.lit("2022-02-28")),
        (
            [("d", ">=", datetime.date(2021, 1, 1)), ("d", "<=", datetime.date(2021, 1, 5))],
            (F.col("d") >= F.lit("2021-01-01")) & (F.col("d") <= F.lit("2021-01-05")),
        ),
    ]
    for preds, col in cases:
        _same(store.read_skipping(spark, "t", preds), df.where(col))


def test_empty_prune_is_scanless(spark, store):
    df = _frame(spark)
    store.write("t", df, sort_by=(4, ["id"]), stats_cols=["id"])
    r = store.read_skipping(spark, "t", [("id", "=", 10**9)])
    assert r.count() == 0 and r.inputFiles() == []
    # Catalyst folds the provably-false filter into an empty LocalRelation
    assert "LocalTableScan" in r._jdf.queryExecution().executedPlan().toString()


def test_no_manifest_falls_back_to_full_scan(spark, store):
    df = _frame(spark)
    store.write("t", df)  # no stats_cols
    assert store.file_manifest("t") is None
    r = store.read_skipping(spark, "t", [("id", "<", 100)])
    _same(r, df.where(F.col("id") < 100))


def test_backfill_collect_file_stats(spark, store):
    df = _frame(spark)
    store.write("t", df, sort_by=(6, ["name"]))
    assert store.file_manifest("t") is None
    n = store.collect_file_stats(spark, "t", ["name"])
    assert n == len(store.file_manifest("t")["files"]) > 1
    r = store.read_skipping(spark, "t", [("name", "=", "u000500")])
    assert len(r.inputFiles()) < n
    _same(r, df.where(F.col("name") == "u000500"))


def test_hive_partition_pruning_numeric(spark, store):
    df = _frame(spark).withColumn("g", (F.col("id") % 5).cast("int"))
    store.write("p", df, partition_by=["g"], stats_cols=["g", "id"])
    full = store.read(spark, "p")
    r = store.read_skipping(spark, "p", [("g", "=", 3)])
    assert 0 < len(r.inputFiles()) < len(full.inputFiles())
    _same(r, full.where(F.col("g") == 3))
    # numeric compare, not string compare: g >= 2 must keep g=10? no such
    # dir here, but "10" < "9" lexically is the classic trap — prove the
    # range op keeps exactly the matching dirs
    r2 = store.read_skipping(spark, "p", [("g", ">=", 2)])
    _same(r2, full.where(F.col("g") >= 2))


def test_hive_null_partition_pruned(spark, store):
    df = spark.range(0, 100).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, F.col("id") % 3).otherwise(None).cast("int").alias("g"),
    )
    store.write("p", df, partition_by=["g"], stats_cols=["g"])
    full = store.read(spark, "p")
    r = store.read_skipping(spark, "p", [("g", "=", 1)])
    _same(r, full.where(F.col("g") == 1))
    # the __HIVE_DEFAULT_PARTITION__ dir is provably non-matching
    assert not any("HIVE_DEFAULT" in f for f in r.inputFiles())


def test_all_null_and_null_predicates(spark, store):
    df = _frame(spark, 2000)
    store.write("t", df, sort_by=(4, ["id"]), stats_cols=["mod7"])
    # col = NULL matches nothing in SQL; empty in-list likewise
    assert store.read_skipping(spark, "t", [("mod7", "=", None)]).count() == 0
    assert store.read_skipping(spark, "t", [("mod7", "in", [None])]).count() == 0
    # in-list with nulls: nulls ignored, values honored
    full = store.read(spark, "t")
    _same(
        store.read_skipping(spark, "t", [("mod7", "in", [None, 2])]),
        full.where(F.col("mod7") == 2),
    )


def test_type_mismatch_keeps_files_and_stays_exact(spark, store):
    df = _frame(spark, 2000)
    store.write("t", df, sort_by=(4, ["id"]), stats_cols=["id", "name"])
    # string predicate against a numeric column: incomparable stats must
    # KEEP files (no wrong pruning); the residual filter yields Spark's
    # own cast semantics — identical to a plain filtered read
    r = store.read_skipping(spark, "t", [("id", "=", "150")])
    _same(r, store.read(spark, "t").where(F.col("id") == F.lit("150")))


def test_predicate_validation(spark, store):
    store.write("t", _frame(spark, 100), stats_cols=["id"])
    with pytest.raises(ValueError):
        store.read_skipping(spark, "t", [])
    with pytest.raises(ValueError):
        store.read_skipping(spark, "t", [("id", "!=", 3)])
    with pytest.raises(ValueError):
        store.read_skipping(spark, "t", [("id", "in", 3)])
    with pytest.raises(ValueError):
        store.read_skipping(spark, "t", [("id", 3)])


def test_may_match_unit_semantics():
    e = {"path": "f", "rows": 10, "cols": {"a": {"t": "num", "mn": "5", "mx": "9", "nulls": 0}}}
    tz = "UTC"
    assert _file_may_match(e, "a", "=", 7, tz)
    assert not _file_may_match(e, "a", "=", 4, tz)
    assert not _file_may_match(e, "a", "<", 5, tz)
    assert _file_may_match(e, "a", "<=", 5, tz)
    assert not _file_may_match(e, "a", ">", 9, tz)
    assert _file_may_match(e, "a", ">=", 9, tz)
    assert _file_may_match(e, "a", "in", [1, 9], tz)
    assert not _file_may_match(e, "a", "in", [1, 4], tz)
    # unknown column / missing stats → keep
    assert _file_may_match(e, "zzz", "=", 1, tz)
    assert _file_may_match({"path": "f", "rows": 10, "cols": {}}, "a", "=", 1, tz)
    # all-null column → prune; empty file → prune
    en = {"path": "f", "rows": 10, "cols": {"a": {"t": "num", "mn": "5", "mx": "9", "nulls": 10}}}
    assert not _file_may_match(en, "a", "=", 7, tz)
    assert not _file_may_match({"path": "f", "rows": 0, "cols": {}}, "a", "=", 1, tz)


def test_manifest_carries_through_compaction_and_optimize(spark, store):
    """Maintenance rewrites must not silently disable skipping: compact()
    and optimize() re-collect stats for the inherited manifest columns
    over the NEW layout (the old per-file ranges describe dead files)."""
    df = _frame(spark, 4000)
    v1 = store.write("t", df.repartition(16), stats_cols=["id"])
    v2 = store.compact(spark, "t", target_file_bytes=1 << 30)
    assert v2 > v1
    m2 = store.file_manifest("t", v2)
    assert m2 is not None and m2["columns"] == ["id"]
    assert {e["path"] for e in m2["files"]} != {
        e["path"] for e in store.file_manifest("t", v1)["files"]
    }
    _same(
        store.read_skipping(spark, "t", [("id", "<", 50)], version=v2),
        df.where(F.col("id") < 50),
    )
    # OPTIMIZE ZORDER always manifests its clustering columns, widened by
    # the inherited set
    v3 = store.optimize(spark, "t", ["price"], n_files=4)
    m3 = store.file_manifest("t", v3)
    assert m3 is not None and sorted(m3["columns"]) == ["id", "price"]
    r = store.read_skipping(spark, "t", [("price", "<", 100.0)], version=v3)
    assert len(r.inputFiles()) < 4
    _same(r, df.where(F.col("price") < 100.0))
    # a no-stats label stays no-stats through compact (nothing to inherit)
    store.write("u", df.repartition(16))
    vu = store.compact(spark, "u", target_file_bytes=1 << 30)
    assert store.file_manifest("u", vu) is None


def test_manifest_carries_through_compact_mor(spark, store):
    df = _frame(spark, 2000)
    store.write("t", df, stats_cols=["id"])
    d = (
        df.where(F.col("id") % 10 == 0)
        .withColumn("price", F.col("price") + 1)
        .withColumn("_op", F.lit("upsert"))
    )
    store.write_delta(spark, "t", d, ["id"])
    store.compact_mor(spark, "t")
    m = store.file_manifest("t")
    assert m is not None and m["columns"] == ["id"]
    merged = store.read_merged(spark, "t")
    _same(
        store.read_skipping(spark, "t", [("id", "<", 100)]),
        merged.where(F.col("id") < 100),
    )


def test_read_merged_with_predicates_prunes_base(spark, store):
    """Selective MOR read: base files prune; delta resolution still sees
    every delta row per key (latest-wins decided BEFORE filtering); the
    result is exactly read_merged().where(pred) — including a row
    upserted INTO the range from outside it, one upserted OUT of it,
    and an in-range delete."""
    df = _frame(spark, 3000)
    store.write("t", df, sort_by=(6, ["id"]), stats_cols=["id"])
    d1 = (
        # id 2500 (outside [0,100)) rewritten INTO the range would break a
        # naive pre-filtered delta; here we move ids by price swaps only —
        # keys are immutable, VALUES change. Predicate on price instead:
        df.where(F.col("id").isin([10, 2500]))
        .withColumn("price", F.when(F.col("id") == 10, 1e9).otherwise(-1e9))
        .withColumn("_op", F.lit("upsert"))
    )
    store.write_delta(spark, "t", d1, ["id"])
    d2 = (
        df.where(F.col("id") == 20)
        .select("id", "d", "name", "price", "mod7")
        .withColumn("_op", F.lit("delete"))
    )
    store.write_delta(spark, "t", d2, ["id"])
    preds = [("price", ">=", 0.0), ("id", "<", 1000)]
    merged = store.read_merged(spark, "t")
    exp = merged.where((F.col("price") >= 0.0) & (F.col("id") < 1000))
    got = store.read_merged(spark, "t", predicates=preds)
    _same(got, exp)
    # id 10's new price (1e9) keeps it; id 2500 fails the id predicate;
    # id 20 is deleted — pin the interesting rows explicitly
    ids = {r["id"] for r in got.select("id").collect()}
    assert 10 in ids and 20 not in ids and 2500 not in ids
    # and the base actually pruned: only files overlapping id<1000 scanned
    assert len(store.read_skipping(spark, "t", preds).inputFiles()) < 6


def test_store_report_shows_skipping_cols(spark, store):
    from scalligraph_spark.store import store_report

    df = _frame(spark, 500)
    store.write("a", df, stats_cols=["id", "d"])
    store.write("b", df)
    rep = {r["label"]: r for r in store_report(spark, store).collect()}
    assert rep["a"]["skipping_cols"] == ["d", "id"]
    assert rep["b"]["skipping_cols"] == []


def test_timestamp_time_travel(spark, store):
    df = _frame(spark, 300)
    store.write("tt", df.where(F.col("id") < 100))
    store.write("tt", df.where(F.col("id") < 200))
    store.write("tt", df)
    now = time.time()
    for v, age in ((1, 300.0), (2, 200.0), (3, 100.0)):
        p = os.path.join(store.path("tt", v), "_commit.json")
        with open(p) as f:
            m = json.load(f)
        m["_committed_at"] = now - age
        with open(p, "w") as f:
            json.dump(m, f)
    assert store.version_at("tt", now - 250) == 1
    assert store.version_at("tt", now - 150) == 2
    assert store.version_at("tt", now) == 3
    assert store.read_as_of(spark, "tt", now - 150).count() == 200
    # exact boundary: a version is visible AT its own commit time
    assert store.version_at("tt", now - 200) == 2
    with pytest.raises(FileNotFoundError):
        store.version_at("tt", now - 301)


def test_time_travel_skips_aborted_claims(spark, store):
    df = _frame(spark, 50)
    store.write("tt", df)
    # simulate a legacy aborted claim above the pointer: published dir,
    # no _SUCCESS — vacuum's exemption rule, mirrored here
    bogus = store.path("tt", 7)
    os.makedirs(bogus)
    with open(os.path.join(bogus, "_commit.json"), "w") as f:
        json.dump({"_committed_at": 0.0}, f)
    assert store.version_at("tt", time.time()) == 1


SF = "/root/testdata/sf0.001"


def test_from_store_chain_prunes_and_time_travels(spark, store):
    """The fromStore init step: `where` routes through read_skipping
    (ISO strings coerced to the column domain) and `asOf` resolves a
    stamped version — composed under the chain grammar."""
    from scalligraph_spark.suite import executor_for

    df = _frame(spark, 3000)
    store.write("t", df.where(F.col("id") < 1000), sort_by=(4, ["d"]), stats_cols=["d"])
    store.write("t", df, sort_by=(6, ["d"]), stats_cols=["d"])
    now = time.time()
    for v, age in ((1, 500.0), (2, 100.0)):
        p = os.path.join(store.path("t", v), "_commit.json")
        with open(p) as f:
            m = json.load(f)
        m["_committed_at"] = now - age
        with open(p, "w") as f:
            json.dump(m, f)
    ex = executor_for(spark, SF, store_root=store.root)
    chain = [
        {
            "_name": "fromStore",
            "label": "t",
            "where": [["d", ">=", "2020-03-01"], ["d", "<", "2020-04-01"]],
        }
    ]
    t = ex.execute(chain)
    exp = df.where((F.col("d") >= F.lit("2020-03-01")) & (F.col("d") < F.lit("2020-04-01")))
    _same(t.df, exp)
    assert len(t.df.inputFiles()) < 6, "manifest must prune the current version's files"
    # asOf between the stamps resolves to v1 (ids < 1000 only)
    t_old = ex.execute([dict(chain[0], asOf=now - 300)])
    _same(t_old.df, exp.where(F.col("id") < 1000))
    # ISO-8601 asOf accepted too
    import datetime as dt

    iso = dt.datetime.fromtimestamp(now - 300, dt.timezone.utc).isoformat()
    _same(ex.execute([dict(chain[0], asOf=iso)]).df, exp.where(F.col("id") < 1000))


def test_from_store_requires_declared_root(spark):
    from scalligraph_spark.suite import executor_for

    ex = executor_for(spark, SF)
    with pytest.raises(ValueError, match="store_root"):
        ex.execute([{"_name": "fromStore", "label": "t"}])


def test_from_store_warns_without_manifest(spark, store):
    from scalligraph_spark.store import MissingFileStatsWarning
    from scalligraph_spark.suite import executor_for

    df = _frame(spark, 500)
    store.write("t", df)  # no stats_cols
    ex = executor_for(spark, SF, store_root=store.root)
    with pytest.warns(MissingFileStatsWarning):
        t = ex.execute(
            [{"_name": "fromStore", "label": "t", "where": [["id", "<", 100]]}]
        )
    _same(t.df, df.where(F.col("id") < 100))


def test_commit_keeps_the_file_stats_manifest(spark, store):
    """A ``WriteSession`` commit onto a label with a manifest re-collects
    the head's stats and bloom columns: reads still prune, and
    ``fromStore`` keeps its skipping path."""
    from scalligraph_spark.store import MissingFileStatsWarning
    from scalligraph_spark.suite import executor_for
    from scalligraph_spark.writes import WriteSession

    df = _frame(spark, 3000)
    store.write("t", df, sort_by=(6, ["id"]), stats_cols=["id", "d"], bloom_cols=["name"])
    ws = WriteSession(spark, store, "t", id_col="id")
    ws.remove(F.col("id") % 10 == 0)
    v = ws.commit()
    man = store.file_manifest("t", v)
    assert man is not None
    assert man["columns"] == ["id", "d"] and man["bloom_columns"] == ["name"]
    pruned = store.read_skipping(spark, "t", [("id", "<", 200)])
    assert len(pruned.inputFiles()) < len(man["files"])
    _same(pruned, df.where((F.col("id") < 200) & (F.col("id") % 10 != 0)))
    ex = executor_for(spark, SF, store_root=store.root)
    with warnings.catch_warnings():
        warnings.simplefilter("error", MissingFileStatsWarning)
        t = ex.execute([{"_name": "fromStore", "label": "t", "where": [["d", "<", "2020-01-11"]]}])
    _same(t.df, df.where((F.col("id") < 100) & (F.col("id") % 10 != 0)))
    # an explicit empty list still opts out
    store.write("t", df, stats_cols=[], bloom_cols=[])
    assert store.file_manifest("t") is None


def test_from_store_rows_are_policy_gated(spark, store):
    """A store read must never leak rows a row policy would hide from the
    live table — the traversal keeps its label, so registered policies
    apply (the atSnapshot discipline)."""
    from scalligraph_spark.suite import cat_for, executor_for

    cust = cat_for(spark, SF).vertex_df("customer")
    store.write("customer", cust, stats_cols=["c_nationkey"])
    ex = executor_for(spark, SF, with_row_policy=True, store_root=store.root)
    chain = [
        {"_name": "fromStore", "label": "customer", "where": [["c_acctbal", ">=", 0]]}
    ]
    assert ex.execute(chain, auth={}).df.count() == 0, "deny-by-default"
    granted = ex.execute(chain, auth={"nations": [2, 7]}).df
    exp = cust.where((F.col("c_acctbal") >= 0) & F.col("c_nationkey").isin([2, 7]))
    assert granted.count() == exp.count() > 0


def test_store_sink_threads_stats_cols(spark, store, tmp_path):
    """A streaming-maintained table stays prunable: every batch commit
    carries the manifest, no separate backfill pass."""
    from scalligraph_spark.streaming import start_store_sink

    df = _frame(spark, 400)
    src = tmp_path / "src"
    df.coalesce(1).write.parquet(str(src))
    raw = spark.readStream.schema(df.schema).parquet(str(src))
    start_store_sink(
        raw, store, "t", str(tmp_path / "ckpt"), stats_cols=["id"]
    ).awaitTermination()
    man = store.file_manifest("t")
    assert man is not None and man["columns"] == ["id"]
    _same(
        store.read_skipping(spark, "t", [("id", "<", 50)]),
        df.where(F.col("id") < 50),
    )


def test_model_layout_hints_drive_skipping(spark, store):
    """The IndexType docstring's promise made executable: declared lookup
    columns become the write layout, and read_skipping prunes on them."""
    from scalligraph_spark.model import EntityModel, IndexType

    m = EntityModel.vertex(
        "acct",
        {"acct_id": "long", "region": "string", "balance": "double"},
        indexes=[
            (IndexType.BASIC, ("acct_id",)),
            (IndexType.STANDARD, ("region",)),
            (IndexType.FULLTEXT, ("region",)),  # query-behavior, not layout
        ],
    )
    hints = m.layout_hints(n_files=6)
    assert hints["stats_cols"] == ["acct_id", "region"]
    assert hints["sort_by"] == (6, ["acct_id"])
    df = spark.range(0, 5000).select(
        F.col("id").alias("acct_id"),
        F.concat(F.lit("r"), (F.col("id") % 4).cast("string")).alias("region"),
        (F.col("id") * 1.0).alias("balance"),
    )
    store.write("acct", df, **hints)
    r = store.read_skipping(spark, "acct", [("acct_id", "=", 4321)])
    assert len(r.inputFiles()) == 1
    _same(r, df.where(F.col("acct_id") == 4321))
    # no layout indexes → no hints (write stays plain)
    assert EntityModel.vertex("x", {"a": "long"}).layout_hints() == {}


def test_nan_predicate_never_crashes_and_stays_exact(spark, store):
    """A NaN predicate (reachable remotely: Python's json.loads accepts
    the bare NaN literal) must not crash the prune with
    decimal.InvalidOperation — it keeps every file and the residual
    filter applies Spark's own NaN ordering (NaN > every double)."""
    nan = float("nan")
    df = _frame(spark, 1000)
    store.write("t", df, sort_by=(4, ["id"]), stats_cols=["id", "price"])
    full = store.read(spark, "t")
    for preds, col in [
        ([("price", "<", nan)], F.col("price") < nan),
        ([("price", ">=", nan)], F.col("price") >= nan),
        ([("price", "=", nan)], F.col("price") == nan),
        ([("price", "in", [nan, 30.0])], F.col("price").isin([nan, 30.0])),
    ]:
        _same(store.read_skipping(spark, "t", preds), full.where(col))


def test_coerce_json_predicates_types(spark):
    import datetime as dt

    from scalligraph_spark.store import coerce_json_predicates

    df = _frame(spark, 10)
    out = coerce_json_predicates(
        df.schema,
        [
            ("d", ">=", "2020-01-05"),
            ("d", "in", ["2020-01-05", None]),
            ("name", "=", "u000001"),
            ("id", "<", 5),
            ("nope", "=", "2020-01-05"),  # unknown column: untouched
        ],
    )
    assert out[0][2] == dt.date(2020, 1, 5)
    assert out[1][2] == [dt.date(2020, 1, 5), None]
    assert out[2][2] == "u000001" and out[3][2] == 5
    assert out[4][2] == "2020-01-05"


def test_corrupt_footer_recorded_without_stats_and_kept(spark, tmp_path):
    """A backfill over a directory containing an unreadable parquet file
    records it with no stats — every prune keeps it, so the manifest can
    never hide a file from the reader."""
    df = _frame(spark, 500)
    out = str(tmp_path / "d")
    df.repartition(3).write.parquet(out)
    with open(os.path.join(out, "part-zz-garbage.parquet"), "wb") as f:
        f.write(b"not parquet at all")
    man = _footer_manifest(spark, out, ["id"])
    assert len(man["files"]) == 4
    bad = [e for e in man["files"] if "garbage" in e["path"]]
    assert bad and bad[0]["rows"] is None and bad[0]["cols"] == {}
    assert _file_may_match(bad[0], "id", "=", 10**9, "UTC"), "no stats -> keep"


def test_footer_manifest_distributed_shape(spark, tmp_path):
    """The collector is metadata-only and returns relative paths sorted."""
    df = _frame(spark, 1000)
    out = str(tmp_path / "d")
    df.repartition(5).write.parquet(out)
    man = _footer_manifest(spark, out, ["id", "name"])
    assert len(man["files"]) == 5
    for e in man["files"]:
        assert not os.path.isabs(e["path"])
        assert set(e["cols"]) <= {"id", "name"}
        assert e["rows"] > 0


# --- predicate trees: or / and / not -----------------------------------------


def test_or_of_ranges_prunes_and_matches_filter(spark, store):
    """VERDICT r11 #2: OR-of-point/range predicates must PRUNE (union of
    per-disjunct candidates), not silently full-scan, and stay exactly
    read().where(pred)."""
    df = _frame(spark)
    store.write("t", df, sort_by=(8, ["id"]), stats_cols=["id", "d", "name"])
    total = len(store.file_manifest("t")["files"])
    pred = [("or", [[("id", ">=", 100), ("id", "<", 200)],
                    [("id", ">=", 7100), ("id", "<", 7200)]])]
    r = store.read_skipping(spark, "t", pred)
    assert 0 < len(r.inputFiles()) < total, "OR-of-ranges must prune files"
    _same(r, df.where(((F.col("id") >= 100) & (F.col("id") < 200))
                      | ((F.col("id") >= 7100) & (F.col("id") < 7200))))
    # OR of date points on the d column (the dashboard shape)
    d1, d2 = datetime.date(2020, 1, 15), datetime.date(2021, 10, 1)
    pred = [("or", [[("d", "=", d1)], [("d", "=", d2)]])]
    r = store.read_skipping(spark, "t", pred)
    assert 0 < len(r.inputFiles()) < total
    _same(r, df.where((F.col("d") == d1) | (F.col("d") == d2)))


def test_nested_tree_and_not_exactness(spark, store):
    df = _frame(spark)
    store.write("t", df, sort_by=(8, ["id"]), stats_cols=["id", "name"])
    pred = [
        ("or", [
            [("id", "<", 50), ("not", [("mod7", "=", 2)])],
            [("and", [[("id", ">=", 7900)], [("name", ">=", "u007950")]])],
        ]),
        ("not", [("id", "in", [10, 20])]),
    ]
    want = df.where(
        (((F.col("id") < 50) & ~(F.col("mod7") == 2))
         | ((F.col("id") >= 7900) & (F.col("name") >= "u007950")))
        & ~F.col("id").isin(10, 20)
    )
    _same(store.read_skipping(spark, "t", pred), want)


def test_tree_validation_rejects_null_under_not_and_bad_nodes(spark, store):
    store.write("t", _frame(spark, 100), stats_cols=["id"])
    for bad in (
        [("not", [("id", "=", None)])],
        [("not", [("id", "in", [1, None])])],
        [("not", [("id", "in", [])])],
        [("or", [])],
        [("or", [[]])],
        [("xor", [[("id", "=", 1)]])],
    ):
        with pytest.raises(ValueError):
            store.read_skipping(spark, "t", bad)


def test_predicates_from_json_filter_routes_or_shapes(spark, store):
    """The qlang filter grammar's skipping-expressible subset maps onto
    the predicate tree; inexpressible operators fail loud."""
    from scalligraph_spark.store import predicates_from_json_filter

    assert predicates_from_json_filter({"_or": [{"d": "2024-01-01"}, {"d": "2024-03-01"}]}) == [
        ("or", [[("d", "=", "2024-01-01")], [("d", "=", "2024-03-01")]])
    ]
    assert predicates_from_json_filter(
        {"_and": [{"_gte": {"_field": "id", "_value": 3}}, {"_lt": {"id": 9}}]}
    ) == [("id", ">=", 3), ("id", "<", 9)]
    assert predicates_from_json_filter(
        {"_between": {"_field": "id", "_from": 1, "_to": 5}}
    ) == [("id", ">=", 1), ("id", "<", 5)]
    assert predicates_from_json_filter(
        {"_not": {"_in": {"_field": "id", "_values": [1, 2]}}}
    ) == [("not", [("id", "in", [1, 2])])]
    for bad in ({"_like": {"name": "u*"}}, {"_ne": {"id": 3}}, {"_startsWith": {"name": "u"}}):
        with pytest.raises(ValueError):
            predicates_from_json_filter(bad)
    # _contains is property-IS-DEFINED in the grammar — servable as notnull
    assert predicates_from_json_filter({"_contains": "name"}) == [("name", "notnull", None)]
    # end-to-end: the converted tree reads exactly like the plain filter
    df = _frame(spark)
    store.write("t", df, sort_by=(8, ["id"]), stats_cols=["id", "d"])
    tree = predicates_from_json_filter(
        {"_or": [{"_between": {"_field": "id", "_from": 0, "_to": 60}},
                 {"_gte": {"_field": "id", "_value": 7950}}]}
    )
    r = store.read_skipping(spark, "t", tree)
    assert 0 < len(r.inputFiles()) < len(store.file_manifest("t")["files"])
    _same(r, df.where(((F.col("id") >= 0) & (F.col("id") < 60)) | (F.col("id") >= 7950)))


def test_from_store_or_filter_shape_and_tree_where(spark, store):
    """`where` accepts the qlang `_or` filter-grammar object AND raw tree
    nodes; both prune and both stay exact."""
    from scalligraph_spark.suite import executor_for

    df = _frame(spark, 3000)
    store.write("t", df, sort_by=(6, ["d"]), stats_cols=["d"])
    ex = executor_for(spark, SF, store_root=store.root)
    exp = df.where(
        ((F.col("d") >= F.lit("2020-01-10")) & (F.col("d") < F.lit("2020-01-20")))
        | ((F.col("d") >= F.lit("2020-09-01")) & (F.col("d") < F.lit("2020-09-10")))
    )
    # filter-grammar object
    t = ex.execute([
        {
            "_name": "fromStore",
            "label": "t",
            "where": {"_or": [
                {"_between": {"_field": "d", "_from": "2020-01-10", "_to": "2020-01-20"}},
                {"_between": {"_field": "d", "_from": "2020-09-01", "_to": "2020-09-10"}},
            ]},
        }
    ])
    _same(t.df, exp)
    assert len(t.df.inputFiles()) < 6, "OR shape must prune files"
    # raw tree node (JSON list transport)
    t2 = ex.execute([
        {
            "_name": "fromStore",
            "label": "t",
            "where": [["or", [
                [["d", ">=", "2020-01-10"], ["d", "<", "2020-01-20"]],
                [["d", ">=", "2020-09-01"], ["d", "<", "2020-09-10"]],
            ]]],
        }
    ])
    _same(t2.df, exp)
    assert len(t2.df.inputFiles()) < 6


def test_from_store_naive_asof_reads_in_session_tz(spark, store):
    """ADVICE r11: a naive ISO `asOf` must resolve in the SESSION
    timezone — the same clock naive predicate literals coerce with —
    not silently in UTC."""
    import datetime as dt

    df = _frame(spark, 100)
    store.write("t", df.where(F.col("id") < 50))  # v1
    store.write("t", df)  # v2
    now = time.time()
    for v, age in ((1, 7200.0), (2, 3600.0)):
        p = os.path.join(store.path("t", v), "_commit.json")
        with open(p) as f:
            m = json.load(f)
        m["_committed_at"] = now - age
        with open(p, "w") as f:
            json.dump(m, f)
    from scalligraph_spark.suite import executor_for

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        import zoneinfo

        tz = zoneinfo.ZoneInfo("America/New_York")
        # a naive ISO stamped between the two commits, written in NY time
        naive_iso = dt.datetime.fromtimestamp(now - 5400, tz).replace(tzinfo=None).isoformat()
        ex = executor_for(spark, SF, store_root=store.root)
        t = ex.execute([{"_name": "fromStore", "label": "t", "asOf": naive_iso}])
        assert t.df.count() == 50, "naive asOf must read in the session tz"
        # aware ISO stays unambiguous regardless of session tz
        aware_iso = dt.datetime.fromtimestamp(now - 5400, dt.timezone.utc).isoformat()
        t2 = ex.execute([{"_name": "fromStore", "label": "t", "asOf": aware_iso}])
        assert t2.df.count() == 50
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


# --- parquet manifest tier + manifest cache (VERDICT r11 #1) -----------------


def test_parquet_manifest_tier_decisions_identical(spark, store, monkeypatch):
    """Above the file-count threshold the per-file entries move to a
    parquet sidecar pruned DISTRIBUTIVELY; prune decisions and results
    must be identical to the inline-JSON tier for the same predicates
    (both tiers run the same _preds_may_match per entry)."""
    import scalligraph_spark.store as S

    df = _frame(spark, 4000)
    monkeypatch.setattr(S, "PARQUET_MANIFEST_FILE_THRESHOLD", 4)
    store.write("t", df, sort_by=(10, ["id"]), stats_cols=["id", "d", "name"])
    man = store.file_manifest("t")
    assert "files_parquet" in man and man["n_files"] == 10 and "files" not in man
    assert man["kinds"] == {"id": "num", "d": "date", "name": "str"}
    d0 = datetime.date(2020, 6, 1)
    cases = [
        [("id", ">=", 100), ("id", "<", 300)],
        [("or", [[("id", "<", 50)], [("id", ">=", 3900)]])],
        [("name", ">=", "u000100"), ("name", "<", "u000200")],
        [("d", "=", d0)],
        [("id", "=", -1)],  # provably empty
    ]
    exprs = [
        (F.col("id") >= 100) & (F.col("id") < 300),
        (F.col("id") < 50) | (F.col("id") >= 3900),
        (F.col("name") >= "u000100") & (F.col("name") < "u000200"),
        F.col("d") == d0,
        F.col("id") == -1,
    ]
    got = {}
    for i, p in enumerate(cases):
        r = store.read_skipping(spark, "t", p)
        _same(r, df.where(exprs[i]))
        got[i] = sorted(os.path.basename(f) for f in r.inputFiles())
        if i != 4:
            assert 0 < len(got[i]) < 10, f"case {i} must prune: {got[i]}"
    # flip the SAME version back to the inline tier via backfill
    monkeypatch.setattr(S, "PARQUET_MANIFEST_FILE_THRESHOLD", 10**9)
    store.collect_file_stats(spark, "t", ["id", "d", "name"])
    man2 = store.file_manifest("t")
    assert "files" in man2 and len(man2["files"]) == 10
    for i, p in enumerate(cases):
        r = store.read_skipping(spark, "t", p)
        _same(r, df.where(exprs[i]))
        assert sorted(os.path.basename(f) for f in r.inputFiles()) == got[i], (
            f"case {i}: tiers must keep identical files"
        )
    # third leg (round 13): the BYTE-triggered sidecar — file count far
    # under the threshold, serialized entries over the byte bound — must
    # make the same decisions as both tiers above
    monkeypatch.setattr(S, "PARQUET_MANIFEST_BYTE_THRESHOLD", 64)
    store.collect_file_stats(spark, "t", ["id", "d", "name"])
    man3 = store.file_manifest("t")
    assert "files_parquet" in man3 and man3["n_files"] == 10
    for i, p in enumerate(cases):
        r = store.read_skipping(spark, "t", p)
        _same(r, df.where(exprs[i]))
        assert sorted(os.path.basename(f) for f in r.inputFiles()) == got[i], (
            f"case {i}: byte-triggered tier must keep identical files"
        )


def test_provably_empty_read_is_metadata_only(spark, store):
    """ADVICE r11: an all-files-pruned read must not pay the version's
    directory listing — one manifest-named footer supplies the schema
    and the result is an empty LocalRelation (zero bound files)."""
    df = _frame(spark, 1000)
    store.write("t", df, sort_by=(4, ["id"]), stats_cols=["id"])
    r = store.read_skipping(spark, "t", [("id", ">", 10**9)])
    assert r.count() == 0
    assert r.schema == store.read(spark, "t").schema
    assert r.inputFiles() == [], "empty result must bind no data files"
    # hive-partitioned layouts keep the safe fallback (partition-column
    # types are inferred from the full directory set) — still exact
    store.write("p", df.withColumn("k", F.col("id") % 3),
                partition_by=["k"], stats_cols=["id"])
    rp = store.read_skipping(spark, "p", [("id", ">", 10**9)])
    assert rp.count() == 0
    assert rp.schema == store.read(spark, "p").schema


def test_manifest_cache_keyed_by_mtime(spark, store):
    df = _frame(spark, 500)
    store.write("t", df, stats_cols=["id"])
    m1 = store.file_manifest("t")
    assert store.file_manifest("t") is m1, "hot manifest must come from cache"
    time.sleep(0.02)
    store.collect_file_stats(spark, "t", ["id", "name"])  # backfill replaces it
    m2 = store.file_manifest("t")
    assert m2 is not m1 and m2["columns"] == ["id", "name"]


def test_parquet_manifest_carries_through_compaction(spark, store, monkeypatch):
    """compact/optimize must re-collect stats for the same columns even
    when the old manifest is parquet-tier (columns come from the stub)."""
    import scalligraph_spark.store as S

    monkeypatch.setattr(S, "PARQUET_MANIFEST_FILE_THRESHOLD", 2)
    df = _frame(spark, 2000)
    store.write("t", df, sort_by=(8, ["id"]), stats_cols=["id", "d"])
    assert "files_parquet" in store.file_manifest("t")
    store.compact(spark, "t", target_file_bytes=1 << 30)
    man = store.file_manifest("t")
    assert man is not None and man["columns"] == ["id", "d"]
    _same(store.read_skipping(spark, "t", [("id", "<", 100)]),
          df.where(F.col("id") < 100))


def test_read_merged_with_or_tree_predicates(spark, store):
    """Selective MOR composes with the or/and/not predicate grammar: the
    tree prunes the base (union of disjunct candidates) and filters the
    resolved upserts exactly."""
    df = _frame(spark, 3000)
    store.write("t", df, sort_by=(6, ["id"]), stats_cols=["id"])
    d1 = (
        df.where(F.col("id").isin([10, 2900]))
        .withColumn("price", F.lit(-5.0))
        .withColumn("_op", F.lit("upsert"))
    )
    store.write_delta(spark, "t", d1, ["id"])
    preds = [("or", [[("id", "<", 50)], [("id", ">=", 2890)]]),
             ("not", [("price", "<", 0.0)])]
    merged = store.read_merged(spark, "t")
    exp = merged.where(
        ((F.col("id") < 50) | (F.col("id") >= 2890)) & ~(F.col("price") < 0.0)
    )
    got = store.read_merged(spark, "t", predicates=preds)
    _same(got, exp)
    ids = {r["id"] for r in got.select("id").collect()}
    assert 10 not in ids and 2900 not in ids  # upserted to negative price
    assert 11 in ids and 2950 in ids


# --- per-file Bloom filters (Delta bloom-index analog) ------------------------


def test_bloom_prunes_unclustered_point_lookup(spark, store):
    """min/max cannot prune a point lookup on an unclustered
    high-cardinality column (every file's range spans the domain); a
    per-file bloom proves absence and drops those files — false
    positives only ever keep."""
    import hashlib

    from scalligraph_spark.store import _file_may_match

    df = spark.range(8000).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("h")
    )
    store.write("t", df, sort_by=(8, ["id"]), stats_cols=["h"], bloom_cols=["h"])
    man = store.file_manifest("t")
    assert man["bloom_columns"] == ["h"]
    probe = hashlib.md5(b"4242").hexdigest()
    r = store.read_skipping(spark, "t", [("h", "=", probe)])
    assert 0 < len(r.inputFiles()) <= 2, "bloom must prune to the owning file (+fp)"
    _same(r, df.where(F.col("h") == probe))
    # evidence that the RANGES alone keep everything here
    stripped = [
        dict(e, cols={c: {k: v for k, v in st.items() if k != "bloom"}
                      for c, st in e["cols"].items()})
        for e in man["files"]
    ]
    assert sum(_file_may_match(e, "h", "=", probe, "UTC") for e in stripped) == 8
    # absent-everywhere value → provably empty, metadata-only
    r0 = store.read_skipping(spark, "t", [("h", "=", "no-such-hash")])
    assert r0.count() == 0 and r0.inputFiles() == []
    # in-list: present + absent keeps only the present value's files
    r2 = store.read_skipping(spark, "t", [("h", "in", [probe, "no-such-hash"])])
    assert 0 < len(r2.inputFiles()) <= 2
    _same(r2, df.where(F.col("h") == probe))


def test_bloom_numeric_cross_type_probes(spark, store):
    """SQL equality across numeric types: a bloom built over BIGINT rows
    must match float/Decimal probes of the same value (shared canon)."""
    from decimal import Decimal

    df = spark.range(2000).select((F.col("id") * 7).alias("v"))
    store.write("t", df, sort_by=(4, ["id" if False else "v"]), stats_cols=[], bloom_cols=["v"])
    for probe in (49, 49.0, Decimal("49.0")):
        r = store.read_skipping(spark, "t", [("v", "=", probe)])
        assert r.count() == 1, f"probe {probe!r} must hit through the bloom"
    assert store.read_skipping(spark, "t", [("v", "=", 50)]).count() == 0


def test_bloom_carries_through_compaction_and_tiers(spark, store, monkeypatch):
    """Compaction re-collects inherited bloom columns; the parquet
    manifest tier carries blooms through cols_json with identical
    decisions."""
    import hashlib

    import scalligraph_spark.store as S

    df = spark.range(4000).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("h")
    )
    monkeypatch.setattr(S, "PARQUET_MANIFEST_FILE_THRESHOLD", 4)
    store.write("t", df, sort_by=(8, ["id"]), stats_cols=["id"], bloom_cols=["h"])
    man = store.file_manifest("t")
    assert "files_parquet" in man and man["bloom_columns"] == ["h"]
    probe = hashlib.md5(b"123").hexdigest()
    r = store.read_skipping(spark, "t", [("h", "=", probe)])
    assert 0 < len(r.inputFiles()) <= 2
    _same(r, df.where(F.col("h") == probe))
    # compaction: blooms re-collected over the new layout
    monkeypatch.setattr(S, "PARQUET_MANIFEST_FILE_THRESHOLD", 4096)
    store.compact(spark, "t", target_file_bytes=1 << 30)
    man2 = store.file_manifest("t")
    assert man2["columns"] == ["id"] and man2["bloom_columns"] == ["h"]
    r2 = store.read_skipping(spark, "t", [("h", "=", probe)])
    _same(r2, df.where(F.col("h") == probe))
    # report surfaces the bloom columns
    from scalligraph_spark.store import store_report

    rep = {row["label"]: row for row in store_report(spark, store).collect()}
    assert rep["t"]["bloom_cols"] == ["h"]


def test_not_of_ranges_prunes_and_matches_spark_semantics(spark, store, monkeypatch):
    """("not", range-conj) rewrites to exact complements (De Morgan) and
    PRUNES — including rows with NULLs, where both forms exclude.  The
    kept-fraction fallback is pinned OFF: this test measures the
    rewrite's pruning power, and a complement that keeps ~half the files
    can legitimately trip the fallback when range-partition boundaries
    wobble (the fallback has its own test)."""
    import scalligraph_spark.store as st_mod

    monkeypatch.setattr(st_mod, "_KEPT_FRACTION_FALLBACK", 1.01)
    df = _frame(spark, 3000)  # mod7 has nulls
    store.write("t", df, sort_by=(6, ["id"]), stats_cols=["id", "mod7"])
    total = len(store.file_manifest("t")["files"])
    r = store.read_skipping(spark, "t", [("not", [("id", "<", 2500)])])
    assert 0 < len(r.inputFiles()) < total, "complemented range must prune"
    _same(r, df.where(~(F.col("id") < 2500)))
    # multi-leaf De Morgan + a null-bearing column stays exact
    r2 = store.read_skipping(
        spark, "t", [("not", [("id", ">=", 500), ("mod7", "<", 3)])]
    )
    _same(r2, df.where(~((F.col("id") >= 500) & (F.col("mod7") < 3))))
    # the mod7 disjunct legitimately spans every file (unsorted column) —
    # the tight prune case is the sorted-key complement
    r3 = store.read_skipping(
        spark, "t", [("not", [("id", ">=", 500), ("id", "<", 2500)])]
    )
    _same(r3, df.where(~((F.col("id") >= 500) & (F.col("id") < 2500))))
    assert 0 < len(r3.inputFiles()) < total


def test_model_unique_hint_emits_bloom_cols(spark, store):
    """A UNIQUE index hint off the sort path is the point-lookup shape —
    layout_hints emits it as bloom_cols, and the written table prunes
    point probes on the unclustered unique key."""
    import hashlib

    from scalligraph_spark.model import EntityModel, IndexType

    m = EntityModel.vertex(
        "doc",
        {"doc_id": "long", "digest": "string"},
        indexes=[
            (IndexType.BASIC, ("doc_id",)),
            (IndexType.UNIQUE, ("digest",)),
        ],
    )
    hints = m.layout_hints(n_files=6)
    assert hints["stats_cols"] == ["doc_id", "digest"]
    assert hints["sort_by"] == (6, ["doc_id"])
    assert hints["bloom_cols"] == ["digest"]
    # a unique key ON the sort path needs no bloom (ranges are tight)
    m2 = EntityModel.vertex(
        "u", {"k": "long"}, indexes=[(IndexType.UNIQUE, ("k",))]
    )
    assert "bloom_cols" not in m2.layout_hints()
    df = spark.range(0, 5000).select(
        F.col("id").alias("doc_id"),
        F.md5(F.col("id").cast("string")).alias("digest"),
    )
    store.write("doc", df, **hints)
    probe = hashlib.md5(b"777").hexdigest()
    r = store.read_skipping(spark, "doc", [("digest", "=", probe)])
    # ≤3 of 5: owning file + up to two 1%-fpp false keeps — the range
    # partitioner's sampled boundaries shift per run, so the bloom
    # CONTENTS (and thus the exact FP count) wobble by ±1
    assert 0 < len(r.inputFiles()) <= 3
    _same(r, df.where(F.col("digest") == probe))


def test_store_sink_threads_bloom_cols(spark, store, tmp_path):
    """Streaming-maintained tables keep bloom pruning batch over batch."""
    import hashlib

    from scalligraph_spark.streaming import start_store_sink

    src = spark.readStream.format("rate").option("rowsPerSecond", "500").load()
    rows = src.select(
        F.col("value").alias("k"),
        F.md5(F.col("value").cast("string")).alias("digest"),
    )
    q = start_store_sink(
        rows, store, "t", str(tmp_path / "ck"),
        stats_cols=["k"], bloom_cols=["digest"],
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    man = store.file_manifest("t")
    assert man is not None and man["bloom_columns"] == ["digest"]
    got = store.read(spark, "t")
    if got.count() > 0:
        first = got.orderBy("k").limit(1).collect()[0]
        r = store.read_skipping(spark, "t", [("digest", "=", first["digest"])])
        assert [row["k"] for row in r.collect()] == [first["k"]]


# --- round 13: IS NULL predicates, byte-aware tiers, bloom caps, fallback ---


def test_json_filter_null_maps_to_isnull():
    """`_is`/bare with a NULL value means null-safe equality in the
    grammar (qlang/filters.py compiles it to eqNullSafe = IS NULL) — it
    must map to the `isnull` op, never to `=`/None (SQL's match-nothing
    comparison), or fromStore silently returns an empty frame."""
    from scalligraph_spark.store import predicates_from_json_filter

    assert predicates_from_json_filter({"mod7": None}) == [("mod7", "isnull", None)]
    assert predicates_from_json_filter(
        {"_is": {"_field": "mod7", "_value": None}}
    ) == [("mod7", "isnull", None)]
    assert predicates_from_json_filter({"_not": {"mod7": None}}) == [
        ("not", [("mod7", "isnull", None)])
    ]
    # non-null _is still maps to `=`
    assert predicates_from_json_filter({"_is": {"_field": "x", "_value": 3}}) == [
        ("x", "=", 3)
    ]


def test_isnull_reads_exactly_and_prunes_null_free_files(spark, store):
    """IS NULL ≡ read().where(col.isNull()) — and files whose manifest
    proves a zero null count are never handed to Spark."""
    df = spark.range(0, 8000).select(
        F.col("id"),
        F.when(F.col("id") >= 6000, None).otherwise(F.col("id")).alias("maybe"),
    )
    store.write("t", df, sort_by=(8, ["id"]), stats_cols=["id", "maybe"])
    total = len(store.file_manifest("t")["files"])
    r = store.read_skipping(spark, "t", [("maybe", "isnull", None)])
    _same(r, df.where(F.col("maybe").isNull()))
    assert 0 < len(r.inputFiles()) < total  # null-free files pruned
    # NOT(IS NULL) = IS NOT NULL: exact two-valued SQL, allowed under not
    rn = store.read_skipping(spark, "t", [("not", [("maybe", "isnull", None)])])
    _same(rn, df.where(F.col("maybe").isNotNull()))
    # via the JSON grammar end to end
    from scalligraph_spark.store import predicates_from_json_filter

    rj = store.read_skipping(spark, "t", predicates_from_json_filter({"maybe": None}))
    _same(rj, df.where(F.col("maybe").isNull()))


def test_isnull_keeps_hive_null_partition(spark, store):
    """__HIVE_DEFAULT_PARTITION__ rows ARE the nulls — the pnull
    pseudo-stat must keep those files for isnull (and only those, when
    every regular partition value is non-null by construction)."""
    df = spark.range(0, 400).select(
        F.col("id"),
        F.when(F.col("id") % 4 == 0, None).otherwise(F.col("id") % 2).alias("p"),
    )
    store.write("t", df, partition_by=["p"], stats_cols=["id", "p"])
    r = store.read_skipping(spark, "t", [("p", "isnull", None)])
    _same(r, df.where(F.col("p").isNull()))
    assert all("__HIVE_DEFAULT_PARTITION__" in f for f in r.inputFiles())


def test_byte_threshold_routes_to_parquet_sidecar(spark, store, monkeypatch):
    """A manifest under the FILE threshold but over the BYTE threshold
    (big blooms on few files) must take the sidecar tier — identical
    results, driver-sized _file_stats.json."""
    import scalligraph_spark.store as st_mod

    monkeypatch.setattr(st_mod, "PARQUET_MANIFEST_BYTE_THRESHOLD", 512)
    df = _frame(spark, 4000)
    store.write("t", df, sort_by=(6, ["id"]), stats_cols=["id", "name", "price"])
    man = store.file_manifest("t")
    assert "files_parquet" in man and man["n_files"] == 6
    hdr = os.path.getsize(os.path.join(store.path("t"), "_file_stats.json"))
    assert hdr <= 1024  # header only: columns, kinds, counts, sample path
    r = store.read_skipping(spark, "t", [("id", ">=", 3500)])
    _same(r, df.where(F.col("id") >= 3500))
    assert len(r.inputFiles()) < 6


def test_bloom_bitset_byte_cap(spark, store):
    """_bloom_build bounds the bitset at max_bytes: the capped bloom
    records its degraded fpp, stays sound (never prunes a present
    value), and a hopelessly saturated cap drops the bloom entirely."""
    from scalligraph_spark.store import _bloom_build, _bloom_maybe_contains

    vals = [f"v{i:06d}" for i in range(5000)]
    bf = _bloom_build(vals, "UTC", 0.01, max_bytes=1024)
    assert bf is not None and bf["m"] <= 1024 * 8
    assert 0 < bf["fpp"] <= 0.5
    # soundness: every present value still answers maybe-present
    assert all(_bloom_maybe_contains(bf, "str", v, "UTC") for v in vals[:500])
    # saturation: cap far too small for the cardinality → no bloom
    assert _bloom_build([f"x{i}" for i in range(200000)], "UTC", 0.01, max_bytes=64) is None
    # uncapped path unchanged: no fpp note
    small = _bloom_build(["a", "b", "c"], "UTC", 0.01)
    assert small is not None and "fpp" not in small


def test_bloom_cap_bounds_manifest_bytes(spark, store):
    """End to end: with a per-file bloom byte cap, _file_stats.json stays
    below (n_files × cap) + slack even on a high-cardinality digest
    column, and the capped blooms still prune point lookups."""
    import hashlib

    df = spark.range(0, 30000).select(
        F.col("id"),
        F.md5(F.col("id").cast("string")).alias("digest"),
    )
    store.write(
        "doc", df, sort_by=(4, ["id"]), stats_cols=["id"],
        bloom_cols=["digest"], bloom_max_bytes=4096,
    )
    size = os.path.getsize(os.path.join(store.path("doc"), "_file_stats.json"))
    # 4 files × 4 KiB bitset → ~22 KiB of base64 + stats; generous bound
    assert size < 4 * 4096 * 2 + 8192
    probe = hashlib.md5(b"777").hexdigest()
    r = store.read_skipping(spark, "doc", [("digest", "=", probe)])
    _same(r, df.where(F.col("digest") == probe))
    assert len(r.inputFiles()) <= 2  # capped blooms still bind


def test_kept_fraction_fallback_same_rows(spark, store, monkeypatch):
    """Past the kept-fraction threshold read_skipping returns the PLAIN
    scan + residual filter (no kept-path relay) — identical rows, all
    files listed; selective predicates still take the pruned route."""
    import scalligraph_spark.store as st_mod

    df = _frame(spark)
    store.write("t", df, sort_by=(8, ["id"]), stats_cols=["id"])
    # unselective: keeps 7/8 files → fallback (threshold 0.5) → the scan
    # lists every file, rows still exact
    r = store.read_skipping(spark, "t", [("id", ">=", 1000)])
    _same(r, df.where(F.col("id") >= 1000))
    assert len(r.inputFiles()) == 8
    # selective predicate under the default threshold still prunes
    r2 = store.read_skipping(spark, "t", [("id", "<", 1000)])
    _same(r2, df.where(F.col("id") < 1000))
    assert len(r2.inputFiles()) < 8
    # force-prune everything through the explicit route to pin equality
    monkeypatch.setattr(st_mod, "_KEPT_FRACTION_FALLBACK", 1.01)
    r3 = store.read_skipping(spark, "t", [("id", ">=", 1000)])
    _same(r3, df.where(F.col("id") >= 1000))
    # explicit kept-path read: exactly the manifest's may-match set
    # (range-partition boundaries wobble run to run, so derive it)
    from scalligraph_spark.store import _preds_may_match

    tz = spark.conf.get("spark.sql.session.timeZone")
    man = store.file_manifest("t")
    exp = sum(1 for e in man["files"] if _preds_may_match(e, [("id", ">=", 1000)], tz))
    assert len(r3.inputFiles()) == exp


def test_empty_fastpath_requires_homogeneous_schemas(spark, store):
    """The metadata-only empty read derives the schema from ONE sample
    file — legal only when the manifest PROVED all files share a schema.
    A foreign/backfilled divergent file flips n_schemas and the empty
    path falls back to the listing route (schema = union, exactly like
    read().where(lit(False)))."""
    df = spark.range(0, 100).select(F.col("id"), (F.col("id") * 2).alias("a"))
    store.write("t", df, stats_cols=["id"])
    man = store.file_manifest("t")
    assert man.get("n_schemas") == 1
    fast = store.read_skipping(spark, "t", [("id", "=", 10**9)])
    assert fast.count() == 0 and fast.inputFiles() == []
    # drop a foreign file with an extra column into the version dir
    vdir = store.path("t")
    spark.range(0, 5).select(
        F.col("id"), (F.col("id") * 2).alias("a"), F.lit("x").alias("extra")
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(vdir, "_tmp_foreign"))
    import glob
    import shutil

    src = glob.glob(os.path.join(vdir, "_tmp_foreign", "*.parquet"))[0]
    shutil.move(src, os.path.join(vdir, "part-foreign.parquet"))
    shutil.rmtree(os.path.join(vdir, "_tmp_foreign"))
    store.collect_file_stats(spark, "t", ["id"])
    man2 = store.file_manifest("t")
    assert man2.get("n_schemas") == 2
    empty = store.read_skipping(spark, "t", [("id", "=", 10**9)])
    plain = store.read(spark, "t").where(F.lit(False))
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [f.name for f in plain.schema.fields]


def test_notnull_reads_exactly_and_prunes_allnull_files(spark, store, monkeypatch):
    """IS NOT NULL (`_contains` in the grammar) ≡ read().where(isNotNull)
    — and files whose manifest proves EVERY row null are never handed to
    Spark; the hive null partition prunes too.  Fallback pinned off:
    notnull legitimately keeps most files here (the fallback has its own
    test)."""
    import scalligraph_spark.store as st_mod

    monkeypatch.setattr(st_mod, "_KEPT_FRACTION_FALLBACK", 1.01)
    df = spark.range(0, 8000).select(
        F.col("id"),
        F.when(F.col("id") >= 6000, None).otherwise(F.col("id")).alias("maybe"),
    )
    store.write("t", df, sort_by=(8, ["id"]), stats_cols=["id", "maybe"])
    total = len(store.file_manifest("t")["files"])
    r = store.read_skipping(spark, "t", [("maybe", "notnull", None)])
    _same(r, df.where(F.col("maybe").isNotNull()))
    assert 0 < len(r.inputFiles()) < total, "all-null files must prune"
    # grammar: _contains (property-is-defined) routes to notnull
    from scalligraph_spark.store import predicates_from_json_filter

    assert predicates_from_json_filter({"_contains": "maybe"}) == [
        ("maybe", "notnull", None)
    ]
    # object-form _contains is REFUSED (ADVICE r13): the reference grammar
    # only parses the string form, and in GraphQL _contains means substring
    # — coercing the object form to IS NOT NULL would silently widen a
    # substring-intent filter
    with pytest.raises(ValueError, match="_contains takes a field-name string"):
        predicates_from_json_filter({"_contains": {"_field": "maybe", "_value": None}})
    rj = store.read_skipping(
        spark, "t", predicates_from_json_filter({"_contains": "maybe"})
    )
    _same(rj, df.where(F.col("maybe").isNotNull()))
    # hive null partition prunes for notnull (and only it keeps for isnull)
    dfp = spark.range(0, 400).select(
        F.col("id"),
        F.when(F.col("id") % 4 == 0, None).otherwise(F.col("id") % 2).alias("p"),
    )
    store.write("tp", dfp, partition_by=["p"], stats_cols=["id", "p"])
    rp = store.read_skipping(spark, "tp", [("p", "notnull", None)])
    _same(rp, dfp.where(F.col("p").isNotNull()))
    assert all("__HIVE_DEFAULT_PARTITION__" not in f for f in rp.inputFiles())


def test_not_of_isnull_rewrites_to_prunable_notnull(spark, store, monkeypatch):
    """("not", [isnull]) normalizes to the notnull leaf (exact two-valued
    complement) and PRUNES all-null files — previously a conservative
    keep-everything; same for the reverse direction.  Fallback pinned
    off (the complements keep >half the files by construction)."""
    import scalligraph_spark.store as st_mod

    from scalligraph_spark.store import _normalize_predicates as N

    monkeypatch.setattr(st_mod, "_KEPT_FRACTION_FALLBACK", 1.01)

    assert N([("not", [("c", "isnull", None)])]) == [("c", "notnull", None)]
    assert N([("not", [("c", "notnull", None)])]) == [("c", "isnull", None)]
    df = spark.range(0, 8000).select(
        F.col("id"),
        F.when(F.col("id") >= 6000, None).otherwise(F.col("id")).alias("maybe"),
    )
    store.write("t", df, sort_by=(8, ["id"]), stats_cols=["id", "maybe"])
    total = len(store.file_manifest("t")["files"])
    r = store.read_skipping(spark, "t", [("not", [("maybe", "isnull", None)])])
    _same(r, df.where(~F.col("maybe").isNull()))
    assert 0 < len(r.inputFiles()) < total
    r2 = store.read_skipping(spark, "t", [("not", [("maybe", "notnull", None)])])
    _same(r2, df.where(~F.col("maybe").isNotNull()))
    assert 0 < len(r2.inputFiles()) < total

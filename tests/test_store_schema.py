"""The schema each commit records (store.py): reads plan from it with no
Spark job, versions that record none keep inferring, and building index
lookups or folding ``fromStore`` chains launches no job at all."""

from __future__ import annotations

import glob
import json
import os
import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

from index_families import CATCHUP, KEY, KINDS, build, rows
from test_graph_supersteps import _jobs

from scalligraph_spark import operators as ops
from scalligraph_spark.cdf import table_changes
from scalligraph_spark.store import LabelStore
from scalligraph_spark.writes import WriteSession, with_audit
from tests.conftest import SF_DIR as SF


@pytest.fixture()
def store(tmp_path):
    return LabelStore(str(tmp_path / "schema"))


def _record(store, label, version=None) -> dict:
    with open(os.path.join(store.path(label, version), "_commit.json")) as f:
        return json.load(f)


def _types_frame(spark):
    return spark.sql(
        """SELECT CAST(1 AS INT) i, CAST(2 AS BIGINT) l, CAST(1.5 AS DOUBLE) d,
                  CAST(1.5 AS FLOAT) f, CAST(1 AS TINYINT) t, CAST(1 AS SMALLINT) s,
                  CAST(1.25 AS DECIMAL(12, 3)) dec, 'x' str, CAST('ab' AS CHAR(4)) ch,
                  CAST('ab' AS VARCHAR(8)) vc, DATE'2020-01-01' dt,
                  TIMESTAMP'2020-01-01 00:00:00' ts, TIMESTAMP_NTZ'2020-01-01 00:00:00' tsn,
                  array(1, 2) arr, map('a', 1) m, named_struct('a', 1, 'b', 'x') st,
                  X'0102' bin, true b"""
    ).withColumn("meta", F.col("i").alias("meta", metadata={"comment": "kept"}))


def test_recorded_schema_equals_inferred(spark, store):
    """For every table the suite fixtures store, the audit envelope, and
    every Spark type parquet carries (an empty frame too), the recorded
    schema is exactly what inferring it from the files yields."""
    frames = {
        os.path.basename(p)[: -len(".parquet")]: spark.read.parquet(p)
        for p in sorted(glob.glob(os.path.join(SF, "*.parquet")))
    }
    frames["audited"] = with_audit(frames["customer"], "customer", "c_custkey", "t", "2026-01-01 00:00:00")
    frames["types"] = _types_frame(spark)
    frames["empty"] = _types_frame(spark).where(F.lit(False))
    for label, df in frames.items():
        store.write(label, df)
        recorded = store._schema(label, 1)
        assert recorded == spark.read.parquet(store.path(label, 1)).schema, label
        assert store.read(spark, label).schema == recorded, label


def test_versions_without_a_recorded_schema_still_read(spark, store):
    """A legacy commit (no ``_schema``) and a partitioned one infer; the
    change feed diffs across a legacy and a recording version."""
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    store.write("t", v1)
    rec = _record(store, "t", 1)
    del rec["_schema"]
    with open(os.path.join(store.path("t", 1), "_commit.json"), "w") as f:
        json.dump(rec, f)
    store.write("t", spark.createDataFrame([(1, "a"), (3, "c")], "id long, v string"))
    assert store._schema("t", 1) is None and store._schema("t", 2) is not None
    assert sorted(map(tuple, store.read(spark, "t", 1).collect())) == [(1, "a"), (2, "b")]
    ch = table_changes(spark, store, "t", 1, 2, key_cols=["id"])
    assert sorted((r["id"], r["_change_type"]) for r in ch.collect()) == [(2, "delete"), (3, "insert")]
    store.write("p", v1, partition_by=["v"])
    assert "_schema" not in _record(store, "p")
    assert sorted(map(tuple, store.read(spark, "p").select("id", "v").collect())) == [(1, "a"), (2, "b")]


def test_commit_meta_strips_the_schema_and_callers_cannot_set_it(spark, store):
    df = spark.createDataFrame([(1,)], "x long")
    store.write("t", df, meta={"batch_id": 7})
    assert store.commit_meta("t") == {"batch_id": 7}
    store.write("t", df, meta={"batch_id": 8, "_schema": "bogus"})
    assert store.commit_meta("t") == {"batch_id": 8}
    assert _record(store, "t")["_schema"] == json.loads(df.schema.json())
    store.write("p", df.withColumn("k", F.lit(1)), meta={"_schema": "bogus"}, partition_by=["k"])
    assert "_schema" not in _record(store, "p")


# --- zero-job guards -------------------------------------------------------------


_PLANS = {
    "value": lambda spark, store: ops.lookup_ids(ops.load_value_index(spark, store, "value_ix"), ["name3"]),
    "text": lambda spark, store: ops.indexed_bm25_topk(
        ops.load_text_index(spark, store, "text_ix"), ["spark", "topic1"]),
    "minhash": lambda spark, store: ops.incremental_near_dups(
        spark, store, "minhash_ix", rows(spark, "minhash", [3]), threshold=0.5),
    "ann": lambda spark, store: ops.ivf_search(spark, store, "ann_ix", np.ones(8), k=3, n_probe=2),
}


def test_index_lookup_plans_launch_no_job(spark, store):
    """Loading an index and building a lookup plan reads no data: every
    base, segment and tombstone table plans from its recorded schema and
    the IVF centroids load in-process.  Inferring every schema, these
    plans took 6 (value), 4 (text), 8 (minhash) and 8 (ann) jobs."""
    for kind in KINDS:
        store.write("corpus", rows(spark, kind, range(12)))
        build(spark, store, kind, f"{kind}_ix", "corpus")
        # update id 1, insert id 20: a tombstone sidecar and a segment to read
        store.write("corpus", store.read(spark, "corpus").where(f"{KEY[kind]} != 1")
                    .unionByName(rows(spark, kind, [1], variant=1)).unionByName(rows(spark, kind, [20])))
        CATCHUP[kind](spark, store, f"{kind}_ix", store, on_mutation="tombstone")
        store.drop("corpus")
    for kind, plan in _PLANS.items():
        assert _jobs(spark, lambda: plan(spark, store)) == 0, kind


def test_from_store_chains_fold_without_jobs(spark, store):
    """Folding a ``fromStore`` chain plans from the recorded schema, with
    and without a file-stats manifest (1-2 jobs each when inferred)."""
    from scalligraph_spark.suite import executor_for

    df = spark.range(0, 400).select(F.col("id"), (F.col("id") % 5).cast("string").alias("seg"))
    store.write("plain", df)
    store.write("skip", df, sort_by=(4, ["id"]), stats_cols=["id"])
    ex = executor_for(spark, SF, store_root=store.root)
    for label in ("plain", "skip"):
        for chain in (
            [{"_name": "fromStore", "label": label}],
            [{"_name": "fromStore", "label": label, "where": [["id", "<", 40]]}],
            [{"_name": "fromStore", "label": label, "where": [["seg", "=", "2"]]}, {"_name": "count"}],
            [{"_name": "fromStore", "label": label},
             {"_name": "aggregation", "_agg": "field", "_field": "seg", "_select": [{"_agg": "count"}]}],
        ):
            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                assert _jobs(spark, lambda: ex.execute(chain)) == 0, (label, chain)


def test_a_write_launches_only_its_write_job(spark, store):
    """The schema comes from the analysed plan, never a read-back: a
    commit is one job, also when it inherits a manifest, and a
    ``WriteSession`` (snapshot read plus commit) is one job in all (two
    when the snapshot read inferred its schema)."""
    df = spark.range(0, 400).select(F.col("id"), (F.col("id") * 2).alias("x"))
    assert _jobs(spark, lambda: store.write("t", df)) == 1
    assert _jobs(spark, lambda: store.write("s", df, stats_cols=["id"])) == 1
    assert _jobs(spark, lambda: store.write("s", df)) == 1

    def session():
        ws = WriteSession(spark, store, "s", id_col="id")
        ws.remove(F.col("id") < 10)
        ws.commit()

    assert _jobs(spark, session) == 1

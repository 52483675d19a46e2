"""The four segmented-index families, and merge-on-read labels (kind
``mor``: the same core keyed on ``uid``), behind one table, for tests
that check the shared lifecycle (crash windows, tombstone catch-up,
retention) once per family instead of once per copy.

Corpus rows are a pure function of their id (``variant`` 1 = the row
after an update), so a corpus, a batch and an expected answer can be
rebuilt anywhere from ids alone."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from scalligraph_spark import cdf
from scalligraph_spark import operators as ops
from scalligraph_spark.operators import segments

KINDS = ("value", "text", "minhash", "ann")
LIFECYCLE = (*KINDS, "mor")  # every family on the segment core

KEY = {"value": "uid", "text": "doc_id", "minhash": "doc_id", "ann": "vec_id", "mor": "uid"}
BASE_TEXT = "the quick brown fox jumps over the lazy dog again and again today"


def rows(spark, kind, ids, variant=0):
    """Corpus rows for ``ids`` in one partition (a handful of rows: more
    partitions only add tasks)."""
    if kind in ("value", "mor"):
        data = [(int(i), f"{'re' if variant else ''}name{i}", int(i)) for i in ids]
        schema = "uid long, uname string, score int"
    elif kind == "ann":
        data = [(int(i), [float(x) for x in np.random.RandomState(int(i) + 1000 * variant).randn(8)])
                for i in ids]
        schema = "vec_id long, embedding array<double>"
    else:
        word = "rewritten" if variant else "spark"
        text = (lambda i: f"{BASE_TEXT} {word} number {i}") if kind == "minhash" else (
            lambda i: f"{word} doc {i} about topic{i % 3} and {word}")
        data, schema = [(int(i), text(i)) for i in ids], "doc_id long, text string"
    return spark.createDataFrame(data, schema).coalesce(1)


def build(spark, store, kind, name, corpus):
    """Build ``name`` over the store label ``corpus``, with provenance
    (one file per sorted table: the corpora here are a handful of rows)."""
    df = store.read(spark, corpus)
    prov = dict(corpus_store=store, corpus_label=corpus)
    if kind == "mor":  # the label itself is the base
        return store.write(name, df)
    if kind == "value":
        return ops.build_value_index(spark, store, name, df, "uname", "uid", sort_files=1, **prov)
    if kind == "text":
        return ops.build_text_index(store, name, df, sort_files=1, **prov)
    if kind == "minhash":
        return ops.build_minhash_index(spark, store, name, df, band_files=1, **prov)
    return ops.build_ivf_index(store, name, df, n_centroids=4, store_cells=True, cells_n_list=2,
                               cells_files=1, **prov)


def _mor_extend(spark, store, name, batch):
    return store.write_delta(spark, name, batch.withColumn("_op", F.lit("upsert")), ["uid"])


def _mor_catchup(spark, store, name, corpus_store, on_mutation=None):
    """Mirror the last step of label ``corpus`` into the merge-on-read
    label ``name`` as one delta batch."""
    v = corpus_store.version("corpus")
    ch = cdf.table_changes(spark, corpus_store, "corpus", v - 1, v, key_cols=["uid"])
    op = F.when(F.col(cdf.CHANGE_TYPE) == "delete", "delete").otherwise("upsert").alias("_op")
    batch = ch.where(F.col(cdf.CHANGE_TYPE) != "update_preimage")
    return store.write_delta(spark, name, batch.select(*store.read(spark, name).columns, op), ["uid"])


EXTEND = {"value": ops.extend_value_index, "text": ops.extend_text_index,
          "minhash": ops.extend_minhash_index, "ann": ops.extend_ann_cells, "mor": _mor_extend}
COMPACT = {"value": ops.compact_value_index, "text": ops.compact_text_index,
           "minhash": ops.compact_minhash_index, "ann": ops.compact_ann_cells,
           "mor": lambda spark, store, name: store.compact_mor(spark, name)}
CATCHUP = {"value": ops.catchup_value_index, "text": ops.catchup_text_index,
           "minhash": ops.catchup_minhash_index, "ann": ops.catchup_ann_cells, "mor": _mor_catchup}


def family(kind):
    return segments.mor_family(KEY["mor"]) if kind == "mor" else segments.family(kind)


def vacuum(spark, store, kind, name, retention_seconds=0.0):
    if kind == "mor":
        return store.vacuum_mor(name, retention_seconds)
    return ops.vacuum_index_segments(spark, store, name, kind, retention_seconds)


def _sorted(df):
    return sorted(repr(tuple(r)) for r in df.collect())


def state(spark, store, kind, name):
    """Everything a reader of the index can see, in one job: every part's
    rows (count parts summed per bucket), the published vocabulary of a
    text index, and the record's row/doc counts."""
    fam = family(kind)
    meta = segments.read_meta(store, name)
    frames = {}
    for part, key in fam.parts.items():
        df = segments.read_part(spark, store, fam, name, meta, part)
        if not isinstance(key, str):  # a count part: summed per bucket
            *group, n = df.columns
            df = df.groupBy(*group).agg(F.sum(n).alias(n))
        frames[part] = df
    if kind == "text":
        frames["terms"] = ops.load_text_index(spark, store, name).terms
    tagged = [df.select(F.lit(t).alias("t"), F.to_json(F.struct(*df.columns)).alias("r"))
              for t, df in frames.items()]
    union = tagged[0]
    for df in tagged[1:]:
        union = union.unionByName(df)
    out = {t: [] for t in frames}
    for r in union.collect():
        out[r["t"]].append(r["r"])
    out = {t: sorted(v) for t, v in out.items()}
    out["counts"] = {k: meta[k] for k in ("n_rows", "n_docs", "sum_dl") if k in meta}
    return out


def content(spark, store, kind, name):
    """The indexed rows that must equal a rebuild's at any time (a text
    index's df/n_docs drift until compaction; IVF cells depend on the
    trained centroids, so only the assigned vectors are compared)."""
    fam = family(kind)
    df = segments.read_part(spark, store, fam, name, segments.read_meta(store, name), next(iter(fam.parts)))
    return _sorted(df.select("id", "vec").distinct() if kind == "ann" else df)


def query(spark, store, kind, name):
    """One answer through the family's query path."""
    if kind == "mor":
        return _sorted(store.read_merged(spark, name))
    if kind == "value":
        return _sorted(ops.load_value_index(spark, store, name).entries)
    if kind == "text":
        return _sorted(ops.indexed_bm25_topk(ops.load_text_index(spark, store, name), ["spark", "topic1"]))
    if kind == "minhash":
        probe = spark.createDataFrame([(900, f"{BASE_TEXT} spark number 1")], "doc_id long, text string")
        return _sorted(ops.incremental_near_dups(spark, store, name, probe, threshold=0.5))
    q = np.random.RandomState(1).randn(8)
    got = ops.ivf_search(spark, store, name, q, k=4, n_probe=4).collect()  # every cell: exact
    return [(r["vec_id"], r["cosine"]) for r in got]

"""Persisted inverted-index lifecycle: bit-parity with the full-scan BM25
path, term pushdown into the postings scan, corpus-drift staleness, and
meta-recorded-column rebuilds."""

from __future__ import annotations

import contextlib
import io
import warnings

import pytest

from scalligraph_spark.operators import (
    StaleTextIndexWarning,
    bm25_rank,
    build_text_index,
    indexed_bm25_topk,
    load_text_index,
    reindex_text,
)
from scalligraph_spark.store import LabelStore


def _corpus(spark):
    rows = [
        (0, "spark merge window spark"),
        (1, "merge sort table window window window"),
        (2, "the quick brown fox"),
        (3, "spark spark spark"),
        (4, "window"),
        (5, "table scan only"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture()
def store(tmp_path):
    return LabelStore(str(tmp_path / "txtix"))


def test_indexed_search_bit_identical_to_scan_path(spark, store):
    docs = _corpus(spark)
    build_text_index(store, "ix", docs)
    ix = load_text_index(spark, store, "ix")
    for terms in (["spark", "merge", "window"], ["window"], ["absentterm", "spark"]):
        a = sorted(tuple(r) for r in indexed_bm25_topk(ix, terms).collect())
        b = sorted(tuple(r) for r in bm25_rank(docs, terms).collect())
        assert a == b, terms


def test_query_requires_terms(spark, store):
    build_text_index(store, "ix", _corpus(spark))
    ix = load_text_index(spark, store, "ix")
    with pytest.raises(ValueError, match="non-empty"):
        indexed_bm25_topk(ix, [])


def test_term_filter_pushed_to_postings_scan(spark, store):
    build_text_index(store, "ix", _corpus(spark))
    ix = load_text_index(spark, store, "ix")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        indexed_bm25_topk(ix, ["spark", "window"]).explain("formatted")
    plan = buf.getvalue()
    assert "In(term, [spark,window])" in plan  # pushed, not post-scan filtered


def test_index_text_filter_matches_scan_semantics(spark, store):
    """Every predicate mode must select exactly the docs whose TOKEN set
    matches — differential against a literal Python tokenisation."""
    from scalligraph_spark.operators import index_text_filter

    docs = _corpus(spark)
    build_text_index(store, "ix", docs)
    ix = load_text_index(spark, store, "ix")
    data = {r["doc_id"]: r["text"].strip().split() for r in docs.collect()}
    cases = [
        ("term", "spark", lambda t: t == "spark"),
        ("prefix", "wi", lambda t: t.startswith("wi")),
        ("suffix", "ble", lambda t: t.endswith("ble")),
        ("contains", "or", lambda t: "or" in t),
        ("regex", "^s.*k$", lambda t: t.startswith("s") and t.endswith("k")),
    ]
    for mode, pat, pred in cases:
        got = {r["doc_id"] for r in index_text_filter(ix, docs, mode, pat).collect()}
        expect = {d for d, toks in data.items() if any(pred(t) for t in toks)}
        assert got == expect, (mode, pat)


def test_matching_terms_rejects_unknown_mode(spark, store):
    from scalligraph_spark.operators import matching_terms

    build_text_index(store, "ix", _corpus(spark))
    ix = load_text_index(spark, store, "ix")
    with pytest.raises(ValueError, match="mode must be"):
        matching_terms(ix, "soundex", "x")


def test_prefix_predicate_pushes_into_terms_scan(spark, store):
    from scalligraph_spark.operators import docs_with_matching_term

    build_text_index(store, "ix", _corpus(spark))
    ix = load_text_index(spark, store, "ix")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        docs_with_matching_term(ix, "prefix", "wi").explain("formatted")
    plan = buf.getvalue()
    assert "StringStartsWith(term,wi)" in plan


def test_stale_warning_fires_and_reindex_clears(spark, store, tmp_path):
    corpus_store = LabelStore(str(tmp_path / "corpus"))
    corpus_store.write("documents", _corpus(spark))
    docs = corpus_store.read(spark, "documents")
    build_text_index(store, "ix", docs, corpus_store=corpus_store, corpus_label="documents")

    with warnings.catch_warnings():
        warnings.simplefilter("error", StaleTextIndexWarning)
        load_text_index(spark, store, "ix", corpus_store=corpus_store)  # fresh: silent

    extra = spark.createDataFrame([(6, "new spark doc")], "doc_id long, text string")
    corpus_store.write("documents", _corpus(spark).union(extra))
    with pytest.warns(StaleTextIndexWarning, match="rebuild via reindex_text"):
        load_text_index(spark, store, "ix", corpus_store=corpus_store)

    reindex_text(spark, store, "ix", corpus_store)
    with warnings.catch_warnings():
        warnings.simplefilter("error", StaleTextIndexWarning)
        ix = load_text_index(spark, store, "ix", corpus_store=corpus_store)
    # the rebuilt index sees the new document
    got = {r["doc_id"] for r in indexed_bm25_topk(ix, ["spark"]).collect()}
    assert 6 in got


def test_reindex_defaults_to_meta_recorded_columns(spark, store, tmp_path):
    """An index built over non-default column names must rebuild without
    re-supplying them (the ANN-tier round-6 lesson, applied here from the
    start)."""
    corpus_store = LabelStore(str(tmp_path / "corpus"))
    renamed = _corpus(spark).withColumnRenamed("doc_id", "k").withColumnRenamed("text", "body")
    corpus_store.write("docs2", renamed)
    build_text_index(
        store, "ix2", corpus_store.read(spark, "docs2"),
        text_col="body", id_col="k",
        corpus_store=corpus_store, corpus_label="docs2",
    )
    corpus_store.write("docs2", renamed)  # advance the corpus version
    v = reindex_text(spark, store, "ix2", corpus_store)  # no columns passed
    assert v == 2
    ix = load_text_index(spark, store, "ix2", corpus_store=corpus_store)
    out = indexed_bm25_topk(ix, ["spark"])
    assert out.columns[0] == "k"  # id column name survives the round trip
    assert out.count() > 0


def test_reindex_without_corpus_provenance_raises(spark, store):
    build_text_index(store, "ix3", _corpus(spark))
    with pytest.raises(ValueError, match="records no training corpus"):
        reindex_text(spark, store, "ix3", store)


def test_store_sort_by_layout_roundtrip(spark, tmp_path):
    """store.write(sort_by=…): linear clustering for string keys (the
    Morton path casts to double and cannot express them) — data must
    round-trip exactly and land range-partitioned on the sort column."""
    st = LabelStore(str(tmp_path / "s"))
    df = spark.range(0, 1000).selectExpr("id", "concat('t', lpad(cast(id % 50 as string), 3, '0')) as term")
    st.write("t", df, sort_by=(4, ["term"]))
    back = st.read(spark, "t")
    assert back.count() == 1000
    assert sorted(r["id"] for r in back.collect()) == list(range(1000))
    # range partitioning: each file covers a disjoint term range
    import os

    root = st.path("t", 1)
    parts = [f for f in os.listdir(root) if f.endswith(".parquet")]
    assert len(parts) > 1
    import duckdb

    ranges = []
    con = duckdb.connect()
    for f in parts:
        lo, hi = con.execute(
            f"select min(term), max(term) from '{os.path.join(root, f)}'"
        ).fetchone()
        ranges.append((lo, hi))
    ranges.sort()
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next  # disjoint (or touching) term ranges


def test_extend_incremental_equals_full_rebuild(spark, store, tmp_path):
    """2+ appended batches through extend_text_index must be
    indistinguishable from rebuilding on the full corpus: same stats,
    same postings relation, same vocabulary, same BM25 answers — and
    compact_text_index (segment merge, no retokenisation) must preserve
    all of it while emptying the segment list."""
    from scalligraph_spark.operators import compact_text_index, extend_text_index

    docs0 = _corpus(spark)
    batch1 = spark.createDataFrame(
        [(10, "spark window inside a window"), (11, "brand new table merge")],
        "doc_id long, text string",
    )
    batch2 = spark.createDataFrame(
        [(20, "fox jumps over spark"), (21, "window window merge")],
        "doc_id long, text string",
    )
    build_text_index(store, "ix", docs0)
    assert extend_text_index(spark, store, "ix", batch1) == 1
    assert extend_text_index(spark, store, "ix", batch2) == 2

    full_store = LabelStore(str(tmp_path / "full"))
    all_docs = docs0.unionByName(batch1).unionByName(batch2)
    build_text_index(full_store, "ix", all_docs)

    ix_inc = load_text_index(spark, store, "ix")
    ix_full = load_text_index(spark, full_store, "ix")
    assert ix_inc.n_docs == ix_full.n_docs == 10
    assert ix_inc.sum_dl == ix_full.sum_dl
    assert sorted(tuple(r) for r in ix_inc.postings.collect()) == sorted(
        tuple(r) for r in ix_full.postings.collect()
    )
    assert sorted(tuple(r) for r in ix_inc.terms.collect()) == sorted(
        tuple(r) for r in ix_full.terms.collect()
    )
    for terms in (["spark", "merge", "window"], ["window"], ["fox", "table"]):
        a = sorted(tuple(r) for r in indexed_bm25_topk(ix_inc, terms).collect())
        b = sorted(tuple(r) for r in bm25_rank(all_docs, terms).collect())
        assert a == b, terms

    # segment merge: same answers, one base table, empty segment list
    compact_text_index(spark, store, "ix")
    ix_c = load_text_index(spark, store, "ix")
    assert ix_c.meta["segments"] == []
    assert ix_c.n_docs == 10 and ix_c.sum_dl == ix_full.sum_dl
    a = sorted(tuple(r) for r in indexed_bm25_topk(ix_c, ["spark", "window"]).collect())
    b = sorted(tuple(r) for r in bm25_rank(all_docs, ["spark", "window"]).collect())
    assert a == b


def test_extend_clears_staleness_and_term_pushdown_survives_segments(spark, tmp_path):
    """extend against a store-tracked corpus records the new corpus
    version (the staleness warning clears without a full reindex), and
    the segmented read path still pushes the query-term filter into
    every postings scan."""
    from scalligraph_spark.operators import extend_text_index

    st = LabelStore(str(tmp_path / "s"))
    st.write("docs", _corpus(spark))
    build_text_index(st, "ix", st.read(spark, "docs"),
                     corpus_store=st, corpus_label="docs")

    batch = spark.createDataFrame([(10, "spark appended doc")], "doc_id long, text string")
    st.write("docs", st.read(spark, "docs").unionByName(batch))  # corpus advances
    with pytest.warns(StaleTextIndexWarning):
        load_text_index(spark, st, "ix", corpus_store=st)

    extend_text_index(spark, st, "ix", batch, corpus_store=st)
    with warnings.catch_warnings():
        warnings.simplefilter("error", StaleTextIndexWarning)
        ix = load_text_index(spark, st, "ix", corpus_store=st)  # fresh again
    assert ix.n_docs == 7

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        indexed_bm25_topk(ix, ["spark", "appended"]).explain("formatted")
    plan = buf.getvalue()
    # both the base scan and the segment scan carry the pushed In filter
    assert plan.count("In(term, [appended,spark])") >= 2


def test_zero_token_document_stays_counted(spark, store):
    """A null-text document has no terms but counts in n_docs (as in
    ``bm25_rank``).  A tombstone catch-up plus compaction keeps it, so
    BM25 scores equal the build's and a rebuild's; deleting it drops
    it."""
    from pyspark.sql import functions as F

    from scalligraph_spark.operators import catchup_text_index, compact_text_index

    docs = spark.createDataFrame(
        [(0, "spark merge window", "a"), (1, None, "a"), (2, "window table", "a")],
        "doc_id long, text string, tag string",
    )
    store.write("docs", docs)
    build_text_index(store, "ix", store.read(spark, "docs"), corpus_store=store, corpus_label="docs")

    def scores():
        ix = load_text_index(spark, store, "ix")
        return ix.n_docs, sorted(tuple(r) for r in indexed_bm25_topk(ix, ["window", "spark"]).collect())

    built = scores()
    assert built[0] == 3
    assert built[1] == sorted(tuple(r) for r in bm25_rank(docs, ["window", "spark"]).collect())
    # an update that keeps every text: doc 2 is tombstoned and re-inserted
    store.write("docs", store.read(spark, "docs").withColumn(
        "tag", F.when(F.col("doc_id") == 2, "b").otherwise(F.col("tag"))))
    assert catchup_text_index(spark, store, "ix", store, on_mutation="tombstone")["action"] == "tombstoned"
    compact_text_index(spark, store, "ix")
    assert scores() == built
    reindex_text(spark, store, "ix", store)
    assert scores() == built
    store.write("docs", store.read(spark, "docs").where("doc_id != 1"))
    catchup_text_index(spark, store, "ix", store, on_mutation="tombstone")
    compact_text_index(spark, store, "ix")
    assert scores()[0] == 2

"""Persisted MinHash near-dup index: batch probes against the stored
corpus must equal what the full-corpus LSH join reports for cross
pairs (same hash family, same band keys), segments must extend the
reach for batch-sized cost, and compaction must preserve answers."""

from __future__ import annotations

import pytest

from scalligraph_spark.operators import (
    build_minhash_index,
    compact_minhash_index,
    extend_minhash_index,
    incremental_near_dups,
    minhash_lsh_pairs,
)
from scalligraph_spark.store import LabelStore


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BASE = "the quick brown fox jumps over the lazy dog again and again today"


@pytest.fixture()
def corpus(spark):
    rows = [
        (1, BASE),
        (2, BASE.replace("lazy", "sleepy")),  # near-dup of 1
        (3, "completely different words about spark engines and parquet files"),
        (4, "yet another unrelated document mentioning window functions only"),
        (5, BASE.replace("today", "tomorrow")),  # near-dup of 1/2
    ]
    return _docs(spark, rows)


@pytest.fixture()
def store(tmp_path):
    return LabelStore(str(tmp_path / "mhix"))


def test_incremental_probe_equals_full_corpus_lsh(spark, corpus, store):
    """The probe must report exactly the cross (batch, corpus) pairs the
    full minhash_lsh_pairs join over corpus ∪ batch reports — same
    estimates, nothing more, nothing less."""
    build_minhash_index(spark, store, "ix", corpus)
    batch = _docs(
        spark,
        [
            (100, BASE.replace("dog", "cat")),  # near-dup of corpus 1/2/5
            (101, "novel text that matches nothing in the stored corpus at all"),
        ],
    )
    got = {
        (r["batch_id"], r["corpus_id"]): r["est_jaccard"]
        for r in incremental_near_dups(spark, store, "ix", batch, threshold=0.5).collect()
    }
    assert got and all(b >= 100 and c < 100 for b, c in got)

    full = minhash_lsh_pairs(
        corpus.unionByName(batch), threshold=0.5, max_bucket_rows=None
    ).collect()
    expect = {}
    for r in full:
        a, b = r["id_a"], r["id_b"]
        if (a >= 100) != (b >= 100):  # cross pairs only
            batch_id, corpus_id = (a, b) if a >= 100 else (b, a)
            expect[(batch_id, corpus_id)] = r["est_jaccard"]
    assert got == expect


def test_extend_probes_segments_and_compact_preserves(spark, corpus, store):
    """probe → extend → probe: a doc near-duplicating an EXTENDED batch
    is caught by the next probe (base ∪ segments); compaction gives the
    same answers with zero segments."""
    build_minhash_index(spark, store, "ix", corpus)
    accepted = _docs(spark, [(200, "totally fresh sentence about delta segments in indexes")])
    assert extend_minhash_index(spark, store, "ix", accepted) == 1

    probe = _docs(
        spark,
        [(300, "totally fresh sentence about delta segments in an index")],  # ~dup of 200
    )
    got = incremental_near_dups(spark, store, "ix", probe, threshold=0.5).collect()
    assert {(r["batch_id"], r["corpus_id"]) for r in got} == {(300, 200)}

    v = compact_minhash_index(spark, store, "ix")
    assert v == 2
    from scalligraph_spark.operators.segments import read_meta

    assert read_meta(store, "ix")["segments"] == []
    got2 = incremental_near_dups(spark, store, "ix", probe, threshold=0.5).collect()
    assert [tuple(r) for r in got2] == [tuple(r) for r in got]


def test_index_records_provenance_and_rejects_wrong_kind(spark, corpus, store):
    store.write("docs", corpus)
    build_minhash_index(
        spark, store, "ix", store.read(spark, "docs"),
        corpus_store=store, corpus_label="docs",
    )
    from scalligraph_spark.operators.segments import read_meta

    m = read_meta(store, "ix")
    assert (m["corpus_label"], m["corpus_version"]) == ("docs", 1)

    store.write("docs", store.read(spark, "docs"))  # corpus advances
    extend_minhash_index(
        spark, store, "ix",
        _docs(spark, [(9, "appended doc text")]), corpus_store=store,
    )
    assert read_meta(store, "ix")["corpus_version"] == 2  # freshness tracked

    store.write("notix", corpus)
    with pytest.raises(ValueError, match="not a minhash index"):
        incremental_near_dups(spark, store, "notix", corpus)


def test_bands_must_divide_hashes(spark, corpus, store):
    with pytest.raises(ValueError, match="must divide"):
        build_minhash_index(spark, store, "ix", corpus, num_hashes=64, bands=7)


def test_probe_skips_hot_buckets_via_stored_stats(spark, store):
    """The probe's hot-bucket cap reads the per-bucket counts recorded
    at build time (no corpus scan): a degenerate corpus of identical
    docs is skipped under the cap, fully matched with the cap off."""
    clones = _docs(spark, [(i, "identical text repeated everywhere") for i in range(50)])
    build_minhash_index(spark, store, "ix", clones)
    probe = _docs(spark, [(999, "identical text repeated everywhere")])

    capped = incremental_near_dups(spark, store, "ix", probe, threshold=0.9,
                                   max_bucket_rows=10).collect()
    assert capped == []  # every bucket oversized → skipped, probe survives

    full = incremental_near_dups(spark, store, "ix", probe, threshold=0.9,
                                 max_bucket_rows=None).collect()
    assert {r["corpus_id"] for r in full} == set(range(50))  # cap off: all found

    # normal corpora are untouched by the default cap — and segment
    # stats sum with the base when deciding
    extra = _docs(spark, [(100, "identical text repeated everywhere")])
    extend_minhash_index(spark, store, "ix", extra)
    capped2 = incremental_near_dups(spark, store, "ix", probe, threshold=0.9,
                                    max_bucket_rows=60).collect()
    assert {r["corpus_id"] for r in capped2} == set(range(50)) | {100}  # 51 ≤ 60
    capped3 = incremental_near_dups(spark, store, "ix", probe, threshold=0.9,
                                    max_bucket_rows=50).collect()
    assert capped3 == []  # 51 > 50 only after summing base + segment counts

"""ANN index lifecycle: artifacts persist in the LabelStore, queries
consult them WITHOUT launching any training/sampling job, and the indexed
path is bit-identical to the per-call-trained path given the same
training inputs.  Reference discipline: indexes are declared schema
artifacts built once (models/Model.scala:16-19,
JanusDatabase.scala:304-434), not per-query work."""

from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")).persist()


@pytest.fixture()
def store(tmp_path):
    from scalligraph_spark.store import LabelStore

    return LabelStore(str(tmp_path / "ixstore"))


def _no_training(monkeypatch):
    """Poison every training/sampling entry point: the indexed path must
    never reach them."""
    import scalligraph_spark.operators.similarity as sim

    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("indexed ANN path launched a training job")

    monkeypatch.setattr(sim, "_train_centroids", boom)
    monkeypatch.setattr(sim, "pq_train", boom)


def test_ivf_index_roundtrip_and_identical_results(spark, embeddings, store, monkeypatch):
    from scalligraph_spark.operators import build_ivf_index, ivf_ann_topk, load_ann_index

    baseline = sorted(map(tuple, ivf_ann_topk(embeddings, k=5, n_centroids=8).collect()))

    v = build_ivf_index(store, "emb_ivf", embeddings, n_centroids=8)
    assert v == 1
    ix = load_ann_index(spark, store, "emb_ivf")
    assert ix.kind == "ivf" and ix.centroids.shape[0] == 8
    assert ix.meta["dim"] == ix.centroids.shape[1]

    _no_training(monkeypatch)
    got = sorted(
        map(tuple, ivf_ann_topk(embeddings, k=5, centroids=ix.centroids).collect())
    )
    assert got == baseline


def test_indexed_ann_topk_dispatch_no_training(spark, embeddings, store, monkeypatch):
    from scalligraph_spark.operators import build_ivf_index, indexed_ann_topk

    build_ivf_index(store, "emb_ivf", embeddings, n_centroids=8)
    _no_training(monkeypatch)
    out = indexed_ann_topk(spark, store, "emb_ivf", embeddings, k=3)
    rows = out.collect()
    assert rows and set(out.columns) == {"id_a", "id_b", "cosine"}
    # top-k contract: at most 3 neighbors per query id
    from collections import Counter

    assert max(Counter(r["id_a"] for r in rows).values()) <= 3


def test_pq_index_roundtrip_identical(spark, embeddings, store, monkeypatch):
    import numpy as np

    from scalligraph_spark.operators import build_pq_index, load_ann_index, pq_topk, pq_train

    books = pq_train(embeddings, m=4, nbits=4)
    baseline = sorted(map(tuple, pq_topk(embeddings, query_id=1, k=5, codebooks=books).collect()))

    build_pq_index(store, "emb_pq", embeddings, m=4, nbits=4)
    ix = load_ann_index(spark, store, "emb_pq")
    assert ix.kind == "pq" and ix.codebooks.shape == books.shape
    assert np.allclose(ix.codebooks, books)

    _no_training(monkeypatch)
    got = sorted(
        map(tuple, pq_topk(embeddings, query_id=1, k=5, codebooks=ix.codebooks).collect())
    )
    assert got == baseline


def test_lsh_index_pins_configuration(spark, embeddings, store, monkeypatch):
    from scalligraph_spark.operators import (
        build_lsh_index,
        indexed_ann_topk,
        load_ann_index,
        lsh_ann_topk,
    )

    baseline = sorted(
        map(tuple, lsh_ann_topk(embeddings, k=3, num_planes=6, num_tables=2).collect())
    )
    build_lsh_index(store, "emb_lsh", spark, num_planes=6, num_tables=2)
    ix = load_ann_index(spark, store, "emb_lsh")
    assert (ix.num_planes, ix.num_tables) == (6, 2)
    _no_training(monkeypatch)
    got = sorted(
        map(tuple, indexed_ann_topk(spark, store, "emb_lsh", embeddings, k=3).collect())
    )
    assert got == baseline


def test_semantic_dedup_with_prebuilt_centroids(spark, embeddings, store, monkeypatch):
    from scalligraph_spark.operators import build_ivf_index, load_ann_index, semantic_dedup

    baseline = sorted(
        map(tuple, semantic_dedup(embeddings, threshold=0.9, n_centroids=8).collect())
    )
    build_ivf_index(store, "emb_ivf", embeddings, n_centroids=8)
    ix = load_ann_index(spark, store, "emb_ivf")
    _no_training(monkeypatch)
    got = sorted(
        map(tuple, semantic_dedup(embeddings, threshold=0.9, centroids=ix.centroids).collect())
    )
    assert got == baseline


def test_index_rebuild_versions_and_rollback(spark, embeddings, store):
    from scalligraph_spark.operators import build_ivf_index, load_ann_index

    v1 = build_ivf_index(store, "emb_ivf", embeddings, n_centroids=4)
    v2 = build_ivf_index(store, "emb_ivf", embeddings, n_centroids=8)
    assert (v1, v2) == (1, 2)
    old = load_ann_index(spark, store, "emb_ivf", version=1)
    new = load_ann_index(spark, store, "emb_ivf")
    assert old.centroids.shape[0] == 4 and new.centroids.shape[0] == 8
    store.rollback("emb_ivf", 1)
    assert load_ann_index(spark, store, "emb_ivf").centroids.shape[0] == 4


def test_load_rejects_non_index_table(spark, store):
    from scalligraph_spark.operators import load_ann_index

    store.write("plain", spark.createDataFrame([(1,)], "x long"))
    with pytest.raises(ValueError, match="not an ANN index"):
        load_ann_index(spark, store, "plain")


def test_migration_builds_index_exactly_once(spark, embeddings, store, tmp_path):
    """Index build as a schema operation: executed once on first replay,
    skipped (version-gated) on re-execute — the reference's
    declared-index semantics through the migration tier."""
    from scalligraph_spark.migrations import IndexType, Operations, VersionStore
    from scalligraph_spark.operators import build_ivf_index

    calls = []

    def build(spark_, store_):
        calls.append(1)
        build_ivf_index(store_, "emb_ivf", embeddings, n_centroids=4)

    ops = (
        Operations("annschema")
        .add_index("embeddings", IndexType.STANDARD, "embedding")
        .db_operation("build ivf ann index", build)
    )
    versions = VersionStore(str(tmp_path / "versions.json"))
    ran = ops.execute(spark, store, versions)
    assert len(ran) == 2 and calls == [1]
    assert store.version("emb_ivf") == 1
    ran2 = ops.execute(spark, store, versions)
    assert ran2 == [] and calls == [1]  # replay is a no-op


def test_ivfpq_with_persisted_artifacts_no_training(spark, embeddings, store, monkeypatch):
    """The composed IVF-PQ path through BOTH persisted artifacts: cell
    pruning + ADC byte pruning + exact re-rank, zero training jobs; a
    full probe (n_probe = all cells) with full refine must equal the
    plain PQ scan with the same codebooks."""
    from scalligraph_spark.operators import (
        build_ivf_index,
        build_pq_index,
        ivfpq_topk,
        load_ann_index,
        pq_topk,
    )

    build_ivf_index(store, "emb_ivf", embeddings, n_centroids=8)
    build_pq_index(store, "emb_pq", embeddings, m=4, nbits=4)
    ivf = load_ann_index(spark, store, "emb_ivf")
    pq = load_ann_index(spark, store, "emb_pq")

    _no_training(monkeypatch)
    n = embeddings.count()
    full = sorted(
        map(
            tuple,
            ivfpq_topk(
                embeddings, query_id=1, k=5, n_probe=8, refine=n,
                centroids=ivf.centroids, codebooks=pq.codebooks,
            ).collect(),
        )
    )
    plain = sorted(
        map(tuple, pq_topk(embeddings, query_id=1, k=5, refine=n, codebooks=pq.codebooks).collect())
    )
    assert full == plain
    # pruned probe still returns k rows with exact cosines attached
    pruned = ivfpq_topk(
        embeddings, query_id=1, k=5, n_probe=2, refine=32,
        centroids=ivf.centroids, codebooks=pq.codebooks,
    ).collect()
    assert len(pruned) == 5
    assert all(-1.0 <= r["cosine"] <= 1.0 for r in pruned)


def test_indexed_ann_topk_dispatches_all_three_kinds(spark, embeddings, store, monkeypatch):
    """The dispatcher covers every persisted kind bit-identically to the
    direct query ops, with training poisoned — including the PQ
    single-query scan it used to refuse."""
    from scalligraph_spark.operators import (
        build_ivf_index,
        build_lsh_index,
        build_pq_index,
        indexed_ann_topk,
        ivf_ann_topk,
        load_ann_index,
        lsh_ann_topk,
        pq_topk,
        pq_train,
    )

    ivf_base = sorted(map(tuple, ivf_ann_topk(embeddings, k=3, n_centroids=8).collect()))
    lsh_base = sorted(
        map(tuple, lsh_ann_topk(embeddings, k=3, num_planes=6, num_tables=2).collect())
    )
    books = pq_train(embeddings, m=4, nbits=4)
    pq_base = sorted(
        map(tuple, pq_topk(embeddings, query_id=1, k=5, codebooks=books).collect())
    )

    build_ivf_index(store, "ix_ivf", embeddings, n_centroids=8)
    build_pq_index(store, "ix_pq", embeddings, m=4, nbits=4)
    build_lsh_index(store, "ix_lsh", spark, num_planes=6, num_tables=2)

    _no_training(monkeypatch)
    assert sorted(map(tuple, indexed_ann_topk(spark, store, "ix_ivf", embeddings, k=3).collect())) == ivf_base
    assert sorted(map(tuple, indexed_ann_topk(spark, store, "ix_lsh", embeddings, k=3).collect())) == lsh_base
    assert (
        sorted(map(tuple, indexed_ann_topk(spark, store, "ix_pq", embeddings, k=5, query_id=1).collect()))
        == pq_base
    )
    # PQ without a query vector is a contract error, not a silent full scan
    with pytest.raises(ValueError, match="query_id"):
        indexed_ann_topk(spark, store, "ix_pq", embeddings, k=5)


def test_stale_index_warns_and_reindex_clears(spark, embeddings, store):
    """Freshness guard: an index trained on corpus v1 used against corpus
    v2 raises StaleAnnIndexWarning at load; reindex_ann rebuilds against
    the current version with the meta-recorded parameters and the warning
    clears (the ReindexData discipline)."""
    import warnings

    from scalligraph_spark.operators import (
        StaleAnnIndexWarning,
        build_ivf_index,
        load_ann_index,
        reindex_ann,
    )

    store.write("emb", embeddings)  # corpus v1, store-tracked
    v = build_ivf_index(
        store, "emb_ix", store.read(spark, "emb"),
        n_centroids=8, corpus_store=store, corpus_label="emb",
    )
    ix = load_ann_index(spark, store, "emb_ix", corpus_store=store)
    assert ix.meta["corpus_label"] == "emb" and ix.meta["corpus_version"] == 1

    # corpus drifts to v2 -> the same load now warns
    store.write("emb", embeddings.limit(50))
    with pytest.warns(StaleAnnIndexWarning, match="v1 but the corpus is now v2"):
        load_ann_index(spark, store, "emb_ix", corpus_store=store)

    # rebuild: new artifact version, trained on v2, warning gone
    v2 = reindex_ann(spark, store, "emb_ix", corpus_store=store)
    assert v2 == v + 1
    with warnings.catch_warnings():
        warnings.simplefilter("error", StaleAnnIndexWarning)
        fresh = load_ann_index(spark, store, "emb_ix", corpus_store=store)
    assert fresh.meta["corpus_version"] == 2
    # readers pinned to the old artifact version are undisturbed
    assert load_ann_index(spark, store, "emb_ix", version=v).centroids.shape[0] == 8

    # an index with no recorded corpus cannot reindex blindly
    build_ivf_index(store, "emb_ix_untracked", store.read(spark, "emb"), n_centroids=4)
    with pytest.raises(ValueError, match="records no training corpus"):
        reindex_ann(spark, store, "emb_ix_untracked", corpus_store=store)


def test_reindex_defaults_to_built_column_names(spark, embeddings, store):
    """An index built over NON-default column names rebuilds without
    re-supplying them: the builders stamp id_col/vec_col into the commit
    meta and reindex_ann defaults from it — the automated maintenance
    sink path, which cannot know per-index column names."""
    from scalligraph_spark.operators import build_ivf_index, load_ann_index, reindex_ann

    renamed = embeddings.withColumnRenamed("vec_id", "doc_pk").withColumnRenamed(
        "embedding", "vec"
    )
    store.write("corpus", renamed)
    build_ivf_index(
        store, "ix", store.read(spark, "corpus"),
        n_centroids=4, id_col="doc_pk", vec_col="vec",
        corpus_store=store, corpus_label="corpus",
    )
    assert load_ann_index(spark, store, "ix").meta["id_col"] == "doc_pk"
    store.write("corpus", renamed.limit(40))  # drift
    v2 = reindex_ann(spark, store, "ix", corpus_store=store)  # no col args
    fresh = load_ann_index(spark, store, "ix", corpus_store=store)
    assert fresh.version == v2 and fresh.meta["vec_col"] == "vec"
    assert fresh.meta["corpus_version"] == 2


def test_ivf_search_reads_only_probed_cells_and_matches_numpy(spark, embeddings, store, monkeypatch):
    """True-IVF single-query search: build with store_cells=True, then
    (a) the search launches no training job, (b) the cell filter is
    PUSHED into the inverted-list scan, and (c) the result equals an
    exact numpy re-rank of precisely the vectors assigned to the probed
    cells — the candidate set is the stored lists, nothing more."""
    import contextlib
    import io

    import numpy as np

    from scalligraph_spark.operators import build_ivf_index, ivf_search, load_ann_index

    build_ivf_index(store, "ix", embeddings, n_centroids=8, store_cells=True, cells_n_list=2)
    q_row = embeddings.where("vec_id = 3").collect()[0]
    q = np.asarray(list(q_row["embedding"]), dtype=np.float64)

    _no_training(monkeypatch)
    got = ivf_search(spark, store, "ix", q, k=5, n_probe=3).collect()

    # expected: numpy over the STORED assignments
    C = load_ann_index(spark, store, "ix").centroids
    probes = set(np.argsort(-(C @ (q / np.linalg.norm(q))))[:3].tolist())
    cells = store.read(spark, "ix__cells").collect()
    cand = {}
    for r in cells:
        if r["cell"] in probes:
            cand[r["id"]] = np.asarray(list(r["vec"]), dtype=np.float64)
    scored = sorted(
        (
            (-(v @ q) / (np.linalg.norm(v) * np.linalg.norm(q)), i)
            for i, v in cand.items()
        ),
    )[:5]
    expect = [(i, round(-s, 12)) for s, i in scored]
    assert [(r["vec_id"], r["cosine"]) for r in got] == expect

    # the probe filter reaches the parquet scan
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ivf_search(spark, store, "ix", q, k=5, n_probe=3).explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "In(cell" in plan

    # vectors multi-assigned into two probed cells appear exactly once
    ids = [r["vec_id"] for r in got]
    assert len(ids) == len(set(ids))


def test_ivf_search_requires_stored_cells(spark, embeddings, store):
    from scalligraph_spark.operators import build_ivf_index, ivf_search

    build_ivf_index(store, "ix", embeddings, n_centroids=4)  # no cells
    with pytest.raises(ValueError, match="store_cells=True"):
        ivf_search(spark, store, "ix", [1.0, 0.0], k=3)


def test_ivf_search_finds_planted_neighbor(spark, store):
    """Recall sanity on a planted corpus: the query's near-duplicate must
    rank first through the inverted lists."""
    import numpy as np

    from scalligraph_spark.operators import build_ivf_index, ivf_search

    rng = np.random.RandomState(7)
    base = rng.randn(200, 16)
    base[17] = base[3] + rng.randn(16) * 0.01  # near-dup of vector 3
    rows = [(i, [float(x) for x in base[i]]) for i in range(len(base))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    build_ivf_index(store, "ix", emb, n_centroids=8, store_cells=True, cells_n_list=2)
    got = ivf_search(spark, store, "ix", base[3], k=3, n_probe=4).collect()
    assert got[0]["vec_id"] == 3  # the vector itself
    assert got[1]["vec_id"] == 17  # its planted near-duplicate


def test_reindex_preserves_inverted_lists(spark, embeddings, store):
    """An index built with store_cells keeps its inverted lists through
    reindex_ann — the artifact shape is part of the contract, so
    ivf_search keeps working after automated maintenance."""
    from scalligraph_spark.operators import build_ivf_index, ivf_search, reindex_ann

    store.write("emb", embeddings)
    build_ivf_index(store, "ix", store.read(spark, "emb"), n_centroids=8,
                    store_cells=True, cells_n_list=2,
                    corpus_store=store, corpus_label="emb")
    store.write("emb", store.read(spark, "emb"))  # corpus advances
    reindex_ann(spark, store, "ix", corpus_store=store)
    q = embeddings.where("vec_id = 1").collect()[0]["embedding"]
    got = ivf_search(spark, store, "ix", q, k=3, n_probe=3).collect()
    assert got[0]["vec_id"] == 1  # still searchable, exact self-hit first


def test_extend_ann_cells_incremental_equals_full_and_compacts(spark, embeddings, store, monkeypatch):
    """Appended vectors become ivf_search-able through delta segments —
    with NO retraining (the training entry points are poisoned during
    extend) — and results equal a full rebuild's lists given the same
    centroids; compaction merges back to one base with identical
    answers.  The quantizer provenance (corpus_version) stays at the
    training run so drift detection keeps its anchor."""
    import numpy as np

    from scalligraph_spark.operators import (
        build_ivf_index,
        compact_ann_cells,
        extend_ann_cells,
        ivf_search,
        load_ann_index,
    )

    store.write("emb", embeddings)
    build_ivf_index(store, "ix", store.read(spark, "emb"), n_centroids=8,
                    store_cells=True, cells_n_list=2,
                    corpus_store=store, corpus_label="emb")
    trained_v = load_ann_index(spark, store, "ix").meta["corpus_version"]

    dim = len(embeddings.first()["embedding"])
    rng = np.random.RandomState(11)
    q = np.asarray(list(embeddings.where("vec_id = 5").first()["embedding"]), dtype=np.float64)
    new1 = [(100000 + i, [float(x) for x in (q + rng.randn(dim) * 0.01)]) for i in range(3)]
    new2 = [(200000 + i, [float(x) for x in rng.randn(dim)]) for i in range(4)]
    b1 = spark.createDataFrame(new1, "vec_id long, embedding array<double>")
    b2 = spark.createDataFrame(new2, "vec_id long, embedding array<double>")

    store.write("emb", store.read(spark, "emb").unionByName(b1, allowMissingColumns=True))
    _no_training(monkeypatch)  # extends must never retrain
    assert extend_ann_cells(spark, store, "ix", b1, corpus_store=store) == 1
    store.write("emb", store.read(spark, "emb").unionByName(b2, allowMissingColumns=True))
    assert extend_ann_cells(spark, store, "ix", b2, corpus_store=store) == 2

    meta = load_ann_index(spark, store, "ix").meta
    assert meta["corpus_version"] == trained_v  # quantizer anchor unchanged
    assert meta["cells_corpus_version"] == store.version("emb")  # lists fresh
    assert meta["segments"] == ["ix__cells_seg1", "ix__cells_seg2"]

    got = ivf_search(spark, store, "ix", q, k=4, n_probe=4).collect()
    ids = [r["vec_id"] for r in got]
    assert ids[0] == 5  # self-hit
    assert set(ids[1:]) == {100000, 100001, 100002}  # appended near-dups found

    after = compact_ann_cells(spark, store, "ix")
    meta2 = load_ann_index(spark, store, "ix").meta
    assert meta2["segments"] == [] and after == 2
    got2 = ivf_search(spark, store, "ix", q, k=4, n_probe=4).collect()
    assert [(r["vec_id"], r["cosine"]) for r in got2] == [(r["vec_id"], r["cosine"]) for r in got]

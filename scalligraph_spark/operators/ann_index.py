"""Persisted ANN index artifacts over the versioned LabelStore — train
once, query many times.

The reference treats indexes as DECLARED, PERSISTED schema artifacts
built once (Model.scala:16-19, JanusDatabase.scala:304-434
``addIndex``/``reindex``); queries only *consult* them.  Here:

* :func:`build_ivf_index` / :func:`build_pq_index` / :func:`build_lsh_index`
  run the bounded-deterministic-sample training ONCE and commit the
  artifact as a versioned store table whose commit meta describes it —
  a rebuild is a new version, readers pinned to the old one are
  undisturbed.  ``store_cells=True`` also stores the IVF inverted lists,
  which run the segmented-index lifecycle (segments.py).
* :func:`load_ann_index` reads the artifact back into the numpy form the
  query ops consume (≤4096 centroids × dim doubles / m·2^nbits
  codewords / one config row — broadcast-sized by construction).
* the query ops accept the loaded artifact and launch NO training job:
  ``ivf_ann_topk(..., centroids=)``, ``semantic_dedup(..., centroids=)``,
  ``pq_topk(..., codebooks=)``, ``lsh_bucket_candidates(...,
  num_planes=, num_tables=)``; :func:`indexed_ann_topk` dispatches on
  the stored kind.

Register a build as a migration ``db_operation`` to run the training
exactly once per schema version (Operation.scala:117-131).
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd  # module-level: pandas_udf type hints resolve in module globals
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scalligraph_spark.operators import segments


@dataclass
class AnnIndex:
    """A loaded ANN index artifact: ``kind`` ∈ {ivf, pq, lsh} plus the
    numpy payload the query operators consume directly."""

    kind: str
    version: int
    meta: dict
    centroids: object | None = None  # ivf: (k, dim) float64, unit rows
    codebooks: object | None = None  # pq: (m, 2**nbits, dsub) float64
    num_planes: int | None = None  # lsh
    num_tables: int | None = None  # lsh


class MissingAnnIndexWarning(UserWarning):
    """An ANN index was DECLARED for a query surface but no usable
    artifact exists — the query falls back to the exact brute-force
    scan (the text tier's MissingTextIndexWarning twin)."""


class StaleAnnIndexWarning(UserWarning):
    """A persisted ANN index was trained on an older corpus version than
    the one it is used against — recall silently degrades as the corpus
    drifts.  Rebuild via :func:`reindex_ann`."""


def _corpus_meta(corpus_store, corpus_label: str | None) -> dict:
    """Which corpus table version the quantizer/codebooks saw ({} when
    the corpus is not store-tracked)."""
    if corpus_store is None or corpus_label is None:
        return {}
    return {
        "corpus_label": str(corpus_label),
        "corpus_version": int(corpus_store.version(corpus_label)),
    }


def _artifact(store, name: str, version: int | None = None) -> dict:
    """An artifact table's columns as Python lists, read in-process with
    pyarrow: artifacts are broadcast-sized (≤4096 centroids, m·2^nbits
    codewords, one config row) and the store is local files, so loading
    one launches no Spark job."""
    import pyarrow.parquet as pq

    return pq.read_table(store.path(name, version)).to_pydict()


def _centroids(store, name: str, version: int | None = None):
    import numpy as np

    t = _artifact(store, name, version)
    return np.array(t["centroid"], dtype=np.float64)[np.argsort(t["cell"], kind="stable")]


def build_ivf_index(
    store,
    name: str,
    embeddings: DataFrame,
    n_centroids: int | None = None,
    sample_rows: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
    corpus_store=None,
    corpus_label: str | None = None,
    store_cells: bool = False,
    cells_n_list: int = 1,
    cells_files: int = 16,
) -> int:
    """Train the IVF coarse quantizer once (the same bounded deterministic
    sample + spherical k-means `ivf_ann_topk` used per call) and commit the
    centroids as store table ``name`` → returns the committed version.
    Pass ``n_rows`` to skip the auto-sizing count scan.

    ``store_cells=True`` additionally materialises the INVERTED LISTS as
    ``name__cells`` — every vector's (cell, id, vec) assignment,
    range-partitioned + sorted on ``cell`` so parquet footer stats prune a
    probe to its cells' row groups.  This is the true-IVF layout
    (Jégou et al., "Product Quantization for Nearest Neighbor Search",
    IEEE TPAMI 2011 — coarse quantizer + per-cell lists): a single-query
    :func:`ivf_search` then reads ONLY the ``n_probe`` probed cells —
    cost ∝ probed-list length, never a corpus scan — exactly the
    posting-list discipline the text index uses for terms.  The per-call
    ``ivf_ann_topk`` path (every vector queries at once) keeps computing
    assignments on the fly, where one matmul over the corpus is the work
    itself.  ``cells_n_list`` multi-assigns boundary vectors into their
    n nearest cells (the classic IVF recall leak fix; storage ×n)."""
    import math

    from scalligraph_spark.operators.similarity import _train_centroids

    if n_centroids is None:
        n = n_rows if n_rows is not None else embeddings.count()
        n_centroids = max(4, min(4096, int(math.sqrt(max(n, 4)))))
    C = _train_centroids(embeddings, n_centroids, sample_rows, id_col, vec_col)
    df = embeddings.sparkSession.createDataFrame(
        [(int(i), [float(x) for x in C[i]]) for i in range(len(C))], "cell int, centroid array<double>"
    )
    meta = {
        "kind": "ivf",
        "n_centroids": int(len(C)),
        "dim": int(C.shape[1]),
        "sample_rows": int(sample_rows),
        "id_col": str(id_col),
        "vec_col": str(vec_col),
        **_corpus_meta(corpus_store, corpus_label),
    }
    if not store_cells:
        return store.write(name, df, meta=meta)
    meta.update(cells=True, cells_n_list=int(cells_n_list), cells_files=int(cells_files))

    def bases(m: dict, write) -> int:
        write("cells", _assign_cells(embeddings, C, cells_n_list, id_col, vec_col))
        return store.write(name, df, meta=meta)

    spark = embeddings.sparkSession
    return segments.build(spark, store, FAMILY, name, meta, corpus_store, corpus_label, bases)


def _assign_cells(embeddings: DataFrame, C, n_list: int, id_col: str, vec_col: str) -> DataFrame:
    """(cell, id, vec) inverted-list rows: each vector into its ``n_list``
    nearest cells — ONE Arrow matmul against the broadcast-sized centroid
    matrix, map-only (the shuffle is the range partition at write time)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    n_list = min(int(n_list), len(C))

    @pandas_udf("array<int>")
    def nearest_cells(v: pd.Series) -> pd.Series:
        M = np.vstack(v.to_numpy()).astype(np.float64)
        M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        sims = M @ C.T
        top = np.argsort(-sims, axis=1)[:, :n_list].astype(np.int32)
        return pd.Series(list(top))

    return embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        nearest_cells(F.col(vec_col)).alias("__cells"),
    ).select(F.explode("__cells").alias("cell"), "id", "vec")


def _require_cells(store, name: str) -> None:
    if not store.commit_meta(name).get("cells"):
        raise ValueError(
            f"index {name!r} has no stored inverted lists; build it with "
            "build_ivf_index(..., store_cells=True)"
        )


def extend_ann_cells(
    spark: SparkSession,
    store,
    name: str,
    new_embeddings: DataFrame,
    corpus_store=None,
    as_of_version: int | None = None,
) -> int:
    """Incremental (append-only) inverted-list maintenance: assign a batch
    of NEW vectors against the EXISTING centroids (one Arrow matmul over
    the batch — no retraining, no corpus rescan) and land them as a
    cell-sorted segment ``name__cells_seg<k>``; :func:`ivf_search` reads
    base ∪ segments, so appended vectors are searchable with no
    staleness window.  The quantizer is NOT updated — distribution drift
    still degrades recall — so ``corpus_version`` (quantizer provenance,
    the staleness-warning and retrain anchor) stays at the last training
    run; the lists' own freshness is ``cells_corpus_version``.  Returns
    the new segment count."""
    _require_cells(store, name)
    return segments.extend(spark, store, FAMILY, name, new_embeddings, corpus_store, as_of_version)


def _extend(spark: SparkSession, store, name: str, meta: dict, batch: DataFrame, write) -> dict:
    C = _centroids(store, name)
    n_list = int(meta["cells_n_list"])
    write("cells", _assign_cells(batch, C, n_list, meta["id_col"], meta["vec_col"]))
    return {}


def compact_ann_cells(spark: SparkSession, store, name: str) -> int:
    """Merge every cell-list delta segment back into the base table (one
    cell-sorted rewrite of existing assignments — no re-assignment, no
    training): probes go back to one pruned scan.  Returns the new base
    version of ``name__cells``."""
    return segments.compact(spark, store, FAMILY, name)


def ivf_search(
    spark: SparkSession,
    store,
    name: str,
    query_vec,
    k: int = 10,
    n_probe: int = 4,
    corpus_store=None,
) -> DataFrame:
    """Single-query nearest-neighbor search through the PERSISTED inverted
    lists: the probe cells are a driver-side argsort against the
    centroids (no job), the scan reads ONLY those cells (``cell IN (…)``
    pushed into the cell-sorted parquet), and the exact-cosine re-rank +
    top-k run over candidate-list-sized data.

    Requires the index built with ``store_cells=True``.  Output
    ``(vec_id, cosine)`` sorted by cosine desc, id asc, ≤ k rows."""
    import numpy as np

    from scalligraph_spark.operators.similarity import _double_dot, _double_norm2

    ix = load_ann_index(spark, store, name, corpus_store=corpus_store)
    if ix.kind != "ivf" or not ix.meta.get("cells"):
        raise ValueError(
            f"index {name!r} has no stored inverted lists; build it with "
            "build_ivf_index(..., store_cells=True)"
        )
    C = ix.centroids
    q = np.asarray(list(query_vec), dtype=np.float64)
    qn = np.linalg.norm(q)
    if qn == 0:
        raise ValueError("query vector has zero norm")
    probes = np.argsort(-(C @ (q / qn)))[: min(n_probe, len(C))]
    qlit = F.array(*[F.lit(float(x)) for x in q])
    cand = (
        segments.read_part(spark, store, FAMILY, name, ix.meta, "cells")
        .where(F.col("cell").isin([int(c) for c in probes]))
        .dropDuplicates(["id"])  # multi-assigned vectors appear once
    )
    scored = cand.select(
        F.col("id").alias("vec_id"),
        F.round(
            _double_dot(F.col("vec"), qlit)
            / (F.sqrt(_double_norm2(F.col("vec"))) * F.lit(float(qn))),
            12,
        ).alias("cosine"),
    )
    # global top-k of ONE query: TakeOrdered, deterministic tiebreak
    return scored.orderBy(F.col("cosine").desc_nulls_last(), F.col("vec_id").asc()).limit(k)


def build_pq_index(
    store,
    name: str,
    embeddings: DataFrame,
    m: int = 4,
    nbits: int = 8,
    sample_rows: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_store=None,
    corpus_label: str | None = None,
) -> int:
    """Train PQ codebooks once (`pq_train`'s bounded deterministic sample)
    and commit them as store table ``name`` (one row per (subspace, code))
    → returns the committed version."""
    from scalligraph_spark.operators.similarity import pq_train

    books = pq_train(
        embeddings, m=m, nbits=nbits, sample_rows=sample_rows, id_col=id_col, vec_col=vec_col
    )
    mm, kk, dsub = books.shape
    rows = [(int(j), int(c), [float(x) for x in books[j, c]]) for j in range(mm) for c in range(kk)]
    df = embeddings.sparkSession.createDataFrame(
        rows, "subspace int, code int, centroid array<double>"
    )
    meta = {
        "kind": "pq", "m": int(mm), "nbits": int(nbits), "dsub": int(dsub),
        "sample_rows": int(sample_rows), "id_col": str(id_col), "vec_col": str(vec_col),
        **_corpus_meta(corpus_store, corpus_label),
    }
    return store.write(name, df, meta=meta)


def build_lsh_index(
    store,
    name: str,
    spark: SparkSession,
    num_planes: int,
    num_tables: int = 4,
) -> int:
    """Pin an LSH configuration as a store artifact.  The hyperplanes
    derive from frozen seeds on every executor, so the artifact IS the
    (num_planes, num_tables) configuration — pinning it stops the
    per-call auto-sizing scan and keeps bucket assignments stable."""
    df = spark.createDataFrame(
        [(int(num_planes), int(num_tables))], "num_planes int, num_tables int"
    )
    meta = {"kind": "lsh", "num_planes": int(num_planes), "num_tables": int(num_tables)}
    return store.write(name, df, meta=meta)


def load_ann_index(
    spark: SparkSession,
    store,
    name: str,
    version: int | None = None,
    corpus_store=None,
) -> AnnIndex:
    """Load a persisted index artifact into its queryable numpy form (an
    in-process read, no Spark job: artifacts are broadcast-sized).  With
    ``corpus_store``, a corpus that advanced past the trained version
    raises :class:`StaleAnnIndexWarning` — recall degrades silently
    otherwise; refresh with :func:`reindex_ann`."""
    import numpy as np

    v = store.version(name) if version is None else version
    if v == 0:
        raise FileNotFoundError(f"label {name!r} has no committed version in {store.root}")
    meta = store.commit_meta(name, v)
    if version is None and meta.get("cells"):
        meta = dict(meta, **segments.read_meta(store, name))  # the lists' record
    segments.warn_if_stale(
        FAMILY, name, meta, corpus_store, StaleAnnIndexWarning, "rebuild with reindex_ann()"
    )
    kind = meta.get("kind")
    if kind == "ivf":
        return AnnIndex(kind="ivf", version=v, meta=meta, centroids=_centroids(store, name, v))
    if kind == "pq":
        m, nbits, dsub = meta["m"], meta["nbits"], meta["dsub"]
        books = np.empty((m, 1 << nbits, dsub), dtype=np.float64)
        t = _artifact(store, name, v)
        for sub, code, cen in zip(t["subspace"], t["code"], t["centroid"]):
            books[sub, code] = cen
        return AnnIndex(kind="pq", version=v, meta=meta, codebooks=books)
    if kind == "lsh":
        t = _artifact(store, name, v)
        return AnnIndex(kind="lsh", version=v, meta=meta,
                        num_planes=int(t["num_planes"][0]), num_tables=int(t["num_tables"][0]))
    raise ValueError(f"label {name!r} v{v} is not an ANN index artifact (meta={meta})")


def indexed_ann_topk(
    spark: SparkSession,
    store,
    name: str,
    embeddings: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **kwargs,
) -> DataFrame:
    """Top-k neighbors THROUGH a persisted index: load the artifact and
    dispatch to the matching query op with training disabled.  The only
    jobs launched are the query's own (assignment matmul + candidate join
    + re-rank) — no sampling, no k-means, no auto-sizing scan."""
    from scalligraph_spark.operators.similarity import ivf_ann_topk, lsh_ann_topk, pq_topk

    ix = load_ann_index(spark, store, name)
    if ix.kind == "ivf":
        return ivf_ann_topk(
            embeddings, k=k, id_col=id_col, vec_col=vec_col, centroids=ix.centroids, **kwargs
        )
    if ix.kind == "lsh":
        return lsh_ann_topk(
            embeddings, k=k, num_planes=ix.num_planes, num_tables=ix.num_tables,
            id_col=id_col, vec_col=vec_col, **kwargs,
        )
    if ix.kind == "pq":
        if "query_id" not in kwargs:
            raise ValueError(
                "kind='pq' indexes serve single-query asymmetric-distance "
                "scans: pass query_id=<vector id> (pq_topk contract)"
            )
        return pq_topk(
            embeddings, k=k, id_col=id_col, vec_col=vec_col, codebooks=ix.codebooks, **kwargs
        )
    raise ValueError(f"index {name!r} has unknown kind {ix.kind!r}")


def reindex_ann(
    spark: SparkSession,
    store,
    name: str,
    corpus_store,
    id_col: str | None = None,
    vec_col: str | None = None,
) -> int:
    """Rebuild a persisted index against the CURRENT corpus version with
    the parameters recorded in its own meta (the ``JanusDatabase.reindex``
    analog): a new artifact version, readers pinned to the old one
    undisturbed, the freshness warning cleared.  Column names default to
    the ones recorded at build time, so automated rebuilds (the streaming
    index-maintenance sink) work for non-default column names."""
    meta = store.commit_meta(name)
    if "corpus_label" not in meta:
        raise ValueError(
            f"index {name!r} records no training corpus; rebuild it with the "
            "matching build_*_index(..., corpus_store=, corpus_label=) instead"
        )
    common = dict(
        id_col=id_col if id_col is not None else meta["id_col"],
        vec_col=vec_col if vec_col is not None else meta["vec_col"],
        sample_rows=int(meta["sample_rows"]),
        corpus_store=corpus_store, corpus_label=meta["corpus_label"],
    )
    emb = corpus_store.read(spark, meta["corpus_label"])
    kind = meta.get("kind")
    if kind == "ivf":
        # an index built with inverted lists keeps them through rebuilds
        cells = {k: meta[k] for k in ("cells_n_list", "cells_files") if k in meta}
        return build_ivf_index(
            store, name, emb, n_centroids=int(meta["n_centroids"]),
            store_cells=bool(meta.get("cells", False)), **cells, **common,
        )
    if kind == "pq":
        return build_pq_index(
            store, name, emb, m=int(meta["m"]), nbits=int(meta["nbits"]), **common
        )
    raise ValueError(f"index {name!r} has kind {kind!r}; only ivf/pq retrain (lsh is configuration)")


FAMILY = segments.Family(
    what="ANN index",
    record="ivf",
    parts={"cells": "id"},
    sort={"cells": "cell"},
    files=("cells_files", 16),
    version_key="cells_corpus_version",
    extend=_extend,
    reindex=reindex_ann,
)

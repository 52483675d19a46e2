"""Persisted inverted-index artifacts: build the text index once, search
many times.

The reference's fulltext read path is index-backed: models declare
fulltext index hints (core/.../models/Model.scala:16-19), the database
materialises Lucene mixed indexes (JanusDatabase.scala:304-434
``addIndex`` / ``reindex``), and ``TextP`` predicates CONSULT them.
:func:`~scalligraph_spark.operators.text.bm25_rank` recomputes
tokenisation and corpus statistics on every query; this module pays
them once:

* :func:`build_text_index` commits the postings ``(term, doc_id, tf,
  dl)`` term-sorted, so footer min/max stats prune a search to the row
  groups of its terms (cost ∝ posting-list length), and the vocabulary
  ``name__terms`` ``(term, df)``, with n_docs / sum_dl in the index
  record.  Extend, compaction and tombstone catch-up run the
  segmented-index lifecycle (segments.py); each rewrites the
  (vocabulary-sized) ``name__terms`` whole, published by the record.
* :func:`load_text_index` reads the artifact back lazily and warns via
  :class:`StaleTextIndexWarning` when the corpus has advanced.
* :func:`indexed_bm25_topk` answers from the index with no corpus scan
  and no tokenisation, scoring through the SAME expression tree as
  ``bm25_rank`` — bit-identical results by construction.
* :func:`reindex_text` rebuilds against the current corpus version with
  the parameters recorded in the index's own meta.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scalligraph_spark.operators import segments


class StaleTextIndexWarning(UserWarning):
    """A persisted text index was built on an older corpus version than the
    one it is being used against — new/changed documents are invisible to
    search until :func:`reindex_text` runs."""


class MissingTextIndexWarning(UserWarning):
    """A text index was DECLARED for a query surface but no committed
    artifact exists — the query falls back to a full corpus scan (the
    reference routes every TextP through a declared index,
    JanusDatabase.scala:476-485; the batch analog degrades loudly)."""


@dataclass
class TextIndex:
    """A loaded text-index artifact: lazy postings/terms DataFrames plus
    the driver-side corpus stats from the index record."""

    version: int
    meta: dict = field(default_factory=dict)
    postings: DataFrame | None = None  # (term, doc_id, tf, dl)
    terms: DataFrame | None = None  # (term, df)

    @property
    def n_docs(self) -> int:
        return int(self.meta["n_docs"])

    @property
    def sum_dl(self) -> int:
        return int(self.meta["sum_dl"])


def _postings(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """``(term, doc_id, tf, dl)``.  A document with no tokens (null text)
    gets one sentinel posting ``(null, doc_id, 0, 0)``: no query term
    matches it and the vocabulary skips it, but it keeps the document
    countable, and hideable by a tombstone, when compaction restores
    n_docs from the postings."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    exploded = docs.select(
        F.col(id_col).alias("doc_id"), _dl(toks).alias("dl"), F.explode_outer(toks).alias("term")
    )
    # ONE shuffle on (term, doc_id), paid at build time instead of per
    # query; dl is constant within a doc
    return exploded.groupBy("term", "doc_id").agg(
        F.count("term").cast("long").alias("tf"), F.first("dl").alias("dl")
    )


def _dl(toks):
    return F.when(toks.isNull(), 0).otherwise(F.size(toks)).cast("long")


def _df(postings: DataFrame) -> DataFrame:
    return (
        postings.where(F.col("term").isNotNull())
        .groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    )


def _write_terms(store, name: str, meta: dict, terms: DataFrame) -> dict:
    """Commit the vocabulary; the carrier publishes the new version."""
    store.write(f"{name}__terms", terms)
    return segments.publish_version(store, meta, f"{name}__terms")


def _terms(spark: SparkSession, store, name: str, meta: dict) -> DataFrame:
    lbl = f"{name}__terms"
    return store.read(spark, lbl, segments.published(meta, lbl))


def build_text_index(
    store,
    name: str,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sort_files: int = 16,
    corpus_store=None,
    corpus_label: str | None = None,
) -> int:
    """Tokenise the corpus once and commit the term-sorted postings
    ``name`` and the vocabulary ``name__terms`` → returns the postings
    version."""
    # persisted for the build: the postings feed sum_dl (Σ tf), the
    # vocabulary AND the term-sorted commit
    post = _postings(docs, text_col, id_col).persist()
    try:
        sumdl = int(post.agg(F.sum("tf").cast("long").alias("sumdl")).first()[0] or 0)
        n = docs.count()
        meta = {
            "kind": "bm25_inverted",
            "n_docs": int(n),
            "sum_dl": int(sumdl),
            "text_col": str(text_col),
            "id_col": str(id_col),
            "sort_files": int(sort_files),
            "base_n_docs": int(n),  # docs in the BASE postings (compaction anchor)
        }

        def bases(m: dict, write) -> int:
            m.update(_write_terms(store, name, m, _df(post)))
            return write("", post)

        spark = docs.sparkSession
        return segments.build(spark, store, FAMILY, name, meta, corpus_store, corpus_label, bases)
    finally:
        post.unpersist()


def extend_text_index(
    spark: SparkSession,
    store,
    name: str,
    new_docs: DataFrame,
    corpus_store=None,
    as_of_version: int | None = None,
) -> int:
    """Fold a batch of NEW documents in for the cost of the batch: its
    postings land as a term-sorted segment ``name__seg<k>``, the
    vocabulary re-aggregates old df + the batch's df, and n_docs /
    sum_dl / the corpus version update in the index record.  Documents
    the index has seen need tombstone catch-up or :func:`reindex_text`.
    Returns the new segment count."""
    return segments.extend(spark, store, FAMILY, name, new_docs, corpus_store, as_of_version)


def _extend(spark: SparkSession, store, name: str, meta: dict, new_docs: DataFrame, write) -> dict:
    text_col, id_col = str(meta["text_col"]), str(meta["id_col"])
    n, sumdl = new_docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dl(F.split(F.trim(F.col(text_col)), r"\s+"))).alias("sumdl"),
    ).first()
    seg = write("", _postings(new_docs, text_col, id_col))
    merged = (
        _terms(spark, store, name, meta)
        .unionByName(_df(store.read(spark, seg)))
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
    )
    return dict(
        _write_terms(store, name, meta, merged),
        n_docs=int(meta["n_docs"]) + int(n),
        sum_dl=int(meta["sum_dl"]) + int(sumdl or 0),
    )


def compact_text_index(spark: SparkSession, store, name: str) -> int:
    """Merge every delta segment back into the base postings table (one
    term-sorted rewrite of existing postings — NO retokenisation, the
    Lucene segment merge): queries go back to one pruned scan.  Returns
    the new base version."""
    return segments.compact(spark, store, FAMILY, name)


def _compact(spark, store, name: str, meta: dict, data: dict, tombstoned: bool) -> dict:
    if not tombstoned:
        return {"base_n_docs": int(meta["n_docs"])}
    # df / n_docs / sum_dl drifted Lucene-style while tombstones hid
    # docs: restore them exactly from the postings being rewritten anyway
    post = data[""]
    n, sumdl = (
        post.groupBy("doc_id")
        .agg(F.first("dl").alias("dl"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").cast("long").alias("sumdl"))
        .first()
    )
    return dict(
        _write_terms(store, name, meta, _df(post)),
        n_docs=int(n), sum_dl=int(sumdl or 0), base_n_docs=int(n),
    )


def _index_meta(store, name: str) -> dict:
    return segments.index_meta(store, FAMILY, name)


def load_text_index(
    spark: SparkSession,
    store,
    name: str,
    corpus_store=None,
) -> TextIndex:
    """Read the artifact back (postings/terms stay lazy DataFrames);
    postings are the base ∪ live segments with tombstoned documents
    hidden — query code never sees the segmentation.  df / n_docs /
    sum_dl keep counting tombstoned documents until compaction restores
    exact stats (the Lucene deleted-docs drift rule).  Pass
    ``corpus_store`` to check freshness: if the corpus label the index
    was built from has advanced, a :class:`StaleTextIndexWarning`
    fires."""
    meta = _index_meta(store, name)
    segments.warn_if_stale(
        FAMILY, name, meta, corpus_store, StaleTextIndexWarning,
        "search misses newer documents; rebuild via reindex_text",
    )
    return TextIndex(
        version=int(store.version(name)),
        meta=dict(meta),
        postings=segments.read_part(spark, store, FAMILY, name, meta),
        terms=_terms(spark, store, name, meta),
    )


def indexed_bm25_topk(
    index: TextIndex,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 6,
) -> DataFrame:
    """BM25 search THROUGH the persisted index: no corpus scan, no
    tokenisation, no stats job.  ``term IN query_terms`` is pushed into
    the term-sorted scans (cost ∝ matched posting lists); df / n / avgdl
    come from the vocabulary and the index record; the scoring tail is
    the SAME expression tree as :func:`bm25_rank`, so output is
    bit-identical to the full-scan path on the indexed corpus version.

    Output ``(doc_id, dl, bm25, rank)`` — ``bm25_rank`` column contract.
    """
    from scalligraph_spark.operators.text import _bm25_score_and_rank

    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    id_col = str(index.meta["id_col"])
    p = index.postings.where(F.col("term").isin(list(query_terms)))
    # per-doc tf vector reconstructed from the matched postings (docs with
    # no matching term never enter — same visible set as the scan path)
    d = p.groupBy(F.col("doc_id").alias(id_col), "dl").agg(
        *[
            F.coalesce(F.max(F.when(F.col("term") == t, F.col("tf"))), F.lit(0))
            .cast("int")
            .alias(f"__tf{i}")
            for i, t in enumerate(query_terms)
        ]
    )
    t = index.terms.where(F.col("term").isin(list(query_terms)))
    stats = t.agg(
        F.lit(float(index.n_docs)).alias("__n"),
        F.lit(float(index.sum_dl)).alias("__sumdl"),
        *[
            F.coalesce(F.max(F.when(F.col("term") == q, F.col("df"))), F.lit(0))
            .cast("double")
            .alias(f"__df{i}")
            for i, q in enumerate(query_terms)
        ],
    )
    return _bm25_score_and_rank(d, stats, len(query_terms), k1, b, round_to, id_col)


def matching_terms(index: TextIndex, mode: str, pattern: str) -> DataFrame:
    """Vocabulary rows whose term matches the predicate — the index-side
    half of a ``TextP`` evaluation (``TextP.startsWith`` etc. against the
    Lucene mixed index, JanusDatabase.scala index queries).  The terms
    table is vocabulary-sized (≪ corpus), and ``prefix`` compiles to
    ``StringStartsWith`` which pushes into its parquet scan.

    Modes: ``term`` (exact), ``prefix``, ``suffix``, ``contains``,
    ``regex`` (Java regex via ``rlike``).
    """
    t = F.col("term")
    conds = {"term": t.__eq__, "prefix": t.startswith, "suffix": t.endswith,
             "contains": t.contains, "regex": t.rlike}
    if mode not in conds:
        raise ValueError(f"mode must be term/prefix/suffix/contains/regex, got {mode!r}")
    return index.terms.where(conds[mode](pattern))


def docs_with_matching_term(index: TextIndex, mode: str, pattern: str) -> DataFrame:
    """Distinct doc ids containing ≥1 TOKEN matching the predicate — the
    posting-list union for a ``TextP`` term query.  Plan shape: vocabulary
    filter (tiny, broadcast) → semi-join into the term-sorted postings →
    distinct doc_id.  Token-level semantics: ``contains`` means "some
    token contains the pattern", not "the raw text contains it across
    token boundaries" (the tokenised-index contract, same as Lucene)."""
    terms = matching_terms(index, mode, pattern).select("term")
    return (
        index.postings.join(F.broadcast(terms), "term", "left_semi")
        .select("doc_id")
        .distinct()
    )


def index_text_filter(
    index: TextIndex,
    docs: DataFrame,
    mode: str,
    pattern: str,
    id_col: str | None = None,
) -> DataFrame:
    """Filter a document table through the index instead of scanning its
    text: ``has("text", TextP.startsWith(p))`` answered as a semi-join
    against the matching posting lists — the text column is never read,
    never tokenised.  ``id_col`` defaults to the column the index was
    built over."""
    id_col = id_col if id_col is not None else str(index.meta.get("id_col", "doc_id"))
    ids = docs_with_matching_term(index, mode, pattern).withColumnRenamed("doc_id", id_col)
    return docs.join(ids, id_col, "left_semi")


def reindex_text(
    spark: SparkSession,
    store,
    name: str,
    corpus_store,
    text_col: str | None = None,
    id_col: str | None = None,
) -> int:
    """Rebuild against the CURRENT corpus version with the parameters
    recorded in the index's own meta: a new version, pinned readers
    undisturbed, every segment and tombstone subsumed."""
    meta = _index_meta(store, name)
    if "corpus_label" not in meta:
        raise ValueError(
            f"text index {name!r} records no training corpus; rebuild it with "
            "build_text_index(..., corpus_store=, corpus_label=) instead"
        )
    return build_text_index(
        store, name, corpus_store.read(spark, meta["corpus_label"]),
        text_col=text_col if text_col is not None else meta["text_col"],
        id_col=id_col if id_col is not None else meta["id_col"],
        sort_files=int(meta["sort_files"]),
        corpus_store=corpus_store, corpus_label=meta["corpus_label"],
    )


FAMILY = segments.Family(
    what="text index",
    record="bm25_inverted",
    parts={"": "doc_id"},
    sort={"": "term"},
    files=("sort_files", 16),
    extend=_extend,
    compact=_compact,
    reindex=reindex_text,
)

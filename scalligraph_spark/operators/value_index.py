"""Persisted composite (value → id) attribute index: exact-match ``has()``
lookups at posting-list cost instead of corpus-scan cost.

The reference's standard lookup path is the COMPOSITE index: models
declare per-property index hints (core/.../models/Model.scala:16-19),
the database materialises them (JanusDatabase.scala:304-434
``addIndex``), and every ``has(key, eq)`` CONSULTS the index instead of
iterating vertices.  This module is that exact-value tier (the text tier
is ``text_index.py``):

* :func:`build_value_index` commits ``(value, id)`` entries
  range-partitioned + sorted on ``value``, with per-file value ranges,
  so an ``In(value, …)`` or range probe reads only the files and row
  groups that can match: lookup cost scales with MATCHED entries.
* ``unique=True`` enforces the reference's ``unique`` hint at build and
  extend time (at most one id per value).
* extend / compact / tombstone catch-up run the segmented-index
  lifecycle (segments.py) with value-sorted segments.
* :func:`lookup_ids` / :func:`lookup_range` / :func:`index_value_filter`
  filter the entries, then semi-join the ids back into the element
  table.

Nulls are not indexed (a null property is the absence of an entry).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scalligraph_spark.operators import segments


class StaleValueIndexWarning(UserWarning):
    """A persisted value index was built on an older corpus version than
    the one it is being used against — entries for newer/changed rows are
    missing until :func:`extend_value_index` or :func:`reindex_values`
    runs."""


class MissingValueIndexWarning(UserWarning):
    """A value index was DECLARED for a lookup surface but no committed
    artifact exists — the lookup falls back to a full corpus scan.  The
    reference never scans when a composite index covers the key
    (JanusDatabase.scala:476-485); the batch analog degrades gracefully
    but loudly."""


class UniqueIndexViolation(ValueError):
    """A ``unique=True`` value index saw two ids for one value — the
    reference's ``unique`` model hint (Model.scala:16-19) rejected at
    index build/extend time.  Carries up to three offending values in
    ``.samples``."""

    def __init__(self, msg: str, samples: list):
        super().__init__(msg)
        self.samples = samples


@dataclass
class ValueIndex:
    """A loaded value-index artifact: lazy ``(value, id)`` entries (base
    ∪ segments) plus the index record.  When the loader attaches its
    provenance (``spark``/``store``/``name``), each probe builds a
    MANIFEST-PRUNED plan that touches only the files whose value ranges
    can match.  ``pins`` holds the load-time versions of every base and
    segment (the record pins the tombstones): probes read exactly them,
    so mutations after load never change a probe, and a probe is always
    ≡ ``entries.where(pred)``."""

    version: int
    meta: dict = field(default_factory=dict)
    entries: DataFrame | None = None  # (value, id)
    spark: SparkSession | None = None
    store: object | None = None
    name: str | None = None
    pins: dict | None = None

    @property
    def value_col(self) -> str:
        return str(self.meta["value_col"])

    @property
    def id_col(self) -> str:
        return str(self.meta["id_col"])

    @property
    def unique(self) -> bool:
        return bool(self.meta.get("unique", False))


def _entries(df: DataFrame, value_col: str, id_col: str) -> DataFrame:
    # nulls are not indexed: a null property is the absence of an index
    # entry (composite-index contract)
    return (
        df.where(F.col(value_col).isNotNull())
        .select(F.col(value_col).alias("value"), F.col(id_col).alias("id"))
    )


def _reject(values: DataFrame, name: str, what: str) -> None:
    """Raise :class:`UniqueIndexViolation` naming up to three ``values``."""
    samples = [r["value"] for r in values.select("value").limit(3).collect()]
    if samples:
        raise UniqueIndexViolation(
            f"value index {name!r} is unique but {what} {samples!r}", samples
        )


def _assert_unique(entries: DataFrame, name: str, context: str) -> None:
    dups = entries.groupBy("value").agg(F.countDistinct("id").alias("__n")).where("__n > 1")
    _reject(dups, name, f"{context} carries multiple ids for value(s)")


def _index_meta(store, name: str) -> dict:
    return segments.index_meta(store, FAMILY, name)


def build_value_index(
    spark: SparkSession,
    store,
    name: str,
    df: DataFrame,
    value_col: str,
    id_col: str,
    sort_files: int = 8,
    unique: bool = False,
    corpus_store=None,
    corpus_label: str | None = None,
) -> int:
    """Extract ``(value, id)`` entries once and commit them value-sorted
    (range-partitioned + sorted) → returns the entries version.  Footer
    min/max stats on the sorted layout prune every exact/range lookup to
    the row groups that can contain the probed values."""
    entries = _entries(df, value_col, id_col)
    if unique:
        _assert_unique(entries, name, "the corpus")
    meta = {
        "kind": "composite_value",
        "value_col": str(value_col),
        "id_col": str(id_col),
        "unique": bool(unique),
        "n_rows": int(entries.count()),
        "sort_files": int(sort_files),
    }
    return segments.build(
        spark, store, FAMILY, name, meta, corpus_store, corpus_label,
        lambda meta, write: write("", entries),
    )


def extend_value_index(
    spark: SparkSession,
    store,
    name: str,
    new_df: DataFrame,
    corpus_store=None,
    as_of_version: int | None = None,
) -> int:
    """Fold an append batch in as a value-sorted segment ``name__seg<k>``
    (cost ∝ batch).  A unique index first checks the batch against itself
    and against the existing entries.  Rows the index has seen need
    tombstone catch-up or :func:`reindex_values`.  Returns the new
    segment count."""
    return segments.extend(spark, store, FAMILY, name, new_df, corpus_store, as_of_version)


def _extend(spark: SparkSession, store, name: str, meta: dict, new_df: DataFrame, write) -> dict:
    batch = _entries(new_df, meta["value_col"], meta["id_col"])
    if meta.get("unique"):
        _assert_unique(batch, name, "the batch")
        existing = segments.read_part(spark, store, FAMILY, name, meta)
        clash = existing.join(F.broadcast(batch.select("value").distinct()), "value", "left_semi")
        _reject(clash, name, "the batch re-uses already-indexed value(s)")
    return {"n_rows": int(meta["n_rows"]) + _rows(spark, store, write("", batch))}


def _rows(spark: SparkSession, store, lbl: str) -> int:
    """Rows of a segment, summed from the footer row counts its write
    recorded in the manifest (``stats_cols``), so counting costs no job;
    a sidecar-tier manifest or an unreadable footer falls back to a
    count."""
    files = store.file_manifest(lbl).get("files")
    if files is None or any(e["rows"] is None for e in files):
        return store.read(spark, lbl).count()
    return sum(e["rows"] for e in files)


def compact_value_index(spark: SparkSession, store, name: str) -> int:
    """Merge every delta segment back into one value-sorted base table (a
    rewrite of existing entries — the corpus is never touched); lookups go
    back to one pruned scan.  Returns the new base version."""
    return segments.compact(spark, store, FAMILY, name)


def _compact(spark, store, name: str, meta: dict, data: dict, tombstoned: bool) -> dict:
    # tombstoned entries drop out of the merged read: recount
    return {"n_rows": int(data[""].count())} if tombstoned else {}


def load_value_index(
    spark: SparkSession,
    store,
    name: str,
    corpus_store=None,
) -> ValueIndex:
    """Read the artifact back (entries stay a lazy DataFrame over base ∪
    segments).  Pass ``corpus_store`` to check freshness: if the corpus
    label has advanced past the indexed version, a
    :class:`StaleValueIndexWarning` fires."""
    meta = _index_meta(store, name)
    segments.warn_if_stale(
        FAMILY, name, meta, corpus_store, StaleValueIndexWarning,
        "lookups miss newer rows; extend_value_index or reindex_values",
    )
    pins = segments.pin(store, FAMILY, name, meta)
    return ValueIndex(
        version=int(store.version(name)),
        meta=dict(meta),
        entries=segments.read_part(spark, store, FAMILY, name, meta, pins=pins),
        spark=spark,
        store=store,
        name=name,
        pins=pins,
    )


def _probe(index: ValueIndex, predicates: list) -> DataFrame:
    """A probe plan: manifest-pruned over the pinned versions when the
    loader attached provenance, else the same filter over the entries
    (hand-built ValueIndex instances) — equal results either way."""
    if index.spark is None or index.store is None or index.name is None:
        from scalligraph_spark.store import _predicates_column

        return index.entries.where(_predicates_column(predicates))
    return segments.read_part(
        index.spark, index.store, FAMILY, index.name, index.meta,
        predicates=predicates, pins=index.pins,
    )


def lookup_ids(index: ValueIndex, values: list) -> DataFrame:
    """Index entries for exactly the probed values — ``(value, id)``.
    The probed values prune the value-sorted layout TWICE: the footer
    manifest drops whole files driver-side, and the pushed ``In(value,…)``
    filter drops row groups inside the survivors — cost is the matched
    entries' files, never the full index listing."""
    if not values:
        raise ValueError("values must be non-empty")
    return _probe(index, [("value", "in", list(values))])


def lookup_range(index: ValueIndex, lo=None, hi=None) -> DataFrame:
    """Index entries with ``lo <= value <= hi`` (either bound optional) —
    the range face the sorted layout gives for free: the manifest skips
    every FILE outside the bound and footer min/max every row group
    inside the survivors (the reference needs a MIXED index for this;
    the sorted store layout answers it from the same artifact)."""
    if lo is None and hi is None:
        raise ValueError("at least one of lo/hi is required")
    preds = []
    if lo is not None:
        preds.append(("value", ">=", lo))
    if hi is not None:
        preds.append(("value", "<=", hi))
    return _probe(index, preds)


def index_value_filter(
    index: ValueIndex,
    df: DataFrame,
    values: list | None = None,
    lo=None,
    hi=None,
    id_col: str | None = None,
) -> DataFrame:
    """Filter an element table through the index instead of scanning its
    value column: ``has(key, eq/within/between)`` answered as a semi-join
    of the matched ids — the element scan reads only the id column for
    the probe side, and non-matching rows never materialise their
    payload.  ``id_col`` defaults to the column the index was built
    over."""
    id_col = id_col if id_col is not None else index.id_col
    ids = (
        lookup_ids(index, values) if values is not None else lookup_range(index, lo, hi)
    ).select(F.col("id").alias(id_col)).distinct()
    return df.join(ids, id_col, "left_semi")


def reindex_values(
    spark: SparkSession,
    store,
    name: str,
    corpus_store,
) -> int:
    """Rebuild against the CURRENT corpus version with the parameters
    recorded in the index's own meta (the ``JanusDatabase.reindex``
    discipline): a new version, pinned readers undisturbed, every
    segment and tombstone subsumed."""
    meta = _index_meta(store, name)
    if "corpus_label" not in meta:
        raise ValueError(
            f"value index {name!r} records no source corpus; rebuild it with "
            "build_value_index(..., corpus_store=, corpus_label=) instead"
        )
    return build_value_index(
        spark, store, name, corpus_store.read(spark, meta["corpus_label"]),
        value_col=meta["value_col"], id_col=meta["id_col"],
        sort_files=int(meta["sort_files"]), unique=bool(meta["unique"]),
        corpus_store=corpus_store, corpus_label=meta["corpus_label"],
    )


FAMILY = segments.Family(
    what="value index",
    record="composite_value",
    parts={"": "id"},
    sort={"": "value"},
    files=("sort_files", 8),
    # per-file value ranges: lookups prune FILES driver-side
    stats_cols={"": ["value"]},
    extend=_extend,
    compact=_compact,
    reindex=reindex_values,
)

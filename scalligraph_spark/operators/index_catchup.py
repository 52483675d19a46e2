"""CDC-driven index catch-up: bring a stale persisted index up to the
current corpus version for the cost of the CHURN, not the corpus.

The reference keeps its mixed/composite indexes transactionally fresh —
every vertex write updates the index in the same transaction
(database/janusgraph/.../JanusDatabase.scala:304-434).  A batch engine
decouples the two: corpus commits advance the versioned store, the index
records the corpus version it was built from, and readers get a
staleness warning.  The catch-up reads the delta between the two as rows
from the change-data feed (cdf.py) and folds it in through the
segmented-index core (segments.py): appends become one delta segment,
updates/deletes follow the ``on_mutation`` policy (``error`` /
``tombstone`` / ``reindex``).  Every function returns a small report
dict (``action`` ∈ noop / restamped / extended / tombstoned /
reindexed, version range, churn counts) for operational callers to
log.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from scalligraph_spark.operators.ann_index import _require_cells
from scalligraph_spark.operators.segments import (  # noqa: F401 (re-exported)
    IndexCatchupError,
    catchup,
    family,
    maintain_indexes,
    vacuum_index_segments,
)


def catchup_value_index(
    spark: SparkSession, store, name: str, corpus_store, on_mutation: str = "error"
) -> dict:
    """Catch a composite value index (value_index.py) up to its corpus's
    current version.  Unique-hint violations in the appended rows surface
    as ``UniqueIndexViolation`` exactly like a manual extend."""
    return catchup(spark, store, family("value"), name, corpus_store, on_mutation)


def catchup_text_index(
    spark: SparkSession, store, name: str, corpus_store, on_mutation: str = "error"
) -> dict:
    """Catch a BM25 inverted index (text_index.py) up to its corpus's
    current version; under ``on_mutation="tombstone"`` df/n_docs drift
    Lucene-style until the next compaction restores them exactly."""
    return catchup(spark, store, family("text"), name, corpus_store, on_mutation)


def catchup_minhash_index(
    spark: SparkSession, store, name: str, corpus_store, on_mutation: str = "error"
) -> dict:
    """Catch a MinHash near-dup index (dedup_index.py) up to its corpus's
    current version: appended documents are signed once (map-only)."""
    return catchup(spark, store, family("minhash"), name, corpus_store, on_mutation)


def catchup_ann_cells(
    spark: SparkSession, store, name: str, corpus_store, on_mutation: str = "error"
) -> dict:
    """Catch an IVF index's inverted lists (ann_index.py) up to the
    corpus's current version: appended vectors are assigned against the
    EXISTING centroids.  Freshness is measured from
    ``cells_corpus_version``; the quantizer's ``corpus_version`` stays at
    the last training run, so recall-drift detection keeps working."""
    _require_cells(store, name)
    return catchup(spark, store, family("ann"), name, corpus_store, on_mutation)

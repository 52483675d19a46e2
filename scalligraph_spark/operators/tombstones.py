"""The tombstone sidecar of an index: ``name__tombstones`` rows
``(key, __tomb_seq)`` recording which keys UPDATE/DELETE churn hid, and
at which sequence number.  Which sidecar version a reader applies, and
to which parts, is the segmented-index core's business (segments.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TOMB_SEQ = "__tomb_seq"


def tombstone_label(name: str) -> str:
    return f"{name}__tombstones"


def read_tombstones(
    spark: SparkSession, store, name: str, version: int | None = None
) -> DataFrame | None:
    """The sidecar ``(key, __tomb_seq)`` at ``version`` (default: head),
    or ``None`` when there is none (version 0 / no label)."""
    lbl = tombstone_label(name)
    v = store.version(lbl) if version is None else int(version)
    return store.read(spark, lbl, v) if v else None


def write_tombstones(
    spark: SparkSession, store, name: str, keys: DataFrame, key_col: str, tomb_seq: int
) -> str:
    """Record ``keys`` (one column) as tombstoned at ``tomb_seq``.  The
    label is rewritten as old ∪ new deduped by key keeping the MAX seq,
    so a crashed catch-up's re-run converges to the same rows.  Returns
    the sidecar label."""
    lbl = tombstone_label(name)
    fresh = keys.select(
        F.col(keys.columns[0]).alias(key_col),
        F.lit(int(tomb_seq)).cast("int").alias(TOMB_SEQ),
    )
    if store.version(lbl) > 0:
        fresh = store.read(spark, lbl).unionByName(fresh)
    merged = fresh.groupBy(key_col).agg(F.max(TOMB_SEQ).cast("int").alias(TOMB_SEQ))
    store.write(lbl, merged, meta={"kind": "index_tombstones", "key_col": str(key_col)})
    return lbl

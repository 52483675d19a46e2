"""Tombstone segments of an index: each UPDATE/DELETE batch is one
immutable label ``name__tomb_seg<seq>`` of rows ``(key, __tomb_seq)``,
one row per key it hides, claimed like a segment (``expected_version=0``)
and listed in the carrier's ``tombstones`` next to ``segments``.  Which
of them a reader applies, and to which parts, is the segmented-index
core's business (segments.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scalligraph_spark.store import _reader

TOMB_SEQ = "__tomb_seq"


def tombstone_label(name: str, seq: int) -> str:
    return f"{name}__tomb_seg{seq}"


def read_tombstones(
    spark: SparkSession, store, name: str, meta: dict | None = None, after: int = 0
) -> DataFrame | None:
    """The live ``(key, __tomb_seq)`` rows: the tombstone labels the
    index record ``meta`` (default: the committed one) lists with a seq
    above ``after``, or ``None`` when there are none."""
    if meta is None:
        meta = store.commit_meta(f"{name}__meta")
    lbls = [lbl for lbl in meta.get("tombstones", []) if int(lbl.rsplit("seg", 1)[1]) > after]
    if not lbls:
        return None
    # one scan of every label (each holds its only version, v1), so a
    # plan that hides several pieces repeats one scan, not one per label
    return _reader(spark, store._schema(lbls[0], 1)).parquet(*(store.path(lbl, 1) for lbl in lbls))


def write_tombstones(store, name: str, keys: DataFrame, key_col: str, seq: int) -> str:
    """Claim the tombstone label of ``seq`` holding ``keys`` (one column,
    one row per key).  The claim fails with ``VersionConflictError`` when
    the label exists, so no batch ever overwrites another.  Returns the
    label."""
    lbl = tombstone_label(name, seq)
    rows = keys.select(
        F.col(keys.columns[0]).alias(key_col), F.lit(int(seq)).cast("int").alias(TOMB_SEQ)
    )
    store.write(lbl, rows, meta={"kind": "index_tombstones", "key_col": str(key_col)},
                expected_version=0)
    return lbl

"""Change-data-feed over the versioned store: row-level change capture,
multi-version change reads, and deterministic replay.

The reference's change surface is the audit/event stream — every mutation
publishes an event (``EventSrv.scala``; audit stamping in
``writes.py``) — which tells subscribers THAT something changed.  A
100 TB pipeline needs the data-plane face of that: WHICH rows changed
between two committed versions, as rows, so downstream consumers
(incremental MVs, search indexes, replicas, feature stores) update for
the cost of the churn instead of re-reading the corpus.  This module
implements the Delta-Lake-CDF-shaped contract over :class:`LabelStore`
versions:

* every change row carries ``_change_type`` (``insert`` /
  ``update_preimage`` / ``update_postimage`` / ``delete``) and
  ``_commit_version`` alongside the table's own columns;
* :func:`write_with_cdf` captures the feed AT WRITE TIME (the diff runs
  once, not per consumer) into a ``<label>__cdf_v<N>`` side label;
* :func:`table_changes` reads captured feeds and diffs uncaptured steps;
* :func:`apply_changes` replays a feed onto a base snapshot:
  ``apply_changes(read(v_a), table_changes(v_a→v_b)) ≡ read(v_b)``.

This module is the only code that diffs two versions or folds keyed
changes, with three primitives:

* :func:`change_status` — the one ``(key, xxhash64)`` full-outer join:
  per row it ships the key and an 8-byte hash, never the payload.
  ``store.version_diff`` is a projection of it.
* :func:`change_images` — each side's changed rows by ONE join against
  that churn-sized status frame: ``(gone, came)``.  :func:`pair_changes`
  tags them; ``store.refresh_aggregate`` and ``store.refresh_join`` take
  their retract and add rows straight from them.
* :func:`latest_changes` — the one last-change-per-key window, folded
  onto a base by :func:`apply_changes` (whose broadcast anti-join never
  shuffles the base), the merge-on-read read (``store.read_merged``: a
  delta slot is its ``_commit_version``) and index catch-up
  (``operators.segments``).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

CHANGE_TYPE = "_change_type"
COMMIT_VERSION = "_commit_version"


def _cdf_label(label: str, version: int) -> str:
    """Side-label naming for the captured feed of step v(N-1)→vN; the
    ``__`` prefix marks it derived (store_report folds it into its
    owner)."""
    return f"{label}__cdf_v{version}"


def _value_hash(df: DataFrame, key_cols: list[str], value_cols: list[str], alias: str) -> DataFrame:
    # null-safe, with a separator so ("a", null) never collides with
    # ("an", "ull"); a column this side lacks hashes as null
    parts = []
    for c in value_cols:
        v = F.col(c).cast("string") if c in df.columns else F.lit(None).cast("string")
        parts += [F.coalesce(v, F.lit("\x00null")), F.lit("\x01")]
    h = F.xxhash64(*parts) if parts else F.lit(0)
    return df.select(*key_cols, h.alias(alias))


def change_status(old: DataFrame, new: DataFrame, key_cols: list[str]) -> DataFrame:
    """``(*key_cols, status)`` for every key whose row differs between two
    snapshots — ``added`` / ``removed`` / ``changed``; value-identical
    rows are excluded.  Both sides hash the union of their non-key
    columns, so a column one version lacks reads as null there and a
    schema change alone changes no row."""
    value_cols = [c for c in dict.fromkeys(new.columns + old.columns) if c not in key_cols]
    joined = _value_hash(old, key_cols, value_cols, "__h_old").join(
        _value_hash(new, key_cols, value_cols, "__h_new"), key_cols, "full_outer"
    )
    status = (
        F.when(F.col("__h_old").isNull(), "added")
        .when(F.col("__h_new").isNull(), "removed")
        .when(F.col("__h_old") != F.col("__h_new"), "changed")
    )
    return joined.select(*key_cols, status.alias("status")).where(F.col("status").isNotNull())


def change_images(old: DataFrame, new: DataFrame, key_cols: list[str]) -> tuple[DataFrame, DataFrame]:
    """``(gone, came)``: the old rows a step removed or changed and the
    new rows it added or changed, each side's own columns plus its
    ``_change_type`` (``delete`` / ``update_preimage``, ``insert`` /
    ``update_postimage``).  Each side takes its rows with ONE join
    against the churn-sized :func:`change_status` frame, so unchanged
    rows are never materialised past the scan."""
    st = change_status(old, new, key_cols).select(*key_cols, F.col("status").alias("__st"))

    def side(df: DataFrame, other_only: str, alone: str, paired: str) -> DataFrame:
        rows = df.join(st.where(F.col("__st") != other_only), key_cols)
        tag = F.when(F.col("__st") == "changed", paired).otherwise(alone)
        return rows.select(*df.columns, tag.alias(CHANGE_TYPE))

    return (
        side(old, "added", "delete", "update_preimage"),
        side(new, "removed", "insert", "update_postimage"),
    )


def pair_changes(
    old: DataFrame | None,
    new: DataFrame,
    key_cols: list[str],
    commit_version: int,
) -> DataFrame:
    """Full change rows between two snapshots of one table (one commit
    step): the :func:`change_images` stamped with ``_commit_version``.
    ``old=None`` means the version-0 empty table: everything is an
    insert."""
    if old is None:
        rows = new.withColumn(CHANGE_TYPE, F.lit("insert"))
    else:
        gone, came = change_images(old, new, key_cols)
        rows = came.unionByName(gone, allowMissingColumns=True)
    return rows.withColumn(COMMIT_VERSION, F.lit(commit_version).cast("int"))


def _write_feed(store, label: str, version: int, key_cols: list[str], rows) -> str:
    """Commit ``rows()`` as step ``version``'s ``<label>__cdf_v<version>``
    feed; idempotent — an already-captured step is left as it is."""
    cdf = _cdf_label(label, version)
    if store.version(cdf) == 0:
        meta = {"base_label": label, "commit_version": int(version), "key_cols": list(key_cols)}
        store.write(cdf, rows(), meta=meta)
    return cdf


def capture_changes(
    spark: SparkSession,
    store,
    label: str,
    version: int,
    key_cols: list[str],
) -> str:
    """Compute and commit the change rows for step v(version-1)→v(version)
    as the ``<label>__cdf_v<version>`` side label (the write-time capture
    Delta performs in its commit — paid once, amortised over every
    consumer).  Idempotent: re-capturing an already-captured step is a
    no-op."""

    def rows() -> DataFrame:
        old = store.read(spark, label, version - 1) if version > 1 else None
        return pair_changes(old, store.read(spark, label, version), key_cols, version)

    return _write_feed(store, label, version, key_cols, rows)


def capture_append(store, label: str, version: int, batch: DataFrame, key_cols: list[str]) -> str:
    """Capture a PURE-APPEND step's feed directly from the appended rows —
    zero diff jobs (the batch IS the delta), for writers that know their
    commit only added rows (the streaming ingest sinks).  Idempotent like
    :func:`capture_changes`."""
    return _write_feed(
        store, label, version, key_cols, lambda: pair_changes(None, batch, key_cols, version)
    )


def write_with_cdf(
    store,
    label: str,
    df: DataFrame,
    key_cols: list[str],
    **write_opts,
) -> int:
    """``store.write`` + immediate change capture for the committed step.
    The capture is a separate side-label commit: a crash between the two
    leaves the data committed and the feed absent, which
    :func:`table_changes` transparently repairs by diffing (and a later
    :func:`capture_changes` can persist)."""
    v = store.write(label, df, **write_opts)
    capture_changes(df.sparkSession, store, label, v, key_cols)
    return v


def table_changes(
    spark: SparkSession,
    store,
    label: str,
    v_from: int,
    v_to: int,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """All change rows for steps ``v_from→v_from+1 … v_to-1→v_to`` (the
    ``table_changes(from, to)`` read contract).  Captured feed labels are
    read directly (no recomputation); uncaptured steps fall back to the
    hash-diff.  ``key_cols`` may be omitted when every step in range was
    captured (the keys ride the feed's commit meta)."""
    if not v_from < v_to:
        raise ValueError(f"need v_from < v_to, got {v_from} >= {v_to}")
    parts: list[DataFrame] = []
    for v in range(v_from + 1, v_to + 1):
        cdf = _cdf_label(label, v)
        if store.version(cdf) > 0:
            parts.append(store.read(spark, cdf))
            continue
        if key_cols is None:
            raise ValueError(
                f"step v{v - 1}->v{v} of {label!r} has no captured feed; "
                "pass key_cols for the diff fallback"
            )
        old = store.read(spark, label, v - 1) if v > 1 else None
        parts.append(pair_changes(old, store.read(spark, label, v), key_cols, v))
    # a step may add columns (an update stamping the audit fields):
    # earlier steps read them as null
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)


def latest_changes(changes: DataFrame, key_cols: list[str]) -> DataFrame:
    """The last effective change per key of a multi-step feed: preimages
    are informational and dropped, then the highest ``_commit_version``
    wins (one churn-sized window; a step holds one change per key)."""
    eff = changes.where(F.col(CHANGE_TYPE) != F.lit("update_preimage"))
    w = Window.partitionBy(*[F.col(c) for c in key_cols]).orderBy(F.col(COMMIT_VERSION).desc())
    return eff.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")


def apply_changes(base: DataFrame, changes: DataFrame, key_cols: list[str]) -> DataFrame:
    """Replay a change feed onto a base snapshot: per key the
    :func:`latest_changes` row wins, deletes remove, inserts/postimages
    upsert.  ``apply_changes(read(v_a), table_changes(v_a, v_b))``
    reproduces ``read(v_b)`` exactly — the replay property that makes the
    feed a faithful replication stream.  Columns the base lacks arrive
    with the upserts and read as null on untouched rows.

    The base never shuffles: it anti-joins the churn-sized touched-key
    set (broadcast), and the surviving upserts append."""
    latest = latest_changes(changes, key_cols)
    upserts = latest.where(F.col(CHANGE_TYPE) != F.lit("delete")).drop(CHANGE_TYPE, COMMIT_VERSION)
    return base.join(F.broadcast(latest.select(*key_cols)), key_cols, "left_anti").unionByName(
        upserts, allowMissingColumns=True
    )

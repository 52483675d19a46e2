"""Change-data-feed over the versioned store: row-level change capture,
multi-version change reads, and deterministic replay.

The reference's change surface is the audit/event stream — a
transaction announces its own changes when it commits
(``tryTransaction``, models/Database.scala:23-109, and ``EventSrv``,
services/EventSrv.scala:14-31).  A 100 TB pipeline needs the data-plane
face of that: WHICH rows changed between two committed versions, as
rows, so downstream consumers (incremental MVs, search indexes,
replicas, feature stores) update for the cost of the churn instead of
re-reading the corpus.  This module implements the Delta-Lake-CDF-shaped
contract over :class:`LabelStore` versions:

* every change row carries ``_change_type`` (``insert`` /
  ``update_preimage`` / ``update_postimage`` / ``delete``) and
  ``_commit_version`` alongside the table's own columns;
* a step's feed lives in a ``<label>__cdf_v<N>`` side label, published
  after the data version, so a crash between the two leaves an
  uncaptured step and never a feed for an unpublished version;
* :func:`table_changes` reads captured feeds and diffs uncaptured steps;
* :func:`apply_changes` replays a feed onto a base snapshot:
  ``apply_changes(read(v_a), table_changes(v_a→v_b)) ≡ read(v_b)``.

Feeds are captured three ways:

* **By the commit job of a ``WriteSession``** (``writes.py``).  The
  session tags its pinned snapshot (:func:`tag_snapshot`): ``__pre``
  keeps each snapshot row's image, ``__alive`` says whether the row
  survives (a remove clears it instead of filtering; a create carries a
  null ``__pre``).  :func:`observe_changes` classifies every row from
  those two columns — an update whose row is value-identical to its
  ``__pre`` is no change, decided on the cast-to-string values as
  :func:`change_status` decides it — and the data write observes the
  change rows and their per-type counts with ``DataFrame.observe``: the
  same single Spark job.  :func:`publish_feed` builds the feed rows on
  the driver, writes them with pyarrow and records the counts
  (``churn``) and ``_schema`` in the feed's commit, through the store's
  one publish routine (``LabelStore.publish``).  The driver only ever
  receives rows it already held, so a session captures only when every
  create comes from a driver-local collection and every update/remove
  condition is a key list or an equality on ``_id``; any other session
  (``transform``, a create from a scan, a non-key predicate, a layout
  option on the commit) writes no feed and its step keeps the diff.
* **From a diff after the commit**: :func:`capture_changes` and
  :func:`write_with_cdf` (one more Spark job per step).
* **From a pure append**: :func:`capture_append` (the batch is the
  delta).

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
  shuffles the base) and by index catch-up (``operators.segments``) over
  a multi-step range.  Merge-on-read deltas (``store.read_merged``) need
  no window: each batch is a tombstone and a segment on the same core.
"""

from __future__ import annotations

import json
import os
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

CHANGE_TYPE = "_change_type"
COMMIT_VERSION = "_commit_version"
CHANGE_TYPES = ("insert", "update_preimage", "update_postimage", "delete")
# a WriteSession's capture columns (see the module docstring)
PRE, ALIVE, NEW = "__pre", "__alive", "__new"


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


def _q(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _s(text: str) -> str:
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def tag_snapshot(df: DataFrame) -> DataFrame:
    """A session's pinned snapshot with its capture columns: ``__pre``
    (a null struct of the snapshot's columns until a mutation touches
    the row), ``__alive`` set and ``__new`` clear."""
    pre = F.lit(None).cast(StructType(df.schema.fields))
    return df.select("*", pre.alias(PRE), F.lit(True).alias(ALIVE), F.lit(False).alias(NEW))


def tag_created(rows: DataFrame) -> DataFrame:
    """Created rows: alive and new (``__pre`` stays null)."""
    return rows.select("*", F.lit(True).alias(ALIVE), F.lit(True).alias(NEW))


def touch(df: DataFrame, hit: Column) -> DataFrame:
    """Keep the pre-image of every snapshot row ``hit`` matches for the
    first time — before the mutation that matched it rewrites the row."""
    first = F.col(PRE).isNull() & ~F.col(NEW) & F.coalesce(hit, F.lit(False))
    image = F.struct(*df.schema[PRE].dataType.names)
    return df.withColumn(PRE, F.when(first, image).otherwise(F.col(PRE)))


def live_rows(df: DataFrame) -> DataFrame:
    """The rows of a tagged session frame that survive, untagged."""
    return df.where(F.col(ALIVE)).drop(PRE, ALIVE, NEW)


def observe_changes(df: DataFrame, assigned) -> tuple[DataFrame, tuple | None]:
    """``(rows to write, capture)`` for a tagged session frame:
    ``capture`` is ``(observation, feed schema)``, whose observation the
    write job fills with the change rows (``came``: inserts and
    post-images, ``gone``: deletes and pre-images) and the per-type
    counts.  ``assigned`` names the columns the session's updates wrote;
    no other column of a touched row can differ from its pre-image.  A
    column type pyarrow cannot take gives ``capture`` ``None`` (no feed)."""
    from pyspark.sql.pandas.types import to_arrow_type

    cols = [c for c in df.columns if c not in (PRE, ALIVE, NEW)]
    types = {f.name: f.dataType for f in df.schema.fields}
    schema = StructType(
        [StructField(c, types[c]) for c in cols]
        + [StructField(CHANGE_TYPE, StringType()), StructField(COMMIT_VERSION, IntegerType())]
    )
    try:
        for f in schema.fields:
            to_arrow_type(f.dataType)
    except Exception:
        return live_rows(df), None
    # SQL text, not Column calls: each Column node costs a JVM round trip
    pre, alive, new = _q(PRE), _q(ALIVE), _q(NEW)
    had = set(types[PRE].names)

    def was(c: str) -> str:
        return f"{pre}.{_q(c)}" if c in had else "NULL"

    same = " AND ".join(
        f"CAST({was(c)} AS STRING) <=> CAST({_q(c)} AS STRING)" for c in cols if c in assigned
    ) or "TRUE"
    # one change code per row, in the codegen'd projection under the
    # observation: 0 none, 1 insert, 2 delete, 3 update; only touched
    # rows compare their values
    kind = (f"CASE WHEN {new} THEN IF({alive}, 1, 0) WHEN NOT {alive} THEN 2 "
            f"WHEN {pre} IS NULL OR ({same}) THEN 0 ELSE 3 END")

    def image(code: int, values, alone: str, paired: str) -> str:
        fields = ", ".join(f"{_s(c)}, {v}" for c, v in zip(cols, values))
        return (f"collect_list(CASE WHEN __kind IN ({code}, 3) THEN named_struct({fields}, "
                f"{_s(CHANGE_TYPE)}, IF(__kind = 3, {_s(paired)}, {_s(alone)})) END)")

    obs = Observation()
    counts = {"insert": 1, "update_preimage": 3, "update_postimage": 3, "delete": 2}
    observed = df.withColumn("__kind", F.expr(kind)).observe(
        obs,
        F.expr(image(1, [_q(c) for c in cols], "insert", "update_postimage")).alias("came"),
        F.expr(image(2, [was(c) for c in cols], "delete", "update_preimage")).alias("gone"),
        *[F.expr(f"count_if(__kind = {k})").alias(n) for n, k in counts.items()],
    )
    return live_rows(observed.drop("__kind")), (obs, schema)


def publish_feed(store, label: str, version: int, key_cols: list[str], capture: tuple) -> str | None:
    """Publish step ``version``'s feed from a finished write's
    :func:`observe_changes` capture: the rows are built on the driver and
    written with pyarrow, with no Spark job, through the store's publish
    routine; the commit records the per-type counts (``churn``) and the
    ``_schema`` readers plan from.  Idempotent like :func:`capture_changes`.
    A step that holds two changes of one key (removed and created again)
    publishes nothing: only the diff pairs its images (``None``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_type

    obs, schema = capture
    m = obs.get
    cdf = _cdf_label(label, version)
    if store.version(cdf) > 0:
        return cdf
    at = [schema.names.index(k) for k in key_cols]

    def keys(images, kind):
        return [tuple(r[i] for i in at) for r in images if r[CHANGE_TYPE] == kind]

    inserted, deleted = keys(m["came"], "insert"), keys(m["gone"], "delete")
    updated = keys(m["came"], "update_postimage")
    touched = inserted + deleted + updated
    if len(set(touched)) < len(touched):
        return None  # a key removed and created again, or twice: the diff pairs it
    rows = [schema.toInternal(tuple(r) + (int(version),)) for r in m["came"] + m["gone"]]
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=to_arrow_type(f.dataType))
         for i, f in enumerate(schema.fields)],
        names=schema.names,
    )

    def fill(staging: str) -> None:
        os.makedirs(staging)
        pq.write_table(table, os.path.join(staging, "part-00000.parquet"))

    meta = {
        "base_label": label, "commit_version": int(version), "key_cols": list(key_cols),
        "churn": {k: int(m[k]) for k in CHANGE_TYPES if m[k]},
    }
    store.publish(cdf, fill, meta=meta, expected_version=0, schema=json.loads(schema.json()))
    return cdf


def _feed_meta(store, label: str, version: int, key_cols: list[str] | None) -> dict | None:
    """Commit meta of step ``version``'s captured feed, or ``None`` when
    the step has none or pairs its images by other keys than
    ``key_cols``."""
    cdf = _cdf_label(label, version)
    if store.version(cdf) == 0:
        return None
    meta = store.commit_meta(cdf)
    if key_cols is not None and meta.get("key_cols", list(key_cols)) != list(key_cols):
        return None
    return meta


def recorded_churn(store, label: str, v_from: int, v_to: int, key_cols: list[str]) -> dict | None:
    """Per-type change counts of steps ``v_from→v_to`` summed from their
    feeds' commits, or ``None`` when a step's feed is missing or records
    no counts (a caller must then count the feed)."""
    total: dict = {}
    for v in range(v_from + 1, v_to + 1):
        churn = (_feed_meta(store, label, v, key_cols) or {}).get("churn")
        if churn is None:
            return None
        for k, n in churn.items():
            total[k] = total.get(k, 0) + int(n)
    return total


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
    hash-diff, and so do feeds that pair their images by other keys
    than ``key_cols``.  ``key_cols`` may be omitted when every step in
    range was captured (the keys ride the feed's commit meta)."""
    if not v_from < v_to:
        raise ValueError(f"need v_from < v_to, got {v_from} >= {v_to}")
    parts: list[DataFrame] = []
    for v in range(v_from + 1, v_to + 1):
        if _feed_meta(store, label, v, key_cols) is not None:
            parts.append(store.read(spark, _cdf_label(label, v)))
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

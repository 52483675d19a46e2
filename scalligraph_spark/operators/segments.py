"""One segmented-index core: the Lucene-style lifecycle of the value,
text, MinHash and ANN index families.

The reference maintains declared indexes through one ``addIndex`` /
``reindex`` path and keeps them transactionally fresh
(database/janusgraph/.../JanusDatabase.scala:304-434).  Here an index is
immutable store tables, so append churn costs the batch and update /
delete churn costs the mutation, never the corpus:

* **Parts.**  An index ``name`` has one or more parts (value entries;
  text postings; MinHash signatures, band keys and bucket counts; IVF
  inverted lists), each a BASE table plus delta SEGMENTS
  ``name__<part>_seg<k>`` (``name__seg<k>`` for the unnamed part).
* **Carrier.**  ``name__meta`` is a 1-row table whose commit meta is the
  index record: family fields, the live segment labels of the first
  part (``segments``), the live tombstone labels (``tombstones``), the
  sequence counter (``seq``), corpus provenance and the versions of the
  whole-table sidecars it publishes (``versions``: the text
  vocabulary).  Every mutation ends with ONE carrier commit, so readers
  see all of it or none of it and a crashed mutation re-runs to the
  same state.
* **Sequence.**  An extend mints ``seq + 1``; a tombstone batch consumes
  a number too.  Each base commit records the fold watermark
  ``base_seq``: segments and tombstones with seq <= base_seq are inside
  it, so readers skip them — a torn compaction never double-counts, and
  a rebuild carries the counter forward.
* **Tombstones** are segments too (tombstones.py): each batch is one
  immutable label of ``(key, __tomb_seq)`` rows hiding the key's entries
  in every part whose seq is STRICTLY below ``__tomb_seq``.  An UPDATE
  is tombstone-the-key + re-insert into the next segment.
* **Compaction** rewrites each part's tombstone-filtered base ∪ segments
  as its base, then commits the carrier with no live segments or
  tombstones.
* **Vacuum** drops the segment and tombstone labels at or below the
  counter that the carrier no longer lists, optionally once the base
  commits that folded them are older than a retention window (pinned
  readers still read them).
* **Concurrency.**  Extends and tombstone batches may race (see
  :func:`extend`): each claims labels nothing has written and commits
  the carrier over the version it read, so a loser raises
  ``VersionConflictError`` and leaves only unlisted labels behind.
  Compaction and vacuum need exclusive access.
* **Merge-on-read labels** run on the same core (:func:`mor_family`):
  the base is the data label itself, a delta batch a tombstone of its
  keys plus a segment of its upserts (``LabelStore.write_delta``).
"""

from __future__ import annotations

import importlib
import time
import warnings
from dataclasses import dataclass, field
from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scalligraph_spark.cdf import (
    CHANGE_TYPE,
    COMMIT_VERSION,
    latest_changes,
    recorded_churn,
    table_changes,
)
from scalligraph_spark.operators.tombstones import (
    TOMB_SEQ,
    read_tombstones,
    tombstone_label,
    write_tombstones,
)
from scalligraph_spark.store import VersionConflictError, check_retention


class IndexCatchupError(RuntimeError):
    """The corpus changed in a way ``on_mutation`` does not allow folding
    in (or rolled back); ``.churn`` carries the per-change-type counts."""

    def __init__(self, msg: str, churn: dict):
        super().__init__(msg)
        self.churn = churn


@dataclass(frozen=True)
class Family:
    """What one index family plugs into the core.

    ``parts`` maps each part suffix ("" = the index name itself) to the
    column tombstones hide it by, or — for a COUNT part — to ``(source
    part, *group columns)``: its rows ``(*group, n)`` count the source's
    rows, the core writes them after the source and never tombstones
    them.  ``extend(spark, store, name, meta, batch, write)`` commits the
    batch's segment of every other part through ``write(part, rows) ->
    label``; ``compact(spark, store, name, meta, data, tombstoned)`` sees
    the merged rows (part -> DataFrame); both return carrier updates.
    ``reindex(spark, store, name, corpus_store)`` rebuilds from the
    recorded corpus."""

    what: str
    record: str
    parts: dict
    extend: Callable
    reindex: Callable
    compact: Callable = lambda *a: {}
    sort: dict = field(default_factory=dict)
    files: tuple = ("sort_files", 8)
    stats_cols: dict = field(default_factory=dict)
    version_key: str = "corpus_version"


_MODULES = {
    "value": "value_index", "text": "text_index", "minhash": "dedup_index", "ann": "ann_index",
}


def family(kind: str) -> Family:
    if kind not in _MODULES:
        raise ValueError(f"kind must be value/text/minhash/ann, got {kind!r}")
    return importlib.import_module(f"scalligraph_spark.operators.{_MODULES[kind]}").FAMILY


# --- labels and the carrier -----------------------------------------------------


def label(name: str, part: str = "", seq: int | None = None) -> str:
    """Base label of a part, or its segment label for ``seq``."""
    if seq is None:
        return f"{name}__{part}" if part else name
    return f"{name}__{part}_seg{seq}" if part else f"{name}__seg{seq}"


def seg_no(lbl: str) -> int:
    return int(lbl.rsplit("seg", 1)[1])


def read_meta(store, name: str) -> dict:
    """The index record ({} when no index of that name was committed)."""
    return store.commit_meta(f"{name}__meta")


def _record(store, name: str, fam: Family | None = None) -> tuple[dict, int]:
    """The index record (of family ``fam``) and the carrier version read."""
    v = store.version(f"{name}__meta")
    meta = store.commit_meta(f"{name}__meta", v)
    if fam is not None and meta.get("kind") != fam.record:
        raise FileNotFoundError(f"no committed {fam.what} named {name!r}")
    return meta, v


def index_meta(store, fam: Family, name: str) -> dict:
    return _record(store, name, fam)[0]


def write_meta(spark: SparkSession, store, name: str, meta: dict, read_v: int) -> None:
    """Commit the carrier over the version the mutation read; never
    retried, since a retried catch-up would fold the same churn twice."""
    store.write(f"{name}__meta", spark.range(0, 1, 1, 1), meta=meta, expected_version=read_v)


def published(meta: dict, lbl: str) -> int:
    """Version of a sidecar table the carrier publishes (0 = none)."""
    return int(meta.get("versions", {}).get(lbl, 0))


def publish_version(store, meta: dict, lbl: str) -> dict:
    """Carrier update publishing the head version of sidecar ``lbl``."""
    return {"versions": dict(meta.get("versions", {}), **{lbl: store.version(lbl)})}


def _settle(store, meta: dict) -> None:
    """Point every whole-table sidecar (the text vocabulary) back at its
    published version before a mutation reads it: a mutation that
    crashed after a sidecar write but before its carrier commit left a
    head no reader ever saw."""
    for lbl, v in meta.get("versions", {}).items():
        if store.version(lbl) != v:
            store.rollback(lbl, v)


def _labels(fam: Family, name: str, seq: int) -> list[str]:
    """Every label a mutation at ``seq`` may write."""
    return [*(label(name, p, seq) for p in fam.parts), tombstone_label(name, seq)]


def _claim(store, fam: Family, name: str, meta: dict) -> int:
    """The first seq above the counter that no label holds: a racing
    mutation, or one that crashed before its carrier commit, may hold
    the next ones already."""
    seq = int(meta["seq"]) + 1
    while any(store.history(lbl) for lbl in _labels(fam, name, seq)):
        seq += 1
    return seq


def _stamp(meta: dict, fam: Family, corpus_store, as_of_version) -> None:
    # catch-up stamps EXACTLY the version whose delta it folded: a fresh
    # head read would mark a concurrent corpus commit as indexed
    if "corpus_label" not in meta:
        return
    if as_of_version is not None:
        meta[fam.version_key] = int(as_of_version)
    elif corpus_store is not None:
        meta[fam.version_key] = int(corpus_store.version(meta["corpus_label"]))


def warn_if_stale(fam: Family, name: str, meta: dict, corpus_store, category, hint: str) -> None:
    if corpus_store is None or "corpus_label" not in meta:
        return
    cur = int(corpus_store.version(meta["corpus_label"]))
    if cur != int(meta["corpus_version"]):
        msg = (f"{fam.what} {name!r} was built on {meta['corpus_label']!r} "
               f"v{meta['corpus_version']} but the corpus is now v{cur} — {hint}")
        warnings.warn(msg, category, stacklevel=3)


# --- reads ----------------------------------------------------------------------


def live_seqs(meta: dict) -> list[int]:
    return [seg_no(s) for s in meta.get("segments", [])]


def _union(frames: list) -> DataFrame:
    # a merge-on-read batch may carry columns its base lacks
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)


def pin(store, fam: Family, name: str, meta: dict) -> dict:
    """Label -> version of every base and live segment (metadata only):
    :func:`read_part` with these pins replays exactly this snapshot."""
    lbls = [label(name, p, k) for p in fam.parts for k in [None, *live_seqs(meta)]]
    return {lbl: store.version(lbl) for lbl in lbls}


def read_part(
    spark: SparkSession, store, fam: Family, name: str, meta: dict, part: str = "",
    predicates=None, pins: dict | None = None,
) -> DataFrame:
    """A part's rows: base ∪ live segments not yet folded into it, minus
    in each the keys a listed tombstone postdates (one broadcast
    anti-join of the pieces some tombstone postdates).
    ``predicates`` (read_skipping triples) prune every table's files
    first — both only drop rows, so the result is exactly the unpruned
    read filtered.  ``pins`` (:func:`pin`) replace head versions."""
    pins = pins or {}

    def load(lbl: str) -> DataFrame:
        if predicates is None:
            return store.read(spark, lbl, pins.get(lbl))
        return store.read_skipping(spark, lbl, predicates, version=pins.get(lbl))

    base = label(name, part)
    folded = int(store.commit_meta(base, pins.get(base)).get("base_seq", 0))
    pieces = [(load(base), folded)] + [
        (load(label(name, part, k)), k) for k in live_seqs(meta) if k > folded
    ]
    key = fam.parts[part]
    last = max(map(seg_no, meta.get("tombstones", [])), default=0) if isinstance(key, str) else 0
    clear = [df for df, k in pieces if k >= last]
    hidden = [df.withColumn("__part_seq", F.lit(k)) for df, k in pieces if k < last]
    if hidden:
        tombs = read_tombstones(spark, store, name, meta, folded)
        tombs = tombs.select(F.col(tombs.columns[0]).alias("__tomb_key"), F.col(TOMB_SEQ))
        tagged = _union(hidden)
        cond = (tagged[key] == tombs["__tomb_key"]) & (tombs[TOMB_SEQ] > tagged["__part_seq"])
        clear.insert(0, tagged.join(F.broadcast(tombs), cond, "left_anti").drop("__part_seq"))
    return _union(clear)


# --- writes ---------------------------------------------------------------------


def _layout(fam: Family, meta: dict, part: str, segment: bool) -> dict:
    out = {}
    if part in fam.sort:
        n = int(meta.get(fam.files[0], fam.files[1]))
        out["sort_by"] = (max(1, n // 4) if segment else n, [fam.sort[part]])  # batch ≪ corpus
    if part in fam.stats_cols:
        out["stats_cols"] = fam.stats_cols[part]
    return out


def _write_base(store, fam: Family, name: str, meta: dict, part: str, df: DataFrame) -> int:
    layout = _layout(fam, meta, part, False)
    return store.write(label(name, part), df, meta={"base_seq": int(meta["seq"])}, **layout)


def _counts(fam: Family) -> dict:
    """count part -> (source part, group columns)."""
    return {p: (k[0], list(k[1:])) for p, k in fam.parts.items() if isinstance(k, tuple)}


def _count(df: DataFrame, group: list) -> DataFrame:
    return df.groupBy(*group).agg(F.count(F.lit(1)).cast("long").alias("n"))


def build(
    spark: SparkSession, store, fam: Family, name: str, meta: dict,
    corpus_store, corpus_label: str | None, write_bases: Callable,
) -> int:
    """Commit a fresh index, or a rebuild over an existing one: the
    counter and the published sidecars carry forward, so the new bases
    fold every old segment and tombstone.  ``write_bases(meta, write)``
    commits every part's base through ``write(part, rows) -> version``,
    may add carrier fields, and returns the version to report; the
    carrier commits last."""
    prior, read_v = _record(store, name)
    meta = dict(meta, segments=[], tombstones=[], seq=int(prior.get("seq", 0)))
    meta["versions"] = dict(prior.get("versions", {}))
    if corpus_store is not None and corpus_label is not None:
        meta["corpus_label"] = str(corpus_label)
        meta["corpus_version"] = meta[fam.version_key] = int(corpus_store.version(corpus_label))
    v = write_bases(meta, lambda part, df: _write_base(store, fam, name, meta, part, df))
    for part, (src, group) in _counts(fam).items():
        rows = _count(store.read(spark, label(name, src)), group)
        _write_base(store, fam, name, meta, part, rows)
    write_meta(spark, store, name, meta, read_v)
    return v


def extend(
    spark: SparkSession, store, fam: Family, name: str, batch: DataFrame,
    corpus_store=None, as_of_version: int | None = None, meta: dict | None = None,
) -> int:
    """Fold an append batch in as the next segment of every part (cost ∝
    batch; bases are never rewritten).  Returns the live segment count.
    ``meta`` adds fields to the index record in the same carrier commit.
    Extends and tombstone batches may race: each claims unwritten labels
    and commits the carrier over the version it read, so one of two
    racing mutations raises ``VersionConflictError`` and no batch is
    lost silently."""
    rec, read_v = _record(store, name, fam)
    meta = _extend(spark, store, fam, name, batch, dict(rec, **(meta or {})), read_v,
                   corpus_store, as_of_version)
    return len(meta["segments"])


def _extend(
    spark: SparkSession, store, fam: Family, name: str, batch: DataFrame, meta: dict,
    read_v: int, corpus_store=None, as_of_version: int | None = None,
) -> dict:
    meta = dict(meta)
    _settle(store, meta)
    seq = _claim(store, fam, name, meta)

    def write(part: str, df: DataFrame) -> str:
        store.write(label(name, part, seq), df, expected_version=0, **_layout(fam, meta, part, True))
        return label(name, part, seq)

    meta.update(fam.extend(spark, store, name, meta, batch, write))
    for part, (src, group) in _counts(fam).items():
        write(part, _count(store.read(spark, label(name, src, seq)), group))
    meta["segments"] = [*meta["segments"], label(name, next(iter(fam.parts)), seq)]
    meta["seq"] = seq
    _stamp(meta, fam, corpus_store, as_of_version)
    write_meta(spark, store, name, meta, read_v)
    return meta


def tombstone(
    spark: SparkSession, store, fam: Family, name: str, keys: DataFrame,
    upserts: DataFrame | None = None, as_of_version: int | None = None,
) -> None:
    """Hide ``keys`` (one column, one row per key) in every existing part
    at a freshly consumed seq and re-insert ``upserts`` (when not
    ``None``) as the next segment, both published by one carrier
    commit."""
    _tombstone(spark, store, fam, name, *_record(store, name, fam), keys, upserts, as_of_version)


def _tombstone(
    spark: SparkSession, store, fam: Family, name: str, meta: dict, read_v: int,
    keys: DataFrame, upserts: DataFrame | None, as_of_version: int | None,
) -> dict:
    _settle(store, meta)
    seq = _claim(store, fam, name, meta)
    tomb = write_tombstones(store, name, keys, next(iter(fam.parts.values())), seq)
    meta = dict(meta, seq=seq, tombstones=[*meta.get("tombstones", []), tomb])
    if upserts is not None:
        return _extend(spark, store, fam, name, upserts, meta, read_v, as_of_version=as_of_version)
    _stamp(meta, fam, None, as_of_version)
    write_meta(spark, store, name, meta, read_v)
    return meta


def compact(spark: SparkSession, store, fam: Family, name: str) -> int:
    """Merge every part's live segments into a new base (tombstones
    applied physically), then commit the carrier with no live segments
    or tombstones.  Old labels stay for pinned readers until vacuumed.
    Returns the first part's new base version."""
    meta, read_v = _record(store, name, fam)
    _settle(store, meta)
    counts = _counts(fam)
    data = {p: read_part(spark, store, fam, name, meta, p) for p in fam.parts if p not in counts}
    tombstoned = bool(meta.get("tombstones"))
    meta = dict(meta, **fam.compact(spark, store, name, meta, data, tombstoned))
    versions = [_write_base(store, fam, name, meta, p, df) for p, df in data.items()]
    for part, (src, group) in counts.items():
        # tombstones drop rows from the source: recount its new base;
        # otherwise the segments' counts just sum
        rows = (
            _count(store.read(spark, label(name, src)), group) if tombstoned
            else read_part(spark, store, fam, name, meta, part)
            .groupBy(*group).agg(F.sum("n").cast("long").alias("n"))
        )
        _write_base(store, fam, name, meta, part, rows)
    write_meta(spark, store, name, dict(meta, segments=[], tombstones=[]), read_v)
    return versions[0]


# --- CDC catch-up ---------------------------------------------------------------


def _check_policy(on_mutation: str) -> None:
    if on_mutation not in ("error", "reindex", "tombstone"):
        raise ValueError(
            f"on_mutation must be 'error', 'reindex' or 'tombstone', got {on_mutation!r}"
        )


def _net_effects(ch: DataFrame, key_cols: list[str], one_step: bool):
    """Net effect per key of a change feed (last action wins):
    ``(mutated_keys, upsert_rows)``.  Only keys with a DELETE or UPDATE
    event are tombstoned (a pure insert has no entries yet), so the
    broadcast tombstones stay mutation-sized.  One step holds at most one
    pre-image and one post-image per key, so its effects are filters:
    each gone row (a delete or a pre-image) names one mutated key."""
    came = F.col(CHANGE_TYPE).isin("insert", "update_postimage")
    if one_step:
        mutated = ch.where(F.col(CHANGE_TYPE).isin("delete", "update_preimage")).select(*key_cols)
        return mutated, ch.where(came).drop(CHANGE_TYPE, COMMIT_VERSION)
    mutated = ch.where(~F.col(CHANGE_TYPE).isin("insert", "update_preimage"))
    latest = latest_changes(ch, key_cols)
    upserts = latest.where(F.col(CHANGE_TYPE) != F.lit("delete")).drop(CHANGE_TYPE, COMMIT_VERSION)
    return mutated.select(*key_cols).distinct(), upserts


def catchup(
    spark: SparkSession, store, fam: Family, name: str, corpus_store, on_mutation: str = "error"
) -> dict:
    """Bring the index up to its corpus's current version from the change
    feed (cdf.py) for the cost of the churn: inserts extend; updates and
    deletes follow ``on_mutation`` (``error`` raises
    :class:`IndexCatchupError`, ``tombstone`` folds them, ``reindex``
    rebuilds); a rolled-back corpus always needs a rebuild.  When every
    step in range has a session-captured feed, the churn counts come
    from the feeds' commits and no job counts them."""
    _check_policy(on_mutation)
    meta, read_v = _record(store, name, fam)
    corpus = meta.get("corpus_label")
    if corpus is None:
        raise ValueError(
            f"index {name!r} records no source corpus; build it with "
            "corpus_store=/corpus_label= to enable catch-up"
        )
    v_from, v_to = int(meta[fam.version_key]), int(corpus_store.version(corpus))
    report = {"index": name, "corpus_label": corpus, "from_version": v_from, "to_version": v_to}
    if v_to == v_from:
        return dict(report, action="noop", churn={})
    if v_to < v_from:  # rolled back under the index
        if on_mutation == "reindex":
            fam.reindex(spark, store, name, corpus_store)
            return dict(report, action="reindexed", churn={"rollback": v_from - v_to})
        raise IndexCatchupError(
            f"corpus {corpus!r} rolled back v{v_from}→v{v_to} under index {name!r}; "
            "reindex required",
            {"rollback": v_from - v_to},
        )
    key_cols = [str(meta["id_col"])]
    # a session-captured feed records its churn counts; otherwise the
    # change frame feeds the count AND the extend/tombstone consumers,
    # and an uncaptured step's fallback is a two-version hash diff
    ch = table_changes(spark, corpus_store, corpus, v_from, v_to, key_cols=key_cols)
    churn = recorded_churn(corpus_store, corpus, v_from, v_to, key_cols)
    if churn is None:
        ch = ch.persist()
    try:
        if churn is None:
            churn = {
                r[CHANGE_TYPE]: int(r["n"])
                for r in ch.groupBy(CHANGE_TYPE).agg(F.count(F.lit(1)).alias("n")).collect()
            }
        if set(churn) - {"insert"}:
            if on_mutation == "reindex":
                fam.reindex(spark, store, name, corpus_store)
                return dict(report, action="reindexed", churn=churn)
            if on_mutation == "error":
                raise IndexCatchupError(
                    f"corpus {corpus!r} changed non-append-only under index {name!r} "
                    f"(churn: {churn}); segments are immutable — pass "
                    "on_mutation='tombstone' (churn-cost delete/update fold), "
                    "on_mutation='reindex', or run the family's reindex_*",
                    churn,
                )
            mutated, upserts = _net_effects(ch, key_cols, one_step=v_to == v_from + 1)
            # the churn counts say whether any row came in, so no job
            # probes the upserts; only a key inserted and deleted again
            # within the range leaves an empty segment
            if not set(churn) & {"insert", "update_postimage"}:
                upserts = None
            _tombstone(spark, store, fam, name, meta, read_v, mutated, upserts, v_to)
            return dict(report, action="tombstoned", churn=churn)
        if not churn:
            # same rows under a new version (a re-layout commit): restamp,
            # never commit an empty segment
            _stamp(meta, fam, None, v_to)
            write_meta(spark, store, name, meta, read_v)
            return dict(report, action="restamped", churn={})
        inserts = ch.where(F.col(CHANGE_TYPE) == "insert").drop(CHANGE_TYPE, COMMIT_VERSION)
        _extend(spark, store, fam, name, inserts, meta, read_v, as_of_version=v_to)
        return dict(report, action="extended", churn=churn)
    finally:
        ch.unpersist()


# --- merge-on-read labels --------------------------------------------------------


def _upserts(spark: SparkSession, store, name: str, meta: dict, batch: DataFrame, write) -> dict:
    write("", batch)
    return {}


def mor_family(key_col: str) -> Family:
    """A merge-on-read label as one more family: its base is the data
    label itself and its one part is keyed on ``key_col``."""
    return Family(what="merge-on-read label", record="mor", parts={"": key_col},
                  extend=_upserts, reindex=None)  # no corpus: never caught up


def mor_record(store, name: str) -> tuple[Family, dict]:
    """The family and record of merge-on-read label ``name`` (a record
    of ``{}`` when no delta was ever committed)."""
    meta = read_meta(store, name)
    return mor_family(*meta.get("key_cols", [""])), meta


def write_delta(
    spark: SparkSession, store, name: str, changes: DataFrame, key_cols: list[str], op_col: str
) -> int:
    """Commit a change batch against label ``name``: a tombstone of every
    key in it plus a segment of its ``upsert`` rows, published by one
    carrier commit.  A batch that loses the carrier race to another one
    runs again over the winner's record; its claimed labels stay
    unlisted until :func:`reclaim`.  Returns the outstanding batches."""
    if len(key_cols) != 1:
        raise ValueError(f"merge-on-read deltas take exactly one key column, got {list(key_cols)}")
    # eager on purpose: a batch with a bad op must fail before it claims
    # a label, since every read_merged would trip over it; the job scans
    # only the churn-sized batch
    ops = {r[0] for r in changes.select(op_col).distinct().collect()}
    if ops - {"upsert", "delete"}:
        raise ValueError(f"{op_col} values must be 'upsert' or 'delete', got {ops}")
    fam, key = mor_family(key_cols[0]), key_cols[0]
    upserts = changes.where(F.col(op_col) == "upsert").drop(op_col) if "upsert" in ops else None
    while True:
        meta, read_v = _record(store, name)
        if not meta:
            meta = {"kind": fam.record, "key_cols": [key], "segments": [], "tombstones": [], "seq": 0}
        elif meta.get("key_cols") != [key]:
            raise ValueError(f"label {name!r} deltas are keyed on {meta.get('key_cols')}, got {[key]}")
        try:
            meta = _tombstone(spark, store, fam, name, meta, read_v, changes.select(key), upserts, None)
            return len(meta["tombstones"])
        except VersionConflictError:
            continue


# --- vacuum and the fleet sweep ---------------------------------------------------


def reclaim(store, fam: Family, name: str, retention_seconds: float = 0.0) -> list[str]:
    """Drop every segment and tombstone label at or below the counter
    that the carrier does not list: a compaction folded it into every
    base, or its mutation lost the carrier commit or crashed before it.
    With ``retention_seconds`` > 0 a label waits until the first base
    commits that folded its seq are older than the window.  Must not run
    concurrently with a compaction of the index.  Returns the dropped
    labels."""
    retention_seconds = check_retention(retention_seconds)
    meta, _ = _record(store, name, fam)
    live = {label(name, p, k) for p in fam.parts for k in live_seqs(meta)}
    live |= set(meta.get("tombstones", []))
    victims = sorted(
        lbl
        for k in range(1, int(meta["seq"]) + 1)
        for lbl in _labels(fam, name, k) if lbl not in live and store.version(lbl) > 0
    )
    if retention_seconds > 0 and victims:
        folded_at: dict = {}
        for i, base in enumerate(label(name, p) for p in fam.parts):
            first: dict = {}
            for v in store.history(base):
                ts = store.commit_time(base, v)
                for k in range(1, int(store.commit_meta(base, v).get("base_seq", 0)) + 1):
                    first.setdefault(k, ts)
            folded_at = first if i == 0 else {
                k: max(folded_at[k], first[k]) for k in folded_at.keys() & first.keys()
            }
        # no retained record of the fold → blocked, never reclaimed early
        now = time.time()
        victims = [v for v in victims if now - folded_at.get(seg_no(v), now) > retention_seconds]
    for lbl in victims:
        store.drop(lbl)
    return victims


def vacuum_index_segments(
    spark: SparkSession, store, name: str, kind: str, retention_seconds: float = 0.0
) -> list[str]:
    """:func:`reclaim` for index ``name`` of ``kind`` ∈ value / text /
    minhash / ann; ``retention_seconds`` = 0 is safe only when no reader
    is pinned to a pre-compaction snapshot."""
    return reclaim(store, family(kind), name, retention_seconds)


def maintain_indexes(
    spark: SparkSession,
    store,
    indexes: list[tuple[str, str]],
    corpus_store=None,
    *,
    compact_over: int = 8,
    vacuum: bool = False,
    vacuum_retention_seconds: float = 0.0,
    on_mutation: str = "error",
    max_concurrent: int | None = None,
) -> list[dict]:
    """One-call fleet maintenance: for every ``(name, kind)``, catch up
    from the corpus's change feed, compact past ``compact_over`` live
    segments, then optionally vacuum.  Returns one report per index, in
    input order (the catch-up report plus ``kind`` / ``live_segments`` /
    ``compacted`` / ``vacuumed``); a failing index reports
    ``action="failed"`` and the sweep continues.  ``vacuum`` is off by
    default (it would break readers pinned before the compaction); opt
    in with ``vacuum_retention_seconds`` = the longest query lifetime.
    ``max_concurrent`` indexes (default ``min(3, len(indexes))``) are
    maintained at once; pass 1 for a strictly serial sweep."""
    _check_policy(on_mutation)
    try:
        vacuum_retention_seconds = check_retention(vacuum_retention_seconds)
    except ValueError:
        raise ValueError(
            f"vacuum_retention_seconds must be a number >= 0, got {vacuum_retention_seconds!r}"
        ) from None
    corpus_store = corpus_store if corpus_store is not None else store
    fams = {kind: family(kind) for _, kind in indexes}  # a typo'd kind fails before anything moves

    def _one(name: str, kind: str) -> dict:
        fam = fams[kind]
        try:
            rep = dict(catchup(spark, store, fam, name, corpus_store, on_mutation), kind=kind)
        except Exception as e:  # one corrupt index must not block the fleet
            return {"index": name, "kind": kind, "action": "failed", "error": str(e)}
        rep["live_segments"] = len(read_meta(store, name).get("segments", []))
        rep["compacted"] = rep["live_segments"] > int(compact_over)
        if rep["compacted"]:
            compact(spark, store, fam, name)
            rep["live_segments"] = 0
        rep["vacuumed"] = (
            reclaim(store, fam, name, vacuum_retention_seconds) if vacuum else []
        )
        return rep

    workers = min(3, len(indexes)) if max_concurrent is None else max(1, int(max_concurrent))
    if workers <= 1 or len(indexes) <= 1:
        return [_one(name, kind) for name, kind in indexes]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=workers) as pool:
        return list(pool.map(lambda nk: _one(*nk), indexes))

"""Mutations in a batch world: create / update / remove with audit stamping.

Reference: every create stamps the audit envelope
(``_id,_label,_createdBy,_createdAt``, JanusDatabase.scala:436-471 via
models/Model.scala:25-32); updates go through ``PropertyUpdater``s and stamp
``_updatedBy/_updatedAt`` (services/VertexSrv.scala:76-95,
TraversalOps.scala:586-599); ``Traversal.remove()`` drops matched elements
(TraversalOps.scala:156-160).

Spark re-expression: OLTP row mutations become label-table rewrites —
``create`` appends, ``update`` is a conditional column rewrite of matched
rows, ``remove`` an anti-filter.  No transaction/retry machinery
(JanusDatabase.scala:232-246) is needed: a rewrite is atomic at the
table-swap level (Delta-style), and batch jobs do not interleave.

Determinism: the clock is an explicit parameter (``at``), never
``now()`` — replays and oracle comparisons need stable stamps.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import cdf
from .store import VersionConflictError


def with_audit(
    df: DataFrame,
    label: str,
    id_col: str,
    created_by: str,
    at: str,
) -> DataFrame:
    """Stamp the audit envelope on new rows (create path)."""
    return df.select(
        F.col(id_col).cast("string").alias("_id"),
        F.lit(label).alias("_label"),
        F.lit(created_by).alias("_created_by"),
        F.lit(at).cast("timestamp_ntz").alias("_created_at"),
        *[c for c in df.columns if c != id_col],
    )


def enforce_unique(
    table: DataFrame, new_rows: DataFrame, unique_keys: list[tuple[str, ...]]
) -> DataFrame:
    """Write-time unique-index enforcement (Model.scala:16-19 `unique`
    indexes + the IntegrityCheckOps dedup loop): drop incoming rows that
    duplicate an existing row's unique key, and de-duplicate the incoming
    batch itself.  Each key check is one semi-structured anti-join against
    a key projection of the table — at scale the probe side carries only
    the key columns, and broadcast kicks in when the batch is small."""
    out = new_rows
    for keys in unique_keys:
        kl = list(keys)
        out = out.dropDuplicates(kl)
        out = out.join(table.select(*kl).dropDuplicates(kl), on=kl, how="left_anti")
    return out


def create_entities(
    table: DataFrame,
    new_rows: DataFrame,
    label: str,
    id_col: str,
    created_by: str,
    at: str,
    unique_keys: list[tuple[str, ...]] | None = None,
) -> DataFrame:
    """Append stamped rows to a label table (model.create batch form).
    ``unique_keys`` (from ``EntityModel.unique_keys()``) rejects duplicate
    rows before stamping."""
    if unique_keys:
        new_rows = enforce_unique(table, new_rows, unique_keys)
    return table.unionByName(with_audit(new_rows, label, id_col, created_by, at), allowMissingColumns=True)


def update_where(
    df: DataFrame,
    cond: Column,
    updates: dict[str, Column],
    updated_by: str,
    at: str | None = None,
) -> DataFrame:
    """Rewrite matched rows: apply updaters + stamp ``_updated_by``
    (``_updated_at`` only when a deterministic clock is given)."""
    # materialize the match BEFORE applying updaters — the condition must
    # see pre-update values even when an updater rewrites a column it reads
    out = df.withColumn("__matched", cond)
    m = F.col("__matched")
    for name, expr in updates.items():
        out = out.withColumn(name, F.when(m, expr).otherwise(F.col(name)))
    # non-matched rows keep any audit stamp from a PREVIOUS update — the
    # reference persists per-entity _updatedBy/_updatedAt across updates
    # (TraversalOps update path); only rows never updated stay null
    prev_by = F.col("_updated_by") if "_updated_by" in df.columns else F.lit(None).cast("string")
    out = out.withColumn("_updated_by", F.when(m, F.lit(updated_by)).otherwise(prev_by))
    if at is not None:
        prev_at = F.col("_updated_at") if "_updated_at" in df.columns else F.lit(None).cast("timestamp_ntz")
        out = out.withColumn("_updated_at", F.when(m, F.lit(at).cast("timestamp_ntz")).otherwise(prev_at))
    return out.drop("__matched")


def remove_where(df: DataFrame, cond: Column) -> DataFrame:
    """Delete matched elements → keep the complement (anti-filter
    rewrite); a null condition matches nothing, as in :func:`update_where`."""
    return df.where(~F.coalesce(cond, F.lit(False)))


def upsert(
    current: DataFrame,
    batch: DataFrame,
    keys: list[str],
    updated_by: str | None = None,
    at: str | None = None,
) -> DataFrame:
    """MERGE: batch rows replace same-key current rows, unmatched batch
    rows insert, everything else survives — ``WHEN MATCHED THEN UPDATE /
    WHEN NOT MATCHED THEN INSERT`` as a batch rewrite (the mutable-sync
    shape for dimension feeds; for history-preserving merges use
    ``operators.temporal.scd2_merge`` instead).

    Plan: one ANTI join of current against the batch's key projection
    (broadcast when the batch is small — the common sync case) + a union;
    the 100 TB current table never shuffles on anything but the join key,
    and with a store bucketed on the key the anti join is exchange-free.
    ``updated_by``/``at`` stamp the audit envelope on the incoming rows
    (matching ``update_where``'s contract).
    """
    incoming = batch
    if updated_by is not None:
        incoming = incoming.withColumn("_updated_by", F.lit(updated_by))
        if at is not None:
            incoming = incoming.withColumn("_updated_at", F.lit(at).cast("timestamp_ntz"))
    survivors = current.join(batch.select(*keys).dropDuplicates(keys), on=keys, how="left_anti")
    return survivors.unionByName(incoming, allowMissingColumns=True)


def add_value(df: DataFrame, col: str, value) -> DataFrame:
    """Multi-valued property addValue → array_union (Mapping.scala:147-168)."""
    return df.withColumn(col, F.array_union(F.col(col), F.array(F.lit(value))))


def remove_value(df: DataFrame, col: str, value) -> DataFrame:
    """removeValue → array_remove (Mapping.scala:147-168)."""
    return df.withColumn(col, F.array_remove(F.col(col), value))


def remove_property(df: DataFrame, col: str) -> DataFrame:
    """removeProperty → null out the column (schema keeps the field)."""
    return df.withColumn(col, F.lit(None).cast(dict(df.dtypes)[col]))


def validate_enum(df: DataFrame, col: str, allowed: list[str], reject: bool = True) -> DataFrame:
    """Enum ↔ string write validation (Mapping.scala:77-85: enums store as
    strings and re-parse through the enumeration, so invalid values fail).
    ``reject=True`` drops invalid rows; ``reject=False`` nulls the value
    (the lenient path).  A CHECK-constraint stand-in for columnar storage."""
    ok = F.col(col).isin(allowed)
    if reject:
        return df.where(ok | F.col(col).isNull())
    return df.withColumn(col, F.when(ok, F.col(col)).otherwise(F.lit(None).cast("string")))


def immense_term_guard(
    df: DataFrame,
    config: dict[str, str],
    threshold: int = 8191,
) -> DataFrame:
    """Write-path guard against immense terms — values too large for the
    index/layout layer (ImmenseTermProcessor.scala:16-60; the reference
    runs it against JanusGraph's indexed-term limit, default threshold
    8191).

    ``config`` maps column → strategy, mirroring the reference's
    registered strategies (ImmenseTermProcessor.scala:22-27):

    * ``"truncate"``        — cut the value to ``threshold`` chars
      (TruncateField)
    * ``"delete"``          — drop the whole row (DeleteVertex)
    * ``"log"``             — keep the value, flag the row in a
      ``_immense_<col>`` boolean column (LogData — a batch engine
      records instead of logging driver-side)
    * ``"truncate(N)"`` / ``"delete(N)"`` / ``"log(N)"`` — per-column
      threshold override (parseStrategy's parameter form)

    Array-of-string columns apply the strategy elementwise (truncate) or
    on any oversized element (delete/log).  Pure codegen — one pass, no
    shuffle, safe in any write path.
    """
    import re

    for col, spec in config.items():
        m = re.fullmatch(r"(\w+)(?:\((\d*)\))?", spec.strip())
        if not m or m.group(1) not in ("truncate", "delete", "log"):
            raise ValueError(f"unknown immense term strategy: {spec!r}")
        strat, t = m.group(1), int(m.group(2)) if m.group(2) else threshold
        dt = dict(df.dtypes).get(col)
        if dt is None:
            continue
        is_arr = dt.startswith("array")
        if strat == "truncate":
            new = (
                F.transform(F.col(col), lambda x: F.substring(x, 1, t))
                if is_arr
                else F.substring(F.col(col), 1, t)
            )
            df = df.withColumn(col, new)
        elif strat == "delete":
            over = (
                F.exists(F.col(col), lambda x: F.length(x) > t)
                if is_arr
                else F.length(F.col(col)) > t
            )
            df = df.where(~F.coalesce(over, F.lit(False)))
        else:  # log
            over = (
                F.exists(F.col(col), lambda x: F.length(x) > t)
                if is_arr
                else F.length(F.col(col)) > t
            )
            df = df.withColumn(f"_immense_{col}", F.coalesce(over, F.lit(False)))
    return df


# write options that re-lay the rows out: a range layout samples its
# input in a job of its own, which the change observation would count too
_LAYOUT_OPTS = ("partition_by", "bucket_hint", "zorder_by", "sort_by")


def _driver_resident(df: DataFrame) -> bool:
    """True when every leaf of ``df``'s plan is a local relation or an RDD
    parallelized from a driver collection: rows the driver already held."""

    def parallelized(rdd) -> bool:
        deps = rdd.dependencies()
        if deps.isEmpty():
            return rdd.getClass().getSimpleName() == "ParallelCollectionRDD"
        it = deps.iterator()
        while it.hasNext():
            if not parallelized(it.next().rdd()):
                return False
        return True

    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        kind = leaf.getClass().getSimpleName()
        if not (kind == "LocalRelation" or (kind == "LogicalRDD" and parallelized(leaf.rdd()))):
            return False
    return True


def _key_condition(df: DataFrame, cond: Column) -> bool:
    """True when ``cond`` is ``_id IN (literals)`` or ``_id = literal``
    over ``df`` (analysed, no job): it matches at most as many rows as
    the driver passed keys."""
    e = df.where(cond)._jdf.queryExecution().analyzed().condition()
    kind = e.getClass().getSimpleName()
    if kind == "In":
        key, values = e.value(), [e.list().apply(i) for i in range(e.list().size())]
    elif kind == "EqualTo":
        key, values = e.left(), [e.right()]
    else:
        return False
    return (
        key.getClass().getSimpleName() == "AttributeReference"
        and key.name() == "_id"
        and all(v.foldable() and not v.nullable() for v in values)
    )


class WriteSession:
    """One write transaction over a stored label table — the
    ``db.tryTransaction`` analog (models/Database.scala:23-109, retry loop
    JanusDatabase.scala:211-257).

    Mutations accumulate as PLAN transforms over a snapshot pinned at
    session start (``store.read`` pins the pointed-at version, so
    concurrent commits cannot shift the base mid-session).  Nothing is
    visible until :meth:`commit`, which writes ONE new table version and
    flips the pointer — the batch world's atomic commit; open readers
    keep their snapshot (isolation), and abandoning the session without
    committing IS the rollback path.  The store's exclusive version claim
    serializes concurrent writers, and its EventSrv hook publishes the
    commit (``store:<label>``), so subscribers see exactly one event per
    transaction regardless of how many mutations it batched.

    While every mutation's input lived on the driver, the session tracks
    its churn (``cdf.tag_snapshot``) so that :meth:`commit` can publish
    the step's change feed; the first other mutation drops the tracking.
    """

    def __init__(
        self,
        spark,
        store,
        label: str,
        id_col: str,
        created_by: str = "system",
        at: str = "1970-01-01 00:00:00",
        unique_keys: list[tuple[str, ...]] | None = None,
    ):
        self.store = store
        self.label = label
        self.id_col = id_col
        self.created_by = created_by
        self.at = at
        self.unique_keys = unique_keys or []
        self.base_version = store.version(label)  # for conflict detection
        self._pin(store.read(spark, label))  # pinned snapshot

    def _pin(self, snapshot: DataFrame) -> None:
        self.df = cdf.tag_snapshot(snapshot)
        self._capturing = True
        self._assigned: set[str] = set()

    def _live(self) -> DataFrame:
        return cdf.live_rows(self.df) if self._capturing else self.df

    def _stop_capture(self) -> None:
        self.df = self._live()
        self._capturing = False

    def _keep_types(self) -> None:
        # a column whose type changes changes every row's value as the
        # version diff sees it (cast to string): leave that step to it
        pre = {f.name: f.dataType for f in self.df.schema[cdf.PRE].dataType.fields}
        if any(pre[f.name] != f.dataType for f in self.df.schema.fields if f.name in pre):
            self._stop_capture()

    def create(self, new_rows: DataFrame) -> "WriteSession":
        if self._capturing and not _driver_resident(new_rows):
            self._stop_capture()
        if self.unique_keys:  # against the rows that survive so far
            new_rows = enforce_unique(self._live(), new_rows, self.unique_keys)
        rows = with_audit(new_rows, self.label, self.id_col, self.created_by, self.at)
        if self._capturing:
            rows = cdf.tag_created(rows)
        self.df = self.df.unionByName(rows, allowMissingColumns=True)
        if self._capturing:
            self._keep_types()
        return self

    def update(self, cond: Column, updates: dict[str, Column]) -> "WriteSession":
        if self._capturing and ("_id" in updates or not _key_condition(self.df, cond)):
            self._stop_capture()
        if self._capturing:
            cond = cond & F.col(cdf.ALIVE)
            self.df = cdf.touch(self.df, cond)
            self._assigned |= {*updates, "_updated_by", "_updated_at"}
        self.df = update_where(self.df, cond, updates, self.created_by, self.at)
        if self._capturing:
            self._keep_types()
        return self

    def remove(self, cond: Column) -> "WriteSession":
        if self._capturing and not _key_condition(self.df, cond):
            self._stop_capture()
        if self._capturing:
            # the rows remove_where drops: a null condition matches nothing
            hit = F.coalesce(cond, F.lit(False))
            self.df = cdf.touch(self.df, F.col(cdf.ALIVE) & hit)
            self.df = self.df.withColumn(cdf.ALIVE, F.col(cdf.ALIVE) & ~hit)
        else:
            self.df = remove_where(self.df, cond)
        return self

    def transform(self, fn) -> "WriteSession":
        """Escape hatch for any df→df mutation (add_value, enum checks,
        immense-term guards…) inside the same transaction; the commit
        then captures no change feed."""
        self._stop_capture()
        self.df = fn(self.df)
        return self

    def commit(self, meta: dict | None = None, force: bool = False, **write_opts) -> int:
        """Write the accumulated state as a new version; returns it.

        Optimistic concurrency (the ``tryTransaction`` conflict check,
        JanusDatabase.scala:211-257): the session's plan was built over
        the snapshot pinned at session start, so if ANOTHER writer
        committed since, blindly writing would silently erase their
        commit (last-writer-wins).  Commit therefore claims EXACTLY
        ``base_version + 1`` through ``store.write(expected_version=...)``
        — the atomic staging-dir→v-dir ``os.rename`` publish is the
        compare-and-swap (Spark never touches the final path, so the
        claim cannot be un-made mid-commit), so two sessions based on
        the same snapshot can never both land
        even if their commits interleave (a bare check-then-write would
        let both pass the version check concurrently and the second
        writer silently erase the first — the lost update the feature
        exists to prevent).  Raises :class:`WriteConflictError`; callers
        retry through :func:`try_transaction`, which re-runs the mutation
        over the fresh snapshot.  ``force=True`` opts out (bulk loads
        that OWN the label) and rolls forward to the next free version.

        Change feed: a session whose creates all came from driver-local
        collections (``createDataFrame`` over a list or pandas frame) and
        whose update/remove conditions are all key lists or equalities on
        ``_id`` publishes the step's ``<label>__cdf_v<N>`` (cdf.py).  The
        write job itself observes the change rows, the driver writes them
        with pyarrow after the data version is published, and the feed's
        commit records the per-type counts, so index catch-up neither
        diffs the two versions nor counts the churn.  Any other session —
        ``transform``, a create from a scan, a non-key predicate, an
        update of ``_id``, a layout option (``partition_by``,
        ``bucket_hint``, ``zorder_by``, ``sort_by``) or a forced commit
        that rolled past ``base_version + 1`` — writes no feed, and
        readers diff that step.  A failed feed publish only warns: the
        data version is committed, and a retry would apply the session
        twice.
        """
        rows = self._live()
        df, capture = rows, None
        if self._capturing and not set(write_opts) & set(_LAYOUT_OPTS):
            df, capture = cdf.observe_changes(self.df, self._assigned)
        base = self.base_version
        if not force:
            # cheap advisory pre-check: fail before the Spark write job
            # when the label has visibly advanced (the CAS below is what
            # actually serializes racing commits)
            cur = self.store.version(self.label)
            if cur != self.base_version:
                raise WriteConflictError(
                    f"label {self.label!r}: session based on v{self.base_version} "
                    f"but store is at v{cur} — another writer committed; retry "
                    "via try_transaction()"
                )
            try:
                v = self.store.write(
                    self.label, df, meta=meta, expected_version=self.base_version, **write_opts
                )
            except VersionConflictError as e:
                raise WriteConflictError(str(e)) from None
        else:
            v = self.store.write(self.label, df, meta=meta, **write_opts)
        if capture is not None and v == base + 1:
            try:
                cdf.publish_feed(self.store, self.label, v, ["_id"], capture)
            except Exception as e:  # the step stays uncaptured: readers diff it
                warnings.warn(f"label {self.label!r} v{v}: change feed not published ({e})",
                              RuntimeWarning, stacklevel=2)
        self.base_version = v  # further commits from this session chain on
        self._pin(rows)
        return v


class WriteConflictError(VersionConflictError):
    """A WriteSession commit found the label advanced past its pinned
    snapshot — the optimistic-concurrency conflict signal
    (JanusDatabase.scala:211-257's PermanentLockingException analog).
    Session-level face of :class:`~scalligraph_spark.store.VersionConflictError`
    (the store's directory-claim CAS); catching either works."""


def try_transaction(
    spark,
    store,
    label: str,
    mutate,
    id_col: str,
    retries: int = 5,
    backoff: float = 0.05,
    **session_kwargs,
) -> int:
    """Run ``mutate(session)`` with conflict retry — the
    ``db.tryTransaction`` retry loop (models/Database.scala:23-109,
    JanusDatabase.scala:211-257): build a session over the CURRENT
    snapshot, apply the mutation plan, commit; on
    :class:`WriteConflictError` back off exponentially and re-run the
    mutation over the fresh snapshot (the mutation must be a pure
    function of the session — side effects would double-apply).  Raises
    the final conflict after ``retries`` exhausted attempts.
    """
    import time as _time

    last: WriteConflictError | None = None
    for attempt in range(retries):
        session = WriteSession(spark, store, label, id_col, **session_kwargs)
        mutate(session)
        try:
            return session.commit()
        except WriteConflictError as e:
            last = e
            _time.sleep(backoff * (2**attempt))
    raise last  # type: ignore[misc]


def mask_columns(df, policy: dict, salt: str | None = None):
    """Column-level masking policies for governed exports — the data-
    governance sibling of :func:`immense_term_guard` (write-side content
    policy) and the text-level ``pii_redact``:

    * ``"hash"``    — md5 of the string form (referential integrity kept:
      equal values mask equal, joins still work on the masked value)
    * ``"null"``    — redact outright
    * ``"partial"`` — keep the first 2 and last 2 characters, mask the
      middle with ``*`` (strings of length ≤ 4 mask fully)

    ``policy`` maps column name → strategy.  Map-only (no shuffle), plan
    stays whole-stage-codegen; unknown columns or strategies raise rather
    than silently exporting unmasked data.

    ``salt`` hardens the ``hash`` strategy: an UNSALTED hash of low-entropy
    PII (names, phones, account numbers) is trivially reversible by
    dictionary/rainbow lookup.  With a caller-supplied secret the mask
    becomes ``md5(salt ‖ value)`` — equal values still mask equal WITHIN
    the export (joins keep working), but offline dictionary reversal needs
    the secret.  Trade-off: the same value masks differently across
    exports with different salts, so cross-export joins require reusing
    one salt (at which point treat the salt like a key, not a config).
    """
    from pyspark.sql import functions as F

    for col, strategy in policy.items():
        if col not in df.columns:
            raise ValueError(f"mask_columns: no such column {col!r}")
        c = F.col(col)
        if strategy == "hash":
            s = c.cast("string")
            if salt is not None:
                s = F.when(s.isNull(), s).otherwise(F.concat(F.lit(salt), s))
            masked = F.md5(s.cast("binary"))
        elif strategy == "null":
            masked = F.lit(None).cast("string")
        elif strategy == "partial":
            s = c.cast("string")
            masked = F.when(s.isNull(), F.lit(None)).otherwise(
                F.when(F.length(s) <= 4, F.repeat(F.lit("*"), F.length(s))).otherwise(
                    F.concat(
                        F.substring(s, 1, 2),
                        F.repeat(F.lit("*"), F.length(s) - 4),
                        F.substring(s, -2, 2),
                    )
                )
            )
        else:
            raise ValueError(
                f"mask_columns: unknown strategy {strategy!r} for {col!r}; "
                "use 'hash', 'null', or 'partial'"
            )
        df = df.withColumn(col, masked)
    return df


def validate_rows(df, rules: dict):
    """Declarative row-level CHECK constraints before a write/export —
    the dbt-test / Delta-constraint analog of the schema-level guards
    above (validate_enum, unique enforcement, immense_term_guard):
    ``rules`` maps rule name → boolean SQL expression string; a row
    passes when EVERY rule holds (nulls count as failure — a constraint
    that cannot be evaluated is not satisfied).

    Returns ``(valid, violations)``: valid rows unchanged, and one row
    per (row, failed rule) with the rule name in ``__rule`` — the same
    quarantine-not-abort posture as the lenient JSONL ingest, so one bad
    row never kills a 100 TB export.  Map-only on both branches (the
    rule predicates evaluate in the scan stage; no shuffle)."""
    from pyspark.sql import functions as F

    if not rules:
        raise ValueError("validate_rows: at least one rule required")
    preds = {name: F.expr(sql) for name, sql in rules.items()}
    all_ok = None
    for p in preds.values():
        ok = F.coalesce(p, F.lit(False))
        all_ok = ok if all_ok is None else (all_ok & ok)
    valid = df.where(all_ok)
    viol = None
    for name, p in preds.items():
        bad = df.where(~F.coalesce(p, F.lit(False))).withColumn("__rule", F.lit(name))
        viol = bad if viol is None else viol.unionByName(bad)
    return valid, viol

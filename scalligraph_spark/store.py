"""Versioned label-table storage: the Database SPI re-expressed for a
batch engine.

Reference: the ``Database`` SPI supplies transactions, snapshot reads and
atomic element CRUD over a pluggable backend
(core/.../models/Database.scala:23-109; JanusGraph impl
JanusDatabase.scala:93-535).  A columnar engine has no OLTP transactions;
the equivalent guarantees come from **table-version swaps**:

* a write lands in a fresh ``v{N}`` directory, then a pointer file flips
  to it with an atomic rename — readers see either the old version or the
  new one, never a half-written table (snapshot isolation for free);
* old versions stay on disk until vacuumed → time travel and rollback,
  which also covers the reference's migration re-runs;
* the path scheme selects the backend (local FS here; HDFS/S3 in
  production through the same Hadoop FS layer).
"""

from __future__ import annotations

import json
import os
import tempfile
import threading

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from scalligraph_spark.cdf import change_images, change_status


def zorder_value(df: DataFrame, cols: list[str], bits: int = 16) -> Column:
    """Z-order (Morton) key over ``cols``: each column min–max-normalizes
    into ``bits`` bits, then the bits interleave — rows close in the key
    are close in EVERY dimension, so sorting files by it gives parquet
    min/max footer stats that prune on any of the columns, not just the
    first sort key (linear sort clusters only its leading column).

    The min/max normalization constants come from one cheap aggregate
    (layout time only, never query time); the interleave itself is
    ``bits × len(cols)`` shift/or terms — pure codegen.
    """
    if not cols or bits * len(cols) > 63:
        raise ValueError(f"need 1+ columns and bits*len(cols) <= 63, got {cols!r} × {bits}")
    row = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    k, top = len(cols), (1 << bits) - 1
    z = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        mn, mx = row[f"mn_{c}"], row[f"mx_{c}"]
        span = (mx - mn) or 1.0
        scaled = F.least(
            F.lit(top), F.greatest(F.lit(0), ((F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * top).cast("long"))
        )
        for bi in range(bits):
            z = z.bitwiseOR(F.shiftleft(F.shiftright(scaled, bi).bitwiseAND(F.lit(1)), bi * k + ci))
    return z


def check_retention(retention_seconds) -> float:
    """Validate a vacuum retention window: finite-or-inf number >= 0.
    NaN is the dangerous case — every comparison against it is False, so
    an unvalidated NaN silently disables the window and reclaims
    immediately (the exact unsafe mode retention exists to prevent);
    the HTTP layer rejects it, and the library entry points must too."""
    r = float(retention_seconds)
    if r != r or r < 0:
        raise ValueError(
            f"retention_seconds must be a number >= 0, got {retention_seconds!r}"
        )
    return r


# -- file-level data skipping (Delta data-skipping / Iceberg manifest) ----
#
# Spark's parquet reader already prunes ROW GROUPS from footer min/max, but
# at 100 TB the scan still has to list every file and open every footer
# before it can drop one.  A commit-time manifest (per-file min/max /
# null-count per indexed column, collected from the footers the write just
# produced) moves that decision to the DRIVER: `read_skipping` consults the
# manifest — kilobytes, one JSON read — and hands Spark only the candidate
# files.  Combined with `write(sort_by=...)` / `zorder_by=...` layout, a
# selective predicate reads a handful of files instead of listing a
# million.  The residual predicate is always re-applied, so a stale or
# partial manifest can cost performance, never correctness — and every
# "don't know" below resolves to KEEP THE FILE for the same reason (except
# provable non-matches: all-null columns, hive-null partitions).

_SKIP_OPS = ("=", "<", "<=", ">", ">=", "in", "isnull", "notnull")

# Predicate grammar (read_skipping / read_merged / fromStore `where`):
# a predicate list is a CONJUNCTION of items; an item is either a leaf
# triple ``(column, op, value)`` with op in _SKIP_OPS, or a boolean node
# ``("or", [conj, conj, …])`` / ``("and", [conj, …])`` / ``("not", conj)``
# where every branch is itself a predicate list.  OR-of-conjunctions is
# the second most common selective shape after point/range (dashboards
# send `{"_or": [{"d": …}, {"d": …}]}` — the reference's filter tree,
# core/.../query/Filter.scala:131-196), and a conjunction-only grammar
# silently full-scanned it.  Pruning: a file is kept if ANY disjunct may
# match; ``not`` nodes always keep (a conservative bound cannot be
# negated) — the residual filter is exact either way.
_TREE_OPS = ("or", "and", "not")


def _is_node(p) -> bool:
    return (
        isinstance(p, (list, tuple))
        and len(p) == 2
        and isinstance(p[0], str)
        and p[0] in _TREE_OPS
    )


# Past this many files the per-file entries move OUT of _file_stats.json
# into a parquet sidecar (_manifest/files.parquet) and read_skipping
# prunes them DISTRIBUTIVELY — Delta's checkpoint discipline.  A JSON
# manifest re-parsed on the driver per query is microseconds at 10³
# files but a multi-second, few-hundred-MB stall at the 100 TB target
# (~10⁵–10⁶ files); the parquet tier bounds per-query manifest cost by
# cluster parallelism instead of driver JSON throughput.  Never a
# correctness boundary: both tiers evaluate the same _preds_may_match
# per entry, and the residual filter re-applies either way.
PARQUET_MANIFEST_FILE_THRESHOLD = 4096

# ... and past this many BYTES of serialized per-file entries, whatever
# the file count: blooms ride the entries (~base64(m/8) per file per
# bloom column), so a few thousand large files with one bloom column can
# hit gigabytes while staying under the file-count threshold — the same
# driver wall by another route.  The sidecar tier prunes distributively
# either way.
PARQUET_MANIFEST_BYTE_THRESHOLD = 16 * 1024 * 1024

# Past this kept fraction read_skipping returns the PLAIN scan (+ the
# same exact residual filter) instead of an explicit kept-path read: an
# unselective predicate on a million-file table would otherwise ship
# ~10⁶ path strings through py4j into a parquet(*paths) call — a driver
# wall — to save a listing it barely prunes.  Purely a physical-plan
# choice; rows are identical on both routes.
_KEPT_FRACTION_FALLBACK = 0.5

# In-process manifest cache: a committed version's manifest is immutable
# (backfills replace the file, changing its mtime/size → a new key), so
# caching the parsed JSON by (path, mtime_ns, size) is free invalidation.
# Entries are treated as READ-ONLY by every consumer.  Get/evict/insert
# run under a lock: ThreadingHTTPServer handlers hit this concurrently,
# and the evict's iter-then-pop would otherwise race another thread's
# insert/evict (KeyError / RuntimeError).  The critical section is
# microseconds — the JSON parse itself happens OUTSIDE the lock.
_MANIFEST_CACHE: dict = {}
_MANIFEST_CACHE_MAX = 64
_MANIFEST_CACHE_MU = threading.Lock()


# _commit.json keys only the store writes: the wall-clock commit stamp
# and the recorded schema
_RESERVED_META = ("_committed_at", "_schema")


class MissingFileStatsWarning(UserWarning):
    """A predicate-bearing store read found no file-stats manifest: the
    read stays CORRECT (full scan + filter) but nothing prunes — write
    with ``stats_cols=…`` or backfill via ``collect_file_stats`` to get
    the skipping path.  Same loud-fallback discipline as the
    Missing{Value,Text,Ann}IndexWarning family."""


def _coerce_tree(predicates, cv) -> list:
    """Apply a per-(column, value) coercion to every leaf of a predicate
    tree, preserving the tree shape."""
    out = []
    for p in predicates:
        if _is_node(p):
            kw, arg = p
            if kw == "not":
                out.append((kw, _coerce_tree(arg, cv)))
            else:
                out.append((kw, [_coerce_tree(b, cv) for b in arg]))
            continue
        c, op, v = p
        out.append((c, op, [cv(c, x) for x in v] if op == "in" else cv(c, v)))
    return out


def coerce_json_predicates(schema, predicates) -> list:
    """Coerce JSON-transported predicate values into the target column's
    domain: JSON has no date/timestamp type, so chains carry them as ISO
    strings — compared as strings they would neither prune (kind
    mismatch keeps every file) nor filter correctly in every engine.
    Numbers, strings and booleans pass through; unknown columns pass
    through untouched (the residual filter surfaces the error).
    Recurses through or/and/not tree nodes."""
    import datetime as _dt

    from pyspark.sql import types as T

    by_name = {f.name: f.dataType for f in schema.fields}

    def _cv(c, x):
        dt = by_name.get(c)
        if x is None or dt is None or not isinstance(x, str):
            return x
        try:
            if isinstance(dt, T.DateType):
                try:
                    return _dt.date.fromisoformat(x)
                except ValueError:
                    # clients that serialize datetimes send
                    # "1996-01-01T00:00:00" even for DATE columns — a
                    # swallowed mismatch would silently disable skipping
                    return _dt.datetime.fromisoformat(x).date()
            if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
                return _dt.datetime.fromisoformat(x)
        except ValueError:
            return x
        return x

    return _coerce_tree(predicates, _cv)


def manifest_kinds(manifest: dict) -> dict:
    """column -> stat kind (``num``/``str``/``bool``/``date``/``ts``/
    ``tsn``) observed in a file-stats manifest — the type information a
    JSON-predicate coercion needs WITHOUT a schema read (at a million
    files, ``spark.read.parquet(...).schema`` pays a directory listing
    just to learn that a column is a date).  Partition pseudo-stats
    (``part``/``pnull``) carry no type and are skipped.  Parquet-tier
    manifests precompute this at publish time (the per-file entries are
    no longer driver-resident)."""
    if "kinds" in manifest:
        return dict(manifest["kinds"])
    kinds: dict = {}
    for e in manifest.get("files", []):
        for c, st in (e.get("cols") or {}).items():
            t = st.get("t") or (st.get("bloom") or {}).get("t")
            if t and t not in ("part", "pnull"):
                kinds.setdefault(c, t)
    return kinds


def coerce_predicates_by_kind(kinds: dict, predicates) -> list:
    """:func:`coerce_json_predicates` driven by manifest stat kinds
    instead of a Spark schema — ISO strings parse into the stat's
    comparison domain so pruning AND the residual filter see typed
    values.  Unknown columns/kinds pass through untouched.  Recurses
    through or/and/not tree nodes."""
    import datetime as _dt

    def _cv(c, x):
        kind = kinds.get(c)
        if x is None or not isinstance(x, str):
            return x
        try:
            if kind == "date":
                try:
                    return _dt.date.fromisoformat(x)
                except ValueError:
                    return _dt.datetime.fromisoformat(x).date()
            if kind in ("ts", "tsn"):
                return _dt.datetime.fromisoformat(x)
        except ValueError:
            return x
        return x

    return _coerce_tree(predicates, _cv)


def _enc_stat(v):
    """Encode a parquet footer stat into a (kind, json-encodable) pair;
    ``(None, None)`` = unusable for pruning (binary, NaN/inf, exotic).
    Numbers encode as ``str`` and compare through ``Decimal`` at prune
    time — float round-tripping a Decimal column could round the wrong
    way and prune a matching file.  Aware timestamps (Spark's
    isAdjustedToUTC ones) normalize to UTC-naive ISO (kind ``ts``);
    naive ones (TIMESTAMP_NTZ) keep their wall-clock reading (``tsn``)."""
    import datetime as _dt
    from decimal import Decimal

    if v is None:
        return None, None
    if isinstance(v, bool):
        return "bool", bool(v)
    if isinstance(v, (int, Decimal)):
        return "num", str(v)
    if isinstance(v, float):
        if v != v or v in (float("inf"), float("-inf")):
            return None, None
        return "num", repr(v)
    if isinstance(v, str):
        return "str", v
    if isinstance(v, _dt.datetime):  # before date: datetime subclasses date
        if v.tzinfo is not None:
            return "ts", v.astimezone(_dt.timezone.utc).replace(tzinfo=None).isoformat()
        return "tsn", v.isoformat()
    if isinstance(v, _dt.date):
        return "date", v.isoformat()
    return None, None


def _coerce_pred(kind: str, v, session_tz: str):
    """Coerce a predicate value into the stat kind's comparison space;
    ``None`` = incomparable (caller keeps the file).  For ``ts`` stats a
    NAIVE predicate datetime is read in the Spark session timezone —
    exactly how the session would interpret the same literal."""
    import datetime as _dt
    from decimal import Decimal, InvalidOperation

    try:
        if kind == "num":
            if isinstance(v, bool) or not isinstance(v, (int, float, Decimal)):
                return None
            return Decimal(str(v))
        if kind == "bool":
            return v if isinstance(v, bool) else None
        if kind == "str":
            return v if isinstance(v, str) else None
        if kind == "date":
            if isinstance(v, _dt.datetime) or not isinstance(v, _dt.date):
                return None
            return v.isoformat()
        if kind in ("ts", "tsn"):
            if not isinstance(v, _dt.datetime):
                return None
            if kind == "tsn":
                return None if v.tzinfo is not None else v.isoformat()
            if v.tzinfo is None:
                import zoneinfo

                v = v.replace(tzinfo=zoneinfo.ZoneInfo(session_tz))
            return v.astimezone(_dt.timezone.utc).replace(tzinfo=None).isoformat()
    except (InvalidOperation, ValueError, KeyError):
        return None
    return None


# -- bloom file skipping (Delta bloom-filter index analog) -------------------
#
# min/max ranges prune SORTED/clustered columns; a point lookup on an
# UNCLUSTERED high-cardinality column (ids, digests, UUIDs) sees every
# file's range span the whole domain and prunes nothing.  A per-file
# Bloom filter answers "could this value be in this file?" with no false
# negatives, so `=`/`in` predicates prune those files too.  False
# positives only ever KEEP a file — the residual filter stays exact.
#
# Canonical hashing domain: both the build side (row values) and the
# probe side (predicate values) pass through `_bloom_canon`, which rides
# `_coerce_pred`'s comparison space — `5`, `5.0` and Decimal("5.0") all
# hash to "num:5", naive predicate timestamps read in the session
# timezone exactly like range pruning, and kind mismatches simply keep
# the file.  Files containing values the canon cannot represent (±inf,
# exotic types) store NO bloom — absence can't be proven there.


def _bloom_canon(kind: str, v, session_tz: str) -> str | None:
    """Canonical hash string for a value under a stat kind — ``None`` =
    not representable (the caller must treat the value as maybe-present
    at probe time, and must NOT build a bloom over it at build time)."""
    c = _coerce_pred(kind, v, session_tz)
    if c is None:
        return None
    if kind == "num":
        try:
            if not c.is_finite():
                return None
            if c == 0:
                return "num:0"  # -0.0 must hash like 0 (SQL 0 = -0.0)
            # exponent-free normal form: 5, 5.0, Decimal("5.00") → "5";
            # Decimal("50").normalize() alone would give "5E+1"
            return "num:" + format(c.normalize(), "f")
        except (ArithmeticError, ValueError):
            return None
    if kind == "bool":
        return "bool:true" if c else "bool:false"
    return f"{kind}:{c}"


def _bloom_hash_positions(canon: str, m: int, k: int):
    """k bit positions via double hashing over one md5 — deterministic
    across engines and sessions (no seeds, no process randomness)."""
    import hashlib

    d = hashlib.md5(canon.encode("utf-8")).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:16], "big") | 1
    return [(h1 + i * h2) % m for i in range(k)]


# Per-file bloom bitset byte ceiling.  Uncapped, a bloom sizes at
# ~9.6 bits/row (fpp=1%): a compacted 128 MB file holds ~10⁶ rows →
# ~1.2 MB bitset → multi-GB manifests at a few thousand files — the
# O(files) driver wall the manifest tiers exist to remove.  Capping the
# bitset RAISES the false-positive rate (recorded in the bloom's
# ``fpp`` field), which only ever KEEPS extra files — never a
# correctness risk.  64 KiB serves ~54k distinct values at 1% and
# ~10⁶ values at ~17%; past ~50% effective fpp the bloom prunes
# nothing and is dropped entirely (absence of a ``bloom`` key already
# means "keep" to the prune).
_BLOOM_MAX_BYTES = 64 * 1024


def _bloom_build(
    values, session_tz: str, fpp: float, max_bytes: int = _BLOOM_MAX_BYTES
) -> dict | None:
    """Per-file bloom over the non-null values of one column — ``None``
    when any value is un-canonicalizable or the column mixes stat kinds
    (a partial bloom would prove false absences), nothing is hashable,
    or the byte-capped bitset would be too saturated to prune (> ~50%
    effective fpp).  Returns ``{"t": kind, "m": bits, "k": hashes, "b":
    base64(bitset)}`` plus ``"fpp"`` when the cap degraded the target
    rate — a loud meta note that the bloom is coarser than asked."""
    import base64
    import math

    kind = None
    canons = set()  # size the bitset on DISTINCT values, not row count
    for v in values:
        if v is None:
            continue
        kv, _enc = _enc_stat(v)
        if kv is None:
            return None
        if kind is None:
            kind = kv
        elif kv != kind:
            return None
        c = _bloom_canon(kind, v, session_tz)
        if c is None:
            return None
        canons.add(c)
    if not canons:
        return None
    return _bloom_from_canons(kind, canons, fpp, max_bytes)


def _bloom_build_arrow(
    arr, session_tz: str, fpp: float, max_bytes: int = _BLOOM_MAX_BYTES
) -> dict | None:
    """Arrow-native fast path for :func:`_bloom_build` — bit-identical
    output (same canon strings, same md5 double-hashing), but dedup and
    null-dropping run in C (``pyarrow.compute.unique``) and the per-value
    kind dispatch collapses to ONE arrow-type check instead of a
    3-layer Python call chain per row (measured 12 µs/value on the
    Decimal path).  String and integer columns — digests, ids, the
    columns blooms exist for — take the fast path; every other type
    falls back to the reference implementation unchanged."""
    import pyarrow as _pa
    import pyarrow.compute as _pc

    t = arr.type
    if _pa.types.is_string(t) or _pa.types.is_large_string(t):
        u = _pc.unique(arr.combine_chunks() if isinstance(arr, _pa.ChunkedArray) else arr).drop_null()
        # "str" canon is the raw value prefixed — no per-value coercion
        canons = {"str:" + v for v in u.to_pylist()}
        return _bloom_from_canons("str", canons, fpp, max_bytes)
    if _pa.types.is_integer(t):
        u = _pc.unique(arr.combine_chunks() if isinstance(arr, _pa.ChunkedArray) else arr).drop_null()
        # integer num canon: Decimal(str(i)).normalize() formatted "f" is
        # exactly str(i) for every int (trailing zeros re-expand under
        # "f"); 0 is pinned so -0.0 float probes keep matching
        canons = {("num:0" if v == 0 else "num:" + str(v)) for v in u.to_pylist()}
        return _bloom_from_canons("num", canons, fpp, max_bytes)
    return _bloom_build(arr.to_pylist(), session_tz, fpp, max_bytes=max_bytes)


def _bloom_from_canons(kind: str, canons: set, fpp: float, max_bytes: int) -> dict | None:
    """Shared tail of the bloom build: size the bitset on the DISTINCT
    canon set, apply the byte cap (loud fpp degradation / saturation
    drop), and set bits via the md5 double-hash — identical to the loop
    in :func:`_bloom_build`."""
    import base64
    import hashlib
    import math

    if not canons:
        return None
    n = len(canons)
    m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)) + 1)
    m = (m + 7) // 8 * 8
    capped = False
    m_cap = max(64, int(max_bytes) * 8)
    if m > m_cap:
        m, capped = m_cap, True
    k = max(1, min(16, round(m / n * math.log(2))))
    out = {"t": kind, "m": m, "k": k}
    if capped:
        eff = (1.0 - math.exp(-k * n / m)) ** k
        if eff > 0.5:
            return None  # saturated: keeps ~everything, pure dead weight
        out["fpp"] = round(eff, 4)
    bits = bytearray(m // 8)
    md5 = hashlib.md5
    from_bytes = int.from_bytes
    for c in canons:
        d = md5(c.encode("utf-8")).digest()
        h1 = from_bytes(d[:8], "big")
        h2 = from_bytes(d[8:16], "big") | 1
        for i in range(k):
            pos = (h1 + i * h2) % m
            bits[pos >> 3] |= 1 << (pos & 7)
    out["b"] = base64.b64encode(bytes(bits)).decode("ascii")
    return out


def _bloom_maybe_contains(bf: dict, kind: str, v, session_tz: str) -> bool:
    """Could ``v`` be among the file's values?  Conservative: any
    canonicalization failure or malformed filter → True (keep)."""
    import base64

    canon = _bloom_canon(kind, v, session_tz)
    if canon is None:
        return True
    try:
        bits = base64.b64decode(bf["b"])
        m, k = int(bf["m"]), int(bf["k"])
        if m <= 0 or k <= 0 or len(bits) * 8 < m:
            return True
    except (KeyError, ValueError, TypeError):
        return True
    return all(
        bits[pos >> 3] & (1 << (pos & 7)) for pos in _bloom_hash_positions(canon, m, k)
    )


def _coerce_part(raw: str, v):
    """Hive partition values are path strings — coerce the STAT toward the
    predicate value's type (numeric partition dirs must compare
    numerically: ``"10" < "9"`` as strings).  ``None`` = keep the file."""
    import datetime as _dt
    from decimal import Decimal, InvalidOperation

    try:
        if isinstance(v, bool):
            low = raw.lower()
            return {"true": True, "false": False}.get(low)
        if isinstance(v, (int, float, Decimal)):
            return Decimal(raw)
        if isinstance(v, str):
            return raw
        if isinstance(v, _dt.datetime):
            return None if v.tzinfo is not None else _dt.datetime.fromisoformat(raw)
        if isinstance(v, _dt.date):
            return _dt.date.fromisoformat(raw)
    except (InvalidOperation, ValueError):
        return None
    return None


def _file_may_match(entry: dict, col: str, op: str, v, session_tz: str) -> bool:
    """Can any row of this file satisfy ``col <op> v``?  Conservative:
    every unknown → True (the residual filter guarantees exactness);
    False only on proof (range excludes, all-null column, empty file)."""
    rows = entry.get("rows")
    if rows == 0:
        return False
    if op in ("isnull", "notnull"):
        # `col IS [NOT] NULL` (the JSON grammar's `_is`-null / `_contains`
        # — see predicates_from_json_filter): the inverse of every other
        # op's null logic.  isnull prunes only on an EXACT zero null
        # count; notnull prunes only when EVERY row is provably null
        # (exact nulls == rows, or the hive null partition).  A column
        # absent from a file's schema reads as null, so missing stats
        # keep the file for isnull and ALSO for notnull (the stats may
        # merely be unrecorded).
        st = (entry.get("cols") or {}).get(col)
        if st is None:
            return True
        if st.get("t") == "pnull":
            return op == "isnull"  # __HIVE_DEFAULT_PARTITION__: all null
        nulls = st.get("nulls")
        if op == "isnull":
            return nulls != 0  # prune only on an exact 0 count
        return not (nulls is not None and rows is not None and nulls >= rows)
    vals = [x for x in v if x is not None] if op == "in" else ([] if v is None else [v])
    if not vals:
        return False  # `col = NULL` / empty in-list match nothing in SQL
    if any(isinstance(x, float) and x != x for x in vals):
        # NaN predicate: Spark orders NaN GREATER than every double (and
        # NaN = NaN is true there), while footer stats exclude NaN — no
        # range proof is possible, keep the file and let the residual
        # filter apply Spark's own semantics
        return True
    st = (entry.get("cols") or {}).get(col)
    if st is None:
        return True
    if st.get("t") == "pnull":
        return False  # hive __HIVE_DEFAULT_PARTITION__: column is null here
    nulls = st.get("nulls")
    if nulls is not None and rows is not None and nulls >= rows:
        return False
    kind, mn, mx = st.get("t"), st.get("mn"), st.get("mx")
    bf = st.get("bloom") if op in ("=", "in") else None
    if kind is None or mn is None or mx is None:
        if bf is not None and bf.get("t") is not None:
            # no usable range (truncated/absent min-max) but a bloom
            # exists: prune only when EVERY probed value is provably
            # absent — false positives keep, never drop
            if all(
                not _bloom_maybe_contains(bf, bf["t"], pv, session_tz) for pv in vals
            ):
                return False
        return True

    def _bounds(pv):
        if kind == "part":
            lo = _coerce_part(mn, pv)
            if lo is None:
                return None
            from decimal import Decimal

            return lo, lo, Decimal(str(pv)) if isinstance(pv, (int, float)) and not isinstance(pv, bool) else pv
        pc = _coerce_pred(kind, pv, session_tz)
        if pc is None:
            return None
        from decimal import Decimal

        lo = Decimal(mn) if kind == "num" else mn
        hi = Decimal(mx) if kind == "num" else mx
        return lo, hi, pc

    for pv in vals:
        b = _bounds(pv)
        if b is None:
            return True  # incomparable → keep
        lo, hi, pc = b
        try:
            ok = {
                "=": lo <= pc <= hi,
                "in": lo <= pc <= hi,
                "<": lo < pc,
                "<=": lo <= pc,
                ">": hi > pc,
                ">=": hi >= pc,
            }[op]
        except (TypeError, ArithmeticError):
            # incomparable pair (or Decimal NaN) — keep, never crash
            return True
        if ok:
            # the range admits this value; a bloom may still PROVE it
            # absent (point lookups on unclustered columns, where every
            # file's min/max spans the domain) — per value, so an in-list
            # keeps the file only if some value is range-ok AND
            # bloom-maybe
            bk = (bf or {}).get("t") or kind
            if bf is not None and kind != "part" and not _bloom_maybe_contains(
                bf, bk, pv, session_tz
            ):
                continue
            return True
    return False


def _predicates_column(predicates) -> Column:
    """The exact Spark filter for a predicate tree — re-applied on every
    skipping read so the manifest can never change results.  ``not``
    compiles to ``~child``: Spark's three-valued logic then matches SQL
    (a NULL comparison stays NULL under NOT and is filtered out);
    validation rejects the null-literal shapes whose exactness would
    otherwise depend on the engine."""
    cond = F.lit(True)
    for p in predicates:
        if _is_node(p):
            kw, arg = p
            if kw == "not":
                e = ~_predicates_column(arg)
            elif kw == "or":
                e = F.lit(False)
                for branch in arg:
                    e = e | _predicates_column(branch)
            else:  # and
                e = F.lit(True)
                for branch in arg:
                    e = e & _predicates_column(branch)
            cond = cond & e
            continue
        c, op, v = p
        col = F.col(c)
        if op == "isnull":
            e = col.isNull()
        elif op == "notnull":
            e = col.isNotNull()
        elif op == "in":
            vals = [x for x in v if x is not None]
            e = col.isin(vals) if vals else F.lit(False)
        elif v is None:
            e = F.lit(False)  # SQL comparison with NULL matches nothing
        else:
            e = {
                "=": col == F.lit(v),
                "<": col < F.lit(v),
                "<=": col <= F.lit(v),
                ">": col > F.lit(v),
                ">=": col >= F.lit(v),
            }[op]
        cond = cond & e
    return cond


def _preds_may_match(entry: dict, predicates, session_tz: str) -> bool:
    """Can any row of this file satisfy the predicate TREE?  Leaves defer
    to :func:`_file_may_match`; ``or`` keeps the file if ANY disjunct may
    match; ``not`` always keeps (negating a conservative bound is not
    conservative — the exact residual filter covers it)."""
    for p in predicates:
        if _is_node(p):
            kw, arg = p
            if kw == "not":
                ok = True
            elif kw == "or":
                ok = any(_preds_may_match(entry, b, session_tz) for b in arg)
            else:  # and
                ok = all(_preds_may_match(entry, b, session_tz) for b in arg)
        else:
            c, op, v = p
            ok = _file_may_match(entry, c, op, v, session_tz)
        if not ok:
            return False
    return True


def _validate_predicates(predicates, _in_not: bool = False) -> list:
    preds = list(predicates)
    if not preds:
        raise ValueError("predicate conjunction must be non-empty")
    for p in preds:
        if _is_node(p):
            kw, arg = p
            if kw == "not":
                _validate_predicates(arg, _in_not=True)
                continue
            if not isinstance(arg, (list, tuple)) or not arg:
                raise ValueError(
                    f"{kw!r} needs a non-empty list of predicate lists, got {arg!r}"
                )
            for branch in arg:
                _validate_predicates(branch, _in_not=_in_not)
            continue
        if not (isinstance(p, (list, tuple)) and len(p) == 3):
            raise ValueError(
                f"predicate must be (column, op, value) or "
                f"('or'|'and'|'not', branches), got {p!r}"
            )
        c, op, v = p
        if op not in _SKIP_OPS:
            raise ValueError(f"unsupported skipping op {op!r}; use one of {_SKIP_OPS}")
        if op == "in" and not isinstance(v, (list, tuple, set, frozenset)):
            raise ValueError(f"'in' needs a collection value, got {v!r}")
        if op in ("isnull", "notnull"):
            if v is not None:
                raise ValueError(f"{op!r} takes value None, got {v!r}")
            # IS [NOT] NULL is two-valued SQL: exact under negation,
            # unlike the null-literal comparisons below (and the
            # normalizer rewrites not-of-isnull to the prunable twin)
            continue
        if _in_not and (
            v is None or (op == "in" and (not v or any(x is None for x in v)))
        ):
            # NOT over a null-literal comparison is ambiguous under SQL
            # three-valued logic (the positive form compiles to a literal
            # FALSE, whose negation diverges from NOT(col = NULL) = NULL)
            raise ValueError(
                f"null/empty comparison {p!r} under 'not' has no exact SQL "
                "meaning — rewrite the predicate without the null literal"
            )
    return preds


_RANGE_COMPLEMENT = {"<": ">=", "<=": ">", ">": "<=", ">=": "<", "isnull": "notnull", "notnull": "isnull"}


def _normalize_predicates(preds: list) -> list:
    """Exact rewrites that turn conservative shapes into prunable ones:
    ``not`` over a conjunction whose leaves are ALL range ops becomes
    the equivalent OR of complemented leaves (De Morgan; three-valued
    semantics identical — a row with a NULL operand is excluded under
    both forms, because the un-negated complement also evaluates NULL).
    ``not`` over ``=``/``in``/nested nodes stays as-is: kept
    conservatively at prune time, exact in the residual filter."""
    out = []
    for p in preds:
        if not _is_node(p):
            out.append(p)
            continue
        kw, arg = p
        if kw != "not":
            out.append((kw, [_normalize_predicates(b) for b in arg]))
            continue
        arg = _normalize_predicates(arg)
        if arg and all(
            not _is_node(i) and i[1] in _RANGE_COMPLEMENT for i in arg
        ):
            if len(arg) == 1:
                c, op, v = arg[0]
                out.append((c, _RANGE_COMPLEMENT[op], v))
            else:
                out.append(
                    ("or", [[(c, _RANGE_COMPLEMENT[op], v)] for c, op, v in arg])
                )
            continue
        out.append(("not", arg))
    return out


def predicates_from_json_filter(query: dict) -> list:
    """Map the skipping-expressible SUBSET of the reference's JSON filter
    grammar (core/.../query/Filter.scala:131-196; compiled exactly by
    qlang/filters.py) onto the predicate tree: ``_is``/bare ``{field:
    value}`` → ``=``, ``_lt/_gt/_lte/_gte`` → ranges, ``_between`` →
    ``>= a AND < b``, ``_in`` → ``in``, ``_and/_or/_not`` → tree nodes.
    ``_is``/bare with a NULL value means null-safe equality in the
    grammar (filters.py compiles it to ``eqNullSafe`` = IS NULL), so it
    maps to the ``isnull`` op — pruned via manifest null counts, never
    to ``=``/None (which is SQL's match-nothing comparison).
    ``_contains`` is property-IS-DEFINED in the grammar (Filter.scala:187,
    NOT substring) and maps to ``notnull`` — pruned when a file is
    provably all-null (exact nulls == rows, hive null partition).  The
    two ops are each other's ``not``-complement, so the normalizer keeps
    negated forms prunable too.
    Raises ``ValueError`` on operators file stats cannot serve
    (``_like``, ``_contains``, ``_ne``, custom ops, …) — callers route
    those through a post-scan filter step instead of silently
    full-scanning under a skipping API."""

    def _fv(spec) -> tuple[str, object]:
        if not isinstance(spec, dict):
            raise ValueError(f"expected object, got {spec!r}")
        if "_field" in spec:
            return str(spec["_field"]), spec.get("_value")
        if len(spec) == 1:
            k, v = next(iter(spec.items()))
            return str(k), v
        raise ValueError(f"cannot parse field/value from {spec!r}")

    def go(q: dict) -> list:
        if not isinstance(q, dict) or not q:
            raise ValueError(f"filter must be a non-empty object: {q!r}")
        if len(q) > 1:  # implicit conjunction, one operator per key
            out = []
            for k, v in q.items():
                out.extend(go({k: v}))
            return out
        op, spec = next(iter(q.items()))
        if op == "_and":
            out = []
            for s in spec:
                out.extend(go(s))
            return out
        if op == "_or":
            return [("or", [go(s) for s in spec])]
        if op == "_not":
            return [("not", go(spec))]
        if op in ("_lt", "_gt", "_lte", "_gte", "_is"):
            f, v = _fv(spec)
            if op == "_is" and v is None:
                return [(f, "isnull", None)]
            return [(f, {"_lt": "<", "_gt": ">", "_lte": "<=", "_gte": ">=", "_is": "="}[op], v)]
        if op == "_between":
            f = str(spec["_field"])
            return [(f, ">=", spec["_from"]), (f, "<", spec["_to"])]
        if op == "_in":
            return [(str(spec["_field"]), "in", list(spec["_values"]))]
        if op == "_contains":
            # property-is-defined (Filter.scala:187) = IS NOT NULL.  The
            # reference grammar accepts ONLY the string form (its parser
            # matches FString); an object spec is ambiguous — in GraphQL
            # `_contains` means substring — so coercing it to IS NOT NULL
            # would silently return extra rows for a substring-intent
            # filter.  Refuse loudly instead (ADVICE r13), matching the
            # reference's parse failure.
            if not isinstance(spec, str):
                raise ValueError(
                    f"_contains takes a field-name string "
                    f"(property-is-defined, Filter.scala:187); got {spec!r} — "
                    "for substring matching use a _like chain filter step"
                )
            return [(spec, "notnull", None)]
        if op.startswith("_"):
            raise ValueError(
                f"filter operator {op!r} is not skipping-expressible — apply "
                "it as a chain filter step after the store read"
            )
        if spec is None:
            return [(str(op), "isnull", None)]  # bare {field: null} → IS NULL
        return [(str(op), "=", spec)]  # bare {field: value} → _is

    return go(query)


def _footer_manifest(
    spark: SparkSession,
    data_dir: str,
    columns: list[str],
    bloom_cols: list[str] | None = None,
    bloom_fpp: float = 0.01,
    bloom_max_bytes: int = _BLOOM_MAX_BYTES,
) -> dict:
    """Collect per-file footer stats for ``columns`` under ``data_dir`` —
    a DISTRIBUTED footer scan (``mapInPandas`` over the file list; pyarrow
    opens only metadata, never data pages) so manifest collection on a
    million-file table spreads across the cluster instead of serializing
    through the driver.  Hive partition dirs contribute exact
    min=max=value pseudo-stats driver-side (pure path parsing).

    ``bloom_cols`` additionally builds a per-file Bloom filter over each
    named column's values (see :func:`_bloom_build`) — THIS part reads
    the column's data pages (column-pruned, one column at a time), so it
    costs a real scan at build time; it buys `=`/`in` pruning on columns
    min/max cannot serve.  Bloom bitsets size ~1.2 KB per 1k distinct
    values at fpp=1% — fine in the parquet sidecar tier, noticeable in
    the inline JSON for very wide manifests.

    Parquet writers may TRUNCATE string min/max, but the spec guarantees
    truncated-min <= true-min and truncated-max >= true-max, so pruning on
    them stays safe.  The returned manifest is driver-sized: one entry per
    file, values only for the indexed columns."""
    from urllib.parse import unquote

    paths: list[str] = []
    for root, dirs, files in os.walk(data_dir):
        # prune hidden dirs in place: Spark's listing skips _/.-prefixed
        # directories (e.g. the _manifest sidecar), so the manifest must
        # describe exactly the files Spark would scan
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                paths.append(os.path.join(root, f))
    paths.sort()
    blooms = list(dict.fromkeys(bloom_cols or []))
    if not paths:
        return {
            "columns": list(columns),
            "bloom_columns": blooms,
            "n_schemas": 0,
            "files": [],
        }
    wanted = list(dict.fromkeys(columns))
    tz = spark.conf.get("spark.sql.session.timeZone")
    fpp = float(bloom_fpp)
    bmax = int(bloom_max_bytes)

    def scan(batches):
        import hashlib as _hl

        import pandas as pd
        import pyarrow.parquet as _pq

        want = set(wanted)
        for pdf in batches:
            out = []
            for p in pdf["path"]:
                try:
                    pf = _pq.ParquetFile(p)
                    md = pf.metadata
                except Exception:
                    # unreadable footer (foreign/corrupt file in a backfill
                    # target): record the file with NO stats — readers keep
                    # it and Spark's own scan surfaces the real error; the
                    # manifest must never hide a file from the reader
                    out.append({"path": p, "rows": None, "cols": {}})
                    continue
                acc: dict = {}
                for rg in range(md.num_row_groups):
                    rgm = md.row_group(rg)
                    for ci in range(rgm.num_columns):
                        cm = rgm.column(ci)
                        name = cm.path_in_schema
                        if name not in want:
                            continue
                        a = acc.setdefault(name, {"mns": [], "mxs": [], "nulls": 0, "full": True, "nfull": True})
                        st = cm.statistics
                        if st is not None and st.has_min_max:
                            a["mns"].append(st.min)
                            a["mxs"].append(st.max)
                        else:
                            a["full"] = False
                        if st is not None and st.has_null_count:
                            a["nulls"] += st.null_count
                        else:
                            a["nfull"] = False
                cols = {}
                for name, a in acc.items():
                    st_out: dict = {}
                    if a["full"] and a["mns"]:
                        kn, mn = _enc_stat(min(a["mns"]))
                        kx, mx = _enc_stat(max(a["mxs"]))
                        if kn is not None and kn == kx:
                            st_out = {"t": kn, "mn": mn, "mx": mx}
                    if a["nfull"]:
                        st_out["nulls"] = a["nulls"]
                    if st_out:
                        cols[name] = st_out
                schema_names = set(pf.schema_arrow.names)
                for name in blooms:
                    if name not in schema_names:
                        continue  # hive partition column — path pseudo-stats cover it
                    try:
                        # hand the Arrow column straight to the vectorized
                        # build — no to_pylist of the full column
                        bf = _bloom_build_arrow(
                            pf.read(columns=[name]).column(0), tz, fpp, max_bytes=bmax
                        )
                    except Exception:
                        bf = None  # unreadable column: no bloom, file kept
                    if bf is not None:
                        cols.setdefault(name, {})["bloom"] = bf
                out.append(
                    {
                        "path": p,
                        "rows": md.num_rows,
                        "cols": cols,
                        # transient (stripped before publish): fingerprint
                        # for the homogeneous-schema check the metadata-only
                        # empty read depends on
                        "schema_h": _hl.md5(str(pf.schema_arrow).encode()).hexdigest(),
                    }
                )
            yield pd.DataFrame({"entry": [json.dumps(e) for e in out]})

    if len(paths) <= 32:
        # tiny tables (index segments, dimension labels): a Spark job
        # costs more than reading the footers inline — same scan code,
        # driver-side, zero job launches
        import pandas as pd

        frames = list(scan([pd.DataFrame({"path": paths})]))
        entry_strs = [e for f in frames for e in f["entry"]]
    else:
        pdf = spark.createDataFrame([(p,) for p in paths], "path string")
        n_slices = min(len(paths), spark.sparkContext.defaultParallelism)
        rows = pdf.repartition(n_slices).mapInPandas(scan, schema="entry string").collect()
        entry_strs = [r["entry"] for r in rows]
    entries = sorted((json.loads(s) for s in entry_strs), key=lambda e: e["path"])
    base = os.path.abspath(data_dir)
    for e in entries:
        rel = os.path.relpath(os.path.abspath(e["path"]), base)
        e["path"] = rel
        for seg in os.path.dirname(rel).split(os.sep):
            if "=" not in seg:
                continue
            key, raw = seg.split("=", 1)
            if key not in wanted and key not in blooms:
                continue
            if raw == "__HIVE_DEFAULT_PARTITION__":
                e["cols"][key] = {"t": "pnull"}
            else:
                val = unquote(raw)
                e["cols"][key] = {"t": "part", "mn": val, "mx": val, "nulls": 0}
    # homogeneity summary for the metadata-only empty read: 1 = every
    # file shares one schema (a single sample file can stand in for the
    # version's schema); 0 = unknown (an unreadable footer contributes
    # no fingerprint, so homogeneity is unprovable — readers fall back
    # to the listing-paying empty path).  Foreign/backfilled files with
    # divergent schemas are tolerated by design; they just disqualify
    # the fast path.
    fps = {e.pop("schema_h", None) for e in entries}
    n_schemas = 0 if None in fps else len(fps)
    return {
        "columns": wanted,
        "bloom_columns": blooms,
        "n_schemas": n_schemas,
        "files": entries,
    }


def _publish_manifest(data_dir: str, man: dict) -> None:
    """Publish a version's file-stats manifest into ``data_dir``.  At or
    below :data:`PARQUET_MANIFEST_FILE_THRESHOLD` files AND
    :data:`PARQUET_MANIFEST_BYTE_THRESHOLD` serialized bytes the per-file
    entries inline in ``_file_stats.json`` (one tiny driver read).
    Past either bound they land in a parquet sidecar
    (``_manifest/files.parquet`` — the ``_``-prefixed DIRECTORY hides it
    from Spark's data listing; the file inside is plainly readable by
    name) and the JSON keeps only a driver-sized header: columns, file
    count, precomputed stat kinds, and a sample path for metadata-only
    empty reads.  The byte bound exists for BLOOMS: bitsets ride the
    entries, so a modest file count of large bloom-indexed files can
    out-weigh a huge count of plain ones.  Both files write
    temp-then-rename, and the JSON renames LAST — it is the publish
    point, so readers never observe a header without its sidecar."""
    files = man["files"]
    blob = None
    if len(files) <= PARQUET_MANIFEST_FILE_THRESHOLD:
        blob = json.dumps(man)
        if len(blob) > PARQUET_MANIFEST_BYTE_THRESHOLD:
            blob = None
    if blob is not None:
        payload = man
    else:
        import pyarrow as pa
        import pyarrow.parquet as pq

        mdir = os.path.join(data_dir, "_manifest")
        os.makedirs(mdir, exist_ok=True)
        table = pa.table(
            {
                "path": pa.array([e["path"] for e in files], type=pa.string()),
                "rows": pa.array([e.get("rows") for e in files], type=pa.int64()),
                "cols_json": pa.array(
                    [json.dumps(e.get("cols") or {}) for e in files], type=pa.string()
                ),
            }
        )
        fd, tmp = tempfile.mkstemp(dir=mdir, prefix=".files.")
        os.close(fd)
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(mdir, "files.parquet"))
        payload = {
            "columns": man["columns"],
            "bloom_columns": man.get("bloom_columns", []),
            "n_files": len(files),
            "n_schemas": man.get("n_schemas", 0),
            "kinds": manifest_kinds(man),
            "files_parquet": os.path.join("_manifest", "files.parquet"),
            "sample_path": files[0]["path"] if files else None,
        }
    fd, tmp = tempfile.mkstemp(dir=data_dir, prefix="_file_stats.")
    with os.fdopen(fd, "w") as f:
        f.write(blob if blob is not None else json.dumps(payload))
    os.replace(tmp, os.path.join(data_dir, "_file_stats.json"))


def _reader(spark: SparkSession, schema: StructType | None):
    """A parquet reader that plans from ``schema`` (no footer-inference
    job) or, when it is ``None``, infers."""
    return spark.read if schema is None else spark.read.schema(schema)


class VersionConflictError(RuntimeError):
    """``store.write(..., expected_version=N)`` found v(N+1) already
    claimed — another writer committed over the same base.  The physical
    (directory-level) face of the optimistic-concurrency conflict;
    ``writes.WriteConflictError`` is the session-level face and
    subclasses this so either can be caught."""


def write_bucketed(
    df: DataFrame,
    table: str,
    n_buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Metastore-backed bucketed label table
    (``bucketBy(...).sortBy(...).saveAsTable``): equi-joins and
    aggregations keyed on the bucket columns run with NO exchange — both
    sides are already hash-co-located on disk.  This is the 100 TB answer
    for hop joins between two fact-sized tables (customer⨝orders at
    scale): pay the shuffle once at write time, never per query.
    The bucket columns should come from the model's index hints
    (Model.scala:16-19).  See tests/test_store.py for the plan proof."""
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    w = w.sortBy(*(sort_cols or bucket_cols))
    w.saveAsTable(table)


class LabelStore:
    """Versioned parquet tables, one directory per label.

    Layout::

        root/<label>/v1/…parquet files…
        root/<label>/v2/…
        root/<label>/_current     # JSON {"version": 2}
    """

    def __init__(self, root: str, event_srv=None):
        self.root = root
        # optional commit notifications (EventSrv analog, eventsrv.py):
        # every write publishes on topic "store:<label>"
        self.event_srv = event_srv
        os.makedirs(root, exist_ok=True)

    # -- pointer management (atomic) --------------------------------------
    def _pointer(self, label: str) -> str:
        return os.path.join(self.root, label, "_current")

    def version(self, label: str) -> int:
        p = self._pointer(label)
        if not os.path.exists(p):
            return 0
        with open(p) as f:
            return int(json.load(f)["version"])

    def _set_version(self, label: str, version: int) -> None:
        # write-temp + rename: atomic on POSIX — readers never observe a
        # partially-written pointer
        d = os.path.dirname(self._pointer(label))
        fd, tmp = tempfile.mkstemp(dir=d, prefix="_current.")
        with os.fdopen(fd, "w") as f:
            json.dump({"version": version}, f)
        os.replace(tmp, self._pointer(label))

    def history(self, label: str) -> list[int]:
        d = os.path.join(self.root, label)
        if not os.path.isdir(d):
            return []
        return sorted(int(v[1:]) for v in os.listdir(d) if v.startswith("v") and v[1:].isdigit())

    # -- reads / writes ----------------------------------------------------
    def path(self, label: str, version: int | None = None) -> str:
        v = self.version(label) if version is None else version
        return os.path.join(self.root, label, f"v{v}")

    def write(
        self,
        label: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        bucket_hint: tuple[int, list[str]] | None = None,
        zorder_by: tuple[int, list[str]] | None = None,
        sort_by: tuple[int, list[str]] | None = None,
        meta: dict | None = None,
        expected_version: int | None = None,
        stats_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        bloom_fpp: float = 0.01,
        bloom_max_bytes: int = _BLOOM_MAX_BYTES,
    ) -> int:
        """Commit a new table version and flip the pointer (the atomic
        'transaction' of the batch world).

        ``stats_cols`` → collect a per-file min/max/null-count manifest
        for those columns from the parquet footers the write just
        produced (distributed metadata-only scan) and publish it WITH the
        commit (``_file_stats.json`` rides the same atomic rename);
        :meth:`read_skipping` then prunes files driver-side before Spark
        ever lists them.  Pair with ``sort_by``/``zorder_by`` so the
        layout makes the per-file ranges narrow.

        ``bloom_cols`` → additionally build a per-file Bloom filter per
        named column (Delta bloom-index analog): ``=``/``in`` predicates
        then prune files on UNCLUSTERED high-cardinality columns (ids,
        digests) where every file's min/max spans the whole domain.
        Costs a column-pruned data read at write time; false positives
        only keep files, the residual filter stays exact.

        Either left ``None`` (the default) re-collects the columns the
        head version's manifest tracks, so a commit onto a
        skipping-enabled label stays skipping-enabled; ``[]`` collects
        none.

        Every unpartitioned commit records the written frame's schema,
        made nullable (what reading the files back yields), under the
        reserved ``_schema`` key of ``_commit.json``: :meth:`read` and
        :meth:`read_skipping` hand it to Spark, so planning a read of the
        version launches no footer-inference job.  It costs nothing at
        write time (the analysed plan already knows it).  A
        ``partition_by`` commit records none (partition column types come
        from the directory names), and neither do legacy or foreign
        versions: those reads keep inferring.

        ``partition_by`` → hive-style directory partitioning (partition
        pruning on those columns); ``bucket_hint`` = (n, cols) →
        pre-repartition by the bucket columns so same-key rows co-locate
        in files (co-located joins without a metastore bucketing spec);
        ``zorder_by`` = (n, cols) → range-partition + sort on the Morton
        key of the columns, so parquet footer min/max stats prune scans
        filtered on ANY of them (multi-dimensional data skipping — the
        100 TB answer when queries slice on two+ independent columns).
        All typically derive from the model's index hints
        (Model.scala:16-19 basic/standard indexes → layout columns).

        Concurrent writers: each commit writes into a PRIVATE staging
        directory (``.staging-<uuid>`` — Spark only ever touches this
        path) and PUBLISHES with one atomic ``os.rename(staging, v{N})``.
        ``rename`` onto an existing populated directory fails
        (``ENOTEMPTY``/``EEXIST``), and every published v-dir is
        populated (Spark's ``_SUCCESS`` at minimum), so exactly one of
        two racing publishes for the same slot wins — the rename IS the
        claim, and nothing can un-make it mid-commit (the earlier
        ``mkdir``-as-claim design was racy: Spark's ``mode("overwrite")``
        deletes the target before rewriting it, silently releasing the
        claim while the write is in flight).  Rename-as-publish also
        means readers can never observe a torn v-dir: a version either
        doesn't exist yet or is complete.  The pointer then only ever
        advances — a slower writer holding a lower number cannot
        retrograde a newer commit.

        ``expected_version`` turns the publish into a compare-and-swap
        for optimistic concurrency (the ``tryTransaction`` commit check,
        JanusDatabase.scala:211-257): the write targets EXACTLY
        ``expected_version + 1`` and raises :class:`VersionConflictError`
        if that slot is already taken (a cheap pre-check before paying
        the Spark job, then the rename itself as the authoritative CAS)
        — it never rolls forward to the next free slot, so two sessions
        based on the same snapshot can never both commit (the second
        would silently erase the first's rows).  Without
        ``expected_version`` the publish rolls forward: on collision the
        already-written staging dir is simply renamed at the next slot
        (no Spark re-run).  A crashed writer leaves only an orphan
        staging dir; ``vacuum`` reclaims those after a TTL.  Every commit
        goes through :meth:`publish`, the one staging + rename +
        ``_commit.json`` routine.

        Change feeds: a ``writes.WriteSession`` commit hands this method
        a frame that observes its own change rows (cdf.py), so the same
        job that writes the version also captures the step's churn; the
        session then publishes ``<label>__cdf_v<N>`` from the driver
        through :meth:`publish`, after this version.  Only a session whose
        inputs already lived on the driver (local creates, ``_id`` key
        conditions) and that passes no layout option captures; any other
        write leaves the step to ``cdf.table_changes``'s diff.
        """
        if stats_cols is None:
            stats_cols = self._inherited_stats_cols(label)
        if bloom_cols is None:
            bloom_cols = self._inherited_bloom_cols(label)
        if expected_version is not None:
            self._claimable(label, expected_version)  # fail before the Spark job
        if bucket_hint:
            n, cols = bucket_hint
            df = df.repartition(n, *[df[c] for c in cols])
        if zorder_by:
            n, cols = zorder_by
            z = zorder_value(df, cols)
            df = (
                df.withColumn("__z", z)
                .repartitionByRange(n, F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        if sort_by:
            # linear clustering: range-partition + sort on the columns
            # themselves — the 1-D layout (works for strings, where the
            # Morton key cannot); parquet footer min/max stats then prune
            # scans filtered on the LEADING sort column (an inverted
            # index's posting-list locality, store-side)
            n, cols = sort_by
            df = df.repartitionByRange(n, *[F.col(c) for c in cols]).sortWithinPartitions(*cols)

        def fill(staging: str) -> None:
            w = df.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(staging)
            if stats_cols or bloom_cols:
                # footer scan over the staged files — manifest publishes
                # atomically with the data via the same rename (past the
                # threshold the entries ride a parquet sidecar in the
                # same staging dir)
                man = _footer_manifest(
                    df.sparkSession, staging, list(stats_cols or []),
                    bloom_cols=bloom_cols, bloom_fpp=bloom_fpp,
                    bloom_max_bytes=bloom_max_bytes,
                )
                _publish_manifest(staging, man)

        # the schema readers plan from (unpartitioned only)
        schema = None if partition_by else json.loads(df._jdf.schema().asNullable().json())
        return self.publish(label, fill, meta=meta, expected_version=expected_version, schema=schema)

    def _claimable(self, label: str, expected_version: int) -> int:
        new_v = expected_version + 1
        if os.path.exists(self.path(label, new_v)):
            raise VersionConflictError(
                f"label {label!r}: v{new_v} already claimed — session based "
                f"on v{expected_version} lost the commit race; retry over a "
                "fresh snapshot"
            )
        return new_v

    def publish(
        self,
        label: str,
        fill,
        meta: dict | None = None,
        expected_version: int | None = None,
        schema: dict | None = None,
    ) -> int:
        """The one commit protocol under every version: ``fill(staging)``
        writes the version's files into a private staging directory (a
        Spark job in :meth:`write`, an in-process pyarrow write for a
        session's change feed), the commit record joins them there, and
        one ``os.rename`` publishes the lot as ``v{N}`` (see
        :meth:`write`: the rename is the claim, ``expected_version`` makes
        it a compare-and-swap, otherwise it rolls forward).  ``schema``
        (a ``StructType`` JSON dict) is recorded as ``_schema`` for
        readers to plan from.  Returns the published version."""
        import errno
        import shutil
        import time as _time
        import uuid

        label_dir = os.path.join(self.root, label)
        os.makedirs(label_dir, exist_ok=True)
        if expected_version is not None:
            new_v = self._claimable(label, expected_version)
        else:
            h = self.history(label)
            new_v = (h[-1] if h else self.version(label)) + 1
        staging = os.path.join(label_dir, f".staging-{uuid.uuid4().hex}")
        try:
            fill(staging)
            # meta lands in staging so the rename publishes data+meta as
            # one atomic unit.  Every commit carries a wall-clock stamp
            # (reserved key, stripped by commit_meta) — the clock that
            # makes vacuum's retention window structural (Delta VACUUM's
            # "removed from state longer than N" contract needs to know
            # WHEN a version was superseded, not just that it was) — and,
            # when given, the schema readers plan from (reserved too: a
            # caller's ``_schema`` is never written through).
            record = {k: v for k, v in (meta or {}).items() if k not in _RESERVED_META}
            record["_committed_at"] = _time.time()
            if schema is not None:
                record["_schema"] = schema
            with open(os.path.join(staging, "_commit.json"), "w") as f:
                json.dump(record, f)
            while True:
                try:
                    os.rename(staging, self.path(label, new_v))
                    break
                except OSError as e:
                    if e.errno not in (errno.EEXIST, errno.ENOTEMPTY):
                        raise
                    if expected_version is not None:
                        raise VersionConflictError(
                            f"label {label!r}: v{new_v} already claimed — session "
                            f"based on v{expected_version} lost the commit race; "
                            "retry over a fresh snapshot"
                        ) from None
                    new_v += 1  # roll forward: re-publish, never re-write
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        if new_v > self.version(label):  # monotonic pointer advance
            self._set_version(label, new_v)
        if self.event_srv is not None:
            self.event_srv.publish(f"store:{label}", {"label": label, "version": new_v, "meta": meta or {}})
        return new_v

    def commit_meta(self, label: str, version: int | None = None) -> dict:
        """Commit metadata recorded by ``write(..., meta=...)`` for a
        version ({} when none was recorded) — e.g. the streaming sink's
        batch id for replay idempotence.  Reserved bookkeeping keys
        (``_committed_at``, ``_schema``) are stripped: callers that
        round-trip meta through ``dict(commit_meta(...), k=v)`` must not
        carry a stale stamp or schema forward (write re-records both)."""
        m = self._commit_record(label, version)
        for k in _RESERVED_META:
            m.pop(k, None)
        return m

    def _commit_record(self, label: str, version: int | None = None) -> dict:
        """A version's whole ``_commit.json`` ({} when absent)."""
        p = os.path.join(self.path(label, version), "_commit.json")
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def _schema(self, label: str, version: int) -> StructType | None:
        """The schema a version's commit recorded (``None`` for legacy,
        partitioned and foreign versions: readers infer it)."""
        schema = self._commit_record(label, version).get("_schema")
        return None if schema is None else StructType.fromJson(schema)

    def commit_time(self, label: str, version: int | None = None) -> float:
        """Wall-clock commit time of a version (epoch seconds) — the
        clock behind retention-windowed vacuum.  Reads the stamp write
        records in ``_commit.json``; legacy commits (pre-stamp) fall back
        to the ``_SUCCESS`` marker's mtime, then the version directory's
        (rename-publish preserves the dir inode's mtime, so both are
        write-time-accurate).  Returns 0.0 for a version that doesn't
        exist — callers treat that as 'infinitely old'."""
        d = self.path(label, version)
        ts = self._commit_record(label, version).get("_committed_at")
        if ts is not None:
            return float(ts)
        for marker in (os.path.join(d, "_SUCCESS"), d):
            if os.path.exists(marker):
                return os.path.getmtime(marker)
        return 0.0

    def read(self, spark: SparkSession, label: str, version: int | None = None) -> DataFrame:
        """Snapshot read — pinned to the pointed-at (or requested) version;
        concurrent writes cannot change what this DataFrame scans.  A
        version whose commit recorded its schema plans with no Spark job;
        a legacy, partitioned or foreign one pays the footer-inference
        job."""
        v = self.version(label) if version is None else version
        if v == 0:
            raise FileNotFoundError(f"label {label!r} has no committed version in {self.root}")
        return _reader(spark, self._schema(label, v)).parquet(self.path(label, v))

    # -- file-level data skipping -------------------------------------------
    def file_manifest(self, label: str, version: int | None = None) -> dict | None:
        """The file-stats manifest recorded by ``write(stats_cols=…)`` or
        :meth:`collect_file_stats` — ``None`` when the version has none
        (readers then fall back to a full scan).  Parsed manifests cache
        in-process keyed (path, mtime, size): a committed version's
        manifest is immutable (backfills replace the file → new key), so
        repeated reads of a hot label never re-pay the JSON parse.
        Treat the returned dict as READ-ONLY — it is shared."""
        p = os.path.join(self.path(label, version), "_file_stats.json")
        try:
            st = os.stat(p)
        except FileNotFoundError:
            return None
        key = (os.path.abspath(p), st.st_mtime_ns, st.st_size)
        with _MANIFEST_CACHE_MU:
            man = _MANIFEST_CACHE.get(key)
        if man is None:
            with open(p) as f:
                man = json.load(f)
            with _MANIFEST_CACHE_MU:
                if len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_MAX:
                    # drop the oldest insertion (dict preserves order) — a
                    # bounded cache beats LRU bookkeeping at this size
                    _MANIFEST_CACHE.pop(next(iter(_MANIFEST_CACHE)))
                _MANIFEST_CACHE[key] = man
        return man

    def collect_file_stats(
        self,
        spark: SparkSession,
        label: str,
        columns: list[str],
        version: int | None = None,
        bloom_cols: list[str] | None = None,
        bloom_fpp: float = 0.01,
        bloom_max_bytes: int = _BLOOM_MAX_BYTES,
    ) -> int:
        """Backfill a file-stats manifest onto an EXISTING version (the
        write-time path is ``write(stats_cols=…)``).  Metadata-only
        (distributed footer scan, no data pages — unless ``bloom_cols``
        asks for per-file Bloom filters, which read those columns' data);
        the sidecar publishes with a temp-file rename, and
        underscore-prefixed names are invisible to Spark's parquet
        reader, so concurrent readers of the version are undisturbed.
        Returns the number of files indexed."""
        vdir = self.path(label, version)
        if not os.path.isdir(vdir):
            raise FileNotFoundError(f"label {label!r} has no version directory {vdir}")
        man = _footer_manifest(
            spark, vdir, list(columns), bloom_cols=bloom_cols, bloom_fpp=bloom_fpp,
            bloom_max_bytes=bloom_max_bytes,
        )
        _publish_manifest(vdir, man)
        return len(man["files"])

    def read_skipping(
        self,
        spark: SparkSession,
        label: str,
        predicates,
        version: int | None = None,
    ) -> DataFrame:
        """Snapshot read with driver-side file pruning: ``predicates`` is
        a conjunction of ``(column, op, value)`` triples (ops ``= < <=
        > >= in``) and/or boolean tree nodes ``("or", [conj, …])`` /
        ``("and", [conj, …])`` / ``("not", conj)`` — OR-of-ranges prunes
        too (a file is kept if ANY disjunct may match); ``not`` prunes
        nothing but filters exactly.  Files whose manifest ranges PROVE
        no row can match are never handed to Spark — at 100 TB a
        selective read touches the candidate files instead of listing a
        million and opening every footer.  The same predicate is
        re-applied as a filter, so results are exactly
        ``read().where(pred)`` whether the manifest is present,
        stale-typed, or missing (no manifest → plain full scan +
        filter).  Hive partition columns prune from their path values;
        everything else from parquet footer min/max/null-count."""
        preds = _normalize_predicates(_validate_predicates(predicates))
        v = self.version(label) if version is None else version
        cond = _predicates_column(preds)
        man = self.file_manifest(label, v)
        if man is None:
            return self.read(spark, label, v).where(cond)
        tz = spark.conf.get("spark.sql.session.timeZone")
        vdir = self.path(label, v)
        if "files_parquet" in man:
            kept = self._prune_distributed(spark, vdir, man, preds, tz)
            sample = man.get("sample_path")
            n_total = int(man.get("n_files", 0))
        else:
            kept = [e["path"] for e in man["files"] if _preds_may_match(e, preds, tz)]
            sample = man["files"][0]["path"] if man["files"] else None
            n_total = len(man["files"])
        schema = self._schema(label, v)
        if not kept:
            # provably empty — answer from METADATA, so the empty result
            # never pays the version's directory listing (at the
            # million-file scale this tier targets, the listing IS the
            # cost being avoided): the recorded schema is read()'s own.
            # A version that records none falls back to one footer read
            # of a manifest-named file, restricted to unpartitioned
            # layouts (hive partition-column TYPES are inferred from the
            # full set of directory names, which a single file cannot
            # reproduce) and to manifests that PROVED every file shares
            # one schema (n_schemas == 1) — foreign/backfilled files may
            # diverge, and the empty frame's columns must match
            # read().where(F).
            if schema is not None:
                return spark.createDataFrame([], schema).where(F.lit(False))
            if (
                sample is not None
                and "=" not in os.path.dirname(sample)
                and man.get("n_schemas") == 1
            ):
                schema = (
                    spark.read.option("basePath", vdir)
                    .parquet(os.path.join(vdir, sample))
                    .schema
                )
                return spark.createDataFrame([], schema).where(F.lit(False))
            # fallback: Catalyst folds the false filter to an empty
            # LocalRelation — the listing happens, the scan never does
            return self.read(spark, label, v).where(F.lit(False))
        if n_total and len(kept) > n_total * _KEPT_FRACTION_FALLBACK:
            # unselective predicate: the prune bought little, and shipping
            # ~n_total path strings through py4j into a parquet(*paths)
            # call costs more than the directory listing it avoids — on a
            # million-file table the kept-path relay would be the new
            # driver wall.  Same rows either way: plain scan + exact
            # residual filter.
            return self.read(spark, label, v).where(cond)
        df = _reader(spark, schema).option("basePath", vdir).parquet(*[os.path.join(vdir, p) for p in kept])
        return df.where(cond)

    def _prune_distributed(
        self, spark: SparkSession, vdir: str, man: dict, preds, tz: str
    ) -> list[str]:
        """Evaluate the prune over a parquet-tier manifest AS A SPARK JOB:
        the per-file entries never materialize on the driver — each
        executor slice runs the same :func:`_preds_may_match` the inline
        tier runs (decisions bit-identical by construction; the entries
        round-trip through the exact JSON encoding `_enc_stat` produced)
        and only the KEPT paths return.  Per-query manifest cost is
        bounded by cluster parallelism, not driver JSON throughput —
        Delta's checkpoint-read discipline."""
        mdf = spark.read.parquet(os.path.join(vdir, man["files_parquet"]))
        n_files = int(man.get("n_files", 0))

        def prune(batches):
            import pandas as pd

            for pdf in batches:
                keep = []
                for path, rows, cols_json in zip(
                    pdf["path"], pdf["rows"], pdf["cols_json"]
                ):
                    entry = {
                        "path": path,
                        "rows": None if pd.isna(rows) else int(rows),
                        "cols": json.loads(cols_json),
                    }
                    if _preds_may_match(entry, preds, tz):
                        keep.append(path)
                yield pd.DataFrame({"path": pd.Series(keep, dtype="object")})

        n_slices = max(
            1, min(n_files // 8192 + 1, spark.sparkContext.defaultParallelism)
        )
        rows = (
            mdf.repartition(n_slices)
            .mapInPandas(prune, schema="path string")
            .collect()
        )
        return [r["path"] for r in rows]

    # -- timestamp time travel ----------------------------------------------
    def version_at(self, label: str, ts: float) -> int:
        """The version that was current at wall-clock ``ts`` (epoch
        seconds): the newest committed version whose :meth:`commit_time`
        is <= ts — Delta's ``timestampAsOf`` resolution against the
        ``_committed_at`` stamps that also drive retention-windowed
        vacuum.  Aborted above-pointer claims never participate (same
        rule as vacuum: no reader could ever have seen them).  Raises
        ``FileNotFoundError`` when ``ts`` predates the label entirely;
        vacuumed history resolves to the oldest surviving version only if
        its own stamp qualifies — a reclaimed version is gone, not
        approximated."""
        ts = float(ts)
        current = self.version(label)

        def _committed(v: int) -> bool:
            return v <= current or os.path.exists(os.path.join(self.path(label, v), "_SUCCESS"))

        cands = [v for v in self.history(label) if _committed(v) and self.commit_time(label, v) <= ts]
        if not cands:
            raise FileNotFoundError(
                f"label {label!r}: no version committed at or before ts={ts} "
                f"(history {self.history(label)})"
            )
        return max(cands)

    def read_as_of(self, spark: SparkSession, label: str, ts: float) -> DataFrame:
        """Timestamp time travel: snapshot read of the version current at
        wall-clock ``ts`` — reproduce yesterday's training run against
        yesterday's corpus without recording version numbers.  Pair with
        ``vacuum(retention_seconds=…)``: any ts within the retention
        window is guaranteed readable."""
        return self.read(spark, label, self.version_at(label, ts))

    # -- merge-on-read deltas ----------------------------------------------
    # A merge-on-read label runs on the segmented-index core
    # (operators/segments.py): its base is the label itself, each delta
    # batch a tombstone segment of its keys plus a segment of its upserts.
    def write_delta(
        self,
        spark: SparkSession,
        label: str,
        changes: DataFrame,
        key_cols: list[str],
        op_col: str = "_op",
    ) -> int:
        """Commit a CHURN-SIZED change batch against ``label`` without
        rewriting the table — the merge-on-read half of the lakehouse
        write spectrum (Hudi/Iceberg MOR; copy-on-write is the default
        :meth:`write`).  ``changes`` carries the base schema plus
        ``op_col`` ∈ {'upsert', 'delete'} (delete rows only need the key
        column populated); ``key_cols`` names exactly one column.  The
        batch's keys hide every earlier row of them and its upserts land
        after them, so a later batch supersedes an earlier one per key.
        Racing writers all land: a batch that loses the carrier commit
        runs again.  Readers pay a broadcast anti-join at
        :meth:`read_merged`; :meth:`compact_mor` folds the deltas back
        into a plain base version.  Returns the outstanding batches."""
        from scalligraph_spark.operators import segments

        return segments.write_delta(spark, self, label, changes, key_cols, op_col)

    def read_merged(self, spark: SparkSession, label: str, predicates=None) -> DataFrame:
        """Base ∪ outstanding deltas, resolved: deletes drop the key,
        upserts supersede every earlier row of it, and the base is never
        shuffled (one anti-join against the broadcast churn-sized
        tombstones).  With no deltas this IS :meth:`read`.
        ``predicates`` (``read_skipping``'s triples) prune the files of
        the base and of every delta and then filter the merged rows:
        exactly ``read_merged().where(pred)``, since the tombstones are
        never pruned."""
        from scalligraph_spark.operators import segments

        preds = None if predicates is None else _normalize_predicates(_validate_predicates(predicates))
        fam, meta = segments.mor_record(self, label)
        merged = segments.read_part(spark, self, fam, label, meta, predicates=preds)
        return merged if preds is None else merged.where(_predicates_column(preds))

    def compact_mor(self, spark: SparkSession, label: str) -> int:
        """Fold every outstanding delta into a new plain base version;
        the folded delta labels stay for pinned readers until
        :meth:`vacuum_mor`.  Must not run concurrently with another
        compaction or a vacuum.  Returns the new base version."""
        from scalligraph_spark.operators import segments

        return segments.compact(spark, self, segments.mor_record(self, label)[0], label)

    def vacuum_mor(self, label: str, retention_seconds: float = 0.0) -> list[str]:
        """Drop the delta labels a compaction folded (and those of
        batches that lost a race), once the base commit that folded them
        is older than ``retention_seconds``; outstanding deltas are never
        touched.  Returns the dropped labels."""
        from scalligraph_spark.operators import segments

        return segments.reclaim(self, segments.mor_record(self, label)[0], label, retention_seconds)

    def drop(self, label: str) -> None:
        """Remove a label entirely — every version and the pointer (DROP
        TABLE).  For unreferenced derived artifacts (e.g. text-index delta
        segments after :func:`compact_text_index`); like vacuum, must not
        run concurrently with writers or pinned readers of the label."""
        import shutil

        shutil.rmtree(os.path.join(self.root, label), ignore_errors=True)

    def rollback(self, label: str, version: int) -> None:
        """Point back to an earlier version (migration undo / time travel)."""
        if version not in self.history(label):
            raise ValueError(f"no version {version} for label {label!r}; have {self.history(label)}")
        self._set_version(label, version)

    def stats(self, label: str, version: int | None = None) -> tuple[int, int]:
        """(n_data_files, total_bytes) of a version's directory — the
        small-file health metric that drives :meth:`compact`."""
        n = total = 0
        for root, _, files in os.walk(self.path(label, version)):
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    total += os.path.getsize(os.path.join(root, f))
        return n, total

    def compact(
        self,
        spark: SparkSession,
        label: str,
        target_file_bytes: int = 128 << 20,
        partition_by: list[str] | None = None,
    ) -> int:
        """Delta-OPTIMIZE-style compaction: rewrite the current version's
        many small files into ``ceil(bytes / target_file_bytes)`` right-sized
        ones, committed as a NEW version (same snapshot/rollback guarantees
        as any write — readers of the old version are undisturbed, and a
        bad compaction is one :meth:`rollback` away).

        Small files are the silent scale-killer of incremental pipelines:
        every micro-batch append adds task-sized files, and a 100 TB scan
        over millions of 1 MiB files pays per-file open/footer costs and
        floods the driver with splits.  Compaction uses ``coalesce`` (a
        NARROW dependency — no shuffle; each output file concatenates whole
        input files); for re-clustering by key use
        ``write(..., bucket_hint=...)`` instead, which pays the shuffle to
        buy co-located joins.

        No-op (returns the current version) when the table already meets
        the target file count.

        A file-stats manifest on the current version CARRIES FORWARD
        (:meth:`write`'s default): the rewrite re-collects stats for the
        same columns (the old per-file ranges describe files that no
        longer exist) — otherwise nightly compaction would silently
        disable data skipping.
        """
        import math

        v = self.version(label)
        n_files, total = self.stats(label, v)
        target = max(1, math.ceil(total / target_file_bytes))
        if target >= n_files:
            return v
        return self.write(label, self.read(spark, label, v).coalesce(target), partition_by=partition_by)

    def optimize(
        self,
        spark: SparkSession,
        label: str,
        zorder_by: list[str],
        n_files: int | None = None,
    ) -> int:
        """OPTIMIZE ZORDER analog: rewrite the current version re-clustered
        on the Morton key of ``zorder_by`` (multi-dimensional data skipping
        — parquet footer min/max prune on ANY of the columns), committed as
        a new version.  Unlike :meth:`compact` (coalesce, no shuffle), this
        PAYS a range-partition shuffle to buy query-time pruning — run it
        when scan profiles show filters on these columns reading most
        files.  ``n_files`` defaults to the current file count.

        The new version always carries a file-stats manifest for the
        z-order columns (the whole point of paying the shuffle is pruned
        reads — footer row-group pruning alone would waste the layout on
        file listing), widened by any columns the old manifest tracked."""
        v = self.version(label)
        if n_files is None:
            n_files = max(1, self.stats(label, v)[0])
        inherited = self._inherited_stats_cols(label, v) or []
        stats_cols = list(dict.fromkeys(inherited + list(zorder_by)))
        return self.write(
            label, self.read(spark, label, v), zorder_by=(n_files, zorder_by), stats_cols=stats_cols
        )

    def _inherited_stats_cols(self, label: str, version: int | None = None) -> list[str] | None:
        """The manifest columns a commit over this version re-collects
        (``None`` when the version has no manifest) — commits, compaction
        and OPTIMIZE must not silently drop data skipping."""
        man = self.file_manifest(label, version)
        return list(man["columns"]) if man else None

    def _inherited_bloom_cols(self, label: str, version: int | None = None) -> list[str] | None:
        """Bloom-filter columns to re-collect on a rewrite — same
        carry-forward rule as :meth:`_inherited_stats_cols`."""
        man = self.file_manifest(label, version)
        cols = list(man.get("bloom_columns", [])) if man else []
        return cols or None

    def vacuum(
        self,
        label: str,
        keep: int = 2,
        staging_ttl_seconds: float = 3600.0,
        retention_seconds: float = 0.0,
    ) -> list[int]:
        """Drop all but the newest ``keep`` COMMITTED versions (never the
        current), plus aborted commit claims — v-dirs above the pointer
        with no ``_SUCCESS`` marker (impossible under rename-publish, but
        a legacy ``mkdir``-claim crash or a simulated racer leaves them,
        and they make every CAS commit of that base spuriously conflict)
        — plus orphan ``.staging-*`` dirs older than
        ``staging_ttl_seconds`` (a crashed writer's private scratch; the
        TTL keeps an IN-FLIGHT writer's staging safe — its publish is a
        rename, so vacuum can never see a half-published v-dir).

        The ``keep`` window counts only committed versions: aborted
        above-pointer claims must not occupy keep slots, else real
        history gets reclaimed beyond the intended depth (e.g. history
        [1..5], pointer 3, 4-5 aborted, keep=2 must keep v2+v3, not
        delete v2).  Returns the versions removed.

        ``retention_seconds`` is Delta VACUUM's retention contract made
        structural: a committed version is reclaimable only once it has
        been SUPERSEDED (the next committed version's :meth:`commit_time`)
        for longer than the window, so any reader that pinned a snapshot
        within the last ``retention_seconds`` survives the sweep by
        construction — not by operator discipline.  0 (the default)
        preserves the legacy immediate-reclaim behaviour.  Aborted
        claims are exempt: no reader can ever pin one (they were never
        publishable), so they reclaim regardless of retention."""
        import shutil
        import time

        retention_seconds = check_retention(retention_seconds)
        current = self.version(label)

        def _committed(v: int) -> bool:
            return v <= current or os.path.exists(os.path.join(self.path(label, v), "_SUCCESS"))

        history = self.history(label)
        committed = [v for v in history if _committed(v)]
        victims = [v for v in committed[:-keep] if v != current]
        if retention_seconds > 0:
            now = time.time()

            def _superseded_long_enough(v: int) -> bool:
                nxt = next((w for w in committed if w > v), None)
                return nxt is not None and now - self.commit_time(label, nxt) > retention_seconds

            victims = [v for v in victims if _superseded_long_enough(v)]
        victims += [v for v in history if v > current and not _committed(v)]
        for v in victims:
            shutil.rmtree(self.path(label, v), ignore_errors=True)
        label_dir = os.path.join(self.root, label)
        now = time.time()
        if os.path.isdir(label_dir):
            for name in os.listdir(label_dir):
                p = os.path.join(label_dir, name)
                if (
                    name.startswith(".staging-")
                    and os.path.isdir(p)
                    and now - os.path.getmtime(p) > staging_ttl_seconds
                ):
                    shutil.rmtree(p, ignore_errors=True)
        return victims


def store_report(spark: SparkSession, store: "LabelStore") -> DataFrame:
    """One-row-per-label operational health report — the SHOW TABLES +
    maintenance dashboard for a store root, all from METADATA (pointer
    files, directory listings, parquet file sizes; no data scans):
    current version, retained version count, data files + bytes (the
    compaction signal), orphaned staging dirs (crashed writers awaiting
    vacuum's TTL), the merge-on-read delta backlog (outstanding
    batches, read from the label's carrier: the compact_mor signal), and
    the current commit's age in seconds (the retention
    signal: a sweep with ``retention_seconds`` > the superseding commit's
    age reclaims nothing — this column says when it will).  Derived
    artifact labels (``__``-infixed: index segments, meta carriers,
    deltas) fold into their owning label's row."""
    import os
    import time

    now = time.time()
    rows = []
    labels = sorted(
        n for n in os.listdir(store.root)
        if os.path.isdir(os.path.join(store.root, n)) and "__" not in n
    )
    for label in labels:
        v = store.version(label)
        if v == 0:
            continue
        n_files, n_bytes = store.stats(label)
        label_dir = os.path.join(store.root, label)
        staging = sum(1 for n in os.listdir(label_dir) if n.startswith(".staging-"))
        # one tombstone segment per outstanding merge-on-read batch
        deltas = len(store.commit_meta(f"{label}__meta").get("tombstones", []))
        man = store.file_manifest(label)
        rows.append(
            (
                label,
                int(v),
                len(store.history(label)),
                int(n_files),
                int(n_bytes),
                int(staging),
                int(deltas),
                int(max(0.0, now - store.commit_time(label))),
                # data-skipping signal: which columns the current version
                # can prune on (empty = selective reads pay a full listing)
                sorted(man["columns"]) if man else [],
                sorted(man.get("bloom_columns", [])) if man else [],
            )
        )
    return spark.createDataFrame(
        rows,
        "label string, version int, retained_versions int, data_files int, "
        "data_bytes long, staging_orphans int, delta_backlog int, "
        "commit_age_seconds long, skipping_cols array<string>, "
        "bloom_cols array<string>",
    )


def version_diff(
    spark: SparkSession,
    store: "LabelStore",
    label: str,
    v_old: int,
    v_new: int,
    key_cols: list[str],
) -> DataFrame:
    """Row-level diff between two committed versions — ``(keys, status)``
    with status ``added`` / ``removed`` / ``changed``:
    :func:`~scalligraph_spark.cdf.change_status` over the two snapshots."""
    return change_status(store.read(spark, label, v_old), store.read(spark, label, v_new), key_cols)


def aggregate_snapshot(
    df: DataFrame, group_cols: list[str], measure_cols: list[str], minmax: bool = False
) -> DataFrame:
    """Full materialized-view snapshot: per group, ``n_rows`` plus
    ``sum_<m>`` for each measure (and ``min_<m>``/``max_<m>`` with
    ``minmax``).  Null measures count as 0 so snapshot and incremental
    refresh agree on all-null groups."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for m in measure_cols:
        aggs.append(F.sum(F.coalesce(F.col(m), F.lit(0))).alias(f"sum_{m}"))
        if minmax:
            aggs.append(F.min(m).alias(f"min_{m}"))
            aggs.append(F.max(m).alias(f"max_{m}"))
    return df.groupBy(*group_cols).agg(*aggs)


def merge_aggregate(
    mv: DataFrame, delta: DataFrame, group_cols: list[str], measure_cols: list[str]
) -> DataFrame:
    """Add a signed delta shaped like :func:`aggregate_snapshot` into
    ``mv`` by group and drop groups whose count reaches zero — the
    counting-algorithm merge of :func:`refresh_aggregate` (delta) and the
    streaming MV sink."""
    sums = [F.sum(c).alias(c) for c in ["n_rows", *[f"sum_{m}" for m in measure_cols]]]
    return mv.unionByName(delta).groupBy(*group_cols).agg(*sums).where(F.col("n_rows") > 0)


def refresh_aggregate(
    spark: SparkSession,
    store: "LabelStore",
    label: str,
    mv: DataFrame,
    group_cols: list[str],
    measure_cols: list[str],
    v_old: int,
    v_new: int,
    key_cols: list[str],
    strategy: str = "delta",
    minmax: bool = False,
) -> DataFrame:
    """Incremental materialized-view maintenance: roll the grouped
    aggregate ``mv`` (an :func:`aggregate_snapshot` at ``v_old``) forward
    to ``v_new`` WITHOUT rescanning the unchanged data — the lakehouse
    MV-refresh pattern built on the store's change-data-feed.

    Strategies (identical output to a full recompute at ``v_new``):

    * ``delta`` — classic counting-algorithm IVM (Gupta & Mumick,
      "Maintenance of Materialized Views: Problems, Techniques, and
      Applications", IEEE DE Bulletin 1995): the step's change images
      (``cdf.change_images``) become ±1-weighted delta rows and
      :func:`merge_aggregate` adds them into the MV by group, dropping
      groups whose count reaches zero.  Cost scales with CHURN,
      not table size — the 100 TB path for count/sum/avg.  min/max are
      NOT delta-maintainable under deletes (a removed row may have held
      the extremum); requesting ``minmax`` here raises.
    * ``group_rescan`` — recompute only the groups the change touched (one
      semi-join-pruned scan of the new version), keep every untouched MV
      row as-is (anti-join).  Supports any aggregate including min/max;
      cost scales with the data volume of AFFECTED groups.  The right
      tool when churn clusters in few groups or extremes are maintained.

    ``mv`` must carry ``group_cols`` + ``n_rows`` + ``sum_<m>`` columns
    (plus min/max columns under ``minmax``).  Measures are integral;
    route doubles through DECIMAL first (see functions.dsum) to keep
    refresh bit-identical to recompute.
    """
    new = store.read(spark, label, v_new)
    gone, came = change_images(store.read(spark, label, v_old), new, key_cols)
    if strategy == "delta":
        if minmax:
            raise ValueError(
                "min/max cannot be maintained from deltas under deletes; "
                "use strategy='group_rescan'"
            )

        def weighted(rows: DataFrame, w: int) -> DataFrame:
            sums = [(F.coalesce(F.col(m), F.lit(0)) * w).alias(f"sum_{m}") for m in measure_cols]
            return rows.select(*group_cols, F.lit(w).cast("long").alias("n_rows"), *sums)

        delta = weighted(came, 1).unionByName(weighted(gone, -1))
        return merge_aggregate(mv, delta, group_cols, measure_cols)
    elif strategy == "group_rescan":
        # groups named by the change on EITHER side: a changed row may have
        # MOVED between groups, so both its old and new group are stale.
        touched = came.select(*group_cols).unionByName(gone.select(*group_cols)).distinct()
        recomputed = aggregate_snapshot(
            new.join(touched, group_cols, "left_semi"), group_cols, measure_cols, minmax
        )
        untouched = mv.join(touched, group_cols, "left_anti")
        return untouched.unionByName(recomputed)
    raise ValueError(f"unknown strategy {strategy!r}; use 'delta' or 'group_rescan'")


def refresh_join(
    spark: SparkSession,
    store: "LabelStore",
    left_label: str,
    right_label: str,
    view: DataFrame,
    on: list[str],
    left_keys: list[str],
    right_keys: list[str],
    left_versions: tuple[int, int],
    right_versions: tuple[int, int],
) -> DataFrame:
    """Incremental maintenance of an inner-join view ``left ⋈ right``
    (both sides versioned label tables) — the join delta rule:

        Δ(A ⋈ B) = ΔA ⋈ B_new  ∪  A_old ⋈ ΔB      (multiset semantics)

    where ``ΔX = X_new − X_old`` splits into inserts (+) and deletes (−):
    deleted/changed-old rows retract their join partners, inserted/
    changed-new rows add theirs.  Using ``B_new`` on the first term and
    ``A_old`` on the second counts the ΔA⋈ΔB cross term exactly once.
    Cost scales with churn × matched partners — the two full-table scans
    of a recompute are replaced by two diff-semi-joined slices (at 100 TB
    the slices partition-prune down to the touched keys).

    ``view`` must be the materialized inner join at
    ``(left v_old, right v_old)`` carrying the join keys plus any payload
    columns present in the stored tables; the result is the view at
    ``(left v_new, right v_new)``, bit-identical to a recompute.
    Rows are matched for retraction by FULL VALUE (all view columns), so
    duplicate join rows are retracted with multiset semantics — the
    count-annotated merge keeps one physical row per distinct value with
    an internal multiplicity during the merge only.
    """
    lo, ln = left_versions
    ro, rn = right_versions
    a_old = store.read(spark, left_label, lo)
    a_new = store.read(spark, left_label, ln)
    b_old = store.read(spark, right_label, ro)
    b_new = store.read(spark, right_label, rn)

    # the delta terms select view.columns straight off left ⋈ right, so
    # every non-key VIEW column must name a column of exactly ONE side
    # (the view may project a subset): fail loud naming the offenders
    l_payload = set(a_new.columns) - set(on)
    r_payload = set(b_new.columns) - set(on)
    view_payload = set(view.columns) - set(on)
    ambiguous = sorted(view_payload & l_payload & r_payload)
    if ambiguous:
        raise ValueError(
            f"refresh_join: view columns {ambiguous} exist in BOTH "
            f"{left_label!r} and {right_label!r}; rename one side's payload "
            "columns before materializing the view"
        )
    missing = sorted(view_payload - (l_payload | r_payload))
    if missing:
        raise ValueError(
            f"refresh_join: view columns {missing} exist in neither "
            f"{left_label!r} nor {right_label!r} (view must project join "
            "keys + stored payload columns only)"
        )

    a_gone, a_came = change_images(a_old, a_new, left_keys)
    b_gone, b_came = change_images(b_old, b_new, right_keys)

    cols = view.columns
    # ΔA ⋈ B_new (weight from ΔA side) ∪ A_old ⋈ ΔB (weight from ΔB side)
    plus = (
        a_came.join(b_new, on)
        .select(*cols, F.lit(1).alias("__w"))
        .unionByName(a_old.join(b_came, on).select(*cols, F.lit(1).alias("__w")))
    )
    minus = (
        a_gone.join(b_new, on)
        .select(*cols, F.lit(-1).alias("__w"))
        .unionByName(a_old.join(b_gone, on).select(*cols, F.lit(-1).alias("__w")))
    )
    # merge with multiset semantics: per distinct row value, multiplicity =
    # count(view) + Σ delta weights; re-emit that many copies.
    merged = (
        view.select(*cols, F.lit(1).alias("__w"))
        .unionByName(plus)
        .unionByName(minus)
        .groupBy(*cols)
        .agg(F.sum("__w").alias("__n"))
        .where(F.col("__n") > 0)
    )
    return merged.select(
        *cols, F.explode(F.expr("array_repeat(0, CAST(__n AS INT))")).alias("__dup")
    ).drop("__dup")


class SnapshotConflictError(RuntimeError):
    """A concurrent SnapshotStore.commit claimed this snapshot id first —
    the multi-table twin of writes.WriteConflictError: retry against the
    fresh current manifest instead of publishing a stale carry-forward."""


class SnapshotStore:
    """Atomic MULTI-TABLE transactions over a :class:`LabelStore` — the
    missing piece when a pipeline must publish several label tables
    together (vertices + edges, facts + refreshed MV): per-label pointer
    flips are individually atomic but a reader between two flips sees a
    torn combination.

    Design (the Delta/Iceberg root-manifest idea at file granularity):
    ``commit(dfs)`` writes every label's NEW version directory first
    (crash before publish leaves only unreferenced data), then publishes
    ONE manifest json naming {label: version} and renames the
    ``CURRENT`` pointer to it — readers that resolve versions through
    :meth:`read` see the entire commit or none of it.  Per-label
    pointers advance as each table lands, so legacy single-table readers
    keep their own per-label atomicity but not the cross-table guarantee
    — only snapshot-resolved reads get that.  Single-writer per store,
    like ``LabelStore.write``'s claimed-version discipline.
    """

    def __init__(self, store: "LabelStore"):
        self.store = store
        self._dir = os.path.join(store.root, "_snapshots")
        os.makedirs(self._dir, exist_ok=True)

    def _current_path(self) -> str:
        return os.path.join(self._dir, "CURRENT")

    def current_id(self) -> int:
        p = self._current_path()
        if not os.path.exists(p):
            return 0
        with open(p) as f:
            return int(f.read().strip())

    def manifest(self, snapshot_id: int | None = None) -> dict:
        """{label: version} of a snapshot (default: current); {} before
        the first commit."""
        sid = self.current_id() if snapshot_id is None else snapshot_id
        if sid == 0:
            return {}
        with open(os.path.join(self._dir, f"s{sid}.json")) as f:
            return json.load(f)

    def commit(self, dfs: dict, meta: dict | None = None) -> int:
        """Publish all ``{label: DataFrame}`` tables as one atomic
        snapshot; unchanged labels carry forward from the previous
        manifest.  Returns the new snapshot id.

        Concurrent committers: the manifest id is CLAIMED exclusively
        (``O_EXCL`` create of ``s<id>.json``, same discipline as the
        label store's version-directory claim).  A loser raced a commit
        that landed after its carried-forward base manifest was read, so
        its carry-forward could silently resurrect stale table versions
        — it gets :class:`SnapshotConflictError` and must re-run
        (re-reading the new current manifest), never a clobbered or torn
        snapshot."""
        if not dfs:
            raise ValueError("commit: at least one label required")
        base = self.current_id()
        new_manifest = dict(self.manifest(base) if base else {})
        # data first, snapshot publication last: a crash mid-loop leaves
        # version directories the manifest never references — snapshot
        # readers can never observe a torn multi-table state
        for label, df in dfs.items():
            new_manifest[label] = self.store.write(label, df, meta=meta)
        sid = base + 1
        mpath = os.path.join(self._dir, f"s{sid}.json")
        try:
            fd = os.open(mpath, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
        except FileExistsError:
            raise SnapshotConflictError(
                f"snapshot s{sid} already committed by a concurrent writer "
                f"(this commit carried forward from s{base}) — re-run the "
                "commit against the new current manifest"
            ) from None
        with os.fdopen(fd, "w") as f:
            json.dump(new_manifest, f)
        tmp = self._current_path() + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(sid))
        os.replace(tmp, self._current_path())  # the single atomic publish
        return sid

    def read(self, spark: SparkSession, label: str, snapshot_id: int | None = None) -> DataFrame:
        """Read a label AT a snapshot — all labels read through the same
        snapshot id observe one consistent multi-table commit."""
        m = self.manifest(snapshot_id)
        if label not in m:
            raise KeyError(f"label {label!r} not in snapshot {snapshot_id or self.current_id()}")
        return self.store.read(spark, label, m[label])


def safe_vacuum(store: "LabelStore", snap: "SnapshotStore", label: str, keep: int = 2) -> list[int]:
    """Snapshot-aware vacuum: like :meth:`LabelStore.vacuum`, but never
    removes a version ANY committed snapshot manifest still references —
    plain vacuum only protects the per-label current pointer, so it could
    tear time travel for snapshot readers pinned to an older manifest.
    Returns the versions actually removed."""
    import shutil

    referenced = set()
    for sid in range(1, snap.current_id() + 1):
        try:
            m = snap.manifest(sid)
        except FileNotFoundError:
            continue
        if label in m:
            referenced.add(m[label])
    current = store.version(label)
    victims = [
        v
        for v in store.history(label)[:-keep]
        if v != current and v not in referenced
    ]
    for v in victims:
        shutil.rmtree(store.path(label, v), ignore_errors=True)
    return victims

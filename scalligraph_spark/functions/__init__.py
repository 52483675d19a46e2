"""Scalar function library (SURVEY.md §2.8) + determinism helpers.

The reference keeps string/date/math logic in type mappings and aggregation
bucketing (query/Aggregation.scala:401-480, query/Filter.scala:115-129,
models/Mapping.scala:54-104); this module re-expresses those as Column
builders, plus two engine-specific helpers:

* ``dsum``/``davg`` — double aggregation routed through DECIMAL.  Floating
  sums depend on reduction order, which a distributed shuffle does not fix;
  decimal sums are associative-exact, so results are bit-identical across
  partitionings, AQE re-plans, and external oracles.  The final cast back to
  double is exact while |sum| < 2^53 / scale.
* time bucketing with the reference's exact epoch-modulo / Thursday-anchored
  week / calendar month-year semantics (Aggregation.scala:401-428).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# decimal(27,6): 21 integer digits, 6 fractional — covers 100 TB-scale sums
# of currency-like doubles without overflow while staying inside one
# 128-bit decimal.
_DEC = "decimal(27,6)"


def dsum(col: Column) -> Column:
    """Order-independent sum of a double column (exact decimal internally)."""
    return F.sum(col.cast(_DEC)).cast("double")


def davg(col: Column) -> Column:
    """Order-independent mean: exact decimal sum / count, divided as doubles
    (both operands exactly representable → IEEE-deterministic result)."""
    return (F.sum(col.cast(_DEC)).cast("double") / F.count(col)).cast("double")


def round12(col: Column) -> Column:
    """A double rounded to 12 decimals the way DuckDB's ``round(x, 12)``
    rounds it: ``round(x * 1e12) / 1e12``, halves away from zero on the
    product's binary value.  ``F.round(x, 12)`` instead rounds half-up on
    the shortest decimal string of ``x``, so the two engines disagree on
    values that sit on a boundary (0.9034579331904999 → 0.90345793319 in
    Spark, 0.903457933191 in DuckDB).  Below |x·1e12| = 2^52 the string of
    the product rounds like its binary value, so this matches bit for
    bit."""
    return F.round(col * F.lit(1e12), 0) / F.lit(1e12)


def dsum_expr(sql_expr: str) -> str:
    """DuckDB-side oracle fragment matching :func:`dsum`."""
    return f"CAST(SUM(CAST(({sql_expr}) AS DECIMAL(27,6))) AS DOUBLE)"


def davg_expr(sql_expr: str) -> str:
    """DuckDB-side oracle fragment matching :func:`davg`."""
    return (
        f"CAST(CAST(SUM(CAST(({sql_expr}) AS DECIMAL(27,6))) AS DOUBLE)"
        f" / COUNT({sql_expr}) AS DOUBLE)"
    )


# ---------------------------------------------------------------------------
# Time bucketing (Aggregation.scala:401-428) — all arithmetic in epoch millis
# with the session pinned to UTC (session.py), exactly as the reference does
# with java.util.Date millis.
# ---------------------------------------------------------------------------

THREE_DAYS_MS = 259_200_000
ONE_WEEK_MS = 604_800_000

_UNIT_MS = {
    "s": 1_000,
    "m": 60_000,
    "h": 3_600_000,
    "d": 86_400_000,
}


def time_bucket(ts: Column, interval: int, unit: str) -> Column:
    """Floor a timestamp to the reference's bucket key (a timestamp).

    * s/m/h/d: ``t - t % (unit_ms * interval)`` (Aggregation.scala:425-427)
    * w: epoch shifted +3 days before the weekly modulo and back after
      (Aggregation.scala:409-414) — epoch day 0 (1970-01-01) was a
      Thursday, so the shift lands week BOUNDARIES on Mondays (ISO weeks)
    * M/y: calendar month / year starts (Aggregation.scala:417-424)
    """
    # parquet timestamps arrive as TIMESTAMP_NTZ; the session is pinned UTC
    # (session.py) so the cast through TIMESTAMP is lossless — outputs stay
    # NTZ to match naive-timestamp oracles.
    if unit in _UNIT_MS:
        dur = _UNIT_MS[unit] * interval
        ms = F.unix_millis(ts.cast("timestamp"))
        return F.timestamp_millis((ms - ms % dur).cast("long")).cast("timestamp_ntz")
    if unit == "w":
        ms = F.unix_millis(ts.cast("timestamp")) + F.lit(THREE_DAYS_MS)
        dur = ONE_WEEK_MS * interval
        return F.timestamp_millis((ms - ms % dur - F.lit(THREE_DAYS_MS)).cast("long")).cast("timestamp_ntz")
    if unit == "M":
        return F.date_trunc("month", ts)
    if unit == "y":
        return F.date_trunc("year", ts)
    raise ValueError(f"unknown time unit {unit!r}")


def time_bucket_sql(ts_expr: str, interval: int, unit: str) -> str:
    """DuckDB oracle fragment matching :func:`time_bucket` bit-for-bit."""
    if unit in _UNIT_MS:
        dur = _UNIT_MS[unit] * interval
        return f"make_timestamp((epoch_ms({ts_expr}) - epoch_ms({ts_expr}) % {dur}) * 1000)"
    if unit == "w":
        dur = ONE_WEEK_MS * interval
        sh = f"(epoch_ms({ts_expr}) + {THREE_DAYS_MS})"
        return f"make_timestamp(({sh} - {sh} % {dur} - {THREE_DAYS_MS}) * 1000)"
    if unit == "M":
        return f"date_trunc('month', {ts_expr})"
    if unit == "y":
        return f"date_trunc('year', {ts_expr})"
    raise ValueError(f"unknown time unit {unit!r}")


INTERVAL_RE = r"^(\d+)([smhdwMy])$"


def parse_interval(spec) -> tuple[int, str]:
    """Interval grammar (Aggregation.scala:36-63): merged ``"15m"/"2h"/"1w"``
    strings or explicit ``(_interval, _unit)`` pairs with ChronoUnit names."""
    import re

    if isinstance(spec, str):
        m = re.match(INTERVAL_RE, spec)
        if not m:
            raise ValueError(f"bad interval {spec!r}")
        return int(m.group(1)), m.group(2)
    interval, unit = spec
    chrono = {
        "SECONDS": "s",
        "MINUTES": "m",
        "HOURS": "h",
        "DAYS": "d",
        "WEEKS": "w",
        "MONTHS": "M",
        "YEARS": "y",
    }
    return int(interval or 1), chrono.get(str(unit), str(unit))


# ---------------------------------------------------------------------------
# Text / hash / codec helpers (§2.8)
# ---------------------------------------------------------------------------


def text_wildcard(col: Column, pattern: str) -> Column:
    """`*`-wildcard match with the reference's folding (Filter.scala:122-129)."""
    s, e = pattern.startswith("*"), pattern.endswith("*") and len(pattern) > 1
    if s and e:
        return col.contains(pattern[1:-1])
    if s:
        return col.endswith(pattern[1:])
    if e:
        return col.startswith(pattern[:-1])
    return col == F.lit(pattern)


def b64encode(col: Column) -> Column:
    """Base64 of a string/binary column (Mapping.scala:72-73)."""
    return F.base64(col.cast("binary"))


def md5_hex(col: Column) -> Column:
    """MD5 hex digest (utils/Hash.scala analog)."""
    return F.md5(col.cast("binary"))


def sha256_hex(col: Column) -> Column:
    return F.sha2(col.cast("binary"), 256)


def json_get(col: Column, path: str) -> Column:
    """JSON field extraction (JsValue mapping, Mapping.scala:54,60)."""
    return F.get_json_object(col, f"$.{path}")


# ---------------------------------------------------------------------------
# Skew mitigation — salting for joins AQE's skew splitting cannot fix
# (e.g. a broadcast-ineligible dimension with one hot key).
# ---------------------------------------------------------------------------


def salted_join(big, small, on: str, n_salts: int = 16, how: str = "inner"):
    """Backwards-compatible alias for
    :func:`scalligraph_spark.operators.joins.salted_join` (the canonical,
    suite-verified implementation — pair it with
    ``operators.diagnostics.key_skew_profile`` to decide when to salt)."""
    from scalligraph_spark.operators.joins import salted_join as _sj

    return _sj(big, small, on, salt_factor=n_salts, how=how)

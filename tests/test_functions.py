"""Scalar/scale helper tests: decimal aggregation exactness, time buckets,
interval grammar, salted joins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scalligraph_spark.functions import (
    b64encode,
    dsum,
    md5_hex,
    parse_interval,
    salted_join,
    sha256_hex,
    text_wildcard,
    time_bucket,
)


def test_dsum_order_independent(spark):
    # the classic float-sum trap: many tiny values + one large one
    rows = [(1e16,)] + [(1.0,)] * 1000
    a = spark.createDataFrame(rows, "v double").repartition(1).agg(dsum(F.col("v")).alias("s")).collect()[0]["s"]
    b = spark.createDataFrame(list(reversed(rows)), "v double").repartition(13).agg(
        dsum(F.col("v")).alias("s")
    ).collect()[0]["s"]
    assert a == b == 1e16 + 1000.0


def test_parse_interval_grammar():
    assert parse_interval("15m") == (15, "m")
    assert parse_interval("2h") == (2, "h")
    assert parse_interval("1w") == (1, "w")
    assert parse_interval((3, "DAYS")) == (3, "d")
    assert parse_interval((None, "MONTHS")) == (1, "M")
    with pytest.raises(ValueError):
        parse_interval("nope")


def test_time_bucket_week_anchoring(spark):
    # the reference shifts the epoch +3 days before the weekly modulo
    # (1970-01-01 was a Thursday), which anchors week boundaries on
    # MONDAYS (ISO weeks): any day floors to its Monday, Mondays to
    # themselves
    df = spark.createDataFrame(
        [("2026-08-13 10:30:00",), ("2026-08-10 00:00:00",)], "t string"
    ).select(F.col("t").cast("timestamp_ntz").alias("t"))
    out = [r["b"] for r in df.select(time_bucket(F.col("t"), 1, "w").alias("b")).collect()]
    assert [b.strftime("%Y-%m-%d %A") for b in out] == ["2026-08-10 Monday", "2026-08-10 Monday"]


def test_scalar_helpers(spark):
    df = spark.createDataFrame([("abc",)], "s string")
    r = df.select(
        md5_hex(F.col("s")).alias("m"), sha256_hex(F.col("s")).alias("h"), b64encode(F.col("s")).alias("b")
    ).collect()[0]
    import base64
    import hashlib

    assert r["m"] == hashlib.md5(b"abc").hexdigest()
    assert r["h"] == hashlib.sha256(b"abc").hexdigest()
    assert r["b"] == base64.b64encode(b"abc").decode()
    w = df.where(text_wildcard(F.col("s"), "a*")).count()
    assert w == 1


def test_salted_join_matches_plain_join(spark):
    # one hot key (90% of rows) — salted result must equal the plain join
    big = spark.createDataFrame([(1, i) for i in range(900)] + [(k, 0) for k in range(2, 102)], "k long, v long")
    small = spark.createDataFrame([(k, f"dim{k}") for k in range(1, 102)], "k long, d string")
    plain = big.join(small, "k").groupBy("k").count().collect()
    salted = salted_join(big, small, on="k", n_salts=8).groupBy("k").count().collect()
    assert sorted((r["k"], r["count"]) for r in salted) == sorted((r["k"], r["count"]) for r in plain)


def test_time_bucket_fuzz_vs_python_replay(spark):
    """Hypothesis differential for the bucket compiler: random epochs x
    random (interval, unit) vs a pure-Python replay of the reference's
    epoch-modulo / Thursday-shift arithmetic (Aggregation.scala:401-427).
    Calendar M/y are checked against datetime truncation."""
    import datetime as dt

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from scalligraph_spark.functions import THREE_DAYS_MS, _UNIT_MS, ONE_WEEK_MS, time_bucket

    epochs = st.integers(min_value=0, max_value=4_102_444_800)  # 1970..2100
    spec = st.one_of(
        st.tuples(st.integers(1, 48), st.sampled_from(["s", "m", "h", "d", "w"])),
        st.tuples(st.just(1), st.sampled_from(["M", "y"])),
    )

    @settings(
        max_examples=25,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
    )
    @given(secs=st.lists(epochs, min_size=1, max_size=8), iv=spec)
    def run(secs, iv):
        interval, unit = iv
        df = spark.createDataFrame(
            [(dt.datetime.utcfromtimestamp(s),) for s in secs], "ts timestamp_ntz"
        )
        got = [
            r[0] for r in df.select(time_bucket(F.col("ts"), interval, unit)).collect()
        ]
        for s, g in zip(secs, got):
            ms = s * 1000
            if unit in _UNIT_MS:
                want_ms = ms - ms % (_UNIT_MS[unit] * interval)
            elif unit == "w":
                sh = ms + THREE_DAYS_MS
                want_ms = sh - sh % (ONE_WEEK_MS * interval) - THREE_DAYS_MS
            elif unit == "M":
                d = dt.datetime.utcfromtimestamp(s)
                want_ms = int(d.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
                              .replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
            else:  # y
                d = dt.datetime.utcfromtimestamp(s)
                want_ms = int(d.replace(month=1, day=1, hour=0, minute=0, second=0, microsecond=0)
                              .replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
            got_ms = int(g.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
            assert got_ms == want_ms, (s, interval, unit)

    run()


def test_exact_rerank_rounds_like_the_duckdb_oracle(spark):
    """The IVF re-rank's cosine is value-identical to the replay oracle's
    ``round(fold / (na * nb), 12)`` in DuckDB — also for folds that sit
    on a rounding boundary, where Spark's ``F.round`` (half-up on the
    shortest decimal string) and DuckDB's ``round`` (half away from zero
    on ``x * 1e12``) disagree.  Seed 506 of the ``operator_batch``
    benchmark hit 0.9034579331904999: 0.90345793319 vs 0.903457933191."""
    import duckdb
    import numpy as np
    import pandas as pd

    from scalligraph_spark.functions import round12
    from scalligraph_spark.operators.similarity import _exact_rerank

    # three pairs whose cosine fold lands on a boundary, then random ones
    on_boundary = [
        [1.3185342936151676, 0.13586419512060322, 0.2366794041123472, -0.9331694633540507],
        [0.6712650081484924, -0.18140661684122494, 1.4799373880734816, -0.851508886676509],
        [1.6434518457368035, -0.1268873046265904, 0.10591656480482192, 0.4148928009434549],
        [-1.3537759226959558, -0.5266594402630714, -0.8848946693498916, 1.7943102179576453],
        [-1.135360630251931, 0.7772608788354572, 0.10574858495023834, 0.632504197223256],
        [-0.1551496414634807, -1.6555147839149855, 0.6161378390168144, -1.0082271886926064],
    ]
    rng = np.random.default_rng(506)
    embedding = on_boundary + [list(rng.standard_normal(4)) for _ in range(40)]
    vecs = pd.DataFrame({"vec_id": np.arange(len(embedding)), "embedding": embedding})
    pairs = pd.DataFrame([(0, 1), (2, 3), (4, 5)] + [(a, b) for a in range(6, 46) for b in range(a + 1, 46)],
                         columns=["id_a", "id_b"])
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = {(r[0], r[1]): r[2] for r in _exact_rerank(
        spark.createDataFrame(pairs, "id_a long, id_b long"), emb, "vec_id", "embedding").collect()}
    con = duckdb.connect()
    con.register("embeddings", vecs)
    con.register("pairs", pairs)
    want = con.execute("""
        WITH vn AS (SELECT vec_id, sqrt(list_reduce(list_transform(embedding, x -> x * x),
                                                    (acc, v) -> acc + v)) AS nrm FROM embeddings)
        SELECT p.id_a, p.id_b,
               round(list_reduce(list_transform(list_zip(ea.embedding, eb.embedding), s -> s[1] * s[2]),
                                 (acc, v) -> acc + v) / (na.nrm * nb.nrm), 12)
        FROM pairs p
        JOIN embeddings ea ON ea.vec_id = p.id_a JOIN embeddings eb ON eb.vec_id = p.id_b
        JOIN vn na ON na.vec_id = p.id_a JOIN vn nb ON nb.vec_id = p.id_b""").fetchall()
    assert len(got) == len(want) == len(pairs)
    assert {k: v for k, v in got.items() if v != {(a, b): c for a, b, c in want}[k]} == {}
    boundary = [0.9034579331904999, 0.5091707806235, -0.41397152430649997, 0.25, 1e-13]
    spark_side = [r[0] for r in spark.createDataFrame([(x,) for x in boundary], "x double")
                  .select(round12(F.col("x"))).collect()]
    assert spark_side == [con.execute(f"SELECT round({x!r}::DOUBLE, 12)").fetchone()[0] for x in boundary]

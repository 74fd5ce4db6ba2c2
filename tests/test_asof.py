"""As-of join operator tests: backward/forward semantics, inclusive
matching, unmatched nulls, multi-column payload carry."""

from __future__ import annotations

import datetime

from training_catalog.operators.asof import asof_join


def _frames(spark):
    ts = lambda s: datetime.datetime.fromisoformat(s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, "u1", ts("2024-01-05 10:00:00")),
         (2, "u1", ts("2024-01-10 00:00:00")),
         (3, "u2", ts("2024-01-01 00:00:00")),   # before any right row
         (4, "u3", ts("2024-01-07 00:00:00"))],  # key with no right rows
        "eid long, k string, t timestamp")
    right = spark.createDataFrame(
        [("u1", ts("2024-01-03 00:00:00"), 100, "a"),
         ("u1", ts("2024-01-10 00:00:00"), 200, "b"),   # equal-time match
         ("u2", ts("2024-01-02 00:00:00"), 300, "c")],
        "k string, t timestamp, val long, tag string")
    return left, right


def test_backward_inclusive(spark):
    left, right = _frames(spark)
    out = {r.eid: (r.val, r.tag)
           for r in asof_join(left, right, "t", "t", "k", "k").collect()}
    assert out[1] == (100, "a")       # latest at-or-before 01-05
    assert out[2] == (200, "b")       # equal timestamp matches (inclusive)
    assert out[3] == (None, None)     # right rows all later
    assert out[4] == (None, None)     # key absent from right


def test_forward_direction(spark):
    left, right = _frames(spark)
    out = {r.eid: r.val
           for r in asof_join(left, right, "t", "t", "k", "k",
                              direction="forward").collect()}
    assert out[1] == 200              # next at-or-after 01-05
    assert out[2] == 200              # equal timestamp inclusive
    assert out[3] == 300
    assert out[4] is None


def test_tolerance_nulls_stale_matches(spark):
    """merge_asof tolerance: a match further than the bound nulls out."""
    left, right = _frames(spark)
    out = {r.eid: r.val
           for r in asof_join(left, right, "t", "t", "k", "k",
                              tolerance_seconds=86400.0).collect()}
    # eid 1: matched row is 2 days earlier (01-03 vs 01-05) → nulled
    assert out[1] is None
    # eid 2: exact-time match, gap 0 → kept
    assert out[2] == 200


def test_matches_duckdb_asof(spark):
    """Operator parity with DuckDB's native ASOF LEFT JOIN on a random
    keyed timeline."""
    import random

    import duckdb

    rnd = random.Random(13)
    lrows = [(i, f"k{rnd.randrange(5)}", rnd.randrange(1000))
             for i in range(200)]
    rrows = [(f"k{rnd.randrange(5)}", rnd.randrange(1000) * 7 % 997, i)
             for i in range(60)]
    # unique (key, time) on the right so the match is well-defined
    seen, uniq = set(), []
    for k, t, v in rrows:
        if (k, t) not in seen:
            seen.add((k, t))
            uniq.append((k, t, v))
    left = spark.createDataFrame(lrows, "lid long, k string, t long") \
        .selectExpr("lid", "k", "timestamp_seconds(t) AS t")
    right = spark.createDataFrame(uniq, "k string, t long, v long") \
        .selectExpr("k", "timestamp_seconds(t) AS t", "v")
    got = {r.lid: r.v
           for r in asof_join(left, right, "t", "t", "k", "k").collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE l(lid BIGINT, k VARCHAR, t BIGINT)")
    con.execute("CREATE TABLE r(k VARCHAR, t BIGINT, v BIGINT)")
    con.executemany("INSERT INTO l VALUES (?, ?, ?)", lrows)
    con.executemany("INSERT INTO r VALUES (?, ?, ?)", uniq)
    want = dict(con.execute(
        "SELECT l.lid, r.v FROM l ASOF LEFT JOIN r "
        "ON l.k = r.k AND l.t >= r.t").fetchall())
    assert got == want

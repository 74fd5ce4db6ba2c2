"""Range-join operator tests: bucketing correctness vs a brute-force
BETWEEN join, boundary inclusivity, left-join semantics, plan shape."""

from __future__ import annotations

import random

import pytest

from pyspark.sql import functions as F

from training_catalog.operators.range_join import range_join


@pytest.fixture()
def data(spark):
    rnd = random.Random(99)
    left = spark.createDataFrame(
        [(i, rnd.uniform(0, 100)) for i in range(300)], "lid long, v double")
    rows = []
    for i in range(40):
        lo = rnd.uniform(0, 95)
        rows.append((i, lo, lo + rnd.uniform(0.1, 20)))
    right = spark.createDataFrame(rows, "rid long, lo double, hi double")
    return left, right


@pytest.mark.parametrize("width", [0.5, 5.0, 50.0])
def test_matches_brute_force(spark, data, width):
    """Identical (lid, rid) pair set at any bucket width — width tunes
    the plan, never the result."""
    left, right = data
    brute = {(r.lid, r.rid) for r in
             left.join(right, (F.col("v") >= F.col("lo"))
                       & (F.col("v") <= F.col("hi"))).collect()}
    got = {(r.lid, r.rid) for r in
           range_join(left, right, "v", "lo", "hi", width).collect()}
    assert got == brute and brute  # non-empty by construction


def test_boundaries_inclusive(spark):
    left = spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 9.999)],
                                 "lid long, v double")
    right = spark.createDataFrame([(7, 10.0, 20.0)],
                                  "rid long, lo double, hi double")
    got = sorted(r.lid for r in
                 range_join(left, right, "v", "lo", "hi", 4.0).collect())
    assert got == [1, 2]


def test_left_join_keeps_unmatched(spark):
    left = spark.createDataFrame([(1, 5.0), (2, 50.0)], "lid long, v double")
    right = spark.createDataFrame([(7, 4.0, 6.0)],
                                  "rid long, lo double, hi double")
    out = {r.lid: r.rid for r in
           range_join(left, right, "v", "lo", "hi", 2.0,
                      how="left").collect()}
    assert out == {1: 7, 2: None}


def test_no_nested_loop_in_plan(spark, data):
    """The point of bucketing: the join plans as a hash/sort-merge
    equi-join, never BroadcastNestedLoop or cartesian."""
    left, right = data
    plan = range_join(left, right, "v", "lo", "hi", 5.0) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
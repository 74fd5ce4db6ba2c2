"""Differential fuzz: the A1 priority-reducer aggregates vs a Python model.

The run-merge semantics (RunJoining.ts:168-208) reduce N overlapping
segments' properties by fixed priority lists: easiest difficulty wins,
"operating" status wins, tri-state booleans reduce true > false > null.
The Spark implementation folds these into hash aggregates
(operators/priority.py) so the reduce is map-side partial —
this module checks that partial+final aggregation over randomly-partitioned
random groups agrees with a direct sequential Python evaluation, for
hundreds of groups in one job.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from openskidata_processor_spark.operators.priority import (
    priority_merge_agg, tristate_or_agg)

DIFFICULTY = ["novice", "easy", "intermediate", "advanced", "expert",
              "freeride", "extreme"]
STATUS = ["operating", "disused", "abandoned", "construction", "proposed"]


def model_priority(vals, priorities):
    known = [v for v in vals if v in priorities]
    return min(known, key=priorities.index) if known else None


def model_tristate(vals):
    if any(v is True for v in vals):
        return True
    if any(v is False for v in vals):
        return False
    return None


N_GROUPS = 300


@pytest.fixture(scope="module")
def groups(spark):
    rnd = random.Random(20260814)
    rows, expected = [], {}
    for g in range(N_GROUPS):
        n = rnd.randrange(1, 8)
        diffs = [rnd.choice(DIFFICULTY + [None, "bogus"]) for _ in range(n)]
        stats = [rnd.choice(STATUS + [None, "x"]) for _ in range(n)]
        tris = [rnd.choice([True, False, None]) for _ in range(n)]
        rows += [(g, d, s, t) for d, s, t in zip(diffs, stats, tris)]
        expected[g] = (model_priority(diffs, DIFFICULTY),
                       model_priority(stats, STATUS),
                       model_tristate(tris))
    df = spark.createDataFrame(
        rows, "g int, difficulty string, status string, "
              "gladed boolean")
    return df, expected


@pytest.mark.parametrize("n_parts", [1, 13])
def test_reducers_match_python_model(groups, n_parts):
    df, expected = groups
    got = {r["g"]: (r["d"], r["s"], r["t"])
           for r in df.repartition(n_parts)
                      .groupBy("g")
                      .agg(priority_merge_agg(F.col("difficulty"),
                                              DIFFICULTY).alias("d"),
                           priority_merge_agg(F.col("status"),
                                              STATUS).alias("s"),
                           tristate_or_agg(F.col("gladed")).alias("t"))
                      .collect()}
    assert len(got) == N_GROUPS
    for g, exp in expected.items():
        assert got[g] == exp, (g, got[g], exp)

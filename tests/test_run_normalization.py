"""Run-topology normalization tests — PySpark ports of the semantic cases in
the reference's MergeOverlappingRuns / CombineRunSegments / PointGraph /
RunJoining unit suites.

All scenarios live at disjoint coordinates in ONE input DataFrame and are
normalized together in a single pipeline invocation (module fixture) — the
per-scenario assertions then select their slice by name.  This mirrors how
the operator actually runs (everything in one topology) and keeps the suite
fast."""

from __future__ import annotations

import json

import pytest

from openskidata_processor_spark.pipeline import formatters as fmt
from openskidata_processor_spark.pipeline.run_normalization import normalize_runs
from test_formatters import raw


def line(*pts):
    return json.dumps({"type": "LineString",
                       "coordinates": [list(p) for p in pts]})


def pts(lon):
    return (lon, 47.1), (lon, 47.2), (lon, 47.3)


POLY = json.dumps({"type": "Polygon", "coordinates": [
    [[30.0, 47.0], [30.1, 47.0], [30.1, 47.1], [30.0, 47.0]]]})

# Scenario layout: each scenario at its own longitude band.
S = {name: pts(float(lon)) for lon, name in enumerate(
    ["overlap", "difficulty", "opposing", "lit", "loop", "separate",
     "dh_chain", "head_head", "degen", "junction", "partial",
     "cycle", "ow_cycle", "dirkeep", "dkfalse"], start=1)}


def scenario_rows():
    o1, o2, _ = S["overlap"]
    d1, d2, _ = S["difficulty"]
    x1, x2, _ = S["opposing"]
    l1, l2, _ = S["lit"]
    p1, p2, p3 = S["loop"]
    q1, q2, q3 = S["separate"]
    c1, c2, c3 = S["dh_chain"]
    h1, h2, h3 = S["head_head"]
    g1, g2, g3 = S["degen"]
    y1, y2, y3 = S["junction"]
    t1, t2, t3 = S["partial"]
    z1, z2, _ = S["cycle"]
    zmid = (z1[0] + 0.05, z1[1] + 0.05)
    w1, w2, _ = S["ow_cycle"]
    wmid = (w1[0] + 0.05, w1[1] + 0.05)
    k1, k2, _ = S["dirkeep"]
    y4 = (y2[0] + 0.5, y2[1])
    return [
        # overlap: identical geometry, names join; sources union
        ({"piste:type": "downhill", "name": "A"}, line(o1, o2)),
        ({"piste:type": "downhill", "name": "B"}, line(o1, o2)),
        # difficulty: easiest wins on the shared arc
        ({"piste:type": "downhill", "name": "S2",
          "piste:difficulty": "advanced"}, line(d1, d2)),
        ({"piste:type": "downhill", "name": "S2",
          "piste:difficulty": "easy"}, line(d1, d2)),
        # opposing oneway → bidirectional (MergeOverlappingRuns.ts:128-157)
        ({"piste:type": "downhill", "name": "S3",
          "piste:oneway": "yes"}, line(x1, x2)),
        ({"piste:type": "downhill", "name": "S3",
          "piste:oneway": "yes"}, line(x2, x1)),
        # tristate: lit true wins
        ({"piste:type": "nordic", "name": "S4", "piste:lit": "yes"},
         line(l1, l2)),
        ({"piste:type": "nordic", "name": "S4"}, line(l1, l2)),
        # loop: consecutive equal-property segments combine
        ({"piste:type": "nordic", "name": "Loop"}, line(p1, p2)),
        ({"piste:type": "nordic", "name": "Loop"}, line(p2, p3)),
        # separate: differing names must NOT chain
        ({"piste:type": "nordic", "name": "C"}, line(q1, q2)),
        ({"piste:type": "nordic", "name": "D"}, line(q2, q3)),
        # dh_chain: oneway head-to-tail chain combines in travel order
        ({"piste:type": "downhill", "name": "DH"}, line(c1, c2)),
        ({"piste:type": "downhill", "name": "DH"}, line(c2, c3)),
        # head_head: oneway runs both ENDING at the middle stay separate
        ({"piste:type": "downhill", "name": "HH"}, line(h1, h2)),
        ({"piste:type": "downhill", "name": "HH"}, line(h3, h2)),
        # degen: zero-length line dropped (CombineRunSegments.ts:14-16)
        ({"piste:type": "nordic", "name": "Degen"}, line(g1, g1)),
        ({"piste:type": "nordic", "name": "Degen"}, line(g2, g3)),
        # junction: Y-split → ambiguous continuation, nothing merges
        ({"piste:type": "nordic", "name": "Y"}, line(y1, y2)),
        ({"piste:type": "nordic", "name": "Y"}, line(y2, y3)),
        ({"piste:type": "nordic", "name": "Y"}, line(y2, y4)),
        # partial: re-traced half dedupes, chain re-combines
        ({"piste:type": "nordic", "name": "T"}, line(t1, t2, t3)),
        ({"piste:type": "nordic", "name": "T"}, line(t2, t3)),
        # polygon passes through untouched
        ({"piste:type": "downhill", "name": "Poly"}, POLY),
        # cycle: three equal segments closing a triangle merge into ONE
        # closed run (PointGraph.unit.test.ts:375 "should merge cycle")
        ({"piste:type": "nordic", "name": "Cyc"}, line(z1, z2)),
        ({"piste:type": "nordic", "name": "Cyc"}, line(z2, zmid)),
        ({"piste:type": "nordic", "name": "Cyc"}, line(zmid, z1)),
        # oneway cycle (:461): travel order must be respected around the loop
        ({"piste:type": "downhill", "piste:oneway": "yes", "name": "OCyc"},
         line(w1, w2)),
        ({"piste:type": "downhill", "piste:oneway": "yes", "name": "OCyc"},
         line(w2, wmid)),
        ({"piste:type": "downhill", "piste:oneway": "yes", "name": "OCyc"},
         line(wmid, w1)),
        # dirkeep (MergeOverlappingRuns.unit.test.ts:149): oneway overlaps a
        # non-oneway (null — nordic has no downhill oneway default) drawn in
        # the REVERSE direction — merged run stays oneway and follows the
        # oneway path's travel direction
        ({"piste:type": "nordic", "piste:oneway": "yes", "name": "DK"},
         line(k1, k2)),
        ({"piste:type": "nordic", "name": "DK"}, line(k2, k1)),
        # dkfalse (MergeOverlappingRuns.unit.test.ts:139,149): an explicit
        # oneway=no overlapping a oneway=yes drawn in reverse — the merged
        # flag is FALSE (false wins over true) but the geometry still
        # follows the ONEWAY path's travel direction (getDirectionData
        # keeps the true run's isReversed in the mixed reduce branches)
        ({"piste:type": "nordic", "piste:oneway": "yes", "name": "DKF"},
         line(*S["dkfalse"][:2])),
        ({"piste:type": "nordic", "piste:oneway": "no", "name": "DKF"},
         line(S["dkfalse"][1], S["dkfalse"][0])),
    ]


@pytest.fixture(scope="module")
def scenario_runs(spark):
    """The formatted scenario runs, materialized once so that a job count
    of ``normalize_runs`` sees normalization alone."""
    return fmt.format_runs(raw(spark, scenario_rows())).localCheckpoint()


@pytest.fixture(scope="module")
def normalized(scenario_runs):
    before = {r.id for r in scenario_runs.select("id").collect()}
    rows = normalize_runs(scenario_runs).collect()
    return rows, before


def by_name(rows, name):
    return [r for r in rows if r.name == name]


class TestMergeOverlappingRuns:
    def test_identical_overlapping_runs_merge(self, normalized):
        rows, _ = normalized
        out = by_name(rows, "A, B")
        assert len(out) == 1
        assert len(out[0].sources) == 2

    def test_easiest_difficulty_wins(self, normalized):
        rows, _ = normalized
        out = by_name(rows, "S2")
        assert len(out) == 1
        assert out[0].difficulty == "easy"

    def test_opposing_oneway_becomes_bidirectional(self, normalized):
        rows, _ = normalized
        out = by_name(rows, "S3")
        assert len(out) == 1
        assert out[0].oneway is False

    def test_tristate_true_wins(self, normalized):
        rows, _ = normalized
        out = by_name(rows, "S4")
        assert len(out) == 1
        assert out[0].lit is True


class TestCombineRunSegments:
    def test_consecutive_equal_segments_combine(self, normalized):
        rows, _ = normalized
        out = by_name(rows, "Loop")
        assert len(out) == 1
        assert len(json.loads(out[0].geometry)["coordinates"]) == 3

    def test_different_properties_stay_separate(self, normalized):
        rows, _ = normalized
        assert len(by_name(rows, "C")) == 1
        assert len(by_name(rows, "D")) == 1

    def test_oneway_chain_respects_direction(self, normalized):
        rows, _ = normalized
        out = by_name(rows, "DH")
        assert len(out) == 1
        coords = json.loads(out[0].geometry)["coordinates"]
        c1, _, c3 = S["dh_chain"]
        assert [round(v, 4) for v in coords[0][:2]] == list(c1)
        assert [round(v, 4) for v in coords[-1][:2]] == list(c3)
        assert out[0].oneway is True

    def test_opposing_oneway_segments_do_not_chain(self, normalized):
        rows, _ = normalized
        assert len(by_name(rows, "HH")) == 2

    def test_degenerate_segments_dropped(self, normalized):
        rows, _ = normalized
        assert len(by_name(rows, "Degen")) == 1

    def test_three_way_junction_blocks_chaining(self, normalized):
        rows, _ = normalized
        assert len(by_name(rows, "Y")) == 3

    def test_partial_overlap_same_properties(self, normalized):
        rows, _ = normalized
        out = by_name(rows, "T")
        assert len(out) == 1
        assert len(json.loads(out[0].geometry)["coordinates"]) == 3

    def test_ids_rehashed_after_normalization(self, normalized):
        rows, before = normalized
        merged = by_name(rows, "Loop")[0]
        assert merged.id not in before
        assert len(merged.id) == 32

    def test_polygon_runs_pass_through(self, normalized):
        rows, _ = normalized
        out = by_name(rows, "Poly")
        assert len(out) == 1
        assert json.loads(out[0].geometry)["type"] == "Polygon"


class TestCyclesAndDirection:
    """PointGraph cycle merging (:375, :461) and oneway direction
    preservation on merge (MergeOverlappingRuns.unit.test.ts:149)."""

    def test_cycle_merges_to_single_closed_run(self, normalized):
        rows, _ = normalized
        cyc = by_name(rows, "Cyc")
        assert len(cyc) == 1
        coords = json.loads(cyc[0].geometry)["coordinates"]
        assert coords[0] == coords[-1]          # closed ring
        assert len(coords) == 4                 # 3 segments + closure

    def test_oneway_cycle_respects_travel_order(self, normalized):
        rows, _ = normalized
        ocyc = by_name(rows, "OCyc")
        assert len(ocyc) == 1
        assert ocyc[0].oneway is True
        coords = json.loads(ocyc[0].geometry)["coordinates"]
        assert coords[0] == coords[-1]
        # the travel sequence w1→w2→wmid→w1 must appear in forward order
        lon = coords[0][0]  # starting vertex longitude
        idx = {tuple(c): i for i, c in enumerate(map(tuple, coords[:-1]))}
        w1, w2, _ = S["ow_cycle"]
        wmid = (w1[0] + 0.05, w1[1] + 0.05)
        i1, i2, im = idx[w1], idx[w2], idx[wmid]
        assert (i2 - i1) % 3 == 1 and (im - i2) % 3 == 1

    def test_merged_oneway_keeps_oneway_direction(self, normalized):
        rows, _ = normalized
        dk = by_name(rows, "DK")
        assert len(dk) == 1
        assert dk[0].oneway is True
        coords = json.loads(dk[0].geometry)["coordinates"]
        k1, k2, _ = S["dirkeep"]
        # travel direction follows the ONEWAY path k1→k2
        assert tuple(coords[0]) == k1 and tuple(coords[-1]) == k2

    def test_explicit_not_oneway_wins_but_direction_follows_oneway(
            self, normalized):
        """MergeOverlappingRuns.unit.test.ts:139 (true+false → false) and
        :149 (geometry keeps the oneway path's travel direction)."""
        rows, _ = normalized
        dkf = by_name(rows, "DKF")
        assert len(dkf) == 1
        assert dkf[0].oneway is False
        coords = json.loads(dkf[0].geometry)["coordinates"]
        k1, k2, _ = S["dkfalse"]
        assert tuple(coords[0]) == k1 and tuple(coords[-1]) == k2


def test_duplicated_sources_unique_on_merge(spark):
    """MergeOverlappingRuns.unit.test.ts:57 — merging two features that
    share a source keeps one copy of it (sources union by struct
    equality, not concatenation)."""
    from test_formatters import RAW_SCHEMA
    geom = line(*pts(90.0)[:2])
    df = spark.createDataFrame(
        [("way", 1, {"piste:type": "nordic", "name": "A"}, geom),
         ("way", 1, {"piste:type": "nordic", "name": "B"}, geom)],
        RAW_SCHEMA)
    out = normalize_runs(fmt.format_runs(df)).collect()
    assert len(out) == 1
    assert out[0].name == "A, B"
    assert [s.asDict() for s in out[0].sources] == [
        {"type": "openstreetmap", "id": "way/1"}]


def test_normalization_output_independent_of_partitioning(spark):
    """Determinism net for the row-order bug class (the oneway-cycle
    stitch flake): the full normalize_runs output must be IDENTICAL for
    different input partitionings/row orders."""
    import pyspark.sql.functions as F

    runs = fmt.format_runs(raw(spark, scenario_rows()))

    def run_with(df):
        rows = normalize_runs(df).collect()
        return sorted((r.id, r.name, r.geometry, r.oneway) for r in rows)

    a = run_with(runs.coalesce(1))
    b = run_with(runs.repartition(7, F.col("geometry")))
    c = run_with(runs.orderBy(F.desc("geometry")).repartition(3))
    assert a == b == c


def test_normalize_runs_job_count(spark, scenario_runs):
    """Chain merging is one grouped walk: every scenario normalizes in at
    most 5 Spark jobs.  An iterative graph loop (a few jobs per round)
    would blow through this."""
    sc = spark.sparkContext
    group = "test_normalize_runs_job_count"
    sc.setJobGroup(group, "normalize_runs")
    try:
        normalize_runs(scenario_runs).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 5, len(jobs)


def _coords(row):
    return [tuple(c) for c in json.loads(row.geometry)["coordinates"]]


def test_long_run_normalizes_to_itself(spark):
    """A real piste often has well over 100 nodes: a 150-coordinate
    downhill run comes out as one run with every coordinate, in order."""
    path = [(100.0, 47.0 + i * 1e-4) for i in range(150)]
    out = normalize_runs(fmt.format_runs(raw(spark, [
        ({"piste:type": "downhill", "name": "Long"}, line(*path))]))).collect()
    assert len(out) == 1
    assert _coords(out[0]) == path


def test_long_chain_of_segments_stitches_into_one_run(spark):
    """120 two-point runs with equal properties, laid end to end (and
    given in shuffled order), stitch into one 121-coordinate run.  Merging
    by propagating labels one segment per round needs at least 61 rounds
    for this chain wherever its minimum label sits."""
    import random

    path = [(101.0, 47.0 + i * 1e-3) for i in range(121)]
    rows = [({"piste:type": "nordic", "name": "Chain"}, line(a, b))
            for a, b in zip(path, path[1:])]
    random.Random(7).shuffle(rows)
    out = normalize_runs(fmt.format_runs(raw(spark, rows))).collect()
    assert len(out) == 1
    assert _coords(out[0]) in (path, path[::-1])
    assert len(out[0].sources) == 120

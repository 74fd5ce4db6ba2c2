"""A2 statistics unit scenarios — ports of the reference's
SkiAreaStatistics.unit.test.ts cases (:21-287): run/lift counting,
polygon exclusion, snowmaking/snowfarming lengths and accumulation, and
the lift-serviced elevation envelope (SkiAreaStatistics.ts:71-91).  The
rollup is plain Python (the region walk calls it), so no Spark session
starts here."""

from __future__ import annotations

import json

import pytest

from openskidata_processor_spark.pipeline.statistics import (
    ski_area_statistics)

RUN_FIELDS = ("ski_areas", "geometry", "activities", "difficulty",
              "snowmaking", "snowfarming")
LIFT_FIELDS = ("ski_areas", "geometry", "status", "lift_type")


def line3d(lat_span, z0, z1, lon=10.0):
    return json.dumps({"type": "LineString", "coordinates": [
        [lon, 47.0, z0], [lon, 47.0 + lat_span, z1]]})


def _run(rows):
    return [dict(zip(RUN_FIELDS, r, strict=True)) for r in rows]


def _lift(rows):
    return [dict(zip(LIFT_FIELDS, r, strict=True)) for r in rows]


def _run_stats(rows):
    return {sid: s["runs"]
            for sid, s in ski_area_statistics(_run(rows), []).items()}


def test_counts_run_by_activity_and_difficulty():
    stats = _run_stats([
        (["a"], line3d(0.01, 1000.0, 1100.0), ["downhill"], "easy",
         None, None)])
    bucket = stats["a"]["by_activity"]["downhill"]["easy"]
    assert bucket["count"] == 1
    assert bucket["length_in_km"] == pytest.approx(1.112, rel=0.01)
    assert bucket["min_elevation"] == 1000.0
    assert bucket["max_elevation"] == 1100.0
    assert bucket["combined_elevation_change"] == 100.0


def test_null_difficulty_buckets_as_other():
    stats = _run_stats([
        (["a"], line3d(0.01, 0.0, 0.0), ["nordic"], None, None, None)])
    assert "other" in stats["a"]["by_activity"]["nordic"]


def test_polygon_runs_excluded_from_run_stats():
    poly = json.dumps({"type": "Polygon", "coordinates": [[
        [10.0, 47.0], [10.01, 47.0], [10.01, 47.01], [10.0, 47.0]]]})
    stats = _run_stats([
        (["a"], poly, ["downhill"], "easy", None, None)])
    assert stats == {}  # SkiAreaStatistics.ts:113-115


def test_snowmaking_and_snowfarming_lengths():
    stats = _run_stats([
        (["a"], line3d(0.01, 0.0, 0.0), ["downhill"], "easy", True, None),
        (["a"], line3d(0.02, 0.0, 0.0), ["downhill"], "easy", None, True),
        (["a"], line3d(0.04, 0.0, 0.0), ["downhill"], "easy", None, None),
    ])
    bucket = stats["a"]["by_activity"]["downhill"]["easy"]
    assert bucket["count"] == 3
    assert bucket["length_in_km"] == pytest.approx(7.78, rel=0.01)
    assert bucket["snowmaking_length_in_km"] == pytest.approx(1.112, rel=0.01)
    assert bucket["snowfarming_length_in_km"] == pytest.approx(2.224, rel=0.01)


def test_snowmaking_accumulates_across_runs():
    stats = _run_stats([
        (["a"], line3d(0.01, 0.0, 0.0), ["downhill"], "easy", True, None),
        (["a"], line3d(0.03, 0.0, 0.0), ["downhill"], "easy", True, None),
    ])
    bucket = stats["a"]["by_activity"]["downhill"]["easy"]
    assert bucket["snowmaking_length_in_km"] == pytest.approx(4.448, rel=0.01)


def test_counts_lift_by_type_operating_only():
    out = ski_area_statistics([], _lift([
        (["a"], line3d(0.01, 1000.0, 1400.0), "operating", "chair_lift"),
        (["a"], line3d(0.01, 0.0, 0.0), "abandoned", "chair_lift"),
        (["a"], line3d(0.02, 0.0, 0.0), "operating", "t-bar"),
    ]))
    lifts = {sid: s["lifts"] for sid, s in out.items()}["a"]
    assert lifts["by_type"]["chair_lift"]["count"] == 1
    assert lifts["by_type"]["t-bar"]["count"] == 1
    assert lifts["by_type"]["chair_lift"]["combined_elevation_change"] == 400.0


def test_lift_serviced_elevation_envelope():
    """max = min(runMax, liftMax), min = max(runMin, liftMin): the
    skiable-vertical rule — runs above the top lift or below the bottom
    lift don't extend the area's serviced envelope."""
    runs = _run([
        (["a"], line3d(0.01, 800.0, 2200.0), ["downhill"], "easy",
         None, None)])
    lifts = _lift([
        (["a"], line3d(0.01, 1000.0, 2000.0), "operating", "chair_lift")])
    stats = ski_area_statistics(runs, lifts)["a"]
    assert stats["max_elevation"] == 2000.0  # min(2200 run, 2000 lift)
    assert stats["min_elevation"] == 1000.0  # max(800 run, 1000 lift)


def test_envelope_with_only_runs_uses_run_bounds():
    runs = _run([
        (["a"], line3d(0.01, 900.0, 1500.0), ["nordic"], None, None, None)])
    lifts = _lift([])
    stats = ski_area_statistics(runs, lifts)["a"]
    assert stats["max_elevation"] == 1500.0
    assert stats["min_elevation"] == 900.0


def test_run_in_two_ski_areas_counts_in_both():
    """A run inside two ski areas (nested polygons, a site and a polygon)
    counts fully in each; a run only in ``b`` does not reach ``a``."""
    stats = _run_stats([
        (["a", "b"], line3d(0.01, 1000.0, 1100.0), ["downhill"], "easy",
         True, None),
        (["b"], line3d(0.02, 0.0, 0.0), ["downhill"], "easy", None, None),
    ])
    a = stats["a"]["by_activity"]["downhill"]["easy"]
    b = stats["b"]["by_activity"]["downhill"]["easy"]
    assert a["count"] == 1 and b["count"] == 2
    assert a["length_in_km"] == pytest.approx(1.112, rel=0.01)
    assert b["length_in_km"] == pytest.approx(3.336, rel=0.01)
    assert a["snowmaking_length_in_km"] == b["snowmaking_length_in_km"]
    assert stats["a"]["max_elevation"] == stats["b"]["max_elevation"] == 1100.0

"""Whole-run golden-output pin (tier 3) — the reference pins every output
file with inline snapshots (src/PrepareGeoJSON.int.test.ts:25-157); this is
the engine's equivalent: one fixed synthetic Overpass dump through the FULL
``prepare_from_elements`` → ``write_outputs`` graph (both property shapes),
then a sha256 over a canonical rendering of every output artifact, pinned
below.  A regression anywhere in the 10-pass pipeline — formatter, join,
normalization, clustering, statistics, viewport hints, any sink — flips a
hash here.

Cost profile (measured, local[8]): the pipeline executes ONCE — the output
layers are eagerly localCheckpointed inside ``prepare`` — at ~88 s; the two
``write_outputs`` passes (flat + reference shape) replay only sink-side
transforms from the checkpoints (~80 s combined, dominated by fixed per-job
overhead across ~120 tiny actions, not recompute).  Probed alternatives:
shuffle.partitions=1 saves nothing; AQE off is 1.4× SLOWER
(coalescing pays even at this size).  Keep the session defaults.
GeoPackage fids are id-ordered at the sink (round 6) so partition layout
no longer reaches the gpkg hash at all — the earlier pin hashed
task-completion-order fids and flaked under concurrent load.

Canonicalization (why hashes are stable across runs): floats are rounded to
6 decimals before hashing (absorbs last-ulp drift from partial-aggregate
merge order, catches any real change ≥ 1e-6), JSON is re-dumped with sorted
keys and compact separators, CSV data lines are sorted (Spark writes one
part file per partition; line order inside the concatenation is not part of
the contract — the per-row bytes are), and GeoPackage tables are hashed as
sorted canonical row reprs rather than raw sqlite file bytes (sqlite headers
embed counters).  Everything else — ids (content-hashed, P9), property
values, geometry coordinates, key order — is covered exactly.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import sqlite3

import pytest

from openskidata_processor_spark.pipeline.prepare import (
    prepare_from_elements, write_outputs)

SCHEMA = ("type string, id long, lat double, lon double, nodes array<long>, "
          "members array<struct<type:string, ref:long, role:string>>, "
          "tags map<string,string>")


def _node(i, lon, lat, tags=None):
    return ("node", i, lat, lon, None, None, tags or {})


def _way(i, refs, tags):
    return ("way", i, None, None, refs, None, tags)


def golden_elements(spark):
    """Fixed synthetic dump: a polygon resort with a run, a lift with a
    station, a detached nordic loop (generates its own ski area), a
    lifecycle-prefixed lift, and a dismount spot."""
    return spark.createDataFrame([
        _node(1, 11.0, 47.0), _node(2, 11.01, 47.0), _node(3, 11.01, 47.01),
        _node(4, 11.0, 47.01),
        _node(5, 11.002, 47.002), _node(6, 11.004, 47.006),
        _node(7, 11.003, 47.002), _node(8, 11.005, 47.006),
        _node(9, 11.003, 47.0021, {"aerialway": "station",
                                   "aerialway:station": "bottom"}),
        _node(10, 11.0045, 47.0055, {"piste:dismount": "yes"}),
        _node(20, 13.0, 46.0), _node(21, 13.003, 46.0),
        _way(100, [1, 2, 3, 4, 1], {"landuse": "winter_sports",
                                    "name": "Test Resort",
                                    "website": "https://resort.example"}),
        _way(101, [5, 6], {"piste:type": "downhill",
                           "piste:difficulty": "easy", "name": "Home Run",
                           "piste:grooming": "classic", "ref": "1a"}),
        _way(102, [7, 8], {"aerialway": "chair_lift", "name": "Quad",
                           "aerialway:occupancy": "4",
                           "oneway": "yes"}),
        _way(103, [20, 21], {"piste:type": "nordic", "name": "Loipe"}),
        _way(104, [20, 21], {"disused:aerialway": "t-bar",
                             "name": "Old Tbar"}),
    ], SCHEMA)


def canonical_float(v, nd=6):
    return round(v, nd) if isinstance(v, float) else v


def _walk(obj):
    if isinstance(obj, dict):
        return {k: _walk(v) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_walk(v) for v in obj]
    return canonical_float(obj)


def hash_geojson(path: str) -> str:
    doc = _walk(json.load(open(path)))
    blob = json.dumps(doc, sort_keys=True, separators=(",", ":"))
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def hash_csv_dir(path: str) -> str:
    lines, header = [], None
    for part in sorted(glob.glob(os.path.join(path, "part-*.csv"))):
        with open(part) as fh:
            h = fh.readline().rstrip("\n")
            header = header or h
            assert h == header, f"part files disagree on header in {path}"
            lines += [ln.rstrip("\n") for ln in fh]
    blob = "\n".join([header or ""] + sorted(lines))
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def hash_gpkg(path: str) -> str:
    con = sqlite3.connect(path)
    out = []
    tables = [r[0] for r in con.execute(
        "SELECT table_name FROM gpkg_contents ORDER BY table_name")]
    for t in tables:
        cols = [d[1] for d in con.execute(f"PRAGMA table_info({t})")]
        rows = sorted(
            repr(tuple(canonical_float(v) for v in row))
            for row in con.execute(f"SELECT {', '.join(cols)} FROM {t}"))
        out.append(json.dumps([t, cols, rows]))
    con.close()
    return hashlib.sha256("\n".join(out).encode()).hexdigest()[:16]


def golden_layers(spark):
    return prepare_from_elements(
        spark, golden_elements(spark),
        spark.createDataFrame(
            [], "id string, name string, status string, "
                "activities array<string>, scalerank int, "
                "official_website string, geometry string"))


def compute_all_hashes(spark, out_root: str, layers=None) -> dict[str, str]:
    layers = layers or golden_layers(spark)
    flat = os.path.join(out_root, "flat")
    ref = os.path.join(out_root, "ref")
    write_outputs(layers, flat)
    write_outputs(layers, ref, geopackage=False, reference_shape=True)
    hashes = {}
    for name in ("runs", "lifts", "spots", "ski_areas"):
        hashes[f"{name}.geojson"] = hash_geojson(f"{flat}/{name}.geojson")
        hashes[f"mapboxgl_{name}.geojson"] = hash_geojson(
            f"{flat}/mapboxgl_{name}.geojson")
        hashes[f"ref/{name}.geojson"] = hash_geojson(f"{ref}/{name}.geojson")
        hashes[f"csv/{name}"] = hash_csv_dir(f"{flat}/csv/{name}")
    hashes["openskidata.gpkg"] = hash_gpkg(f"{flat}/openskidata.gpkg")
    return hashes


# Pinned golden hashes — regenerate ONLY for an intended output-contract
# change, via:  python tests/golden_regen.py
GOLDEN = {
    "runs.geojson": "67d6fc00c2021d4f",
    "mapboxgl_runs.geojson": "95516fa275bb92b3",
    "ref/runs.geojson": "d4f9fe6b504e1dce",
    "csv/runs": "f951b482bdac2048",
    "lifts.geojson": "bb853cf7db5b1106",
    "mapboxgl_lifts.geojson": "fc2f218a13f25983",
    "ref/lifts.geojson": "35a0af0195b31abf",
    "csv/lifts": "1dfe7c6a13d2e086",
    "spots.geojson": "94b6015208cf8e0b",
    "mapboxgl_spots.geojson": "c6b5f544d0b2aa2f",
    "ref/spots.geojson": "b386b05f3b7e71cd",
    "csv/spots": "467d7be32c873665",
    "ski_areas.geojson": "6ea5b0f2050a52f3",
    # re-pinned (round 6): turf-exact centroid — ring closing vertex now
    # excluded, shifting ski-area interior/centroid points
    "mapboxgl_ski_areas.geojson": "a5d49343e2dc4b92",
    "ref/ski_areas.geojson": "8ed53d485ce1d12c",
    "csv/ski_areas": "16f2c1156f7581fb",
    # re-pinned (round 6, twice): reference GPKG layout (geometry-type
    # tables, Polygon→MultiPolygon upgrade, ski-area point+multipolygon
    # dual export, typed schemas), then the O1 id-ordered fid contract —
    # the old pin hashed fids assigned in task-completion order, which
    # flaked under concurrent load (one full-suite run in 20+ was enough)
    "openskidata.gpkg": "d94f2dcbf7e6ce59",
}


@pytest.fixture(scope="module")
def layers(spark):
    return golden_layers(spark)


@pytest.fixture(scope="module")
def golden_hashes(spark, tmp_path_factory, layers):
    return compute_all_hashes(
        spark, str(tmp_path_factory.mktemp("golden")), layers)


@pytest.mark.parametrize("artifact", sorted(GOLDEN))
def test_golden_hash(golden_hashes, artifact):
    assert golden_hashes[artifact] == GOLDEN[artifact], (
        f"{artifact} output changed; if intended, regenerate pins with "
        f"python tests/golden_regen.py (got {golden_hashes[artifact]})")


def test_no_unpinned_artifacts(golden_hashes):
    assert set(golden_hashes) == set(GOLDEN)


def test_write_outputs_job_count(spark, layers, tmp_path):
    """Every sink format of a layer comes from one fetch: at most 4 Spark
    jobs per output layer, plus the once-per-call ski-area resolution.
    Per-sink fetches, sorts or name joins would blow through this."""
    sc = spark.sparkContext
    group = "test_write_outputs_job_count"
    sc.setJobGroup(group, "write_outputs")
    try:
        write_outputs(layers, str(tmp_path / "out"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 4 * 4 + 1, len(jobs)
